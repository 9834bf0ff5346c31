"""Tests of the benchmark's own accounting and checks (no Spark needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt

from perfbench import checks, inputs
from perfbench.spans import Span, attribute, latest_attempts, parse_rest_time

T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000.0


def _rest(ms_after_t0: float) -> str:
    t = dt.datetime.fromtimestamp((T0 + ms_after_t0) / 1000.0, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}GMT"


def _job(job_id: int, start: float, end: float, stage_ids: list[int]) -> dict:
    return {"jobId": job_id, "submissionTime": _rest(start), "completionTime": _rest(end),
            "stageIds": stage_ids, "status": "SUCCEEDED"}


def _stage(stage_id: int, attempt: int, run_ms: int, shuffle: int = 0) -> dict:
    return {"stageId": stage_id, "attemptId": attempt, "executorRunTime": run_ms,
            "shuffleWriteBytes": shuffle, "diskBytesSpilled": 0}


def test_parse_rest_time():
    assert parse_rest_time(_rest(1234.0)) == T0 + 1234.0


def test_retried_stage_counted_once():
    stages = [_stage(0, 0, 500), _stage(1, 0, 1000, 10**6), _stage(1, 1, 3000, 2 * 10**6)]
    assert {s: r["attemptId"] for s, r in latest_attempts(stages).items()} == {0: 0, 1: 1}
    span = Span("parse", T0, T0 + 10_000)
    attribute([span], [_job(0, 1000, 4000, [0, 1])], stages, capped=False)
    assert span.stats["jobs"] == 1
    assert span.stats["task_s"] == 3.5  # 0.5 + the latest attempt's 3.0, not 4.5
    assert span.stats["shuffle_mb"] == 2.0


def test_jobs_attributed_by_span_window():
    a = Span("a", T0, T0 + 1000)
    b = Span("b", T0 + 1000, T0 + 5000)
    jobs = [
        _job(0, 100, 600, [0]),
        _job(1, 1500, 2500, [1]),
        _job(2, 2000, 3000, [2]),  # overlaps job 1, as from a thread pool
        _job(3, 9000, 9500, [3]),  # outside every span
    ]
    stages = [_stage(i, 0, 100 * (i + 1)) for i in range(4)]
    attribute([a, b], jobs, stages, capped=False)
    assert (a.stats["jobs"], a.stats["task_s"]) == (1, 0.1)
    assert (b.stats["jobs"], b.stats["task_s"]) == (2, 0.5)
    assert abs(a.stats["driver_gap_s"] - 0.5) < 1e-9
    assert abs(b.stats["driver_gap_s"] - 2.5) < 1e-9  # 4 s wall, 1.5 s of jobs


def test_retention_cap_nulls_and_flags():
    span = Span("a", T0, T0 + 1000)
    attribute([span], [_job(0, 10, 20, [0])], [_stage(0, 0, 5)], capped=True)
    assert span.stats["capped"] is True
    assert span.stats["task_s"] is None and span.stats["jobs"] is None


def test_one_corrupted_pdf_record_is_caught():
    doc_id, text = next((d, t) for d, t, *_ in inputs.documents(40)
                        if checks.expected_records(d, t)[0])
    recs, _ = checks.expected_records(doc_id, text)
    name = checks.pdf_name(doc_id)
    expected = {name: recs}
    assert checks.check_pdf_qa(expected, {name: list(recs)}) == 0
    q, a, src, w, s = recs[0]
    corrupted = sorted([(q, a + "x", src, w, s), *recs[1:]])
    assert checks.check_pdf_qa(expected, {name: corrupted}) == 1
    assert checks.check_pdf_qa(expected, {}) == 1  # a missing document fails too


def test_one_wrong_answer_is_caught():
    ok = [{"accepted": True, "answer": "a1"}]
    assert checks.check_answer(ok, "a1", "none")
    assert not checks.check_answer(ok, "a2", "none")
    assert not checks.check_answer(ok, None, "none")
    assert checks.check_answer([{"accepted": False, "answer": "none"}], None, "none")


def test_one_corrupted_row_is_caught():
    cols = ["qid", "sim"]
    rows = [(1, 0.5), (2, 0.25)]
    want = checks.canonical(rows, cols)
    assert checks.canonical(list(reversed(rows)), cols) == want  # order-insensitive
    assert checks.canonical([(1, 0.5), (2, 0.2500001)], cols) != want
    assert checks.canonical(rows, ["qid", "score"]) != want


def test_inputs_depend_on_seed_only():
    assert inputs.qa_records(50, 7) == inputs.qa_records(50, 7)
    assert inputs.qa_records(50, 7) != inputs.qa_records(50, 8)
    recs = inputs.qa_records(50, 7)
    mix = inputs.question_mix(recs, 200, 7)
    assert mix == inputs.question_mix(recs, 200, 7)
    assert 60 < sum(j is not None for _, j in mix) < 140
    failing = sum(inputs.fails_first_attempt(7, f"p{i}") for i in range(20_000))
    assert 100 < failing < 300


def test_benchmark_json_lists_the_printed_metrics():
    import json
    import os

    from perfbench import layers, run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(layers.LISTED)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    for w in layers.LISTED:
        assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.per_layer(w)
