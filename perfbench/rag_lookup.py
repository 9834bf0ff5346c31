"""``rag_lookup``: the reference retrieval R13→R19, one closed-loop client.

Set-up writes a seeded QA corpus in the sink's record format, then
read_jsonl → embed_text(question) → cache: the in-RAM index, built once
like the reference's. Each request encodes one question
(fake_text_encoder), builds queries_df, runs knn_l2_with_threshold and
collects. Half the questions come from the corpus and must be accepted
with their answer; half are novel and must get the sentinel.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from ai_data_pipeline_spark.operators.embedding import embed_text, fake_text_encoder
from ai_data_pipeline_spark.operators.similarity import knn_l2_with_threshold, queries_df
from ai_data_pipeline_spark.sources.readers import read_jsonl

from perfbench import checks, inputs
from perfbench.spans import Tracer

N_RECORDS = 20_000
SETUP_REPS = 3
# Request latency falls for the first 6-9 requests of a session (JIT,
# Python workers) and is flat after; measured requests start past that.
WARMUP_REQUESTS = 8
MIN_REQUESTS = 10  # measured at least, so the 75th percentile has samples beyond it
N_REQUESTS = 1_000  # more than any run sends; the loop stops at the deadline
THRESHOLD = 1.0  # squared L2; an exact question match is at 0, novel text far above
SENTINEL = "I don't have information on that subject."


def _build_index(ctx, path: str, tracer: Tracer):
    with tracer.span("readers.read_jsonl"):
        raw = read_jsonl(ctx.spark, path)
        if tracer.enabled:
            raw = raw.localCheckpoint()
    with tracer.span("embedding.embed_text"):
        index = (
            embed_text(raw, "question")
            .withColumn("rec_id", F.monotonically_increasing_id())
            .cache()
        )
        index.count()
    return index


def run(ctx) -> dict:
    records = inputs.qa_records(N_RECORDS, ctx.seed)
    tracer = Tracer(ctx.trace)
    setups = []
    index = None
    for rep in range(SETUP_REPS):
        if index is not None:
            index.unpersist(blocking=True)
        path = os.path.join(ctx.work, f"qa_{rep}", "corpus.jsonl")
        t0 = time.perf_counter()
        inputs.write_jsonl(path, records)
        index = _build_index(ctx, path, tracer)
        setups.append(time.perf_counter() - t0)

    mix = inputs.question_mix(records, N_REQUESTS, ctx.seed)
    parts: dict[str, list] = {k: [] for k in ("encode", "knn_call", "collect", "total")}
    accepted: list[bool] = []

    def request(question: str, j: int | None, tracer: Tracer) -> bool:
        """One closed-loop request; True when its answer is right."""
        with tracer.span("request"):
            t0 = time.perf_counter()
            vec = fake_text_encoder([question])[0]
            t1 = time.perf_counter()
            res = knn_l2_with_threshold(index, queries_df(ctx.spark, [vec]), THRESHOLD,
                                        SENTINEL, "answer", corpus_id="rec_id")
            t2 = time.perf_counter()
            rows = res.collect()
            t3 = time.perf_counter()
        if tracer is not warmup:
            for k, v in zip(parts, (t1 - t0, t2 - t1, t3 - t2, t3 - t0)):
                parts[k].append(v * 1000.0)
            accepted.append(bool(rows and rows[0]["accepted"]))
        want = records[j]["answer"] if j is not None else None
        return checks.check_answer(rows, want, SENTINEL)

    warmup = Tracer(False)
    failed = 0
    t0 = time.perf_counter()
    for question, j in mix[:WARMUP_REQUESTS]:  # JIT, Python workers; not timed
        failed += not request(question, j, warmup)
    warmup_s = time.perf_counter() - t0

    deadline = time.perf_counter() + ctx.seconds
    for question, j in mix[WARMUP_REQUESTS:]:
        if time.perf_counter() >= deadline and len(parts["total"]) >= MIN_REQUESTS:
            break
        failed += not request(question, j, tracer)
    index.unpersist()

    lat = parts["total"]
    out = {
        "attempted": WARMUP_REQUESTS + len(lat),
        "failed": failed,
        "setup_s": statistics.median(setups),
        "ops_per_s": len(lat) / (sum(lat) / 1000.0),
        "latencies_ms": lat,
        "summary": {"records": N_RECORDS, "query_p50_ms": statistics.median(lat),
                    "setup_reps_s": [round(x, 3) for x in setups],
                    "warmup_s": warmup_s, "latencies_ms": [round(x, 1) for x in lat]},
    }
    if not ctx.trace:
        return out

    ctx.harvester.harvest(tracer.spans)
    reqs = [s for s in tracer.spans if s.name == "request"]

    def med(name: str) -> float:
        return statistics.median(s.wall_s for s in tracer.spans if s.name == name)

    def per_query(stat: str, scale: float = 1.0):
        vals = [s.stats[stat] for s in reqs]
        return None if None in vals else statistics.median(vals) * scale

    out["layers"] = {
        "readers.read_jsonl_s": med("readers.read_jsonl"),
        "embedding.embed_text_s": med("embedding.embed_text"),
        "embedding.encode_ms": statistics.median(parts["encode"]),
        "similarity.knn_call_ms": statistics.median(parts["knn_call"]),
        "similarity.knn_collect_ms": statistics.median(parts["collect"]),
        "similarity.jobs_per_query": per_query("jobs"),
        "similarity.task_ms_per_query": per_query("task_s", 1000.0),
        "similarity.shuffle_mb_per_query": per_query("shuffle_mb"),
        "similarity.driver_gap_ms": per_query("driver_gap_s", 1000.0),
        "similarity.accepted_ratio": sum(accepted) / len(accepted),
    }
    return out
