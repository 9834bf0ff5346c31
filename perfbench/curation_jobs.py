"""``curation_jobs``: five declared rows, run in a fixed order, round
after round.

Near-dup dedup (q303, q263), the partitioned-store lifecycle (q257) and
stateful micro-batch replay (q323, q182) over generated sf-shaped tables.
Each row's wall runs to a collected result; the rows are then compared
with their DuckDB ``ORACLE`` twin, whose canonical rows are computed
once, outside timing. A ``StreamingQueryListener`` records the
per-trigger ``durationMs`` parts of the two streaming rows.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb

from ai_data_pipeline_spark.plans import (
    analysis_queries,
    frontier2_queries,
    frontier4_queries,
    frontier5_queries,
)
from ai_data_pipeline_spark.sources import fixtures

from perfbench import checks, inputs
from perfbench.layers import ROWS, STREAM_PARTS, STREAM_ROWS
from perfbench.spans import StreamProgress, Tracer

N_DOCS = 500
N_VECS = 500
N_EVENTS = 10_000
SETUP_REPS = 3
MODULES = (analysis_queries, frontier2_queries, frontier4_queries, frontier5_queries)


def _write_tables(sf_dir: str) -> None:
    inputs.write_documents(sf_dir, inputs.documents(N_DOCS))
    inputs.write_embeddings(sf_dir, N_VECS)
    inputs.write_events(sf_dir, N_EVENTS)


def _oracle_rows(sf_dir: str) -> dict[str, tuple]:
    con = duckdb.connect()
    for name in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    out = {}
    for row in ROWS:
        sql = next(m.ORACLE[row] for m in MODULES if row in m.ORACLE)
        rel = con.sql(sql)
        out[row] = checks.canonical(rel.fetchall(), list(rel.columns))
    con.close()
    return out


def run(ctx) -> dict:
    # q182 keeps its event-stream fixture and work dirs under the fixture
    # root: point it at this run's temporary directory.
    fixtures._FIXTURE_ROOT = os.path.join(ctx.work, "fixtures")
    queries = {row: next(m.QUERIES[row] for m in MODULES if row in m.QUERIES) for row in ROWS}

    setups = []
    for rep in range(SETUP_REPS):
        sf_dir = os.path.join(ctx.work, f"sf_{rep}")
        t0 = time.perf_counter()
        _write_tables(sf_dir)
        fixtures.materialize_event_stream(sf_dir, n_files=3)
        setups.append(time.perf_counter() - t0)
    want = _oracle_rows(sf_dir)

    tracer = Tracer(ctx.trace)
    stream = StreamProgress(ctx.spark) if ctx.trace else None
    walls: dict[str, list[float]] = {row: [] for row in ROWS}
    failed = attempted = 0
    latencies: list[float] = []
    rounds = []
    deadline = time.perf_counter() + ctx.seconds
    try:
        while time.perf_counter() < deadline or not rounds:
            total = 0.0
            for row in ROWS:
                with tracer.span(row):
                    t0 = time.perf_counter()
                    df = queries[row](ctx.spark, sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    wall = time.perf_counter() - t0
                attempted += 1
                failed += checks.canonical(rows, df.columns) != want[row]
                walls[row].append(wall)
                latencies.append(wall * 1000.0)
                total += wall
            rounds.append(total)
        if stream is not None:
            stream.drain()
    finally:
        if stream is not None:
            stream.close()

    out = {
        "attempted": attempted,
        "failed": failed,
        "setup_s": statistics.median(setups),
        "ops_per_s": attempted / sum(rounds),
        "latencies_ms": latencies,
        "summary": {"rounds": len(rounds), "jobs_wall_s": statistics.median(rounds),
                    **{f"{row}_s": statistics.median(w) for row, w in walls.items()}},
    }
    if not ctx.trace:
        return out

    ctx.harvester.harvest(tracer.spans)
    layers: dict[str, float] = {}
    for row in ROWS:
        mine = [s for s in tracer.spans if s.name == row]
        layers[f"rows.{row}_s"] = statistics.median(s.wall_s for s in mine)
        for k in ("jobs", "task_s", "driver_gap_s", "shuffle_mb"):
            vals = [s.stats[k] for s in mine]
            layers[f"rows.{row}_{k}"] = None if None in vals else statistics.median(vals)
        if row in STREAM_ROWS:
            per_round = [stream.summarize(s, STREAM_PARTS) for s in mine]
            layers[f"stream.{row}_triggers"] = statistics.median(p["triggers"] for p in per_round)
            for part in STREAM_PARTS:
                layers[f"stream.{row}_{part}_ms"] = statistics.median(
                    p[f"{part}_ms"] for p in per_round
                )
    out["layers"] = layers
    return out
