"""Reference-dataflow benchmark for the engine.

    python3 perfbench/run.py --workload pdf_qa --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json):

- ``pdf_qa``         R1→R9 batch ingest: PDFs → JSONL, op = one document
- ``rag_lookup``     R13→R19 retrieval, one closed-loop client, op = one request
- ``curation_jobs``  five declared curation rows, op = one row run

Every workload reports the same end-to-end metrics over its ops, measured
with tracing off after an untimed warm-up: ``setup_s`` (session start plus
the median of repeated input materializations), ``ops_per_s``, and the
median and 75th-percentile op latency ``op_p50_ms`` and ``op_p75_ms``. A
run holds too few ops for a higher percentile to have ten samples beyond
it (see perfbench/BASELINE.md). With ``--trace 1`` it reports the
per-layer metrics instead; layers a workload bypasses report 0. Every
output is checked; the last stdout line is one JSON object, and the exit
code is 1 when any check failed. All inputs, outputs and Spark scratch
files live in a temporary directory inside the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms", "op_p75_ms": "ms"}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    harvester: object = None


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(pct / 100.0 * len(ordered)) - 1)]


def _host(spark, work: str) -> dict:
    """The compute and stream canaries of bench.py (one rep each) and
    the JVM's peak RSS: host context to read beside every number."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
    canary = time.perf_counter() - t0

    src = os.path.join(work, "stream_canary")
    os.makedirs(src)
    for i in range(3):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for j in range(100):
                f.write(json.dumps({"k": j, "v": i * 100 + j}) + "\n")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema("k bigint, v bigint")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(work, "stream_canary_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_canary = time.perf_counter() - t0

    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    rss_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                rss_kb = int(line.split()[1])
    return {"host.canary_s": canary, "host.stream_canary_s": stream_canary,
            "host.peak_rss_mb": rss_kb / 1024.0}


def _start_spark(work: str):
    from ai_data_pipeline_spark.session import get_spark

    from perfbench.spans import UI_CONF

    tmp = os.path.join(work, "tmp")
    conf = dict(UI_CONF)
    conf.update({
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    cores = len(os.sched_getaffinity(0))
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def _stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("pdf_qa", "rag_lookup", "curation_jobs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an error, so the temporary directory and the
    # JVM are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "ai_data_pipeline_spark", "__init__.py")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers must import the engine and the benchmark too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

    work = tempfile.mkdtemp(prefix=".perfbench_", dir=ROOT)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR: the engine's own mkdtemp calls land here
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work)
        session_s = time.perf_counter() - t0

        from perfbench.spans import RestHarvester

        ctx = Ctx(spark, args.seed, args.seconds, bool(args.trace), work)
        if ctx.trace:
            ctx.harvester = RestHarvester(spark)
        t1 = time.perf_counter()
        res = importlib.import_module(f"perfbench.{args.workload}").run(ctx)
        t2 = time.perf_counter()
        host = _host(spark, work)
        t3 = time.perf_counter()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases = {"workload": t2 - t1, "host": t3 - t2, "stop": time.perf_counter() - t3}

    lat = res["latencies_ms"]
    e2e = {
        "setup_s": session_s + res["setup_s"],
        "ops_per_s": res["ops_per_s"],
        "op_p50_ms": statistics.median(lat),
        "op_p75_ms": percentile(lat, 75),
    }
    summary = {"workload": args.workload, "ops": res["attempted"],
               "ops_failed": res["failed"], "samples": len(lat),
               "ui_retention_capped": bool(ctx.harvester and ctx.harvester.capped),
               "session_start_s": session_s, **res["summary"], **host,
               "phase_s": phases}
    print("summary " + json.dumps(summary))
    if args.trace:
        from perfbench.layers import per_layer

        units = per_layer(args.workload)
        values = dict.fromkeys(units, 0.0)
        values.update(res.get("layers", {}))
        values.update(host)
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    else:
        print("e2e " + " ".join(f"{k}={v:.6g}{E2E[k]}" for k, v in e2e.items()))
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
