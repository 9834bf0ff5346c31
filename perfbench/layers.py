"""Per-layer metrics, name → unit, by workload.

A ``--trace 1`` run prints the layers of every workload BENCHMARK.json
lists (``LISTED``), plus its own and the host's; a layer the workload
bypasses reports 0."""

from __future__ import annotations

SPAN_STATS = {"s": "s", "jobs": "count", "task_s": "s", "driver_gap_s": "s",
              "shuffle_mb": "MB", "spill_mb": "MB"}
ROW_STATS = {"s": "s", "jobs": "count", "task_s": "s", "driver_gap_s": "s",
             "shuffle_mb": "MB"}
PDF_STAGES = ("readers.parse_pages", "chunker.sliding_windows", "chunker.split_chunks",
              "llm_map.llm_map", "json_fallback.validate", "sinks.write_jsonl")
ROWS = ("q303_dedup_precision_audit", "q263_dedup_cascade", "q257_tree_partitioned_store",
        "q323_streaming_cdc_upserts", "q182_stateful_restart")
STREAM_ROWS = ("q323_streaming_cdc_upserts", "q182_stateful_restart")
STREAM_PARTS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")

LISTED = ("pdf_qa", "rag_lookup")

PDF_QA = {"fixtures.materialize_pdf_corpus_s": "s"}
for stage in PDF_STAGES:
    for stat, unit in SPAN_STATS.items():
        PDF_QA[f"{stage}_{stat}"] = unit
PDF_QA.update({
    "readers.pages": "count", "chunker.windows": "count", "chunker.chunks": "count",
    "llm_map.requests": "count", "llm_map.wait_s": "s", "llm_map.retries": "count",
    "json_fallback.valid_ratio": "ratio",
    "sinks.partitions": "count", "sinks.files": "count", "sinks.mb": "MB",
    "pdf_qa.untraced_pass_s": "s", "pdf_qa.traced_pass_s": "s",
    "pdf_qa.tracing_overhead_s": "s", "pdf_qa.span_coverage": "ratio",
})
RAG_LOOKUP = {
    "readers.read_jsonl_s": "s", "embedding.embed_text_s": "s",
    "embedding.encode_ms": "ms", "similarity.knn_call_ms": "ms",
    "similarity.knn_collect_ms": "ms", "similarity.jobs_per_query": "count",
    "similarity.task_ms_per_query": "ms", "similarity.shuffle_mb_per_query": "MB",
    "similarity.driver_gap_ms": "ms", "similarity.accepted_ratio": "ratio",
}
CURATION_JOBS: dict[str, str] = {}
for row in ROWS:
    for stat, unit in ROW_STATS.items():
        CURATION_JOBS[f"rows.{row}_{stat}"] = unit
for row in STREAM_ROWS:
    CURATION_JOBS[f"stream.{row}_triggers"] = "count"
    for part in STREAM_PARTS:
        CURATION_JOBS[f"stream.{row}_{part}_ms"] = "ms"
HOST = {"host.canary_s": "s", "host.stream_canary_s": "s", "host.peak_rss_mb": "MB"}
BY_WORKLOAD = {"pdf_qa": PDF_QA, "rag_lookup": RAG_LOOKUP, "curation_jobs": CURATION_JOBS}


def per_layer(workload: str) -> dict[str, str]:
    """The metrics a ``--trace 1`` run of ``workload`` prints."""
    out: dict[str, str] = {}
    for w in dict.fromkeys((*LISTED, workload)):
        out.update(BY_WORKLOAD[w])
    out.update(HOST)
    return out
