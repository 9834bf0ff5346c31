"""PDF fixture-corpus materialization for the composed E2E row.

The reference pipeline's input is a DIRECTORY OF PDFs
(`/root/reference/app/main.py:65-75` lists `*.pdf` and parses each);
the graded testdata ships text in ``documents.parquet`` and no PDFs,
so the composed R1→R9 query (q152) first materializes the corpus as
real PDF files: one per document row, pages = the same deterministic
pagination the engine's text path uses, rendered by
``minipdf.render_pdf`` (whose ``extract_pages`` round-trip is
property-tested).

This is FIXTURE creation, not an operator: a content-keyed, idempotent
driver-side loop over the graded corpus (500 docs at graded SFs, 5000
at the bench SF — bounded by the documents row count). Production
never does this; it reads pre-existing PDFs straight off the store
(R1). The materialized directory is keyed by a corpus content
signature so testdata regeneration invalidates it loudly, and the
write is tmp-dir + atomic rename so concurrent invocations (driver
grading + local sweep) can race safely.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from ai_data_pipeline_spark.operators.chunker import paginate_text
from ai_data_pipeline_spark.sources.minipdf import render_pdf

_FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tmp_fixtures",
)


def _corpus_signature(rows: list[tuple], page_chars: int) -> str:
    h = hashlib.md5()
    h.update(f"v1:pc={page_chars}".encode())
    for doc_id, text in rows:
        h.update(f"{doc_id}:".encode())
        h.update(hashlib.md5((text or "").encode("utf-8")).digest())
    return h.hexdigest()[:16]


def materialize_pdf_corpus(
    sf_dir: str, page_chars: int = 200, root: str | None = None
) -> str:
    """Render ``documents`` as one PDF per row under a content-keyed
    directory; returns the directory path. Idempotent: a completed
    corpus (``_SUCCESS`` marker) is reused as-is."""
    import duckdb

    src = os.path.join(sf_dir, "documents.parquet")
    pat = f"{src}/*.parquet" if os.path.isdir(src) else src  # Spark dir or single file
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{pat}') ORDER BY doc_id"
    ).fetchall()
    con.close()
    sig = _corpus_signature(rows, page_chars)
    root = root or _FIXTURE_ROOT
    final = os.path.join(root, f"pdf_corpus_{sig}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=root, prefix=f".pdf_corpus_{sig}.")
    try:
        for doc_id, text in rows:
            pdf = render_pdf(paginate_text(text or "", page_chars))
            with open(os.path.join(tmp, f"doc_{int(doc_id):06d}.pdf"), "wb") as f:
                f.write(pdf)
        with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
            f.write(sig)
        os.replace(tmp, final)
    except OSError:
        # lost the rename race (or target appeared mid-write): the
        # winner's corpus is byte-identical by construction
        if not os.path.exists(os.path.join(final, "_SUCCESS")):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def source_signature(path: str, salt: str = "") -> str:
    """md5 over the bytes of a parquet file, or of every ``*.parquet``
    part (name-sorted) of a Spark-written directory table."""
    h = hashlib.md5(salt.encode())
    parts = (
        sorted(os.path.join(path, p) for p in os.listdir(path) if p.endswith(".parquet"))
        if os.path.isdir(path)
        else [path]
    )
    for p in parts:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def materialize_partitioned_orders(spark, sf_dir: str, root: str | None = None) -> str:
    """Write ``orders`` as a parquet table PARTITIONED BY
    o_orderpriority under a content-keyed directory (for the
    partition-pruning graded row q163). Idempotent via Spark's own
    ``_SUCCESS`` marker; ``mode("overwrite")`` heals partial writes.
    Distributed write — no driver-side row loop."""
    from ai_data_pipeline_spark.catalog import load_table

    sig = source_signature(os.path.join(sf_dir, "orders.parquet"), "part-v1")
    root = root or _FIXTURE_ROOT
    final = os.path.join(root, f"orders_part_{sig}")
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        (
            load_table(spark, sf_dir, "orders")
            .write.partitionBy("o_orderpriority")
            .mode("overwrite")
            .parquet(final)
        )
    return final


def _batch_files(d: str) -> list[str]:
    return sorted(os.path.join(d, p) for p in os.listdir(d) if p.startswith("batch_"))


def _stamp_batches(d: str, now: int) -> None:
    """Batch k gets mtime ``now + 10·k`` s: the replay order."""
    for i, path in enumerate(_batch_files(d)):
        os.utime(path, (now + 10 * i, now + 10 * i))


def _replay_ordered(d: str) -> bool:
    """Batch mtimes strictly increase at ms resolution (the file
    source's clock), so oldest-first is the batch order."""
    ms = [os.stat(p).st_mtime_ns // 1_000_000 for p in _batch_files(d)]
    return all(a < b for a, b in zip(ms, ms[1:]))


def materialize_event_stream(sf_dir: str, n_files: int = 3, root: str | None = None) -> str:
    """Split ``events`` into ``n_files`` contiguous ts-ordered parquet
    files under a content-keyed directory, with strictly increasing
    modification times — a deterministic multi-micro-batch REPLAY of
    the event history for grading stateful streaming operators
    (readStream + maxFilesPerTrigger=1 picks files oldest-first, so
    batch k holds the k-th ts range: arrival order == event-time
    order, making processing-time running state reproducible).

    ``ts`` is written as a PLAIN ns-epoch INT64 (no logical type, no
    carried-over Spark footer metadata) regardless of the source
    encoding: Spark's vectorized parquet reader cannot convert a
    TIMESTAMP(NANOS) column under a streaming-source schema (batch
    reads reconcile via the footer; FileStreamSource does not), and
    the bare-long form is exactly what ``normalize_event_time``'s
    LONG branch canonicalizes.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    h = hashlib.md5(f"v2:n={n_files}:".encode())
    parts = (
        sorted(
            os.path.join(src, p) for p in os.listdir(src) if p.endswith(".parquet")
        )
        if os.path.isdir(src)  # Spark-written directory table
        else [src]
    )
    for p in parts:
        with open(p, "rb") as f:
            h.update(f.read())
    sig = h.hexdigest()[:16]
    root = root or _FIXTURE_ROOT
    final = os.path.join(root, f"event_stream_{sig}")
    now = int(os.path.getmtime(src))
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        # a copy that collapsed the mtimes (cp -r) silently reorders
        # the replay: the marker alone does not vouch for the order
        if not _replay_ordered(final):
            _stamp_batches(final, now)
        return final
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=root, prefix=f".event_stream_{sig}.")
    try:
        table = pq.read_table(src)
        table = table.sort_by([("ts", "ascending"), ("event_id", "ascending")])
        i = table.schema.get_field_index("ts")
        t = table.schema.field(i).type
        if pa.types.is_timestamp(t):
            factor = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[t.unit]
            ts_ns = pc.multiply(table.column(i).cast(pa.int64()), factor)
            table = table.set_column(i, "ts", ts_ns.cast(pa.int64()))
        table = table.replace_schema_metadata(None)
        n = table.num_rows
        bounds = [round(i * n / n_files) for i in range(n_files + 1)]
        for i in range(n_files):
            path = os.path.join(tmp, f"batch_{i:03d}.parquet")
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        _stamp_batches(tmp, now)
        with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
            f.write(sig)
        os.replace(tmp, final)
    except OSError:
        if not os.path.exists(os.path.join(final, "_SUCCESS")):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return final
