"""Batch EP1 end-to-end: the reference's whole PDF pipeline
(`app/main.py:119-145`, R1→R9) as one lazy DataFrame chain over a
binaryFile landing directory — directory scan with suffix pruning,
page parse + explode, sliding windows, recursive split, LLM map
(stub), 3-stage JSON fallback, lineage, partitioned JSONL sink with
idempotent re-run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_data_pipeline_spark.operators.chunker import chunk_paged_documents
from ai_data_pipeline_spark.operators.json_fallback import valid_records
from ai_data_pipeline_spark.operators.llm_map import StubLLM, llm_map
from ai_data_pipeline_spark.sources.readers import (
    parse_pages,
    read_document_dir,
    read_jsonl,
)
from ai_data_pipeline_spark.sources.sinks import (
    with_source_stem,
    write_jsonl_partitioned,
)

PAGE = "Spark distributes document processing across executors. " * 8


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "knowledge"
    d.mkdir()
    # form-feed separated "pages" (default_text_pdf_parser contract);
    # page 3 is whitespace-only → dropped like the reference's empty
    # pages (app/main.py:25)
    (d / "alpha.pdf").write_bytes(("\f".join([PAGE, PAGE, "  ", PAGE, PAGE])).encode())
    (d / "beta.pdf").write_bytes(("\f".join([PAGE, PAGE])).encode())
    (d / "ignored.txt").write_bytes(b"not a pdf")
    return d


def test_directory_scan_suffix_filter(spark, landing):
    docs = read_document_dir(spark, str(landing), glob="*.pdf")
    paths = sorted(r["path"].rsplit("/", 1)[-1] for r in docs.select("path").collect())
    assert paths == ["alpha.pdf", "beta.pdf"]  # .txt pruned at listing


def test_parse_pages_drops_blank(spark, landing):
    docs = read_document_dir(spark, str(landing), glob="*.pdf")
    pages = parse_pages(docs).collect()
    by_doc = {}
    for r in pages:
        by_doc.setdefault(r["source_file"], []).append(r["page_no"])
    # alpha has 5 raw pages, one whitespace-only → 4 survive; page_no
    # keeps the ORIGINAL 1-based position (3 is the blank one)
    assert sorted(by_doc["alpha.pdf"]) == [1, 2, 4, 5]
    assert sorted(by_doc["beta.pdf"]) == [1, 2]


def test_batch_ep1_end_to_end(spark, landing, tmp_path):
    out = str(tmp_path / "processed")
    docs = read_document_dir(spark, str(landing), glob="*.pdf")
    pages = parse_pages(docs).withColumnRenamed("source_file", "doc_id")
    # materialize: chained ArrowEvalPython stages (parse UDF → split
    # UDF) in one plan can deadlock on pipe buffering
    pages = spark.createDataFrame(pages.collect(), pages.schema)
    chunks = chunk_paged_documents(pages, chunk_size=300, chunk_overlap=60)
    enriched = llm_map(chunks, StubLLM, text_col="chunk_text")
    records = valid_records(
        enriched, lineage=("doc_id", "window_index", "subchunk_index")
    ).withColumnRenamed("doc_id", "source_file")
    records = with_source_stem(records)

    write_jsonl_partitioned(records, out)
    first = read_jsonl(
        spark,
        out,
        schema="question string, answer string, window_index int, subchunk_index int",
    )
    n1 = first.count()
    assert n1 > 0
    assert first.filter(F.col("question").isNull()).count() == 0

    # idempotent re-run of one document: no duplicates, others intact
    write_jsonl_partitioned(records.filter(F.col("source_stem") == "alpha"), out)
    assert read_jsonl(
        spark,
        out,
        schema="question string, answer string, window_index int, subchunk_index int",
    ).count() == n1


def test_read_jsonl_failfast_parity(spark, tmp_path):
    """R13: the reference crashes on a malformed line
    (rag_chatbot/main.py:11-13) — FAILFAST preserves that."""
    p = tmp_path / "corpus"
    p.mkdir()
    (p / "good.jsonl").write_text('{"question": "q", "answer": "a"}\n{bad json\n')
    df = read_jsonl(spark, str(p), schema="question string, answer string")
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        df.collect()


def test_foreach_batch_upsert_idempotent_across_redelivery(spark, tmp_path):
    """foreachBatch sink: re-delivered rows (same keys in a later
    batch) insert nothing — the keyed anti-join makes the
    at-least-once batch body idempotent."""
    import json as _json

    from ai_data_pipeline_spark.sources.sinks import foreach_batch_upsert

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("k long, v string").json(str(in_dir))
    q = foreach_batch_upsert(stream, out, ckpt, ["k"]).start()
    try:
        (in_dir / "b1.json").write_text(
            "\n".join(_json.dumps(r) for r in [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
        )
        q.processAllAvailable()
        # batch 2 re-delivers k=1 (different payload) + a new key
        (in_dir / "b2.json").write_text(
            "\n".join(_json.dumps(r) for r in [{"k": 1, "v": "DUP"}, {"k": 3, "v": "c"}])
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}  # k=1 kept its FIRST write


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-bucketed tables joined on the bucket key: the sort-merge
    join consumes bucket layout directly — zero Exchange in the plan.
    This is the pay-the-shuffle-once-at-ingest recipe for repeated
    100 TB fact-fact joins."""
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.sources.sinks import write_bucketed
    from tests.conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, "t_orders_b", str(tmp_path / "ob"), "o_orderkey", 8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b", str(tmp_path / "lb"), "o_orderkey", 8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_orders_b").join(spark.table("t_lineitem_b"), "o_orderkey")
        j.collect()
        s = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
    assert "SortMergeJoin" in s
    assert "Exchange" not in s


def test_read_text_lines_and_whole(spark, tmp_path):
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.sources.readers import read_text

    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("l1\nl2\nl3")
    (d / "b.txt").write_text("only")
    lines = read_text(spark, str(d))
    assert lines.count() == 4
    whole = read_text(spark, str(d), whole=True).withColumn(
        "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    rows = {r["f"]: r["value"] for r in whole.collect()}
    assert rows == {"a.txt": "l1\nl2\nl3", "b.txt": "only"}


def test_python_datasource_partition_parallel(spark):
    """Custom Python DataSource: deterministic rows, one task per
    declared InputPartition, re-read identical."""
    from ai_data_pipeline_spark.sources.pyds import register_synthdocs

    register_synthdocs(spark)
    df = (
        spark.read.format("synthdocs")
        .option("numdocs", 50)
        .option("numpartitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    rows = sorted((r["doc_id"], r["text"], r["source"]) for r in df.collect())
    assert len(rows) == 50
    assert len({r[0] for r in rows}) == 50  # ids unique across partitions
    assert {r[2] for r in rows} == {f"shard{i}" for i in range(5)}
    again = sorted((r["doc_id"], r["text"], r["source"]) for r in df.collect())
    assert rows == again  # deterministic


# --- R11/R12: landing-dir catalog ops ---------------------------------------


def test_landing_catalog_add_list_delete(spark, tmp_path):
    """R11/R12 parity (`app/main.py:149-182`): add is an upsert,
    delete of an absent doc reports rather than raises, listing
    filters case-insensitively on the suffix."""
    from ai_data_pipeline_spark.sources.landing import LandingCatalog

    cat = LandingCatalog(str(tmp_path / "knowledge"))
    assert cat.list_documents() == []  # missing dir → empty, no raise

    cat.add_document(b"\f".join([b"page one", b"page two"]), name="a.pdf")
    cat.add_document(b"content b", name="B.PDF")  # upper-case suffix listed
    (tmp_path / "src.pdf").write_bytes(b"from a path")
    cat.add_document(str(tmp_path / "src.pdf"))
    (tmp_path / "knowledge" / "notes.txt").write_bytes(b"not a pdf")

    assert cat.list_documents() == ["B.PDF", "a.pdf", "src.pdf"]

    cat.add_document(b"replaced", name="a.pdf")  # upsert overwrites
    assert cat.list_documents() == ["B.PDF", "a.pdf", "src.pdf"]
    got = {
        r["path"].rsplit("/", 1)[-1]: bytes(r["content"])
        for r in cat.documents_df(spark).collect()
    }
    assert got["a.pdf"] == b"replaced"
    assert "notes.txt" not in got  # suffix pruned at the Spark scan too

    assert cat.delete_document("a.pdf") is True
    assert cat.delete_document("a.pdf") is False  # absent → report, not raise
    assert cat.list_documents() == ["B.PDF", "src.pdf"]


def test_landing_catalog_streaming_pickup(spark, tmp_path):
    """add_document → the streaming scan of the landing dir picks the
    new file up on the next micro-batch with no extra wiring."""
    import uuid

    from ai_data_pipeline_spark.sources.landing import LandingCatalog

    cat = LandingCatalog(str(tmp_path / "knowledge"))
    cat.add_document(b"first doc", name="one.pdf")
    name = f"landing_sink_{uuid.uuid4().hex[:8]}"
    q = (
        cat.documents_df(spark, stream=True)
        .select("path", "length")
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        seen = {r["path"].rsplit("/", 1)[-1] for r in spark.table(name).collect()}
        assert seen == {"one.pdf"}

        cat.add_document(b"second doc", name="two.pdf")
        q.processAllAvailable()
        seen = {r["path"].rsplit("/", 1)[-1] for r in spark.table(name).collect()}
        assert seen == {"one.pdf", "two.pdf"}
    finally:
        q.stop()


def test_parse_pages_parity_with_reference_falsy_drop(spark, tmp_path):
    """Byte-for-byte parity with the reference's page loop
    (`app/main.py:19-27`): parser output → drop falsy pages → the
    surviving page TEXTS, in order, must match exactly. The engine
    additionally drops whitespace-ONLY pages (a deliberate, documented
    superset of the reference's falsy-drop — asserted separately), so
    the parity corpus uses truly-empty pages."""
    from ai_data_pipeline_spark.sources.readers import default_text_pdf_parser

    pages = ["First page body.", "", "Third page body.", "", "Fifth page body."]
    raw = "\f".join(pages).encode("utf-8")
    d = tmp_path / "kb"
    d.mkdir()
    (d / "doc.pdf").write_bytes(raw)

    # the reference loop, verbatim semantics, over the same parser
    ref_pages = []
    for page_text in default_text_pdf_parser(raw):
        if page_text:
            ref_pages.append(page_text)

    docs = read_document_dir(spark, str(d), glob="*.pdf")
    got = [
        r["page_text"]
        for r in parse_pages(docs).orderBy("page_no").collect()
    ]
    assert got == ref_pages == ["First page body.", "Third page body.", "Fifth page body."]


def test_compact_sorted_disjoint_file_ranges(spark, tmp_path):
    """Range compaction must produce files whose sort-key min/max
    footer stats are DISJOINT — that disjointness is what lets a
    selective filter skip whole files (the point of compaction; a
    round-robin rewrite leaves every file spanning the full range)."""
    import glob

    import pyarrow.parquet as pq

    from ai_data_pipeline_spark.catalog import load_events
    from ai_data_pipeline_spark.sources.sinks import compact_sorted
    from tests.conftest import SF_SMOKE

    ev = load_events(spark, SF_SMOKE).select("event_id", "user_id", "ts_ns")
    # simulate the incremental-ingest mess: 16 round-robin files, each
    # spanning the full user_id range
    messy = str(tmp_path / "messy")
    ev.repartition(16).write.parquet(messy)
    assert len(glob.glob(f"{messy}/part-*.parquet")) == 16

    out = str(tmp_path / "compacted")
    compact_sorted(spark.read.parquet(messy), out, ["user_id"], target_files=4)

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert 1 < len(files) <= 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["user_id"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, f"overlapping file ranges {(lo_a, hi_a)} vs {(lo_b, hi_b)}"
    # and nothing was lost
    assert spark.read.parquet(out).count() == ev.count()


def test_python_datasource_stream_reader(spark, tmp_path):
    """Streaming half of the custom DataSource: the cursor advances
    one batch per trigger, the finite corpus drains exactly once,
    and the streamed rows hash-equal the batch reader's rows (same
    deterministic generator behind both halves)."""
    import uuid as _uuid

    from ai_data_pipeline_spark.sources.pyds import register_synthdocs

    register_synthdocs(spark)
    name = f"pyds_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("synthdocs")
        .option("numdocs", 37)
        .option("batchsize", 10)
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = sorted(
        (r["doc_id"], r["text"], r["source"]) for r in spark.table(name).collect()
    )
    spark.catalog.dropTempView(name)
    batch = sorted(
        (r["doc_id"], r["text"], r["source"])
        for r in spark.read.format("synthdocs").option("numdocs", 37).load().collect()
    )
    # shard labels differ by reader parallelism; compare id/text
    assert [(a, b) for a, b, _ in streamed] == [(a, b) for a, b, _ in batch]
    assert len(streamed) == 37


def test_read_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC round trip; the range predicate reaches the ORC scan as a
    pushed filter (same posture as the parquet plan assertions)."""
    from ai_data_pipeline_spark.sources.readers import read_orc

    p = str(tmp_path / "orc_t")
    spark.range(100).selectExpr("id", "id * 3 AS v").write.orc(p)
    back = read_orc(spark, p).filter("v >= 150").select("id")
    assert back.count() == 50
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(v), GreaterThanOrEqual(v,150" in plan


def test_read_jsonl_quarantine_split(spark, tmp_path):
    """Dead-letter ingest: good rows parse, malformed AND
    type-mismatched lines land in quarantine with the raw line and
    source path preserved — nothing crashes, nothing is dropped."""
    from ai_data_pipeline_spark.sources.readers import read_jsonl_quarantine

    d = tmp_path / "dl"
    d.mkdir()
    (d / "a.jsonl").write_text(
        '{"q": "ok", "a": 1}\n'
        '{"q": "bad", "a": \n'          # truncated JSON
        "\n"                            # blank line → dropped, NOT corrupt
        '{"q": "typed", "a": "xx"}\n'   # valid JSON, wrong type for a
        "not json at all\n"
        "null\n"                        # literal null → NULL struct, not good
        "   \t \n"                      # whitespace-only → dropped too
        '{"q": "ok2", "a": 2}\n'
    )
    good, bad = read_jsonl_quarantine(spark, str(d), "q string, a long")
    assert sorted((r.q, r.a) for r in good.collect()) == [("ok", 1), ("ok2", 2)]
    rows = bad.collect()
    assert sorted(r.raw for r in rows) == sorted(
        ['{"q": "bad", "a": ', '{"q": "typed", "a": "xx"}', "not json at all", "null"]
    )
    assert all(r.source_path.endswith("a.jsonl") for r in rows)
    # schema contract: good carries exactly the declared columns
    assert good.columns == ["q", "a"]


def test_compact_zorder_tight_in_both_dims(spark, tmp_path):
    """2-D clustering: after compact_zorder, each file's footer
    min/max range must be a small fraction of the global range in
    BOTH columns — a 1-D sort (compact_sorted) is tight in its sort
    key but spans ~everything in the other column. That two-sided
    tightness is what lets filters on EITHER dimension skip files."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.sources.sinks import compact_sorted, compact_zorder

    n = 1 << 14
    # two independent uniform dims (bit-reverse the id for y so x and
    # y are deterministic but uncorrelated)
    df = spark.range(n).select(
        F.col("id").alias("x"),
        F.conv(F.reverse(F.lpad(F.conv(F.col("id"), 10, 2), 14, "0")), 2, 10)
        .cast("long")
        .alias("y"),
    )

    def file_range_fraction(path, col, span):
        fracs = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            fracs.append((max(maxs) - min(mins)) / span)
        return sum(fracs) / len(fracs)

    zp = str(tmp_path / "zord")
    compact_zorder(df, zp, "x", "y", target_files=16, bits=7)
    sp = str(tmp_path / "sort1d")
    compact_sorted(df, sp, ["x"], target_files=16)

    # 16 files over a 2-D curve -> each covers ~1/4 of each dim (a
    # 4x4 grid); allow slack for range-partition boundaries
    zx, zy = file_range_fraction(zp, "x", n - 1), file_range_fraction(zp, "y", n - 1)
    assert zx < 0.5 and zy < 0.5, (zx, zy)
    # the 1-D layout: tight in x, useless in y
    sx, sy = file_range_fraction(sp, "x", n - 1), file_range_fraction(sp, "y", n - 1)
    assert sx < 0.15
    assert sy > 0.8, sy
    # and the rewrite loses nothing
    assert spark.read.parquet(zp).count() == n


def test_read_jsonl_quarantine_streaming(spark, tmp_path):
    """The same dead-letter split as a STREAM: both frames run as
    availableNow queries over the landing dir and drain the corpus
    exactly once each."""
    from ai_data_pipeline_spark.sources.readers import read_jsonl_quarantine

    d = tmp_path / "dls"
    d.mkdir()
    (d / "a.jsonl").write_text('{"q": "ok", "a": 1}\nbroken line\n{"q": "ok2", "a": 2}\n')
    good, bad = read_jsonl_quarantine(spark, str(d), "q string, a long", stream=True)
    assert good.isStreaming and bad.isStreaming

    for name, df in (("g", good), ("b", bad)):
        (
            df.writeStream.format("memory")
            .queryName(f"quarantine_{name}")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
            .awaitTermination(60)
        )
    g = {(r.q, r.a) for r in spark.sql("SELECT * FROM quarantine_g").collect()}
    b = [r.raw for r in spark.sql("SELECT * FROM quarantine_b").collect()]
    assert g == {("ok", 1), ("ok2", 2)}
    assert b == ["broken line"]


def test_zorder_key_matches_python_interleave(spark):
    """zorder_key's mask-ladder interleave == the bit-by-bit Python
    reference on random 16-bit pairs (one Spark job for all cases)."""
    import random

    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.sources.sinks import zorder_key

    rng = random.Random(3)
    pairs = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    pairs += [(0, 0), (65535, 65535), (0, 65535), (65535, 0), (1, 2)]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", zorder_key(F.col("a"), F.col("b"), 16).alias("z")
        ).collect()
    }

    def ref(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for a, b in pairs:
        assert got[(a, b)] == ref(a, b), (a, b)


def test_event_stream_cache_restores_collapsed_replay_order(tmp_path):
    """A copy that squashes the batch mtimes (cp -r) must not survive
    a cache hit: replay reads oldest-first, so the cached batches must
    get their build order back."""
    import os

    from ai_data_pipeline_spark.sources import fixtures
    from tests.conftest import SF_SMOKE

    d = fixtures.materialize_event_stream(SF_SMOKE, n_files=3, root=str(tmp_path))
    batches = fixtures._batch_files(d)
    built = [os.stat(p).st_mtime_ns for p in batches]
    assert len(batches) == 3 and fixtures._replay_ordered(d)
    for p in batches:
        os.utime(p, ns=(built[0], built[0]))
    assert not fixtures._replay_ordered(d)
    assert fixtures.materialize_event_stream(SF_SMOKE, n_files=3, root=str(tmp_path)) == d
    assert [os.stat(p).st_mtime_ns for p in batches] == built
