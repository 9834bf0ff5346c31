"""Frontier query set II: SURVEY.md §2B round 10+ (q256+).

Continuation of plans/frontier_queries.py (kept as a separate module
so no single plan file keeps growing without bound — wired through
__spark_entry__ queries()/oracle_sql() exactly like the others; the
division/whitespace lints glob over plans/ so this module is covered
automatically).

The round-11 queue from SURVEY §7, built during round 10's remaining
budget: per-source quality drift across release snapshots (q212 ×
q229 composition), the two-level IVF tree routed over the
cell-partitioned store (q247 × q250 composition), the exact
water-filling token-budget allocator, IVFADC-on-residuals (Jégou et
al. 2011 §III — the production layout q235/q259 contrast), and the
robust-stats / lexical-audit rows.

Same oracle-parity discipline as relational.py (float-policy header
there): identical aliases both engines, exact integer aggregation,
doubles only from expression trees both engines evaluate identically
(one IEEE division of exact BIGINTs; differences/min/max of
bit-identical doubles). Every integer-division dividend is
non-negative by construction (linted by
tests/test_division_convention.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table as _t, spread
from ai_data_pipeline_spark.sources.store import TempStore

QUERIES: dict = {}
ORACLE: dict = {}


# ---------------------------------------------------------------------------
# Q256 — per-source quality drift across release snapshots (the
# q212 dataset-card metrics × the q229 drift-monitor shape, on the
# TEXT side): production corpora ship in releases, and the question
# a data card cannot answer is "did source X get shorter / junkier
# between snapshot k−1 and k?". Documents are binned into 4
# deterministic release snapshots (40-bit md5 uniform of doc_id mod
# 4, q228's hash idiom — doc_id mod 4 raw is DEGENERATE here: the
# generator deals sources round-robin mod 20, so doc_id ≡ const mod
# 4 within a source and every source would land in ONE snapshot; the
# corpus has no release column, so the AUDIT machinery is what is
# graded, not the existence of drift); per (source, snapshot): docs,
# whitespace
# tokens, chars, short-doc count (< 20 tokens, a Gopher-style floor)
# — all exact BIGINTs — plus mean tokens/doc (ONE IEEE division of
# exact ints) and the deltas vs the previous snapshot of the same
# source via LAG (BIGINT difference; double difference of two
# bit-identical doubles). Scale: one scan, one partial-aggregating
# groupBy on (source, snap), one tiny window over |sources|×4 rows —
# no joins, no shuffle beyond the agg's.
# ---------------------------------------------------------------------------

_Q256_SNAPS = 4
_Q256_SHORT = 20


def q256_source_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws

    docs = spread(_t(spark, sf_dir, "documents"))
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    per = docs.select(
        "source",
        F.pmod(u40, F.lit(_Q256_SNAPS)).cast("long").alias("snap"),
        token_count_ws(F.col("text")).alias("tok"),
        F.col("n_chars").cast("long").alias("nc"),
    )
    agg = per.groupBy("source", "snap").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
        F.sum("nc").cast("long").alias("n_chars"),
        F.sum((F.col("tok") < _Q256_SHORT).cast("int")).cast("long").alias("n_short"),
    )
    w = Window.partitionBy("source").orderBy("snap")
    mean_tok = F.col("n_tokens").cast("double") / F.col("n_docs").cast("double")
    return (
        agg.withColumn("mean_tok", mean_tok)
        .withColumn("tok_delta", F.col("n_tokens") - F.lag("n_tokens").over(w))
        .withColumn("mean_tok_delta", F.col("mean_tok") - F.lag("mean_tok").over(w))
        .select(
            "source",
            "snap",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_short",
            "mean_tok",
            "tok_delta",
            "mean_tok_delta",
        )
        .orderBy("source", "snap")
    )


QUERIES["q256_source_snapshot_drift"] = q256_source_snapshot_drift


def _q256_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH per AS (
        SELECT source,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT)
                   % {_Q256_SNAPS} AS snap,
               len({toks}) AS tok,
               n_chars AS nc
        FROM documents
    ), agg AS (
        SELECT source, CAST(snap AS BIGINT) AS snap,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS n_tokens,
               CAST(SUM(nc) AS BIGINT) AS n_chars,
               CAST(SUM(CASE WHEN tok < {_Q256_SHORT} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_short
        FROM per GROUP BY source, snap
    )
    SELECT source, snap, n_docs, n_tokens, n_chars, n_short,
           CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tok,
           n_tokens - LAG(n_tokens) OVER w AS tok_delta,
           CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
               - LAG(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)) OVER w
               AS mean_tok_delta
    FROM agg
    WINDOW w AS (PARTITION BY source ORDER BY snap)
    ORDER BY source, snap
    """


ORACLE["q256_source_snapshot_drift"] = _q256_oracle()


# ---------------------------------------------------------------------------
# Q257 — two-level IVF tree ROUTED OVER the cell-partitioned store
# (q247 × q250, the round-11 queue composition): q247 grades the
# tree's assignment agreement, q250 grades flat single-level
# partition pruning; at 100 TB the two compose — the store is laid
# out sup=<super>/cell=<seed> (two-level directory), a query routes
# to its nearest super and probes the 2 nearest seeds WITHIN that
# super's group, and the read back prunes on BOTH literal partition
# predicates (sup IN (...) AND cell IN (...) — the directory walk
# touches one super directory instead of all of them; PartitionFilters
# pinned by plan test). Corpus vectors are assigned by the SAME tree
# (nearest super, then argmin within its seed group — q247's exact
# int64 semantics), so the store layout and the query routing agree.
# Exact cosine top-3 with sims per query; the oracle recomputes the
# identical tree from `embeddings`, never touching the store — the
# graded claim is storage-layout EQUIVALENCE under tree routing.
# Scale: the write is one shuffle by cell (one file per directory);
# the read scans ~nprobe/K of the data after pruning a 1/S super
# slice of the directory tree; probed ids are a ≤ (1+2)·|queries|
# bounded collect (a partition filter must be literal to prune at
# planning). Store lifecycle rules: sources/store.py.
# ---------------------------------------------------------------------------

_Q257_NPROBE = 2


def q257_tree_partitioned_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import (
        cosine,
        quantize_q6,
        quantize_q6_py,
    )
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS
    from ai_data_pipeline_spark.plans.frontier_queries import (
        _Q223_STRIDE,
        _Q247_SUPER_STRIDE,
        _assign_exact_q6,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    seeds = base.filter(F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0).select(
        F.col("vec_id").alias("seed_id"), F.col("v6").alias("s6")
    )
    supers = seeds.filter(
        F.pmod(F.col("seed_id"), F.lit(_Q247_SUPER_STRIDE)) == 0
    ).select(F.col("seed_id").alias("super_id"), F.col("s6").alias("p6"))

    seed_sup = _assign_exact_q6(
        seeds.select(F.col("seed_id").alias("vec_id"), F.col("s6").alias("v6")),
        supers.select(F.col("super_id").alias("seed_id"), F.col("p6").alias("s6")),
    ).select(F.col("vec_id").alias("seed_id"), F.col("cell").alias("super_id"))
    vec_sup = _assign_exact_q6(
        base,
        supers.select(F.col("super_id").alias("seed_id"), F.col("p6").alias("s6")),
    ).select("vec_id", F.col("cell").alias("super_id"))

    d6 = F.aggregate(
        F.zip_with("v6", "s6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    group = seeds.join(seed_sup, "seed_id")  # [seed_id, s6, super_id]
    tree = (
        base.join(vec_sup, "vec_id")
        .join(F.broadcast(group), "super_id")
        .select(
            "vec_id",
            "super_id",
            F.struct(d6.alias("d"), F.col("seed_id").alias("c")).alias("dc"),
        )
        .groupBy("vec_id", "super_id")
        .agg(F.min("dc").alias("m"))
        .select("vec_id", F.col("super_id").alias("sup"), F.col("m.c").alias("cell"))
    )
    corpus = emb.select("vec_id", "embedding").join(tree, "vec_id")

    # query routing: nearest super, then the nprobe nearest seeds
    # WITHIN that super's group (exact integer distances throughout)
    qrows = [
        (i, [float(x) for x in Q27_QUERY_VECS[i]], quantize_q6_py(Q27_QUERY_VECS[i]))
        for i in range(len(Q27_QUERY_VECS))
    ]
    qdf = spark.createDataFrame(qrows, "qid long, qvec array<double>, q6 array<bigint>")
    dq_sup = F.aggregate(
        F.zip_with("q6", "p6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    q_sup = (
        qdf.crossJoin(F.broadcast(supers))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(dq_sup, "super_id")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("qid", "qvec", "q6", "super_id")
    )
    dq_seed = F.aggregate(
        F.zip_with("q6", "s6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    probes = (
        q_sup.join(F.broadcast(group), "super_id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(dq_seed, "seed_id")
            ),
        )
        .filter(F.col("rk") <= _Q257_NPROBE)
        .select("qid", "qvec", F.col("super_id").alias("sup"), "seed_id")
    )
    probe_rows = probes.select("sup", "seed_id").collect()  # ≤ nprobe·|queries|
    probed_sups = sorted({int(r["sup"]) for r in probe_rows})
    probed_cells = sorted({int(r["seed_id"]) for r in probe_rows})

    with TempStore(spark, "q257_", ["sup", "cell"]) as st:
        st.write(corpus)
        store = st.read()
        cand = (
            store.filter(
                F.col("sup").cast("long").isin(probed_sups)
                & F.col("cell").cast("long").isin(probed_cells)
            )
            .join(
                F.broadcast(probes),
                store["cell"].cast("long") == probes["seed_id"],
            )
            .select(
                "qid",
                probes["sup"].alias("sup"),
                "vec_id",
                cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
            )
        )
        top = (
            cand.withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
                ),
            )
            .filter(F.col("rk") <= 3)
            .select(
                "qid",
                F.col("sup").cast("long").alias("sup"),
                F.col("rk").cast("long").alias("rk"),
                "vec_id",
                "sim",
            )
            .orderBy("qid", "rk")
            .collect()
        )
    return spark.createDataFrame(
        top, "qid long, sup long, rk long, vec_id long, sim double"
    ).orderBy("qid", "rk")


QUERIES["q257_tree_partitioned_store"] = q257_tree_partitioned_store


def _q257_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        quantize_q6_py,
        sql_dot,
        sql_lit_list,
        sql_norm,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q27_QUERY_VECS
    from ai_data_pipeline_spark.plans.frontier_queries import (
        _Q223_STRIDE,
        _Q247_SUPER_STRIDE,
    )

    rng = f"range(1, {EMBED_DIM + 1})"

    def d(a: str, av: str, b: str, bv: str) -> str:
        return (
            f"list_sum(list_transform({rng}, "
            f"i -> ({a}.{av}[i] - {b}.{bv}[i]) * ({a}.{av}[i] - {b}.{bv}[i])))"
        )

    qvals = ", ".join(
        f"({i}, {sql_lit_list(v)}, {quantize_q6_py(v)})"
        for i, v in enumerate(Q27_QUERY_VECS)
    )
    cos = (
        f"({sql_dot('e.embedding', 'p2.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('e.embedding', EMBED_DIM)}) * ({sql_norm('p2.qvec', EMBED_DIM)}))"
    )
    return f"""
    WITH q6c AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v6
        FROM embeddings
    ), seeds AS MATERIALIZED (
        SELECT vec_id AS seed_id, v6 AS s6 FROM q6c
        WHERE vec_id % {_Q223_STRIDE} = 0
    ), supers AS MATERIALIZED (
        SELECT seed_id AS super_id, s6 AS p6 FROM seeds
        WHERE seed_id % {_Q247_SUPER_STRIDE} = 0
    ), seed_sup AS MATERIALIZED (
        SELECT seed_id, super_id FROM (
            SELECT s.seed_id, p.super_id,
                   ROW_NUMBER() OVER (PARTITION BY s.seed_id
                       ORDER BY {d('s', 's6', 'p', 'p6')}, p.super_id) AS rn
            FROM seeds s CROSS JOIN supers p)
        WHERE rn = 1
    ), vec_sup AS MATERIALIZED (
        SELECT vec_id, super_id FROM (
            SELECT v.vec_id, p.super_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {d('v', 'v6', 'p', 'p6')}, p.super_id) AS rn
            FROM q6c v CROSS JOIN supers p)
        WHERE rn = 1
    ), tree AS MATERIALIZED (
        SELECT vec_id, sup, cell FROM (
            SELECT v.vec_id, vs.super_id AS sup, s.seed_id AS cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {d('v', 'v6', 's', 's6')}, s.seed_id) AS rn
            FROM q6c v
            JOIN vec_sup vs ON vs.vec_id = v.vec_id
            JOIN seed_sup ss ON ss.super_id = vs.super_id
            JOIN seeds s ON s.seed_id = ss.seed_id)
        WHERE rn = 1
    ), queries AS (
        SELECT * FROM (VALUES {qvals}) AS q(qid, qvec, q6)
    ), q_sup AS MATERIALIZED (
        SELECT qid, qvec, q6, super_id FROM (
            SELECT q.qid, q.qvec, q.q6, p.super_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY {d('q', 'q6', 'p', 'p6')}, p.super_id) AS rk
            FROM queries q CROSS JOIN supers p)
        WHERE rk = 1
    ), probes AS MATERIALIZED (
        SELECT qid, qvec, super_id AS sup, seed_id FROM (
            SELECT q.qid, q.qvec, q.super_id, s.seed_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY {d('q', 'q6', 's', 's6')}, s.seed_id) AS rk
            FROM q_sup q
            JOIN seed_sup ss ON ss.super_id = q.super_id
            JOIN seeds s ON s.seed_id = ss.seed_id)
        WHERE rk <= {_Q257_NPROBE}
    )
    SELECT qid, sup, CAST(rk AS BIGINT) AS rk, vec_id, sim FROM (
        SELECT p2.qid, p2.sup, e.vec_id, {cos} AS sim,
               ROW_NUMBER() OVER (PARTITION BY p2.qid
                                  ORDER BY {cos} DESC, e.vec_id) AS rk
        FROM embeddings e
        JOIN tree t ON t.vec_id = e.vec_id
        JOIN probes p2 ON t.cell = p2.seed_id)
    WHERE rk <= 3
    ORDER BY qid, rk
    """


ORACLE["q257_tree_partitioned_store"] = _q257_oracle()


# ---------------------------------------------------------------------------
# Q258 — exact water-filling token-budget allocator (the classic
# max-min fair allocation: give every source as much of the token
# budget as possible without any source exceeding its available
# mass, raising one common water level until the budget is spent —
# the per-source cap scheduling used when a training mix wants
# "equal shares, except sources that run out"). The round-11 queue
# admits this only "if an exact fixed-round form is defensible" —
# it is BETTER than fixed-round: the level has a closed form. Sort
# sources by avail ascending; source i is capped iff
# P_{i-1} + m_i·avail_i ≤ B (P = prefix sum, m_i = sources left) —
# the floor-free multiplicative test (floor(x/m) ≥ a ⟺ x ≥ a·m for
# positive m), so the capped set needs NO division and no rounds.
# Level t = (B − P_k) div (n − k) over the k capped sources; the
# remainder r distributes +1 to the r lowest-avail uncapped sources
# (largest-remainder discipline, q200's). Everything exact BIGINT;
# Σ alloc = B by construction when the budget binds (data-level
# test). Dividends non-negative by construction: B = total div 2 ≥ 0
# and B − P_k ≥ 0 because the capped test for source k gives
# P_k ≤ P_{k-1} + m_k·avail_k ≤ B. Scale: one agg to |sources| rows,
# then tiny global windows on the aggregated frame — never the
# corpus.
# ---------------------------------------------------------------------------


def q258_water_filling_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws

    docs = spread(_t(spark, sf_dir, "documents"))
    src = (
        docs.select("source", token_count_ws(F.col("text")).alias("tok"))
        .groupBy("source")
        .agg(F.sum("tok").cast("long").alias("avail"))
        # |sources| rows; three downstream consumers (tot, ordd, cap's
        # re-read through ordd) — checkpoint so the corpus tokenize
        # scan runs ONCE, not once per consumer (q216's pattern)
        .localCheckpoint()
    )
    tot = src.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("avail").cast("long").alias("total"),
    ).withColumn("budget", F.expr("total div 2"))
    w = Window.orderBy("avail", "source")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordd = (
        src.crossJoin(F.broadcast(tot))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("p", F.sum("avail").over(wsum))
        .withColumn(
            "capped",
            (
                (F.col("p") - F.col("avail"))
                + (F.col("n") - F.col("rn") + 1) * F.col("avail")
                <= F.col("budget")
            ).cast("long"),
        )
        .withColumn("urank", F.sum(1 - F.col("capped")).over(wsum))
    )
    cap = ordd.agg(
        F.sum("capped").cast("long").alias("k"),
        F.coalesce(F.sum(F.col("avail") * F.col("capped")), F.lit(0))
        .cast("long")
        .alias("pk"),
    )
    out = (
        ordd.crossJoin(F.broadcast(cap))
        .withColumn(
            "level",
            F.when(F.col("k") < F.col("n"), F.expr("(budget - pk) div (n - k)")),
        )
        .withColumn(
            "rem",
            F.when(
                F.col("k") < F.col("n"), F.expr("(budget - pk) % (n - k)")
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "alloc",
            F.when(F.col("capped") == 1, F.col("avail")).otherwise(
                F.col("level")
                + (F.col("urank") <= F.col("rem")).cast("long")
            ),
        )
    )
    return out.select(
        "source",
        "avail",
        "capped",
        F.col("alloc").cast("long").alias("alloc"),
        F.col("level").cast("long").alias("level"),
        "budget",
    ).orderBy("source")


QUERIES["q258_water_filling_budget"] = q258_water_filling_budget


def _q258_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH per AS (
        SELECT source, len({toks}) AS tok FROM documents
    ), src AS (
        SELECT source, CAST(SUM(tok) AS BIGINT) AS avail
        FROM per GROUP BY source
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(avail) AS BIGINT) AS total,
               CAST(SUM(avail) AS BIGINT) // 2 AS budget
        FROM src
    ), ordd AS (
        SELECT s.source, s.avail, t.n, t.budget,
               CAST(ROW_NUMBER() OVER (ORDER BY s.avail, s.source) AS BIGINT) AS rn,
               CAST(SUM(s.avail) OVER (ORDER BY s.avail, s.source
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
        FROM src s CROSS JOIN tot t
    ), flagged AS (
        SELECT *,
               CASE WHEN (p - avail) + (n - rn + 1) * avail <= budget
                    THEN 1 ELSE 0 END AS capped
        FROM ordd
    ), f2 AS (
        SELECT *,
               CAST(SUM(1 - capped) OVER (ORDER BY avail, source
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS urank
        FROM flagged
    ), cap AS (
        SELECT CAST(SUM(capped) AS BIGINT) AS k,
               CAST(COALESCE(SUM(avail * capped), 0) AS BIGINT) AS pk
        FROM flagged
    )
    SELECT source, avail, CAST(capped AS BIGINT) AS capped,
           CAST(CASE WHEN capped = 1 THEN avail
                     ELSE (budget - pk) // (n - k)
                          + (CASE WHEN urank <= (budget - pk) % (n - k)
                                  THEN 1 ELSE 0 END)
                END AS BIGINT) AS alloc,
           CAST(CASE WHEN k < n THEN (budget - pk) // (n - k) END AS BIGINT)
               AS level,
           budget
    FROM f2 CROSS JOIN cap
    ORDER BY source
    """


ORACLE["q258_water_filling_budget"] = _q258_oracle()


# ---------------------------------------------------------------------------
# Q259 — IVFADC on RESIDUALS (Jégou et al. 2011 §III: the production
# IVF+PQ layout quantizes r = v − c, the vector's residual from its
# coarse centroid, not v itself — residuals concentrate near the
# origin so the same code budget spends its resolution where the
# data actually is). q235/q236 grade direct PQ + ADC, q247 the
# coarse tree; this row grades the residual CONTRAST: both variants
# ('direct' = PQ on v6, 'residual' = PQ on r6 = v6 − cell centroid)
# use the SAME 8-code/8-subspace geometry, the SAME training rows
# (vec_id 1..8 — fixed-size collects by construction), the SAME
# nprobe=2 candidate sets, and the exact integer-L2 top-3 WITHIN
# those candidates as truth — so the only moving part is WHAT gets
# quantized. Per variant: total exact quantization error over the
# corpus, pooled candidates/truth/hits and ADC recall (one IEEE
# division of exact BIGINTs). The residual LUT is per (query, probed
# cell) — (q6 − c6) vs each residual code, |queries|·nprobe·S·K
# exact ints computed once in Python from bounded collects (probed
# centroids ≤ nprobe·|queries| rows; codes 8 rows) ≡ recomputed by
# the SQL twin. Scale: two kernel scan passes (assignments), one
# N×K coarse assignment through the count-gated kernel, ADC = S
# lookups + adds per candidate; nothing pairwise; LUTs broadcast at
# KBs for any corpus. Measured read at sf0.01 (the q249 discipline —
# grade the claim, don't assert it): residual qerr 674T vs direct
# 478T — residual-PQ HURTS here because the corpus is near-uniform,
# the stride-seeded coarse centroids carry almost no mass, and the 8
# untrained residual codes (residuals of vecs 1..8, each tied to its
# own cell) are a worse dictionary than 8 spread data points. On
# clustered embeddings (real text encoders) the sign flips — which
# is exactly what this audit exists to detect before a deployment
# commits to the IVFADC layout.
# ---------------------------------------------------------------------------

_Q259_CODES = 8
_Q259_SUBDIM = 8
_Q259_SUBSPACES = 8
_Q259_NPROBE = 2
_Q259_TRAIN_N = 8  # training rows: vec_id 1.._Q259_TRAIN_N (never seeds)


def q259_ivfadc_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import quantize_q6, quantize_q6_py
    from ai_data_pipeline_spark.operators.vectorized import pq_assign_q6_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS
    from ai_data_pipeline_spark.plans.frontier_queries import (
        _Q223_STRIDE,
        _assign_exact_q6,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    seeds = base.filter(F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0).select(
        F.col("vec_id").alias("seed_id"), F.col("v6").alias("s6")
    )
    cells = _assign_exact_q6(base, seeds)
    resid = (
        base.join(cells, "vec_id")
        .join(
            F.broadcast(seeds.select(F.col("seed_id").alias("cell"), "s6")), "cell"
        )
        .select(
            "vec_id",
            "cell",
            F.zip_with("v6", "s6", lambda x, y: x - y).alias("r6"),
        )
        # consumed by the code collect, the kernel assignment AND the
        # candidate join — checkpoint so the coarse assignment runs once
        .localCheckpoint()
    )

    train = F.col("vec_id").between(1, _Q259_TRAIN_N)
    codes_d = [
        list(r["v6"]) for r in base.filter(train).orderBy("vec_id").collect()
    ]  # 8 rows by construction
    codes_r = [
        list(r["r6"]) for r in resid.filter(train).orderBy("vec_id").collect()
    ]  # 8 rows by construction

    # each assignment feeds TWO consumers (qerr + its ADC branch) —
    # checkpoint the (N×S)-row code tables so each kernel pass runs
    # once, not once per consumer
    asg_d = pq_assign_q6_np(base, codes_d, _Q259_SUBDIM).localCheckpoint()
    asg_r = pq_assign_q6_np(resid, codes_r, _Q259_SUBDIM, q6_col="r6").localCheckpoint()
    qerr = (
        asg_d.select(F.lit("direct").alias("variant"), "err")
        .unionByName(asg_r.select(F.lit("residual").alias("variant"), "err"))
        .groupBy("variant")
        .agg(F.sum("err").cast("long").alias("total_qerr"))
    )

    # probes: nprobe nearest seeds per query, exact integer distance
    q6s = [quantize_q6_py(v) for v in Q27_QUERY_VECS]
    qdf = spark.createDataFrame(
        [(i, q6s[i]) for i in range(len(q6s))], "qid long, q6 array<bigint>"
    )
    dq = F.aggregate(
        F.zip_with("q6", "s6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    probes = (
        qdf.crossJoin(F.broadcast(seeds))
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("qid").orderBy(dq, "seed_id")),
        )
        .filter(F.col("rk") <= _Q259_NPROBE)
        .select("qid", F.col("seed_id").alias("cell"), "s6")
    )
    probe_rows = probes.collect()  # ≤ nprobe·|queries| rows by construction

    # LUTs: exact Python ints == BIGINT == the twin
    lut_d_rows = []
    for qid, q6 in enumerate(q6s):
        for s in range(_Q259_SUBSPACES):
            lo = s * _Q259_SUBDIM
            for k, c in enumerate(codes_d):
                d = sum((q6[lo + i] - c[lo + i]) ** 2 for i in range(_Q259_SUBDIM))
                lut_d_rows.append((qid, s, k, d))
    lut_r_rows = []
    for pr in probe_rows:
        qid, cell, c6 = int(pr["qid"]), int(pr["cell"]), list(pr["s6"])
        rq = [q6s[qid][i] - c6[i] for i in range(len(c6))]
        for s in range(_Q259_SUBSPACES):
            lo = s * _Q259_SUBDIM
            for k, c in enumerate(codes_r):
                d = sum((rq[lo + i] - c[lo + i]) ** 2 for i in range(_Q259_SUBDIM))
                lut_r_rows.append((qid, cell, s, k, d))
    lut_d = spark.createDataFrame(lut_d_rows, "qid long, subspace long, code long, d long")
    lut_r = spark.createDataFrame(
        lut_r_rows, "qid long, cell long, subspace long, code long, d long"
    )

    cand = probes.select("qid", "cell").join(resid.select("vec_id", "cell"), "cell")

    adc_d = (
        cand.join(asg_d.select(F.col("id").alias("vec_id"), "subspace", "code"), "vec_id")
        .join(F.broadcast(lut_d), ["qid", "subspace", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").cast("long").alias("adc_d"))
    )
    adc_r = (
        cand.join(asg_r.select(F.col("id").alias("vec_id"), "subspace", "code"), "vec_id")
        .join(F.broadcast(lut_r), ["qid", "cell", "subspace", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").cast("long").alias("adc_d"))
    )

    d_exact = F.aggregate(
        F.zip_with("v6", "q6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    truth = (
        cand.join(base, "vec_id")
        .join(F.broadcast(qdf), "qid")
        .select("qid", "vec_id", d_exact.alias("ed"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.asc("ed"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rk") <= 3)
        .select("qid", "vec_id")
    )

    def tally(adc: DataFrame, variant: str) -> DataFrame:
        top = (
            adc.withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(F.asc("adc_d"), F.asc("vec_id"))
                ),
            )
            .filter(F.col("rk") <= 3)
            .select("qid", "vec_id")
        )
        return (
            top.join(truth, ["qid", "vec_id"])
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
            .select(F.lit(variant).alias("variant"), "n_hits")
        )

    counts = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand")).crossJoin(
        truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    )
    hits = tally(adc_d, "direct").unionByName(tally(adc_r, "residual"))
    return (
        qerr.join(hits, "variant")
        .crossJoin(F.broadcast(counts))
        .select(
            "variant",
            "total_qerr",
            "n_cand",
            "n_truth",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_truth").cast("double")).alias(
                "recall"
            ),
        )
        .orderBy("variant")
    )


QUERIES["q259_ivfadc_residual"] = q259_ivfadc_residual


def _q259_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import quantize_q6_py
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q27_QUERY_VECS
    from ai_data_pipeline_spark.plans.frontier_queries import _Q223_STRIDE

    rng = f"range(1, {EMBED_DIM + 1})"
    rng_sub = f"range(1, {_Q259_SUBDIM + 1})"
    qvals = ", ".join(
        f"({i}, {quantize_q6_py(v)})" for i, v in enumerate(Q27_QUERY_VECS)
    )

    def d_sub(a_vec: str, b_vec: str) -> str:
        return (
            f"list_sum(list_transform({rng_sub}, "
            f"i -> ({a_vec}[sp.s * {_Q259_SUBDIM} + i] - {b_vec}[sp.s * {_Q259_SUBDIM} + i])"
            f" * ({a_vec}[sp.s * {_Q259_SUBDIM} + i] - {b_vec}[sp.s * {_Q259_SUBDIM} + i])))"
        )

    d_seed = (
        f"list_sum(list_transform({rng}, "
        f"i -> (v.v6[i] - s.s6[i]) * (v.v6[i] - s.s6[i])))"
    )
    d_probe = (
        f"list_sum(list_transform({rng}, "
        f"i -> (q.q6[i] - s.s6[i]) * (q.q6[i] - s.s6[i])))"
    )
    d_exact = (
        f"list_sum(list_transform({rng}, "
        f"i -> (b.v6[i] - q.q6[i]) * (b.v6[i] - q.q6[i])))"
    )
    # residual LUT term: ((q6 − cell c6) − residual code) per subspace
    d_lut_r = (
        f"list_sum(list_transform({rng_sub}, "
        f"i -> ((q.q6[sp.s * {_Q259_SUBDIM} + i] - pc.s6[sp.s * {_Q259_SUBDIM} + i])"
        f" - rc.r6[sp.s * {_Q259_SUBDIM} + i])"
        f" * ((q.q6[sp.s * {_Q259_SUBDIM} + i] - pc.s6[sp.s * {_Q259_SUBDIM} + i])"
        f" - rc.r6[sp.s * {_Q259_SUBDIM} + i])))"
    )
    return f"""
    WITH q6c AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v6
        FROM embeddings
    ), seeds AS MATERIALIZED (
        SELECT vec_id AS seed_id, v6 AS s6 FROM q6c
        WHERE vec_id % {_Q223_STRIDE} = 0
    ), cells AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, s.seed_id AS cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {d_seed}, s.seed_id) AS rn
            FROM q6c v CROSS JOIN seeds s)
        WHERE rn = 1
    ), resid AS MATERIALIZED (
        SELECT b.vec_id, c.cell,
               list_transform({rng}, i -> b.v6[i] - s.s6[i]) AS r6
        FROM q6c b
        JOIN cells c ON c.vec_id = b.vec_id
        JOIN seeds s ON s.seed_id = c.cell
    ), dcodes AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, v6
        FROM q6c WHERE vec_id BETWEEN 1 AND {_Q259_TRAIN_N}
    ), rcodes AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, r6
        FROM resid WHERE vec_id BETWEEN 1 AND {_Q259_TRAIN_N}
    ), sp AS (SELECT unnest(range({_Q259_SUBSPACES})) AS s
    ), asg_d AS MATERIALIZED (
        SELECT vec_id, s AS subspace, code, err FROM (
            SELECT b.vec_id, sp.s, c.k AS code, {d_sub('b.v6', 'c.v6')} AS err,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id, sp.s
                       ORDER BY {d_sub('b.v6', 'c.v6')}, c.k) AS rn
            FROM q6c b CROSS JOIN sp CROSS JOIN dcodes c)
        WHERE rn = 1
    ), asg_r AS MATERIALIZED (
        SELECT vec_id, s AS subspace, code, err FROM (
            SELECT b.vec_id, sp.s, c.k AS code, {d_sub('b.r6', 'c.r6')} AS err,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id, sp.s
                       ORDER BY {d_sub('b.r6', 'c.r6')}, c.k) AS rn
            FROM resid b CROSS JOIN sp CROSS JOIN rcodes c)
        WHERE rn = 1
    ), qerr AS (
        SELECT 'direct' AS variant, CAST(SUM(err) AS BIGINT) AS total_qerr
        FROM asg_d
        UNION ALL
        SELECT 'residual' AS variant, CAST(SUM(err) AS BIGINT) AS total_qerr
        FROM asg_r
    ), queries AS (
        SELECT * FROM (VALUES {qvals}) AS q(qid, q6)
    ), probes AS MATERIALIZED (
        SELECT qid, q6, seed_id AS cell FROM (
            SELECT q.qid, q.q6, s.seed_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY {d_probe}, s.seed_id) AS rk
            FROM queries q CROSS JOIN seeds s)
        WHERE rk <= {_Q259_NPROBE}
    ), cand AS MATERIALIZED (
        SELECT p.qid, r.vec_id, r.cell
        FROM probes p JOIN resid r ON r.cell = p.cell
    ), lut_d AS MATERIALIZED (
        SELECT q.qid, sp.s AS subspace, c.k AS code,
               {d_sub('q.q6', 'c.v6')} AS d
        FROM queries q CROSS JOIN sp CROSS JOIN dcodes c
    ), lut_r AS MATERIALIZED (
        SELECT q.qid, p.cell, sp.s AS subspace, rc.k AS code, {d_lut_r} AS d
        FROM probes p
        JOIN queries q ON q.qid = p.qid
        JOIN seeds pc ON pc.seed_id = p.cell
        CROSS JOIN sp CROSS JOIN rcodes rc
    ), adc_d AS (
        SELECT c.qid, c.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_d
        FROM cand c
        JOIN asg_d a ON a.vec_id = c.vec_id
        JOIN lut_d l ON l.qid = c.qid AND l.subspace = a.subspace
                    AND l.code = a.code
        GROUP BY c.qid, c.vec_id
    ), adc_r AS (
        SELECT c.qid, c.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_d
        FROM cand c
        JOIN asg_r a ON a.vec_id = c.vec_id
        JOIN lut_r l ON l.qid = c.qid AND l.cell = c.cell
                    AND l.subspace = a.subspace AND l.code = a.code
        GROUP BY c.qid, c.vec_id
    ), truth AS MATERIALIZED (
        SELECT qid, vec_id FROM (
            SELECT c.qid, c.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY c.qid
                       ORDER BY {d_exact} ASC, c.vec_id) AS rk
            FROM cand c
            JOIN q6c b ON b.vec_id = c.vec_id
            JOIN queries q ON q.qid = c.qid)
        WHERE rk <= 3
    ), tops AS (
        SELECT 'direct' AS variant, qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY adc_d ASC, vec_id) AS rk
            FROM adc_d) WHERE rk <= 3
        UNION ALL
        SELECT 'residual' AS variant, qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY adc_d ASC, vec_id) AS rk
            FROM adc_r) WHERE rk <= 3
    ), hits AS (
        SELECT t.variant, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM tops t JOIN truth x ON x.qid = t.qid AND x.vec_id = t.vec_id
        GROUP BY t.variant
    ), counts AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth
    )
    SELECT e.variant, e.total_qerr, c.n_cand, c.n_truth,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(c.n_truth AS DOUBLE)
               AS recall
    FROM qerr e
    LEFT JOIN hits h ON h.variant = e.variant
    CROSS JOIN counts c
    ORDER BY e.variant
    """


ORACLE["q259_ivfadc_residual"] = _q259_oracle()


# ---------------------------------------------------------------------------
# Q260 — median/MAD robust outlier gate per source (the robust
# sibling of q120's z-score: mean/stddev move with the outliers they
# are supposed to find; median and MAD = median(|x − median|) have
# 50% breakdown). All decisions exact integers: the median is the
# inclusive-rank lower median (rank (n+1) div 2 over (v, doc_id) —
# quantile_disc semantics, the KLL-verified convention), MAD the
# same selection over |v − med|, and the outlier test
# |v − med| > 3·MAD compares BIGINTs (no 1.4826 consistency scaling
# — that constant matters for Gaussian σ-equivalence, not for a
# rank-exact gate; 3·MAD_raw is the documented knob). Both picks are
# window-expressible (MAX(CASE WHEN rk = pick...) OVER the source
# partition) — no groupBy+join-back (the q23 rule), and the second
# ranking window reuses the first's hash partitioning: ONE shuffle.
# Per source: docs, median, mad, outliers, outlier_rate (one IEEE
# division of exact BIGINTs).
# ---------------------------------------------------------------------------


def q260_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    base = docs.select("source", "doc_id", F.col("n_chars").cast("long").alias("v"))
    wsrc = Window.partitionBy("source")
    w1 = Window.partitionBy("source").orderBy("v", "doc_id")
    step1 = (
        base.withColumn("rk", F.row_number().over(w1))
        .withColumn("n", F.count(F.lit(1)).over(wsrc))
        .withColumn("pick", F.expr("(n + 1) div 2"))
        .withColumn(
            "med",
            F.max(F.when(F.col("rk") == F.col("pick"), F.col("v"))).over(wsrc),
        )
        .withColumn("dev", F.abs(F.col("v") - F.col("med")))
    )
    w2 = Window.partitionBy("source").orderBy("dev", "doc_id")
    step2 = step1.withColumn("rk2", F.row_number().over(w2)).withColumn(
        "mad",
        F.max(F.when(F.col("rk2") == F.col("pick"), F.col("dev"))).over(wsrc),
    )
    return (
        step2.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("med").cast("long").alias("median_chars"),
            F.max("mad").cast("long").alias("mad_chars"),
            F.sum((F.col("dev") > 3 * F.col("mad")).cast("int"))
            .cast("long")
            .alias("n_outliers"),
        )
        .withColumn(
            "outlier_rate",
            F.col("n_outliers").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q260_mad_outliers"] = q260_mad_outliers


def _q260_oracle() -> str:
    return """
    WITH base AS (
        SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v FROM documents
    ), s1 AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM base
    ), s2 AS (
        SELECT *,
               (n + 1) // 2 AS pick,
               MAX(CASE WHEN rk = (n + 1) // 2 THEN v END)
                   OVER (PARTITION BY source) AS med
        FROM s1
    ), s3 AS (
        SELECT *, abs(v - med) AS dev,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY abs(v - med), doc_id)
                   AS rk2
        FROM s2
    ), s4 AS (
        SELECT *,
               MAX(CASE WHEN rk2 = pick THEN dev END)
                   OVER (PARTITION BY source) AS mad
        FROM s3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(med) AS BIGINT) AS median_chars,
           CAST(MAX(mad) AS BIGINT) AS mad_chars,
           CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS outlier_rate
    FROM s4
    GROUP BY source
    ORDER BY source
    """


ORACLE["q260_mad_outliers"] = _q260_oracle()


# ---------------------------------------------------------------------------
# Q261 — shared-prefix cache savings audit (LLM serving / boilerplate
# detection: documents that open with the same first-k tokens share
# prefix KV-cache, and heavy prefix groups usually ARE templated
# boilerplate — the prefix view of what q190 masks at 8 tokens).
# Group key = the first min(8, n_tok) whitespace tokens re-joined
# with single spaces; equal keys tokenize identically, so the
# group's prefix token count is a property of the key. Savings =
# Σ over groups (|group| − 1) · prefix_tok — the tokens a
# prefix-cached decode never recomputes. One summary row: groups
# with ≥ 2 members, docs covered, tokens saved, corpus tokens,
# saved_rate (one IEEE division of exact BIGINTs). Scale: one
# tokenize scan + one hash groupBy on the 8-token key (map-side
# combinable), one tiny final agg.
# ---------------------------------------------------------------------------

_Q261_K = 8


def q261_prefix_cache_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws, ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    per = docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_tok"),
        F.concat_ws(" ", F.slice(ws_tokens(F.col("text")), 1, _Q261_K)).alias(
            "prefix"
        ),
    )
    groups = per.groupBy("prefix").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.least(F.min("n_tok"), F.lit(_Q261_K)).cast("long").alias("prefix_tok"),
    )
    tot = per.agg(F.sum("n_tok").cast("long").alias("total_tokens"))
    return (
        groups.filter(F.col("cnt") >= 2)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_docs_covered"),
            F.coalesce(F.sum((F.col("cnt") - 1) * F.col("prefix_tok")), F.lit(0))
            .cast("long")
            .alias("tokens_saved"),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "saved_rate",
            F.col("tokens_saved").cast("double")
            / F.col("total_tokens").cast("double"),
        )
    )


QUERIES["q261_prefix_cache_savings"] = q261_prefix_cache_savings


def _q261_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH per AS (
        SELECT doc_id,
               len({toks}) AS n_tok,
               array_to_string(list_slice({toks}, 1, {_Q261_K}), ' ') AS prefix
        FROM documents
    ), groups AS (
        SELECT prefix,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(LEAST(MIN(n_tok), {_Q261_K}) AS BIGINT) AS prefix_tok
        FROM per GROUP BY prefix
    ), tot AS (
        SELECT CAST(SUM(n_tok) AS BIGINT) AS total_tokens FROM per
    )
    , agg AS (
        -- no GROUP BY: aggregates over zero input still return ONE
        -- row, matching Spark's global agg when no prefix repeats
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_docs_covered,
               CAST(COALESCE(SUM((cnt - 1) * prefix_tok), 0) AS BIGINT)
                   AS tokens_saved
        FROM groups WHERE cnt >= 2
    )
    SELECT a.n_groups, a.n_docs_covered, a.tokens_saved, t.total_tokens,
           CAST(a.tokens_saved AS DOUBLE) / CAST(t.total_tokens AS DOUBLE)
               AS saved_rate
    FROM agg a CROSS JOIN tot t
    """


ORACLE["q261_prefix_cache_savings"] = _q261_oracle()


# ---------------------------------------------------------------------------
# Q262 — lexical richness per source (type-token ratio + hapax
# tail): the corpus-health summary next to q92's Zipf slope and
# q226's Heaps growth — a source whose TTR collapses is templated or
# duplicated, one whose hapax share explodes is noisy OCR / junk.
# Types are lowercased whitespace tokens scoped PER SOURCE; hapax =
# types occurring exactly once in that source. Two-phase aggregation:
# (source, token) partial counts (map-side combinable — the explode
# never shuffles raw text, only 8-byte-ish tokens), then per-source
# rollup; ttr and hapax_share are single IEEE divisions of exact
# BIGINTs.
# ---------------------------------------------------------------------------


def q262_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    tok = docs.select(
        "source",
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"),
    )
    counts = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum((F.col("c") == 1).cast("int")).cast("long").alias("n_hapax"),
        )
        .withColumn(
            "ttr",
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
        )
        .withColumn(
            "hapax_share",
            F.col("n_hapax").cast("double") / F.col("n_types").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q262_lexical_richness"] = q262_lexical_richness


def _q262_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("lower(text)", 1)
    return f"""
    WITH tok AS (
        SELECT source, unnest({toks}) AS w FROM documents
    ), counts AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS hapax_share
    FROM counts
    GROUP BY source
    ORDER BY source
    """


ORACLE["q262_lexical_richness"] = _q262_oracle()


# ---------------------------------------------------------------------------
# Q263 — the three-stage dedup CASCADE audit (the production funnel
# every large corpus actually runs — FineWeb/Dolma/RefinedWeb order:
# exact → near → semantic, each stage only paying for the previous
# stage's survivors): stage 1 exact keep-first on the normalized
# text (q20/q190's canonical form — lowercase, strip punctuation,
# collapse whitespace); stage 2 capped 4-gram Jaccard ≥ 0.6 pairs →
# connected components → keep-min (q23/q107 machinery,
# max_shingle_freq mandatory and mirrored); stage 3 SemDeDup at
# τ = 0.35 over the survivors' embeddings (doc_id ≡ vec_id),
# occupancy-scaled cells seeded from the SURVIVOR set (q223's exact
# q6 argmin through the count-gated kernel; doc 0 always survives
# keep-min stages, so the stride-0 seed always exists). The graded
# read is the MARGINAL removal per stage per source — the number
# that tells a deployment which stages still earn their pass. Exact
# integer tallies; kept_rate one IEEE division of exact BIGINTs.
# Scale: stage 1 is a hash window; stage 2 is the banded/capped pair
# machinery (never f²); stage 3 is Σ|cell|² within survivor cells;
# each stage's input shrinks monotonically — the cascade's whole
# point at 100 TB.
# ---------------------------------------------------------------------------

_Q263_N = 4
_Q263_JACCARD = "0.6"
_Q263_JACCARD_F = 0.6  # same literal; float twin for the Spark call sites
_Q263_MAXF = 50
_Q263_TAU = 0.35


def q263_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import normalized_text
    from ai_data_pipeline_spark.functions.vector import quantize_q6
    from ai_data_pipeline_spark.operators.dedup import (
        dedup_clusters_star,
        ngram_jaccard_pairs,
    )
    from ai_data_pipeline_spark.operators.vectorized import cosine_pairs_np
    from ai_data_pipeline_spark.plans.frontier_queries import (
        _Q223_STRIDE,
        _assign_exact_q6,
    )

    docs = spread(_t(spark, sf_dir, "documents")).select("doc_id", "source", "text")

    # stage 1 — exact (normalized) keep-first
    wn = Window.partitionBy("norm").orderBy("doc_id")
    s1 = docs.withColumn("norm", normalized_text(F.col("text"))).withColumn(
        "rn", F.row_number().over(wn)
    )
    rem1 = s1.filter(F.col("rn") > 1).select("doc_id", "source")
    surv1 = (
        s1.filter(F.col("rn") == 1)
        .select("doc_id", "source", "text")
        # three consumers (pair machinery, tally anti-join, stage-3
        # feed) — checkpoint so stage 1 runs once. NOT re-spread
        # (r13 probe): unlike q216's minhash input, the downstream
        # stage-2 shingle pass exchanges almost immediately (hash +
        # distinct) and its map side is light, so the extra
        # repartitions measured NET SLOWER (5.6→7.4 s with spreads on
        # surv1/surv2/sem); the spread-before-checkpoint rule only
        # pays ahead of heavy map-side kernels (q216/q288).
        .localCheckpoint()
    )

    # stage 2 — capped shingle Jaccard → components → keep-min
    pairs2 = ngram_jaccard_pairs(
        surv1,
        "doc_id",
        "text",
        n=_Q263_N,
        min_jaccard=_Q263_JACCARD_F,
        max_shingle_freq=_Q263_MAXF,
    ).select("id_a", "id_b")
    cl2 = dedup_clusters_star(pairs2)
    rem2_ids = cl2.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    rem2 = surv1.join(rem2_ids, "doc_id").select("doc_id", "source")
    surv2 = surv1.join(rem2_ids, "doc_id", "left_anti").localCheckpoint()

    # stage 3 — SemDeDup over the survivors' embeddings
    emb = _t(spark, sf_dir, "embeddings")
    sem = emb.join(
        surv2.select(F.col("doc_id").alias("vec_id")), "vec_id"
    ).localCheckpoint()
    seeds = sem.filter(F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0).select(
        F.col("vec_id").alias("seed_id"), quantize_q6("embedding").alias("s6")
    )
    cells = _assign_exact_q6(
        sem.select("vec_id", quantize_q6("embedding").alias("v6")), seeds
    )
    assigned = sem.select("vec_id", "embedding").join(cells, "vec_id")
    pairs3 = cosine_pairs_np(
        assigned,
        id_col="vec_id",
        vec_col="embedding",
        block_col="cell",
        min_cosine=_Q263_TAU,
    )
    cl3 = dedup_clusters_star(pairs3)
    rem3_ids = cl3.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    rem3 = surv2.join(rem3_ids, "doc_id").select("doc_id", "source")

    tot = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias(name)
        )

    return (
        tot.join(cnt(rem1, "removed_exact"), "source", "left")
        .join(cnt(rem2, "removed_near"), "source", "left")
        .join(cnt(rem3, "removed_semantic"), "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("removed_exact", F.lit(0)).cast("long").alias("removed_exact"),
            F.coalesce("removed_near", F.lit(0)).cast("long").alias("removed_near"),
            F.coalesce("removed_semantic", F.lit(0))
            .cast("long")
            .alias("removed_semantic"),
        )
        .withColumn(
            "kept",
            F.col("n_docs")
            - F.col("removed_exact")
            - F.col("removed_near")
            - F.col("removed_semantic"),
        )
        .withColumn(
            "kept_rate",
            F.col("kept").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q263_dedup_cascade"] = q263_dedup_cascade


def _q263_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import SQL_NORMALIZED, sql_word_ngrams
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM
    from ai_data_pipeline_spark.plans.frontier_queries import _Q223_STRIDE

    grams = sql_word_ngrams("text", _Q263_N)
    norm = SQL_NORMALIZED.format(x="text")
    rng = f"range(1, {EMBED_DIM + 1})"
    d6 = f"list_sum(list_transform({rng}, i -> (q.v6[i] - s.s6[i]) * (q.v6[i] - s.s6[i])))"
    dot_vv = f"list_sum(list_transform({rng}, i -> (v)[i] * (v)[i]))"
    dot_ab = f"list_sum(list_transform({rng}, i -> (a.v)[i] * (b.v)[i]))"
    return f"""
    WITH RECURSIVE s1 AS MATERIALIZED (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY {norm} ORDER BY doc_id) AS rn
        FROM documents
    ), rem1 AS (
        SELECT doc_id, source FROM s1 WHERE rn > 1
    ), surv1 AS MATERIALIZED (
        SELECT doc_id, source, text FROM s1 WHERE rn = 1
    ), sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM surv1
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle
        FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs2 AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q263_JACCARD}'::DOUBLE
    ), edges2 AS (
        SELECT id_a AS a, id_b AS b FROM pairs2
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs2
    ), reach2 AS (
        SELECT a AS id, a AS lab FROM edges2
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges2 e JOIN reach2 r ON r.id = e.b
    ), comp2 AS (
        SELECT id, MIN(lab) AS cluster_id FROM reach2 GROUP BY id
    ), rem2 AS (
        SELECT s.doc_id, s.source
        FROM surv1 s JOIN comp2 c ON c.id = s.doc_id
        WHERE c.id <> c.cluster_id
    ), surv2 AS MATERIALIZED (
        SELECT s.doc_id, s.source FROM surv1 s
        WHERE s.doc_id NOT IN (SELECT doc_id FROM rem2)
    ), sem AS MATERIALIZED (
        SELECT e.vec_id,
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
               list_transform(e.embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v6
        FROM embeddings e JOIN surv2 s ON s.doc_id = e.vec_id
    ), seeds AS MATERIALIZED (
        SELECT vec_id AS seed_id, v6 AS s6 FROM sem
        WHERE vec_id % {_Q223_STRIDE} = 0
    ), cells AS MATERIALIZED (
        SELECT vec_id, seed_id AS cell FROM (
            SELECT q.vec_id, s.seed_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {d6}, s.seed_id) AS rn
            FROM sem q CROSS JOIN seeds s)
        WHERE rn = 1
    ), normed AS MATERIALIZED (
        SELECT q.vec_id, q.v, c.cell, sqrt({dot_vv}) AS nrm
        FROM sem q JOIN cells c USING (vec_id)
    ), pairs3 AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM normed a JOIN normed b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ({dot_ab}) / (a.nrm * b.nrm) >= '{_Q263_TAU!r}'::DOUBLE
    ), edges3 AS (
        SELECT id_a AS a, id_b AS b FROM pairs3
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs3
    ), reach3 AS (
        SELECT a AS id, a AS lab FROM edges3
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges3 e JOIN reach3 r ON r.id = e.b
    ), comp3 AS (
        SELECT id, MIN(lab) AS cluster_id FROM reach3 GROUP BY id
    ), rem3 AS (
        SELECT s.doc_id, s.source
        FROM surv2 s JOIN comp3 c ON c.id = s.doc_id
        WHERE c.id <> c.cluster_id
    ), tot AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ), c1 AS (SELECT source, COUNT(*) AS c FROM rem1 GROUP BY source
    ), c2 AS (SELECT source, COUNT(*) AS c FROM rem2 GROUP BY source
    ), c3 AS (SELECT source, COUNT(*) AS c FROM rem3 GROUP BY source)
    SELECT t.source, t.n_docs,
           CAST(COALESCE(c1.c, 0) AS BIGINT) AS removed_exact,
           CAST(COALESCE(c2.c, 0) AS BIGINT) AS removed_near,
           CAST(COALESCE(c3.c, 0) AS BIGINT) AS removed_semantic,
           CAST(t.n_docs - COALESCE(c1.c, 0) - COALESCE(c2.c, 0)
                - COALESCE(c3.c, 0) AS BIGINT) AS kept,
           CAST(t.n_docs - COALESCE(c1.c, 0) - COALESCE(c2.c, 0)
                - COALESCE(c3.c, 0) AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
               AS kept_rate
    FROM tot t
    LEFT JOIN c1 ON c1.source = t.source
    LEFT JOIN c2 ON c2.source = t.source
    LEFT JOIN c3 ON c3.source = t.source
    ORDER BY t.source
    """


ORACLE["q263_dedup_cascade"] = _q263_oracle()


# ---------------------------------------------------------------------------
# Q264 — within-source sample diversity (the self-BLEU analog a
# mixture designer reads next to per-source quality: a source whose
# own documents overlap heavily is templated even if no pair crosses
# the dedup threshold): a deterministic hash-priority sample of ≤ 8
# docs per source (rank by 40-bit md5 uniform, q228's idiom — no
# RNG), then exact 3-gram Jaccard machinery over the sample
# (max_shingle_freq engaged and mirrored — the CLAUDE.md shingle
# rule, even on a bounded sample), pairs restricted to same-source.
# Per source: sample size, total pairs C(k,2), pairs sharing ≥ 1
# surviving shingle, Σinter, Σunion — and micro_jaccard =
# Σinter/Σunion (NOT a mean of per-pair doubles: a sum of doubles is
# order-dependent, the micro form is two exact BIGINTs and one IEEE
# division; overlap_rate likewise). Scale: the sample is ≤ 8 docs
# per source BY CONSTRUCTION, so the pair stage is O(|sources|·64)
# regardless of corpus size — the audit stays constant-cost at
# 100 TB while the rank window that builds it is one shuffle.
# ---------------------------------------------------------------------------

_Q264_K = 8
_Q264_N = 3
_Q264_MAXF = 50


def q264_sample_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = spread(_t(spark, sf_dir, "documents"))
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    w = Window.partitionBy("source").orderBy("u", "doc_id")
    sample = (
        docs.select("doc_id", "source", "text", u40.alias("u"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q264_K)
        .select("doc_id", "source", "text")
        .localCheckpoint()  # pair machinery + two id→source joins + size agg
    )
    pairs = ngram_jaccard_pairs(
        sample, "doc_id", "text", n=_Q264_N, max_shingle_freq=_Q264_MAXF
    )
    src = sample.select(F.col("doc_id").alias("id"), "source")
    same = (
        pairs.join(src.withColumnRenamed("id", "id_a"), "id_a")
        .join(
            src.withColumnRenamed("id", "id_b").withColumnRenamed(
                "source", "source_b"
            ),
            "id_b",
        )
        .filter(F.col("source") == F.col("source_b"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs_nonzero"),
            F.sum("inter").cast("long").alias("sum_inter"),
            F.sum(F.col("n_a") + F.col("n_b") - F.col("inter"))
            .cast("long")
            .alias("sum_union"),
        )
    )
    sizes = sample.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("k"))
    return (
        sizes.join(same, "source", "left")
        .select(
            "source",
            "k",
            F.expr("k * (k - 1) div 2").alias("n_pairs_total"),
            F.coalesce("n_pairs_nonzero", F.lit(0))
            .cast("long")
            .alias("n_pairs_nonzero"),
            F.coalesce("sum_inter", F.lit(0)).cast("long").alias("sum_inter"),
            F.coalesce("sum_union", F.lit(0)).cast("long").alias("sum_union"),
        )
        .withColumn(
            "micro_jaccard",
            F.when(
                F.col("sum_union") > 0,
                F.col("sum_inter").cast("double") / F.col("sum_union").cast("double"),
            ),
        )
        .withColumn(
            "overlap_rate",
            F.col("n_pairs_nonzero").cast("double")
            / F.col("n_pairs_total").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q264_sample_diversity"] = q264_sample_diversity


def _q264_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q264_N)
    return f"""
    WITH sample AS MATERIALIZED (
        SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text,
                   ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT),
                                doc_id) AS rk
            FROM documents)
        WHERE rk <= {_Q264_K}
    ), sh AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM sample
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh GROUP BY shingle
    ), shf AS MATERIALIZED (
        SELECT id, sh.shingle FROM sh JOIN freq USING (shingle)
        WHERE f <= {_Q264_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM shf GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), same AS (
        SELECT sa2.source,
               CAST(COUNT(*) AS BIGINT) AS n_pairs_nonzero,
               CAST(SUM(i.inter) AS BIGINT) AS sum_inter,
               CAST(SUM(za.n_sh + zb.n_sh - i.inter) AS BIGINT) AS sum_union
        FROM inter i
        JOIN sample sa2 ON sa2.doc_id = i.id_a
        JOIN sample sb2 ON sb2.doc_id = i.id_b AND sb2.source = sa2.source
        JOIN sizes za ON za.id = i.id_a
        JOIN sizes zb ON zb.id = i.id_b
        GROUP BY sa2.source
    ), ks AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS k FROM sample GROUP BY source
    )
    SELECT ks.source, ks.k,
           CAST(ks.k * (ks.k - 1) // 2 AS BIGINT) AS n_pairs_total,
           CAST(COALESCE(s.n_pairs_nonzero, 0) AS BIGINT) AS n_pairs_nonzero,
           CAST(COALESCE(s.sum_inter, 0) AS BIGINT) AS sum_inter,
           CAST(COALESCE(s.sum_union, 0) AS BIGINT) AS sum_union,
           CASE WHEN COALESCE(s.sum_union, 0) > 0
                THEN CAST(s.sum_inter AS DOUBLE) / CAST(s.sum_union AS DOUBLE)
           END AS micro_jaccard,
           CAST(COALESCE(s.n_pairs_nonzero, 0) AS DOUBLE)
               / CAST(ks.k * (ks.k - 1) // 2 AS DOUBLE) AS overlap_rate
    FROM ks LEFT JOIN same s ON s.source = ks.source
    ORDER BY ks.source
    """


ORACLE["q264_sample_diversity"] = _q264_oracle()


# ---------------------------------------------------------------------------
# Q265 — epochs-to-exhaustion mixture planner (the scheduling view
# of q228/q231's temperature mixtures: before a run starts, a data
# planner needs "at this per-epoch budget and these temperature
# draws, after how many epochs does each source run dry and start
# repeating?" — Muennighoff et al. 2023 frames repetition budgets
# exactly this way). Per-epoch draw for source s =
# (T · share_q40) div 2^40 where share_q40 = floor(sqrt(avail_s /
# total) · 2^40): the UNNORMALIZED temperature-0.5 draw in the
# repo's exact-q40 idiom — avail/total is one IEEE division of
# exact BIGINTs, sqrt is correctly rounded (identical on both
# engines), and the 2^40 fixed-point floor makes every downstream
# decision integer-exact (q228's discipline; normalizing by
# Σ sqrt(avail) would sum doubles in engine order — rejected).
# epochs_to_exhaust = ceil(avail / draw) in integers ((avail + draw
# − 1) div draw), NULL when the draw rounds to zero. T = total div
# 4. Scale: one tokenize agg to |sources| rows; everything after is
# arithmetic on the tiny frame.
# ---------------------------------------------------------------------------

_Q265_Q40 = 1 << 40


def q265_epochs_to_exhaustion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws

    docs = spread(_t(spark, sf_dir, "documents"))
    src = (
        docs.select("source", token_count_ws(F.col("text")).alias("tok"))
        .groupBy("source")
        .agg(F.sum("tok").cast("long").alias("avail"))
        .localCheckpoint()  # two consumers: total agg + per-source math
    )
    tot = src.agg(F.sum("avail").cast("long").alias("total")).withColumn(
        "t_epoch", F.expr("total div 4")
    )
    out = (
        src.crossJoin(F.broadcast(tot))
        .withColumn(
            "share_q40",
            F.floor(
                F.sqrt(F.col("avail").cast("double") / F.col("total").cast("double"))
                * F.lit(float(_Q265_Q40))
            ).cast("long"),
        )
        .withColumn(
            "draw", F.expr(f"(t_epoch * share_q40) div {_Q265_Q40}")
        )
        .withColumn(
            "epochs_to_exhaust",
            F.when(
                F.col("draw") > 0, F.expr("(avail + draw - 1) div draw")
            ),
        )
    )
    return out.select(
        "source", "avail", "share_q40", "draw", "epochs_to_exhaust", "t_epoch"
    ).orderBy("source")


QUERIES["q265_epochs_to_exhaustion"] = q265_epochs_to_exhaustion


def _q265_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH per AS (
        SELECT source, len({toks}) AS tok FROM documents
    ), src AS (
        SELECT source, CAST(SUM(tok) AS BIGINT) AS avail
        FROM per GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(avail) AS BIGINT) AS total,
               CAST(SUM(avail) AS BIGINT) // 4 AS t_epoch
        FROM src
    ), m AS (
        SELECT s.source, s.avail, t.t_epoch,
               CAST(floor(sqrt(CAST(s.avail AS DOUBLE) / CAST(t.total AS DOUBLE))
                          * CAST({_Q265_Q40} AS DOUBLE)) AS BIGINT) AS share_q40
        FROM src s CROSS JOIN tot t
    )
    SELECT source, avail, share_q40,
           CAST((t_epoch * share_q40) // {_Q265_Q40} AS BIGINT) AS draw,
           CAST(CASE WHEN (t_epoch * share_q40) // {_Q265_Q40} > 0
                     THEN (avail + (t_epoch * share_q40) // {_Q265_Q40} - 1)
                          // ((t_epoch * share_q40) // {_Q265_Q40})
                END AS BIGINT) AS epochs_to_exhaust,
           t_epoch
    FROM m
    ORDER BY source
    """


ORACLE["q265_epochs_to_exhaustion"] = _q265_oracle()


# ---------------------------------------------------------------------------
# Q266 — cross-snapshot content novelty (q121's novelty axis applied
# to q256's release snapshots: "how much NEW content does the next
# release actually add?" — the corpus-staleness read that decides
# whether ingesting release k is worth the pipeline run). Every
# distinct 8-gram hash charges its FIRST snapshot (MIN(snap) over
# the gram — one hash-keyed agg, q226's first-decile trick); per
# snapshot: distinct grams present, grams first seen there, novelty
# = new/present (one IEEE division of exact BIGINTs), plus gram
# OCCURRENCE mass for weight. Gram identity is the md5-60 hash of
# the gram string (8-byte shuffle keys, q121's law; collision odds
# ~|grams|²/2⁶⁰ — the documented trade every gram-hash query makes).
# Scale: one explode + two hash aggs (gram-keyed then snap-keyed),
# no pairs, no windows over the corpus.
# ---------------------------------------------------------------------------

_Q266_N = 8


def q266_snapshot_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import word_ngrams
    from ai_data_pipeline_spark.operators.dedup import md5_hash60

    docs = spread(_t(spark, sf_dir, "documents"))
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    grams = docs.select(
        F.pmod(u40, F.lit(_Q256_SNAPS)).cast("long").alias("snap"),
        F.explode(word_ngrams(F.col("text"), _Q266_N)).alias("gram"),
    ).select("snap", md5_hash60(F.col("gram")).alias("h"))
    per_gram_snap = grams.groupBy("snap", "h").agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    )
    # MIN window over h, NOT groupBy(h)+join-back: the join form
    # re-executes the whole explode+agg DAG for the first-snap branch
    # (the q23/q232 rule) — the window is one h-keyed shuffle
    flagged = per_gram_snap.withColumn(
        "first_snap", F.min("snap").over(Window.partitionBy("h"))
    )
    return (
        flagged.groupBy("snap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("occ").cast("long").alias("n_occurrences"),
            F.sum((F.col("first_snap") == F.col("snap")).cast("int"))
            .cast("long")
            .alias("n_new"),
        )
        .withColumn(
            "novelty",
            F.col("n_new").cast("double") / F.col("n_grams").cast("double"),
        )
        .orderBy("snap")
    )


QUERIES["q266_snapshot_novelty"] = q266_snapshot_novelty


def _q266_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q266_N)
    return f"""
    WITH g AS (
        SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT)
                   % {_Q256_SNAPS} AS snap,
               (('0x' || substr(md5(u.gram), 1, 15))::BIGINT) AS h
        FROM documents, unnest({grams}) AS u(gram)
    ), pgs AS (
        SELECT snap, h, CAST(COUNT(*) AS BIGINT) AS occ
        FROM g GROUP BY snap, h
    ), first AS (
        SELECT h, MIN(snap) AS first_snap FROM pgs GROUP BY h
    )
    SELECT CAST(p.snap AS BIGINT) AS snap,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(p.occ) AS BIGINT) AS n_occurrences,
           CAST(SUM(CASE WHEN f.first_snap = p.snap THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(SUM(CASE WHEN f.first_snap = p.snap THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM pgs p JOIN first f ON f.h = p.h
    GROUP BY p.snap
    ORDER BY snap
    """


ORACLE["q266_snapshot_novelty"] = _q266_oracle()


# ---------------------------------------------------------------------------
# Q267 — cross-snapshot length-distribution drift per source (the
# distribution-shape companion to q256's mean deltas: a source can
# hold its mean while its length histogram bifurcates — q126's TVD
# statistic, applied between a source's FIRST and LAST release
# snapshot): docs bin to length bands (n_chars div 256), snapshots
# 0 and 3 (q256's md5 binning); TVD numerator =
# Σ_bands |c0_b·N3 − c3_b·N0| in exact BIGINTs (cross-multiplied to
# avoid per-band double ratios), tvd = num / (2·N0·N3) — ONE IEEE
# division of exact integers, NULL when either snapshot is empty.
# Scale: one scan → (source, band) partial agg → per-source window
# for the marginals (reuses the agg's hash partitioning) → per-source
# rollup; no joins.
# ---------------------------------------------------------------------------

_Q267_BAND = 256
_Q267_A = 0
_Q267_B = 3


def q267_snapshot_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    per = docs.select(
        "source",
        F.pmod(u40, F.lit(_Q256_SNAPS)).cast("long").alias("snap"),
        F.expr(f"CAST(n_chars AS BIGINT) div {_Q267_BAND}").alias("band"),
    ).filter(F.col("snap").isin(_Q267_A, _Q267_B))
    hist = per.groupBy("source", "band").agg(
        F.sum((F.col("snap") == _Q267_A).cast("int")).cast("long").alias("c0"),
        F.sum((F.col("snap") == _Q267_B).cast("int")).cast("long").alias("c3"),
    )
    wsrc = Window.partitionBy("source")
    m = hist.withColumn("n0", F.sum("c0").over(wsrc)).withColumn(
        "n3", F.sum("c3").over(wsrc)
    )
    return (
        m.groupBy("source")
        .agg(
            F.max("n0").cast("long").alias("n0"),
            F.max("n3").cast("long").alias("n3"),
            F.count(F.lit(1)).cast("long").alias("n_bands"),
            F.sum(F.abs(F.col("c0") * F.col("n3") - F.col("c3") * F.col("n0")))
            .cast("long")
            .alias("tvd_num"),
        )
        .withColumn(
            "tvd",
            F.when(
                (F.col("n0") > 0) & (F.col("n3") > 0),
                F.col("tvd_num").cast("double")
                / (2 * F.col("n0") * F.col("n3")).cast("double"),
            ),
        )
        .orderBy("source")
    )


QUERIES["q267_snapshot_length_drift"] = q267_snapshot_length_drift


def _q267_oracle() -> str:
    return f"""
    WITH per AS (
        SELECT source,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT)
                   % {_Q256_SNAPS} AS snap,
               CAST(n_chars AS BIGINT) // {_Q267_BAND} AS band
        FROM documents
    ), hist AS (
        SELECT source, band,
               CAST(SUM(CASE WHEN snap = {_Q267_A} THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN snap = {_Q267_B} THEN 1 ELSE 0 END) AS BIGINT) AS c3
        FROM per WHERE snap IN ({_Q267_A}, {_Q267_B})
        GROUP BY source, band
    ), m AS (
        SELECT *,
               CAST(SUM(c0) OVER (PARTITION BY source) AS BIGINT) AS n0,
               CAST(SUM(c3) OVER (PARTITION BY source) AS BIGINT) AS n3
        FROM hist
    ), agg AS (
        SELECT source,
               CAST(MAX(n0) AS BIGINT) AS n0,
               CAST(MAX(n3) AS BIGINT) AS n3,
               CAST(COUNT(*) AS BIGINT) AS n_bands,
               CAST(SUM(abs(c0 * n3 - c3 * n0)) AS BIGINT) AS tvd_num
        FROM m GROUP BY source
    )
    SELECT source, n0, n3, n_bands, tvd_num,
           CASE WHEN n0 > 0 AND n3 > 0
                THEN CAST(tvd_num AS DOUBLE) / CAST(2 * n0 * n3 AS DOUBLE)
           END AS tvd
    FROM agg
    ORDER BY source
    """


ORACLE["q267_snapshot_length_drift"] = _q267_oracle()


# ---------------------------------------------------------------------------
# Q268 — duplication × quality interaction ("is junk more
# duplicated?"): the dedup-policy question behind every cascade
# ordering — if near-dups concentrate in low-quality strata, a
# quality gate FIRST shrinks the expensive pair stage; if they
# don't, dedup first preserves quality-score mass. Strata = exact
# Gopher rules-passed count (0..7, q202's integer rule family — no
# arbitrary banding); dup membership = q107/q263's capped 4-gram
# Jaccard ≥ 0.6 pairs → connected components (a doc is "duplicated"
# iff it has at least one qualifying edge — every node of `reach`).
# Per stratum: docs, duplicated docs, dup_rate (one IEEE division of
# exact BIGINTs). Scale: the rule projection runs at the scan; the
# pair stage is the capped shingle machinery (never f²); the final
# join is a broadcast of the ≤ |dup docs| id set.
# ---------------------------------------------------------------------------


def q268_dup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.curation import gopher_quality_flags
    from ai_data_pipeline_spark.operators.dedup import (
        dedup_clusters_star,
        ngram_jaccard_pairs,
    )

    docs = spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    rules = [
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_stopwords",
    ]
    g = gopher_quality_flags(docs).select(
        "doc_id",
        sum(F.col(r).cast("int") for r in rules).cast("long").alias("rules_passed"),
    )
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text",
        n=_Q263_N,
        min_jaccard=_Q263_JACCARD_F,
        max_shingle_freq=_Q263_MAXF,
    ).select("id_a", "id_b")
    members = dedup_clusters_star(pairs).select(F.col("id").alias("doc_id"))
    flagged = g.join(
        members.withColumn("is_dup", F.lit(1)), "doc_id", "left"
    ).select("rules_passed", F.coalesce("is_dup", F.lit(0)).alias("is_dup"))
    return (
        flagged.groupBy("rules_passed")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dup"),
        )
        .withColumn(
            "dup_rate",
            F.col("n_dup").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("rules_passed")
    )


QUERIES["q268_dup_quality_interaction"] = q268_dup_quality_interaction


def _q268_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q263_N)
    return f"""
    WITH RECURSIVE d AS (
        SELECT doc_id,
               coalesce(text, '') AS t,
               list_filter(string_split_regex(coalesce(text, ''), '[ \\t\\r\\n]+'),
                           w -> w != '') AS words,
               list_filter(string_split(coalesce(text, ''), chr(10)),
                           l -> NOT regexp_full_match(l, '[ \\t\\r]*')) AS lines
        FROM documents
    ), m AS (
        SELECT doc_id,
               len(words) AS n_words,
               coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS word_chars,
               len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
               len(lines) AS n_lines,
               len(list_filter(lines, l -> regexp_matches(l, '^[ \\t]*[-*\u2022]'))) AS n_bullet,
               len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|\u2026)[ \\t\\r]*$'))) AS n_ell,
               length(t) - length(replace(t, '#', ''))
                 + len(regexp_extract_all(t, '(\\.\\.\\.|\u2026)')) AS n_sym,
               len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
                   ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS n_stop
        FROM d
    ), rp AS (
        SELECT doc_id,
               CAST((CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
                  + (CASE WHEN 3 * n_words <= word_chars
                           AND word_chars <= 10 * n_words THEN 1 ELSE 0 END)
                  + (CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END)
                  + (CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END)
                  + (CASE WHEN 10 * n_ell <= 3 * n_lines THEN 1 ELSE 0 END)
                  + (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END)
                  + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS rules_passed
        FROM m
    ), sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle
        FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q263_JACCARD}'::DOUBLE
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), dup AS (
        SELECT DISTINCT id AS doc_id FROM reach
    )
    SELECT rp.rules_passed,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
           CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM rp LEFT JOIN dup ON dup.doc_id = rp.doc_id
    GROUP BY rp.rules_passed
    ORDER BY rp.rules_passed
    """


ORACLE["q268_dup_quality_interaction"] = _q268_oracle()


# ---------------------------------------------------------------------------
# Q269 — duplicated-span POSITION profile (where does duplication
# LIVE inside documents?): boilerplate headers and footers duplicate
# at document EDGES while quoted/mirrored content duplicates in the
# middle — the positional read that turns a dedup report into a
# cleanup strategy (strip templates vs drop docs). q222's
# first-occurrence gram window at n=8: every non-first occurrence of
# a corpus-duplicated 8-gram charges its position tercile
# (3·p div m ∈ {0,1,2} over the doc's m gram positions — exact
# integer binning). Per (source, tercile): gram positions, duplicated
# positions, dup_rate (one IEEE division of exact BIGINTs). Scale:
# q222's law — the gram-hash window shuffles 8-byte hashes once;
# tercile accounting is a map-side projection after it.
# ---------------------------------------------------------------------------

_Q269_N = 8


def q269_dup_position_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import word_ngrams
    from ai_data_pipeline_spark.operators.dedup import md5_hash60

    docs = spread(_t(spark, sf_dir, "documents"))
    # m = per-doc gram count computed BEFORE the explode (array size)
    # — no doc_id window, so the only shuffle is the gram-hash one
    g0 = docs.select(
        "doc_id", "source", word_ngrams(F.col("text"), _Q269_N).alias("gs")
    ).withColumn("m", F.size("gs").cast("long"))
    grams = g0.select(
        "doc_id",
        "source",
        "m",
        F.posexplode(F.col("gs")).alias("p", "gram"),
    ).select("doc_id", "source", "m", "p", md5_hash60(F.col("gram")).alias("h"))
    wg = Window.partitionBy("h").orderBy("doc_id", "p")
    flagged = (
        grams.withColumn("rn", F.row_number().over(wg))
        .select(
            "source",
            F.expr("(3 * p) div m").alias("tercile"),
            (F.col("rn") > 1).cast("int").alias("is_dup"),
        )
    )
    return (
        flagged.groupBy("source", "tercile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_positions"),
            F.sum("is_dup").cast("long").alias("n_dup_positions"),
        )
        .withColumn(
            "dup_rate",
            F.col("n_dup_positions").cast("double")
            / F.col("n_positions").cast("double"),
        )
        .select(
            "source",
            F.col("tercile").cast("long").alias("tercile"),
            "n_positions",
            "n_dup_positions",
            "dup_rate",
        )
        .orderBy("source", "tercile")
    )


QUERIES["q269_dup_position_profile"] = q269_dup_position_profile


def _q269_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q269_N)
    return f"""
    WITH g0 AS (
        SELECT doc_id, source, {grams} AS gs FROM documents
    ), g AS (
        SELECT doc_id, source, len(gs) AS m,
               generate_subscripts(gs, 1) - 1 AS p,
               (('0x' || substr(md5(unnest(gs)), 1, 15))::BIGINT) AS h
        FROM g0
    ), flagged AS (
        SELECT source,
               (3 * p) // m AS tercile,
               CASE WHEN rn > 1 THEN 1 ELSE 0 END AS is_dup
        FROM (
            SELECT source, p, m,
                   ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
            FROM g)
    )
    SELECT source, CAST(tercile AS BIGINT) AS tercile,
           CAST(COUNT(*) AS BIGINT) AS n_positions,
           CAST(SUM(is_dup) AS BIGINT) AS n_dup_positions,
           CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM flagged
    GROUP BY source, tercile
    ORDER BY source, tercile
    """


ORACLE["q269_dup_position_profile"] = _q269_oracle()


# ---------------------------------------------------------------------------
# Q270 — retrieval margin audit (the number a contrastive-training
# pass reads off q240's hard negatives: how far below the weakest
# true positive does the strongest mined negative sit? A small or
# negative margin means the negatives are GOOD — near the decision
# boundary — or that the ANN candidate pool contains uncaught
# positives): per q27 query, pos_min_sim = the 3rd-ranked
# brute-force cosine (the weakest positive), neg_max_sim = the best
# cosine among probed-cell candidates that are NOT brute-force
# top-3 (q240's negative pool, unranked — the max is over ALL of
# it), margin = pos_min − neg_max. All sims are the identical-LTR
# cosine expression both engines (q27/q240 float precedent);
# min/max/difference of bit-identical doubles is deterministic.
# Scale: one brute-force pass (queries broadcast, corpus never
# collected — q27's law) + the probed-cell candidate pool (nprobe/K
# of the corpus); both aggregate per qid.
# ---------------------------------------------------------------------------

_Q270_NPROBE = 2


def q270_retrieval_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import (
        cosine,
        quantize_q6,
        quantize_q6_py,
    )
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS
    from ai_data_pipeline_spark.plans.frontier_queries import (
        _Q223_STRIDE,
        _assign_exact_q6,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    seeds = base.filter(F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0).select(
        F.col("vec_id").alias("seed_id"), F.col("v6").alias("s6")
    )
    cells = _assign_exact_q6(base, seeds)
    corpus = emb.select("vec_id", "embedding").join(cells, "vec_id")

    qrows = [
        (i, [float(x) for x in Q27_QUERY_VECS[i]], quantize_q6_py(Q27_QUERY_VECS[i]))
        for i in range(len(Q27_QUERY_VECS))
    ]
    qdf = spark.createDataFrame(qrows, "qid long, qvec array<double>, q6 array<bigint>")

    bf = (
        emb.crossJoin(F.broadcast(qdf))
        .select("qid", "vec_id", cosine(F.col("embedding"), F.col("qvec")).alias("sim"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rk") <= 3)
        # positives feed the anti-join AND the per-qid min — 15 rows
        .localCheckpoint()
    )
    pos = bf.groupBy("qid").agg(F.min("sim").alias("pos_min_sim"))

    d6 = F.aggregate(
        F.zip_with("q6", "s6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    probes = (
        qdf.crossJoin(F.broadcast(seeds))
        .select("qid", "qvec", "seed_id", d6.alias("d6"))
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("qid").orderBy("d6", "seed_id")),
        )
        .filter(F.col("rk") <= _Q270_NPROBE)
        .select("qid", "qvec", "seed_id")
    )
    cand = corpus.join(F.broadcast(probes), corpus.cell == probes.seed_id).select(
        "qid", "vec_id", cosine(F.col("embedding"), F.col("qvec")).alias("sim")
    )
    negs = cand.join(F.broadcast(bf.select("qid", "vec_id")), ["qid", "vec_id"], "left_anti")
    nagg = negs.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_neg"),
        F.max("sim").alias("neg_max_sim"),
    )
    return (
        pos.join(nagg, "qid")
        .select(
            "qid",
            "pos_min_sim",
            "n_neg",
            "neg_max_sim",
            (F.col("pos_min_sim") - F.col("neg_max_sim")).alias("margin"),
        )
        .orderBy("qid")
    )


QUERIES["q270_retrieval_margin"] = q270_retrieval_margin


def _q270_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        quantize_q6_py,
        sql_dot,
        sql_lit_list,
        sql_norm,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q27_QUERY_VECS
    from ai_data_pipeline_spark.plans.frontier_queries import _Q223_STRIDE

    rng = f"range(1, {EMBED_DIM + 1})"
    d6 = f"list_sum(list_transform({rng}, i -> (q.q6[i] - s.s6[i]) * (q.q6[i] - s.s6[i])))"
    qvals = ", ".join(
        f"({i}, {sql_lit_list(v)}, {quantize_q6_py(v)})"
        for i, v in enumerate(Q27_QUERY_VECS)
    )

    def cos(e: str, qv: str) -> str:
        return (
            f"({sql_dot(e, qv, EMBED_DIM)}) / "
            f"(({sql_norm(e, EMBED_DIM)}) * ({sql_norm(qv, EMBED_DIM)}))"
        )

    return f"""
    WITH q6c AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v6
        FROM embeddings
    ), seeds AS MATERIALIZED (
        SELECT vec_id AS seed_id, v6 AS s6 FROM q6c
        WHERE vec_id % {_Q223_STRIDE} = 0
    ), cells AS MATERIALIZED (
        SELECT vec_id, seed_id AS cell FROM (
            SELECT q.vec_id, s.seed_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY list_sum(list_transform({rng},
                           i -> (q.v6[i] - s.s6[i]) * (q.v6[i] - s.s6[i]))),
                           s.seed_id) AS rn
            FROM q6c q CROSS JOIN seeds s)
        WHERE rn = 1
    ), queries AS (
        SELECT * FROM (VALUES {qvals}) AS q(qid, qvec, q6)
    ), bf AS MATERIALIZED (
        SELECT qid, vec_id, sim FROM (
            SELECT c2.qid, e.vec_id, {cos('e.embedding', 'c2.qvec')} AS sim,
                   ROW_NUMBER() OVER (PARTITION BY c2.qid
                       ORDER BY {cos('e.embedding', 'c2.qvec')} DESC, e.vec_id) AS rk
            FROM embeddings e CROSS JOIN queries c2)
        WHERE rk <= 3
    ), pos AS (
        SELECT qid, MIN(sim) AS pos_min_sim FROM bf GROUP BY qid
    ), probes AS MATERIALIZED (
        SELECT qid, qvec, seed_id FROM (
            SELECT q.qid, q.qvec, s.seed_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                                      ORDER BY {d6}, s.seed_id) AS rk
            FROM queries q CROSS JOIN seeds s)
        WHERE rk <= {_Q270_NPROBE}
    ), cand AS (
        SELECT c2.qid, e.vec_id, {cos('e.embedding', 'c2.qvec')} AS sim
        FROM embeddings e
        JOIN cells ON cells.vec_id = e.vec_id
        JOIN probes c2 ON cells.cell = c2.seed_id
    ), negs AS (
        SELECT c.qid, c.vec_id, c.sim
        FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM bf WHERE bf.qid = c.qid AND bf.vec_id = c.vec_id)
    ), nagg AS (
        SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_neg, MAX(sim) AS neg_max_sim
        FROM negs GROUP BY qid
    )
    SELECT p.qid, p.pos_min_sim, n.n_neg, n.neg_max_sim,
           p.pos_min_sim - n.neg_max_sim AS margin
    FROM pos p JOIN nagg n ON n.qid = p.qid
    ORDER BY p.qid
    """


ORACLE["q270_retrieval_margin"] = _q270_oracle()


# ---------------------------------------------------------------------------
# Q271 — cross-source near-dup FLOW matrix (q139 counts exact-digest
# dups across sources; this is the near-dup version with direction:
# for every capped 4-gram Jaccard ≥ 0.6 pair, the lower doc_id is
# the canonical/original side (the keep-min keeper convention), so
# (source of min, source of max) reads as "src_to duplicates
# src_from" — the provenance matrix that tells a pipeline which
# sources are mirrors/scrapes of which): per (src_from, src_to)
# ordered pair: n_pairs, distinct duplicator docs. Scale: the pair
# stage is the capped shingle machinery (never f²); the matrix is
# |sources|² rows max.
# ---------------------------------------------------------------------------


def q271_neardup_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = spread(_t(spark, sf_dir, "documents")).select("doc_id", "source", "text")
    pairs = ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=_Q263_N,
        min_jaccard=_Q263_JACCARD_F,
        max_shingle_freq=_Q263_MAXF,
    ).select("id_a", "id_b")  # id_a < id_b by construction
    src = docs.select(F.col("doc_id").alias("id"), "source")
    return (
        pairs.join(
            src.withColumnRenamed("id", "id_a").withColumnRenamed(
                "source", "src_from"
            ),
            "id_a",
        )
        .join(
            src.withColumnRenamed("id", "id_b").withColumnRenamed("source", "src_to"),
            "id_b",
        )
        .groupBy("src_from", "src_to")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("id_b").cast("long").alias("n_duplicators"),
        )
        .orderBy("src_from", "src_to")
    )


QUERIES["q271_neardup_flow_matrix"] = q271_neardup_flow_matrix


def _q271_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q263_N)
    return f"""
    WITH sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q263_JACCARD}'::DOUBLE
    )
    SELECT da.source AS src_from, db.source AS src_to,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT p.id_b) AS BIGINT) AS n_duplicators
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    GROUP BY da.source, db.source
    ORDER BY src_from, src_to
    """


ORACLE["q271_neardup_flow_matrix"] = _q271_oracle()


# ---------------------------------------------------------------------------
# Q272 — consistent-hash ring resharding audit (Karger et al. 1997;
# the ingestion-sharding contract at 100 TB: adding a shard must
# remap ~1/(n+1) of the corpus, not reshuffle all of it — this row
# MEASURES that on the real ring arithmetic instead of asserting
# it): 8 nodes × 8 virtual nodes, ring positions = the 60-bit md5 of
# "node{n}:vnode{v}" computed ONCE in Python (constant literals,
# definitionally shared with the twin — the LUT idiom); a doc at
# position md5-60(doc_id) assigns to the first ring point clockwise
# (first vnode position ≥ doc pos, wrapping to the ring's first
# point). Assignment is the ring_assign_np Arrow kernel (one scan
# pass, np.searchsorted over the 64-point ring — bit-identical to
# the twin's len(list_filter(ring, p -> p < pos)) index because
# both count strictly-smaller points over exact int64): no window,
# no shuffle, no single-partition sort. The literal-array HOF
# expression form was measured and REJECTED — ~9.4 s WARM per
# invocation at ANY corpus size (two 64/72-point literal filters
# are codegen-COMPILE-bound, the q235/CLAUDE.md class). Ring 2 adds
# node 8 (9×8 points); per node: docs before, docs after, inflow
# (docs that moved TO the node), and the corpus remap_rate (one IEEE
# division of exact BIGINTs) — expected ≈ 1/9, measured.
# ---------------------------------------------------------------------------

_Q272_NODES = 8
_Q272_VNODES = 8


def _q272_ring(n_nodes: int) -> tuple[list[int], list[int]]:
    """Sorted (positions, node-ids) for the ring — pure Python md5,
    the exact integers the SQL twin recomputes from the same
    strings."""
    import hashlib

    pts = []
    for n in range(n_nodes):
        for v in range(_Q272_VNODES):
            h = hashlib.md5(f"node{n}:vnode{v}".encode()).hexdigest()
            pts.append((int(h[:15], 16), n))
    pts.sort()
    assert len({p for p, _ in pts}) == len(pts)  # no ring collisions
    return [p for p, _ in pts], [n for _, n in pts]


def q272_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.dedup import md5_hash60
    from ai_data_pipeline_spark.operators.vectorized import ring_assign_np

    docs = spread(_t(spark, sf_dir, "documents"))
    r1 = _q272_ring(_Q272_NODES)
    r2 = _q272_ring(_Q272_NODES + 1)
    pos = md5_hash60(F.col("doc_id").cast("string"))
    # ONE corpus scan collapses to the ≤ (n+1)² transition matrix;
    # every tally derives from the tiny frame (no multi-consumer
    # re-scan of the corpus)
    matrix = (
        ring_assign_np(
            docs.select(pos.alias("pos")),
            {"node_before": r1, "node_after": r2},
        )
        .groupBy("node_before", "node_after")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    moved = (F.col("node_before") != F.col("node_after")).cast("int")
    tot = matrix.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.sum(F.col("c") * moved).cast("long").alias("n_remapped"),
    )
    per = (
        matrix.groupBy(F.col("node_after").alias("node"))
        .agg(
            F.sum("c").cast("long").alias("n_after"),
            F.sum(F.col("c") * moved).cast("long").alias("n_inflow"),
        )
        .join(
            matrix.groupBy(F.col("node_before").alias("node")).agg(
                F.sum("c").cast("long").alias("n_before")
            ),
            "node",
            "full_outer",
        )
        .select(
            "node",
            F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            F.coalesce("n_inflow", F.lit(0)).cast("long").alias("n_inflow"),
        )
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "remap_rate",
            F.col("n_remapped").cast("double") / F.col("n_total").cast("double"),
        )
        .select("node", "n_before", "n_after", "n_inflow", "n_remapped", "remap_rate")
        .orderBy("node")
    )


QUERIES["q272_consistent_hash_ring"] = q272_consistent_hash_ring


def _q272_oracle() -> str:
    r1 = _q272_ring(_Q272_NODES)
    r2 = _q272_ring(_Q272_NODES + 1)

    def lst(v: list[int]) -> str:
        return "[" + ", ".join(f"{x}::BIGINT" for x in v) + "]"

    def assign(ring: tuple[list[int], list[int]]) -> str:
        rp, rn = lst(ring[0]), lst(ring[1])
        idx = f"len(list_filter({rp}, p -> p < pos))"
        return (
            f"({rn})[(CASE WHEN {idx} >= {len(ring[0])} THEN 0 ELSE {idx} END) + 1]"
        )

    return f"""
    WITH d AS (
        SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
                   AS pos
        FROM documents
    ), assigned AS MATERIALIZED (
        SELECT {assign(r1)} AS node_before, {assign(r2)} AS node_after FROM d
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN node_before <> node_after THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_remapped
        FROM assigned
    ), aft AS (
        SELECT node_after AS node,
               CAST(COUNT(*) AS BIGINT) AS n_after,
               CAST(SUM(CASE WHEN node_before <> node_after THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_inflow
        FROM assigned GROUP BY node_after
    ), bef AS (
        SELECT node_before AS node, CAST(COUNT(*) AS BIGINT) AS n_before
        FROM assigned GROUP BY node_before
    )
    SELECT CAST(COALESCE(a.node, b.node) AS BIGINT) AS node,
           CAST(COALESCE(b.n_before, 0) AS BIGINT) AS n_before,
           CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
           CAST(COALESCE(a.n_inflow, 0) AS BIGINT) AS n_inflow,
           t.n_remapped,
           CAST(t.n_remapped AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS remap_rate
    FROM aft a
    FULL OUTER JOIN bef b ON b.node = a.node
    CROSS JOIN tot t
    ORDER BY node
    """


ORACLE["q272_consistent_hash_ring"] = _q272_oracle()


# ---------------------------------------------------------------------------
# Q273 — frequent-LINE removal (CCNet's paragraph-hash dedup /
# RefinedWeb's line-wise filtering: navigation chrome, cookie
# banners and footers repeat as whole LINES across many documents —
# a granularity neither token-span dedup (q222) nor doc-level
# near-dup (q204) targets): a line's document frequency counts each
# doc once (dense_rank-max over the line-hash partition — two
# window passes on ONE h-keyed shuffle; the distinct+groupBy+
# join-back form would re-execute the line explode, the q23 trap);
# lines with df > 5 drop, docs rebuild in original line order
# (collect_list of (pos, line) structs, sort_array, rejoin with
# \n — deterministic both engines). Per source: docs, lines and
# whitespace tokens before/after, docs touched, token removed_rate
# (one IEEE division of exact BIGINTs). Line identity = the 60-bit
# md5 of the raw line (8-byte shuffle keys, q121's trade). Empty /
# whitespace-only lines are kept verbatim (they carry no df signal:
# dropping the universal "" line would join every paragraph pair).
# Scale: one explode, one h-keyed window shuffle, one per-doc
# rebuild agg — no pairs. Measured read on the graded corpora: the
# generator emits single-line docs with ZERO repeated lines, so the
# drop path never fires under grading (before == after — itself the
# corpus fact); the drop path is pinned by a multi-line fixture test
# against a pure-Python twin
# (tests/test_extended_invariants.py::
#  test_q273_line_removal_drop_path_fixture — the r09-advice rule).
# ---------------------------------------------------------------------------

_Q273_MAX_DF = 5


def q273_frequent_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws
    from ai_data_pipeline_spark.operators.dedup import md5_hash60

    docs = spread(_t(spark, sf_dir, "documents")).select("doc_id", "source", "text")
    lines = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn(
        "blank", F.col("line").rlike(r"^[ \t\r]*$")
    ).withColumn("h", md5_hash60(F.col("line")))
    # df per line hash over non-blank lines: dense_rank over doc_id
    # then MAX — one shuffle on h, no join-back
    wh = Window.partitionBy("blank", "h").orderBy("doc_id")
    whf = Window.partitionBy("blank", "h")
    flagged = (
        lines.withColumn("dr", F.dense_rank().over(wh))
        .withColumn("df", F.max("dr").over(whf))
        .withColumn(
            "drop",
            (~F.col("blank")) & (F.col("df") > _Q273_MAX_DF),
        )
    )
    rebuilt = (
        flagged.filter(~F.col("drop"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("line")))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("new_text"),
            F.count(F.lit(1)).cast("long").alias("lines_after"),
        )
    )
    per_doc = (
        docs.join(rebuilt, "doc_id", "left")
        .select(
            "source",
            token_count_ws(F.col("text")).alias("tok_before"),
            F.coalesce(token_count_ws(F.col("new_text")), F.lit(0)).alias(
                "tok_after"
            ),
            F.size(F.split(F.col("text"), "\n")).cast("long").alias("lines_before"),
            F.coalesce("lines_after", F.lit(0)).cast("long").alias("lines_after"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("lines_before").cast("long").alias("lines_before"),
            F.sum("lines_after").cast("long").alias("lines_after"),
            F.sum("tok_before").cast("long").alias("tokens_before"),
            F.sum("tok_after").cast("long").alias("tokens_after"),
            F.sum((F.col("tok_after") < F.col("tok_before")).cast("int"))
            .cast("long")
            .alias("n_docs_trimmed"),
        )
        .withColumn(
            "removed_rate",
            F.when(
                F.col("tokens_before") != 0,
                (F.col("tokens_before") - F.col("tokens_after")).cast("double")
                / F.col("tokens_before").cast("double"),
            ),
        )
        .orderBy("source")
    )


QUERIES["q273_frequent_line_removal"] = q273_frequent_line_removal


def _q273_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    tok_before = f"len({sql_word_ngrams('text', 1)})"
    tok_after = f"len({sql_word_ngrams('new_text', 1)})"
    return f"""
    WITH lines AS (
        SELECT doc_id, source,
               generate_subscripts(ls, 1) - 1 AS pos,
               unnest(ls) AS line
        FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls
              FROM documents)
    ), marked AS (
        SELECT *,
               regexp_full_match(line, '[ \\t\\r]*') AS blank,
               (('0x' || substr(md5(line), 1, 15))::BIGINT) AS h
        FROM lines
    ), flagged AS (
        SELECT *,
               MAX(dr) OVER (PARTITION BY blank, h) AS df
        FROM (
            SELECT *,
                   DENSE_RANK() OVER (PARTITION BY blank, h ORDER BY doc_id) AS dr
            FROM marked)
    ), rebuilt AS (
        SELECT doc_id,
               array_to_string(list(line ORDER BY pos), chr(10)) AS new_text,
               CAST(COUNT(*) AS BIGINT) AS lines_after
        FROM flagged
        WHERE NOT ((NOT blank) AND df > {_Q273_MAX_DF})
        GROUP BY doc_id
    ), per_doc AS (
        SELECT d.source,
               {tok_before} AS tok_before,
               COALESCE({tok_after}, 0) AS tok_after,
               CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS lines_before,
               COALESCE(r.lines_after, 0) AS lines_after
        FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(lines_before) AS BIGINT) AS lines_before,
           CAST(SUM(lines_after) AS BIGINT) AS lines_after,
           CAST(SUM(tok_before) AS BIGINT) AS tokens_before,
           CAST(SUM(tok_after) AS BIGINT) AS tokens_after,
           CAST(SUM(CASE WHEN tok_after < tok_before THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_trimmed,
           CASE WHEN SUM(tok_before) <> 0
                THEN CAST(SUM(tok_before) - SUM(tok_after) AS DOUBLE)
                     / CAST(SUM(tok_before) AS DOUBLE)
           END AS removed_rate
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


ORACLE["q273_frequent_line_removal"] = _q273_oracle()


# ---------------------------------------------------------------------------
# Q274 — transitive over-merge audit (the dedup-theory number every
# connected-components keeper silently bets on: components make
# "near-duplicate" TRANSITIVE, so a cluster of size s removes s−1
# docs while only its direct ≥ τ pairs were ever verified — chained
# merges can pull in docs that share nothing with the keeper): per
# component-size band, components, implied pairs Σ C(s,2), directly
# verified pairs (the capped 4-gram Jaccard ≥ 0.6 edges), and
# chain_rate = 1 − direct/implied (one IEEE division of exact
# BIGINTs; 0 for size-2, grows when merging chains) — the measured
# price of transitivity that decides between component-keeper and
# pairwise-greedy dedup policies. Scale: the pair stage is the
# capped machinery; everything after runs on |clusters| rows; the
# edge→cluster attribution joins the pair list (already small) to
# the cluster map once.
# ---------------------------------------------------------------------------


def q274_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.dedup import (
        dedup_clusters_star,
        ngram_jaccard_pairs,
    )

    docs = spread(_t(spark, sf_dir, "documents")).select("doc_id", "source", "text")
    pairs = ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=_Q263_N,
        min_jaccard=_Q263_JACCARD_F,
        max_shingle_freq=_Q263_MAXF,
    ).select("id_a", "id_b").localCheckpoint()  # clusters + edge attribution
    clusters = dedup_clusters_star(pairs)  # [id, cluster_id]
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    # every direct edge lives inside one component by construction —
    # attribute it through its lower endpoint's cluster
    edges_per_cluster = (
        pairs.join(clusters.withColumnRenamed("id", "id_a"), "id_a")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("direct"))
    )
    per_cluster = sizes.join(edges_per_cluster, "cluster_id").withColumn(
        "implied", F.expr("s * (s - 1) div 2")
    )
    return (
        per_cluster.groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("implied").cast("long").alias("implied_pairs"),
            F.sum("direct").cast("long").alias("direct_pairs"),
        )
        .withColumn(
            "chain_rate",
            (F.col("implied_pairs") - F.col("direct_pairs")).cast("double")
            / F.col("implied_pairs").cast("double"),
        )
        .select(
            F.col("s").alias("cluster_size"),
            "n_clusters",
            "implied_pairs",
            "direct_pairs",
            "chain_rate",
        )
        .orderBy("cluster_size")
    )


QUERIES["q274_transitivity_audit"] = q274_transitivity_audit


def _q274_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q263_N)
    return f"""
    WITH RECURSIVE sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes0 AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM inter
        JOIN sizes0 sa ON sa.id = id_a
        JOIN sizes0 sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q263_JACCARD}'::DOUBLE
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), comp AS MATERIALIZED (
        SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id
    ), csizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS s
        FROM comp GROUP BY cluster_id
    ), epc AS (
        SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS direct
        FROM pairs p JOIN comp c ON c.id = p.id_a
        GROUP BY c.cluster_id
    )
    SELECT z.s AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(z.s * (z.s - 1) // 2) AS BIGINT) AS implied_pairs,
           CAST(SUM(e.direct) AS BIGINT) AS direct_pairs,
           CAST(SUM(z.s * (z.s - 1) // 2) - SUM(e.direct) AS DOUBLE)
               / CAST(SUM(z.s * (z.s - 1) // 2) AS DOUBLE) AS chain_rate
    FROM csizes z JOIN epc e ON e.cluster_id = z.cluster_id
    GROUP BY z.s
    ORDER BY cluster_size
    """


ORACLE["q274_transitivity_audit"] = _q274_oracle()


# ---------------------------------------------------------------------------
# Q275 — quality-threshold token-budget curve (the data-selection
# planning read: "if training keeps only docs passing ≥ t Gopher
# rules, how many tokens survive and how many sources still
# contribute?" — the curve a mixture designer sweeps before fixing
# a quality gate, the selection-side complement of q227's keeper
# and q242's DSIR scores): for every threshold t ∈ 0..7 (all 8
# emitted even where the corpus has no docs at a band), cumulative
# docs/tokens at rules_passed ≥ t, token_share (one IEEE division
# of exact BIGINTs), and the count of sources still represented
# (per-source MAX band vs t). Scale: the rule projection runs at
# the scan and collapses to ≤ 8×|sources| rows; the curve is
# arithmetic on that tiny frame (threshold × band cross join —
# 64 rows).
# ---------------------------------------------------------------------------


def q275_quality_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.curation import gopher_quality_flags

    docs = spread(_t(spark, sf_dir, "documents")).select("doc_id", "source", "text")
    rules = [
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_stopwords",
    ]
    g = gopher_quality_flags(docs).select(
        "source",
        "n_words",
        sum(F.col(r).cast("int") for r in rules).cast("long").alias("band"),
    )
    per_bs = g.groupBy("band", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    ).localCheckpoint()  # ≤ 8×|sources| rows; three consumers below
    tot = per_bs.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    src_max = per_bs.groupBy("source").agg(F.max("band").alias("max_band"))
    ts = spark.range(8).select(F.col("id").cast("long").alias("t"))
    cum = (
        ts.crossJoin(per_bs)
        .groupBy("t")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("band") >= F.col("t"), F.col("n_docs")))
            , F.lit(0)).cast("long").alias("n_docs_cum"),
            F.coalesce(
                F.sum(F.when(F.col("band") >= F.col("t"), F.col("n_tokens")))
            , F.lit(0)).cast("long").alias("n_tokens_cum"),
        )
    )
    srcs = (
        ts.crossJoin(src_max)
        .groupBy("t")
        .agg(
            F.sum((F.col("max_band") >= F.col("t")).cast("int"))
            .cast("long")
            .alias("n_sources")
        )
    )
    return (
        cum.join(srcs, "t")
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            "n_docs_cum",
            "n_tokens_cum",
            (
                F.col("n_tokens_cum").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("token_share"),
            "n_sources",
        )
        .orderBy("t")
    )


QUERIES["q275_quality_budget_curve"] = q275_quality_budget_curve


def _q275_oracle() -> str:
    return """
    WITH d AS (
        SELECT source,
               coalesce(text, '') AS t,
               list_filter(string_split_regex(coalesce(text, ''), '[ \\t\\r\\n]+'),
                           w -> w != '') AS words,
               list_filter(string_split(coalesce(text, ''), chr(10)),
                           l -> NOT regexp_full_match(l, '[ \\t\\r]*')) AS lines
        FROM documents
    ), m AS (
        SELECT source,
               len(words) AS n_words,
               coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS word_chars,
               len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
               len(lines) AS n_lines,
               len(list_filter(lines, l -> regexp_matches(l, '^[ \\t]*[-*\u2022]'))) AS n_bullet,
               len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|\u2026)[ \\t\\r]*$'))) AS n_ell,
               length(t) - length(replace(t, '#', ''))
                 + len(regexp_extract_all(t, '(\\.\\.\\.|\u2026)')) AS n_sym,
               len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
                   ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS n_stop
        FROM d
    ), rp AS (
        SELECT source, n_words,
               CAST((CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
                  + (CASE WHEN 3 * n_words <= word_chars
                           AND word_chars <= 10 * n_words THEN 1 ELSE 0 END)
                  + (CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END)
                  + (CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END)
                  + (CASE WHEN 10 * n_ell <= 3 * n_lines THEN 1 ELSE 0 END)
                  + (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END)
                  + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS band
        FROM m
    ), per_bs AS (
        SELECT band, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS n_tokens
        FROM rp GROUP BY band, source
    ), tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per_bs
    ), src_max AS (
        SELECT source, MAX(band) AS max_band FROM per_bs GROUP BY source
    ), ts AS (
        SELECT CAST(unnest(range(8)) AS BIGINT) AS t
    ), cum AS (
        SELECT ts.t,
               CAST(COALESCE(SUM(CASE WHEN p.band >= ts.t THEN p.n_docs END), 0)
                    AS BIGINT) AS n_docs_cum,
               CAST(COALESCE(SUM(CASE WHEN p.band >= ts.t THEN p.n_tokens END), 0)
                    AS BIGINT) AS n_tokens_cum
        FROM ts CROSS JOIN per_bs p GROUP BY ts.t
    ), srcs AS (
        SELECT ts.t,
               CAST(SUM(CASE WHEN s.max_band >= ts.t THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sources
        FROM ts CROSS JOIN src_max s GROUP BY ts.t
    )
    SELECT c.t, c.n_docs_cum, c.n_tokens_cum,
           CAST(c.n_tokens_cum AS DOUBLE) / CAST(x.total_tokens AS DOUBLE)
               AS token_share,
           s.n_sources
    FROM cum c JOIN srcs s ON s.t = c.t CROSS JOIN tot x
    ORDER BY c.t
    """


ORACLE["q275_quality_budget_curve"] = _q275_oracle()


# ---------------------------------------------------------------------------
# Q276 — dedup-threshold sensitivity sweep (the τ knob curve for the
# near-dup keeper, q251's S-curve discipline applied to the EXACT
# pipeline: how many docs does keep-min remove at τ ∈ {0.5, 0.7,
# 0.9}? A cliff between adjacent τ values means the corpus has a
# similarity mode sitting on the threshold and the knob needs care;
# a flat curve means the choice is free): ONE capped 4-gram pair
# pass at the loosest τ = 0.5 retains per-pair jaccard (int/int
# division — comparison-safe both engines; τ literals string-parsed
# doubles per the float policy), then per-τ edge filtering →
# connected components → removed = members − clusters. Per τ:
# edges, matched docs, clusters, removed. Scale: the pair stage runs
# ONCE (checkpointed); each τ re-runs only components on the ≤
# |pairs| edge subset. Measured read at sf0.01: every candidate
# pair sits at jaccard ≥ 0.85 (one in [0.85, 0.90), 24 at ≥ 0.95) —
# the curve is FLAT across 0.5→0.7 and sheds exactly one edge at
# 0.9: on this corpus the τ knob is free, which is the answer the
# sweep exists to give (the q249/q259 graded-no-op discipline). A
# τ = 0.1 floor was measured and REJECTED: at 16× the sub-dup pair
# mass floods all three component runs (ratio 9.9 vs 1.x here) —
# and no production keeper components at 0.1 anyway.
# ---------------------------------------------------------------------------

_Q276_TAUS = ["0.5", "0.7", "0.9"]


def q276_tau_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.dedup import (
        dedup_clusters_star,
        ngram_jaccard_pairs,
    )

    docs = spread(_t(spark, sf_dir, "documents")).select("doc_id", "source", "text")
    pairs = ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=_Q263_N,
        min_jaccard=0.5,
        max_shingle_freq=_Q263_MAXF,
    ).select("id_a", "id_b", "jaccard").localCheckpoint()  # one pair pass, 3 τ consumers
    outs = []
    for tau in _Q276_TAUS:
        e = pairs.filter(F.col("jaccard") >= F.lit(float(tau))).select(
            "id_a", "id_b"
        )
        cl = dedup_clusters_star(e)
        stats = cl.agg(
            F.count(F.lit(1)).cast("long").alias("n_matched_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        )
        edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        outs.append(
            edges.crossJoin(stats).select(
                F.lit(tau).alias("tau"),
                "n_edges",
                "n_matched_docs",
                "n_clusters",
                (F.col("n_matched_docs") - F.col("n_clusters"))
                .cast("long")
                .alias("n_removed"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("tau")


QUERIES["q276_tau_sensitivity"] = q276_tau_sensitivity


def _q276_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q263_N)

    def closure(tau: str) -> str:
        t = tau.replace(".", "")
        return f"""edges{t} AS (
        SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard >= '{tau}'::DOUBLE
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs WHERE jaccard >= '{tau}'::DOUBLE
    ), reach{t} AS (
        SELECT a AS id, a AS lab FROM edges{t}
        UNION
        SELECT e.a AS id, r.lab AS lab
        FROM edges{t} e JOIN reach{t} r ON r.id = e.b
    ), comp{t} AS (
        SELECT id, MIN(lab) AS cluster_id FROM reach{t} GROUP BY id
    )"""

    def row(tau: str) -> str:
        t = tau.replace(".", "")
        return f"""SELECT '{tau}' AS tau,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
             WHERE jaccard >= '{tau}'::DOUBLE) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM comp{t}) AS n_matched_docs,
           (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) FROM comp{t})
               AS n_clusters,
           (SELECT CAST(COUNT(*) - COUNT(DISTINCT cluster_id) AS BIGINT)
              FROM comp{t}) AS n_removed"""

    closures = ", ".join(closure(t) for t in _Q276_TAUS)
    rows = " UNION ALL ".join(row(t) for t in _Q276_TAUS)
    return f"""
    WITH RECURSIVE sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
        SELECT id_a, id_b, inter / (sa.n_sh + sb.n_sh - inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.5'::DOUBLE
    ), {closures}
    SELECT * FROM ({rows}) ORDER BY tau
    """


ORACLE["q276_tau_sensitivity"] = _q276_oracle()


# ---------------------------------------------------------------------------
# Q277 — cross-source quality calibration against the corpus
# distribution ("is src X's 'good' globally good?" — per-source
# quality summaries like q202/q225 can't answer it because each
# source grades on its own curve): per-doc score = the exact
# micro-TTR (distinct lowercased tokens ×1e6 div tokens), banded at
# div 10⁴ (≤ 101 bands); the corpus's 75th-percentile BAND cut =
# the smallest band whose cumulative count ≥ ceil(3n/4) (integer
# ceil, (3n+3) div 4); per source: docs, docs strictly above the
# cut band, docs at it, above_share (one IEEE division of exact
# BIGINTs). DELIBERATELY banded: an exact per-doc global percentile
# needs a corpus-wide rank (single-task window or a prefix-sum
# pass); the banded cut answers the calibration question with ONE
# (source, band) partial agg and a ≤101-row cumulative window —
# the q88 exact-quantile trade at audit granularity.
# ---------------------------------------------------------------------------

_Q277_BAND = 10_000


def q277_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    toks = ws_tokens(F.lower(F.col("text")))
    per = docs.select(
        "source",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_dist"),
    ).filter(F.col("n_tok") > 0)
    bands = (
        per.withColumn(
            "band", F.expr(f"(n_dist * 1000000 div n_tok) div {_Q277_BAND}")
        )
        .groupBy("source", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # ≤ |sources|×101 rows; hist + per-source consumers
    )
    hist = bands.groupBy("band").agg(F.sum("c").cast("long").alias("n"))
    wcum = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cut = (
        hist.withColumn("cum", F.sum("n").over(wcum))
        .withColumn("total", F.sum("n").over(wall))
        .filter(F.col("cum") * 4 >= F.col("total") * 3)  # cum ≥ ceil(3n/4) ⟺ 4·cum ≥ 3n
        .agg(F.min("band").alias("q75_band"))
    )
    return (
        bands.crossJoin(F.broadcast(cut))
        .groupBy("source", "q75_band")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("band") > F.col("q75_band"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_above"),
            F.sum(F.when(F.col("band") == F.col("q75_band"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_at"),
        )
        .withColumn(
            "above_share",
            F.col("n_above").cast("double") / F.col("n_docs").cast("double"),
        )
        .select("source", "q75_band", "n_docs", "n_above", "n_at", "above_share")
        .orderBy("source")
    )


QUERIES["q277_quality_calibration"] = q277_quality_calibration


def _q277_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("lower(text)", 1)
    return f"""
    WITH per AS (
        SELECT source,
               len({toks}) AS n_tok,
               len(list_distinct({toks})) AS n_dist
        FROM documents
    ), b AS (
        SELECT source,
               (n_dist * 1000000 // n_tok) // {_Q277_BAND} AS band,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM per WHERE n_tok > 0
        GROUP BY 1, 2
    ), hist AS (
        SELECT band, CAST(SUM(c) AS BIGINT) AS n FROM b GROUP BY band
    ), cum AS (
        SELECT band,
               CAST(SUM(n) OVER (ORDER BY band ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
               CAST(SUM(n) OVER () AS BIGINT) AS total
        FROM hist
    ), cut AS (
        SELECT MIN(band) AS q75_band FROM cum WHERE cum * 4 >= total * 3
    )
    SELECT b.source, CAST(cut.q75_band AS BIGINT) AS q75_band,
           CAST(SUM(b.c) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN b.band > cut.q75_band THEN b.c ELSE 0 END) AS BIGINT)
               AS n_above,
           CAST(SUM(CASE WHEN b.band = cut.q75_band THEN b.c ELSE 0 END) AS BIGINT)
               AS n_at,
           CAST(SUM(CASE WHEN b.band > cut.q75_band THEN b.c ELSE 0 END) AS DOUBLE)
               / CAST(SUM(b.c) AS DOUBLE) AS above_share
    FROM b CROSS JOIN cut
    GROUP BY b.source, cut.q75_band
    ORDER BY b.source
    """


ORACLE["q277_quality_calibration"] = _q277_oracle()


# ---------------------------------------------------------------------------
# Q278 — BPE merge APPLICATION round (q218 ranks merge candidates;
# this row grades the other half of a tokenizer trainer's loop —
# APPLY the winning merge corpus-wide and recount, Sennrich et al.
# 2016's algorithm step): the top round-1 pair (occurrence mass,
# ties lexicographic) merges LEFT-TO-RIGHT NON-OVERLAPPING inside
# every word — realized by wrapping every symbol as " sym " (each
# symbol carries its OWN boundary spaces, so consecutive matches
# never share a delimiter — "a b a b" merges BOTH pairs, "a a a"
# merges only the first, exactly BPE's scan) and a single replace()
# (sequential non-overlapping in both engines); merged symbol
# sequences rejoin single-spaced and round-2 pairs are their word
# 2-grams (word_ngrams — symbols are multi-char now, so pair
# identity needs the space separator, not substr). Output: top-10
# round-2 candidates (n DESC, pair), the applied pair, and the
# total realized merge count Σ(symbols_before − symbols_after) —
# which differs from the round-1 occurrence count exactly on
# overlaps, the off-by-one every naive BPE implementation ships.
# Scale: two char-explode scans + map-side combinable counts; the
# rank window runs on the Heaps-sublinear pair-type table (q244's
# law); the merge winner is a 1-row broadcast, never a collect.
# ---------------------------------------------------------------------------

_Q278_TOPK = 10


def q278_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import word_ngrams, ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    words = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("w"))
        .localCheckpoint()  # round-1 counts + the apply pass
    )
    pairs1 = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    top1 = (
        pairs1.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n1"))
        .orderBy(F.desc("n1"), F.asc("pair"))
        .limit(1)
        .select(
            F.substring("pair", 1, 1).alias("c1"),
            F.substring("pair", 2, 1).alias("c2"),
        )
    )
    padded = words.crossJoin(F.broadcast(top1)).select(
        "w",
        F.concat(
            F.lit(" "),
            F.array_join(
                F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
                "  ",
            ),
            F.lit(" "),
        ).alias("s"),
        "c1",
        "c2",
    )
    merged = padded.select(
        "w",
        F.replace(
            F.col("s"),
            F.concat(F.lit(" "), F.col("c1"), F.lit("  "), F.col("c2"), F.lit(" ")),
            F.concat(F.lit(" "), F.col("c1"), F.col("c2"), F.lit(" ")),
        ).alias("m"),
        "c1",
        "c2",
    )
    sym = merged.select(
        "c1",
        "c2",
        F.array_join(
            F.filter(F.split(F.col("m"), " "), lambda x: x != F.lit("")), " "
        ).alias("sw"),
        (F.length("w")).alias("lw"),
    ).withColumn(
        "merges", F.col("lw") - F.size(F.split(F.col("sw"), " "))
    ).localCheckpoint()  # merge-count agg + round-2 pair counts
    meta = sym.agg(
        F.sum("merges").cast("long").alias("n_merges_total"),
        F.max(F.concat(F.col("c1"), F.col("c2"))).alias("applied_pair"),
    )
    pairs2 = sym.select(F.explode(word_ngrams(F.col("sw"), 2)).alias("pair"))
    cnt = pairs2.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = (
        cnt.withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc("pair")))
            .cast("long"),
        )
        .filter(F.col("rank") <= _Q278_TOPK)
    )
    return (
        ranked.crossJoin(F.broadcast(meta))
        .select("rank", "pair", "n", "applied_pair", "n_merges_total")
        .orderBy("rank")
    )


QUERIES["q278_bpe_merge_apply"] = q278_bpe_merge_apply


def _q278_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    words = (
        f"SELECT unnest({sql_word_ngrams('text', 1)}) AS w FROM documents"
    )
    pairs2 = sql_word_ngrams("sw", 2)
    return f"""
    WITH words AS MATERIALIZED (
        {words}
    ), p1 AS (
        SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair
        FROM words WHERE len(w) >= 2
    ), top1 AS (
        SELECT substr(pair, 1, 1) AS c1, substr(pair, 2, 1) AS c2
        FROM (SELECT pair, COUNT(*) AS n1 FROM p1 GROUP BY pair
              ORDER BY n1 DESC, pair LIMIT 1)
    ), padded AS (
        SELECT w,
               ' ' || array_to_string(
                   list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)),
                   '  ') || ' ' AS s,
               c1, c2
        FROM words CROSS JOIN top1
    ), merged AS (
        SELECT w,
               replace(s, ' ' || c1 || '  ' || c2 || ' ',
                          ' ' || c1 || c2 || ' ') AS m,
               c1, c2
        FROM padded
    ), sym AS MATERIALIZED (
        SELECT c1, c2,
               array_to_string(list_filter(string_split(m, ' '), x -> x != ''), ' ')
                   AS sw,
               len(w) AS lw
        FROM merged
    ), sym2 AS (
        SELECT *, lw - len(string_split(sw, ' ')) AS merges FROM sym
    ), meta AS (
        SELECT CAST(SUM(merges) AS BIGINT) AS n_merges_total,
               MAX(c1 || c2) AS applied_pair
        FROM sym2
    ), p2 AS (
        SELECT unnest({pairs2}) AS pair FROM sym2
    ), cnt AS (
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM p2 GROUP BY pair
    )
    SELECT CAST(rank AS BIGINT) AS rank, pair, n, m.applied_pair, m.n_merges_total
    FROM (
        SELECT pair, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rank
        FROM cnt) CROSS JOIN meta m
    WHERE rank <= {_Q278_TOPK}
    ORDER BY rank
    """


ORACLE["q278_bpe_merge_apply"] = _q278_oracle()


# ---------------------------------------------------------------------------
# Q279 — streaming consistent-hash shard router (q272's ring AT
# INGEST, in q234's stateless stream-static shape: the arriving
# corpus routes to shards with no state store, no watermark, no
# coordinator — the embarrassingly-parallel ingest topology a 100 TB
# feed actually uses; adding a node later remaps ~1/(n+1), the
# contract q272 measures). The ring's 64 points convert to 65
# half-open integer SEGMENTS ([prev+1, point] inclusive in
# searchsorted-left semantics, the wrap split in two) computed once
# in Python (the LUT idiom, definitionally shared with the twin);
# each streamed doc joins the broadcast segment table on
# start ≤ pos < end — exactly ONE match by construction, so the
# stream-static inequality join stays stateless and append-only.
# Per node: docs routed, whitespace-token mass, share of docs (one
# IEEE division of exact BIGINTs). Stream equals batch because the
# policy is deterministic — the oracle recomputes the same segments
# as VALUES literals.
# ---------------------------------------------------------------------------


def _q279_segments() -> list[tuple[int, int, int]]:
    """[start, end) integer segments over the 60-bit position space
    for _q272_ring(8): pos ∈ [p_{i-1}+1, p_i] → node(p_i); the wrap
    ([p_max+1, 2^60) and [0, p_0]) routes to the first ring point."""
    rp, rn = _q272_ring(_Q272_NODES)
    segs = []
    for i in range(1, len(rp)):
        segs.append((rp[i - 1] + 1, rp[i] + 1, rn[i]))
    segs.append((0, rp[0] + 1, rn[0]))          # [0, p_0]
    segs.append((rp[-1] + 1, 1 << 60, rn[0]))   # wrap high side
    return segs


def q279_streaming_ring_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from ai_data_pipeline_spark.functions.text import token_count_ws
    from ai_data_pipeline_spark.operators.dedup import md5_hash60
    from ai_data_pipeline_spark.plans.pipeline_queries import _drain_memory_sink

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    segs = spark.createDataFrame(
        _q279_segments(), "seg_start long, seg_end long, node long"
    )
    raw = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    raw = raw.repartition(spark.sparkContext.defaultParallelism)
    routed = (
        raw.select(
            md5_hash60(F.col("doc_id").cast("string")).alias("pos"),
            token_count_ws(F.col("text")).alias("n_tok"),
        )
        .join(
            F.broadcast(segs),
            (F.col("pos") >= F.col("seg_start")) & (F.col("pos") < F.col("seg_end")),
        )
        .select("node", "n_tok")
    )
    name = f"q279_{_uuid.uuid4().hex[:8]}"
    q = (
        routed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    agg = (
        spark.table(name)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    tot = agg.agg(F.sum("n_docs").cast("long").alias("n_total"))
    out = (
        agg.crossJoin(F.broadcast(tot))
        .withColumn(
            "doc_share",
            F.col("n_docs").cast("double") / F.col("n_total").cast("double"),
        )
        .select("node", "n_docs", "n_tokens", "doc_share")
        .orderBy("node")
    )
    return _drain_memory_sink(out, name)


QUERIES["q279_streaming_ring_router"] = q279_streaming_ring_router


def _q279_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    vals = ", ".join(f"({a}, {b}, {n})" for a, b, n in _q279_segments())
    return f"""
    WITH segs(seg_start, seg_end, node) AS (
        SELECT * FROM (VALUES {vals})
    ), d AS (
        SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
                   AS pos,
               len({toks}) AS n_tok
        FROM documents
    ), routed AS (
        SELECT s.node, d.n_tok
        FROM d JOIN segs s ON d.pos >= s.seg_start AND d.pos < s.seg_end
    ), agg AS (
        SELECT CAST(node AS BIGINT) AS node,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM routed GROUP BY node
    ), tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM agg
    )
    SELECT a.node, a.n_docs, a.n_tokens,
           CAST(a.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS doc_share
    FROM agg a CROSS JOIN tot t
    ORDER BY a.node
    """


ORACLE["q279_streaming_ring_router"] = _q279_oracle()


# ---------------------------------------------------------------------------
# Q280 — per-snapshot recycled-content trend ("how much of release k
# is near-duplicate of earlier releases?" — q266 answers it for raw
# 8-gram novelty; this row answers it at the DOCUMENT policy level,
# where an incremental ingest (q108's shape) would actually skip:
# a doc is RECYCLED iff it has a capped 4-gram Jaccard ≥ 0.6
# neighbor in a strictly earlier snapshot (q256's md5 release
# binning). Per snapshot: docs, docs with any near-dup neighbor at
# all, docs recycled from earlier releases, recycled_rate (one IEEE
# division of exact BIGINTs) — the trend that decides whether the
# next release is worth a full dedup pass or an incremental one.
# Scale: the pair stage is the capped machinery (never f²);
# neighbor snapshots aggregate per doc (MIN partner snap), no
# components needed.
# ---------------------------------------------------------------------------


def q280_snapshot_recycling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = spread(_t(spark, sf_dir, "documents"))
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    snaps = docs.select(
        "doc_id", F.pmod(u40, F.lit(_Q256_SNAPS)).cast("long").alias("snap")
    ).localCheckpoint()  # totals + two partner-edge joins
    pairs = ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=_Q263_N,
        min_jaccard=_Q263_JACCARD_F,
        max_shingle_freq=_Q263_MAXF,
    ).select("id_a", "id_b")
    sa = snaps.select(F.col("doc_id").alias("id_a"), F.col("snap").alias("snap_a"))
    sb = snaps.select(F.col("doc_id").alias("id_b"), F.col("snap").alias("snap_b"))
    both = pairs.join(sa, "id_a").join(sb, "id_b")
    partners = both.select(
        F.col("id_a").alias("doc_id"), F.col("snap_b").alias("p_snap")
    ).unionByName(
        both.select(F.col("id_b").alias("doc_id"), F.col("snap_a").alias("p_snap"))
    )
    per_doc = partners.groupBy("doc_id").agg(F.min("p_snap").alias("min_p_snap"))
    flagged = snaps.join(per_doc, "doc_id", "left").select(
        "snap",
        F.col("min_p_snap").isNotNull().cast("int").alias("has_neighbor"),
        (F.col("min_p_snap") < F.col("snap")).cast("int").alias("recycled"),
    )
    return (
        flagged.groupBy("snap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("has_neighbor").cast("long").alias("n_with_neighbor"),
            F.coalesce(F.sum("recycled"), F.lit(0)).cast("long").alias("n_recycled"),
        )
        .withColumn(
            "recycled_rate",
            F.col("n_recycled").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("snap")
    )


QUERIES["q280_snapshot_recycling"] = q280_snapshot_recycling


def _q280_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q263_N)
    return f"""
    WITH snaps AS MATERIALIZED (
        SELECT doc_id,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT)
                   % {_Q256_SNAPS} AS snap
        FROM documents
    ), sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q263_JACCARD}'::DOUBLE
    ), partners AS (
        SELECT p.id_a AS doc_id, sb.snap AS p_snap
        FROM pairs p JOIN snaps sb ON sb.doc_id = p.id_b
        UNION ALL
        SELECT p.id_b AS doc_id, sa.snap AS p_snap
        FROM pairs p JOIN snaps sa ON sa.doc_id = p.id_a
    ), per_doc AS (
        SELECT doc_id, MIN(p_snap) AS min_p_snap FROM partners GROUP BY doc_id
    )
    SELECT CAST(s.snap AS BIGINT) AS snap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.min_p_snap IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_neighbor,
           CAST(SUM(CASE WHEN d.min_p_snap < s.snap THEN 1 ELSE 0 END)
                AS BIGINT) AS n_recycled,
           CAST(SUM(CASE WHEN d.min_p_snap < s.snap THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS recycled_rate
    FROM snaps s LEFT JOIN per_doc d ON d.doc_id = s.doc_id
    GROUP BY s.snap
    ORDER BY snap
    """


ORACLE["q280_snapshot_recycling"] = _q280_oracle()


# ---------------------------------------------------------------------------
# Q281 — cascade ORDER ablation: quality-gate-first vs dedup-first,
# end-to-end (q268 measures whether junk is more duplicated; this
# row measures what that CORRELATION is worth — gating before the
# near-dup pass shrinks the pair stage's input, but also changes
# WHICH doc a keep-min keeper survives as, so the two orders are
# not equivalent, only comparable). Isolation discipline: the
# shingle frequency cap and the candidate pair set are computed
# ONCE on the full corpus (the shared-index form every production
# stack uses) — the ONLY moving part is the gate order; the
# quality-first variant components over the kept∧kept edge subset
# (q276's per-knob closure shape). Gate = Gopher rules_passed ≥ 6:
# the full 7-rule AND gate keeps ZERO docs on this corpus (measured
# — every doc fails at least one rule), so the ablation uses the
# corpus's own selective cut (keeps ~55%; documented, mirrored).
# Per variant: pair-stage doc count (the cost axis), docs removed
# by each stage, final kept docs and tokens. Scale: one capped pair
# pass (never f²) + two component runs over real-dup-sized edge
# sets.
# ---------------------------------------------------------------------------

_Q281_MIN_RULES = 6


def q281_cascade_order_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws
    from ai_data_pipeline_spark.operators.curation import gopher_quality_flags
    from ai_data_pipeline_spark.operators.dedup import (
        dedup_clusters_star,
        ngram_jaccard_pairs,
    )

    docs = spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    rules = [
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_stopwords",
    ]
    flags = (
        gopher_quality_flags(docs)
        .select(
            "doc_id",
            (
                sum(F.col(r).cast("int") for r in rules) >= _Q281_MIN_RULES
            ).alias("keep"),
            token_count_ws(F.col("text")).alias("n_tok"),
        )
        .localCheckpoint()  # both variants + the summary consume it
    )
    n_all = flags.count()  # metadata-scale count on the checkpoint
    pairs = (
        ngram_jaccard_pairs(
            docs,
            "doc_id",
            "text",
            n=_Q263_N,
            min_jaccard=_Q263_JACCARD_F,
            max_shingle_freq=_Q263_MAXF,
        )
        .select("id_a", "id_b")
        .join(
            flags.select(F.col("doc_id").alias("id_a"), F.col("keep").alias("ka")),
            "id_a",
        )
        .join(
            flags.select(F.col("doc_id").alias("id_b"), F.col("keep").alias("kb")),
            "id_b",
        )
        .localCheckpoint()  # one pair pass, two component consumers
    )

    def removed_of(edges: DataFrame) -> DataFrame:
        cl = dedup_clusters_star(edges.select("id_a", "id_b"))
        return cl.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias("doc_id")
        )

    # dedup first: components on ALL pairs, then the gate
    remA = removed_of(pairs)
    survA = flags.join(remA, "doc_id", "left_anti")
    dfv = (
        survA.agg(
            F.count(F.lit(1)).cast("long").alias("n_surv"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("kept_docs"),
            F.coalesce(F.sum(F.when(F.col("keep"), F.col("n_tok"))), F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .crossJoin(remA.agg(F.count(F.lit(1)).cast("long").alias("dedup_removed")))
        .select(
            F.lit("dedup_first").alias("variant"),
            F.lit(n_all).cast("long").alias("docs_pair_stage"),
            (F.col("n_surv") - F.col("kept_docs"))
            .cast("long")
            .alias("quality_removed"),
            "dedup_removed",
            "kept_docs",
            "kept_tokens",
        )
    )
    # quality first: gate, then components on the kept-kept edges
    remQ = removed_of(pairs.filter(F.col("ka") & F.col("kb")))
    kept = flags.filter(F.col("keep"))
    survQ = kept.join(remQ, "doc_id", "left_anti")
    qfv = (
        survQ.agg(
            F.count(F.lit(1)).cast("long").alias("kept_docs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("kept_tokens"),
        )
        .crossJoin(kept.agg(F.count(F.lit(1)).cast("long").alias("docs_pair_stage")))
        .crossJoin(remQ.agg(F.count(F.lit(1)).cast("long").alias("dedup_removed")))
        .select(
            F.lit("quality_first").alias("variant"),
            "docs_pair_stage",
            (F.lit(n_all) - F.col("docs_pair_stage"))
            .cast("long")
            .alias("quality_removed"),
            "dedup_removed",
            "kept_docs",
            "kept_tokens",
        )
    )
    return dfv.unionByName(qfv).orderBy("variant")


QUERIES["q281_cascade_order_ablation"] = q281_cascade_order_ablation


def _q281_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q263_N)
    toks = sql_word_ngrams("text", 1)

    def closure(tag: str, edge_src: str) -> str:
        return f"""edges{tag} AS (
        SELECT id_a AS a, id_b AS b FROM {edge_src}
        UNION
        SELECT id_b AS a, id_a AS b FROM {edge_src}
    ), reach{tag} AS (
        SELECT a AS id, a AS lab FROM edges{tag}
        UNION
        SELECT e.a AS id, r.lab AS lab
        FROM edges{tag} e JOIN reach{tag} r ON r.id = e.b
    ), removed{tag} AS MATERIALIZED (
        SELECT id AS doc_id FROM (
            SELECT id, MIN(lab) AS cluster_id FROM reach{tag} GROUP BY id)
        WHERE id <> cluster_id
    )"""

    return f"""
    WITH RECURSIVE d0 AS MATERIALIZED (
        SELECT doc_id,
               coalesce(text, '') AS t,
               len({toks}) AS n_tok,
               list_filter(string_split_regex(coalesce(text, ''), '[ \\t\\r\\n]+'),
                           w -> w != '') AS words,
               list_filter(string_split(coalesce(text, ''), chr(10)),
                           l -> NOT regexp_full_match(l, '[ \\t\\r]*')) AS lines
        FROM documents
    ), m AS (
        SELECT doc_id, n_tok,
               len(words) AS n_words,
               coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS word_chars,
               len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
               len(lines) AS n_lines,
               len(list_filter(lines, l -> regexp_matches(l, '^[ \\t]*[-*\u2022]'))) AS n_bullet,
               len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|\u2026)[ \\t\\r]*$'))) AS n_ell,
               length(t) - length(replace(t, '#', ''))
                 + len(regexp_extract_all(t, '(\\.\\.\\.|\u2026)')) AS n_sym,
               len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
                   ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS n_stop
        FROM d0
    ), flags AS MATERIALIZED (
        SELECT doc_id, n_tok,
               ((CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
              + (CASE WHEN 3 * n_words <= word_chars
                       AND word_chars <= 10 * n_words THEN 1 ELSE 0 END)
              + (CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END)
              + (CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END)
              + (CASE WHEN 10 * n_ell <= 3 * n_lines THEN 1 ELSE 0 END)
              + (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END)
              + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END)) >= {_Q281_MIN_RULES}
                   AS keep
        FROM m
    ), sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
        SELECT i.id_a, i.id_b, fa.keep AS ka, fb.keep AS kb FROM inter i
        JOIN sizes sa ON sa.id = i.id_a
        JOIN sizes sb ON sb.id = i.id_b
        JOIN flags fa ON fa.doc_id = i.id_a
        JOIN flags fb ON fb.doc_id = i.id_b
        WHERE i.inter / (sa.n_sh + sb.n_sh - i.inter) >= '{_Q263_JACCARD}'::DOUBLE
    ), pairsQ AS (
        SELECT id_a, id_b FROM pairs WHERE ka AND kb
    ), {closure('A', 'pairs')}, {closure('Q', 'pairsQ')}
    SELECT 'dedup_first' AS variant,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flags) AS docs_pair_stage,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flags f
             WHERE f.doc_id NOT IN (SELECT doc_id FROM removedA)
               AND NOT f.keep) AS quality_removed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM removedA) AS dedup_removed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flags f
             WHERE f.doc_id NOT IN (SELECT doc_id FROM removedA)
               AND f.keep) AS kept_docs,
           (SELECT CAST(COALESCE(SUM(f.n_tok), 0) AS BIGINT) FROM flags f
             WHERE f.doc_id NOT IN (SELECT doc_id FROM removedA)
               AND f.keep) AS kept_tokens
    UNION ALL
    SELECT 'quality_first' AS variant,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flags WHERE keep)
               AS docs_pair_stage,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flags WHERE NOT keep)
               AS quality_removed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM removedQ) AS dedup_removed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flags f
             WHERE f.keep
               AND f.doc_id NOT IN (SELECT doc_id FROM removedQ)) AS kept_docs,
           (SELECT CAST(COALESCE(SUM(f.n_tok), 0) AS BIGINT) FROM flags f
             WHERE f.keep
               AND f.doc_id NOT IN (SELECT doc_id FROM removedQ)) AS kept_tokens
    ORDER BY variant
    """


ORACLE["q281_cascade_order_ablation"] = _q281_oracle()
