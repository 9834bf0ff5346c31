"""Frontier query set: SURVEY.md §2B round 9.

The round-9 graded frontier — the r08 verdict's queue plus the
remaining canonical public-pipeline passes:

- q222 exact-substring dedup at REAL span lengths (Lee et al. 2022
  §4 — 50-token spans, the paper's own threshold);
- q223 occupancy-SCALED SemDeDup: the cell count is DERIVED from the
  corpus (stride seeding), grading the scale contract SCALING.md
  measured (fixed-8 cells 5.3× at 16× data vs occupancy-scaled 1.5×);
- q225 CCNet-style per-language quality bucketing (Wenzek et al.
  2020): head/middle/tail tertiles by a log-free fluency proxy;
- q226 C4 three-sentence-span dedup (Raffel et al. 2020 §2.2 — "we
  removed all but one of any three-sentence span").

Same oracle-parity discipline as relational.py (float-policy header
there): identical aliases both engines, exact integer aggregation,
doubles only from expression trees both engines evaluate identically
(one IEEE division of exact BIGINTs; min/max of bit-identical
per-row doubles). Every div/% dividend non-negative by construction
(linted by tests/test_division_convention.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table as _t, spread
from ai_data_pipeline_spark.sources.store import TempStore

QUERIES: dict = {}
ORACLE: dict = {}


# ---------------------------------------------------------------------------
# Q222 — exact-substring dedup at the published span length (Lee et
# al. 2022, "Deduplicating Training Data Makes Language Models
# Better", §4: remove every duplicated substring of ≥ 50 tokens,
# keeping one occurrence). q146 graded the REBUILD machinery at the
# 8-token proxy length; this row runs the same operator at the
# paper's 50-token threshold and grades the corpus-level accounting
# per source. A duplicated substring of length L ≥ 50 duplicates all
# of its L−49 50-grams, so "drop every token covered by a non-first
# 50-gram" removes exactly the duplicated-substring mass while the
# globally FIRST occurrence survives — the paper's keep-one policy
# under (doc_id, position) corpus order. Scale (q146's law at n=50):
# the gram-hash window shuffle carries 8-byte hashes, covered spans
# explode to ≤ 50 index rows per duplicate occurrence (linear in
# duplicated-gram mass, never f²), one anti-join, one rebuild.
# removed_rate is one IEEE division of exact BIGINTs.
# ---------------------------------------------------------------------------

_Q222_SPAN = 50


def q222_long_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws
    from ai_data_pipeline_spark.operators.curation import (
        covered_index_counts,
        duplicate_span_starts,
    )

    docs = spread(_t(spark, sf_dir, "documents"))
    # accounting-only consumer (r13 opt): tok_after of the rebuilt
    # text ≡ tok_before − |∪ covered spans| exactly (single-space
    # rejoin of non-empty tokens is count-preserving — the identity
    # the oracle already uses), so the string-rebuild tail of
    # remove_duplicate_spans (full token explode + anti-join +
    # collect_list sort-rebuild + re-tokenize) is dead weight here.
    # The rebuild machinery itself stays graded by q146.
    spans = duplicate_span_starts(
        docs.select("doc_id", "text"), "doc_id", "text", n=_Q222_SPAN
    )
    cov = covered_index_counts(spans, "doc_id", _Q222_SPAN)
    before = docs.select(
        "doc_id", "source", token_count_ws(F.col("text")).alias("tok_before")
    )
    j = before.join(cov, "doc_id", "left").withColumn(
        "tok_after",
        F.col("tok_before") - F.coalesce(F.col("n_cov"), F.lit(0)),
    )
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("tok_after") < F.col("tok_before")).cast("int"))
        .cast("long")
        .alias("n_docs_trimmed"),
        F.sum("tok_before").cast("long").alias("tokens_before"),
        F.sum("tok_after").cast("long").alias("tokens_after"),
    )
    return (
        agg.withColumn(
            "removed_rate",
            F.when(
                F.col("tokens_before") != 0,
                (F.col("tokens_before") - F.col("tokens_after")).cast("double")
                / F.col("tokens_before").cast("double"),
            ),
        )
        .orderBy("source")
    )


QUERIES["q222_long_span_dedup"] = q222_long_span_dedup


def _q222_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    grams = sql_word_ngrams("text", _Q222_SPAN)
    # kept tokens = n_tokens − |covered indexes|: exactly the token
    # count of the operator's rebuilt text (single-space rejoin, ws
    # re-split), without re-materializing the strings.
    return f"""
    WITH g0 AS (
        SELECT doc_id, {grams} AS gs FROM documents
    ), grams AS (
        SELECT doc_id, generate_subscripts(gs, 1) - 1 AS p, unnest(gs) AS gram
        FROM g0
    ), dup AS (
        SELECT doc_id, p FROM (
            SELECT doc_id, p,
                   ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn
            FROM grams)
        WHERE rn > 1
    ), covered AS (
        SELECT doc_id, COUNT(*) AS n_cov FROM (
            SELECT DISTINCT doc_id, idx FROM (
                SELECT doc_id, unnest(generate_series(p, p + {_Q222_SPAN - 1})) AS idx
                FROM dup))
        GROUP BY doc_id
    ), per_doc AS (
        SELECT d.doc_id, d.source,
               len({toks}) AS tok_before,
               len({toks}) - COALESCE(c.n_cov, 0) AS tok_after
        FROM documents d LEFT JOIN covered c USING (doc_id)
    ), agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN tok_after < tok_before THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_trimmed,
               CAST(SUM(tok_before) AS BIGINT) AS tokens_before,
               CAST(SUM(tok_after) AS BIGINT) AS tokens_after
        FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, n_docs_trimmed, tokens_before, tokens_after,
           CASE WHEN tokens_before <> 0
                THEN CAST(tokens_before - tokens_after AS DOUBLE)
                       / CAST(tokens_before AS DOUBLE) END AS removed_rate
    FROM agg ORDER BY source
    """


ORACLE["q222_long_span_dedup"] = _q222_oracle()


# ---------------------------------------------------------------------------
# Q223 — occupancy-SCALED SemDeDup (the production knob of q203,
# graded — r08 verdict #3): the cell count is COMPUTED from the
# corpus, not a constant. Seeding: every vec_id ≡ 0 (mod 64) is a
# seed, so K ≈ |corpus| / 64 and expected cell occupancy stays ~64
# as the corpus grows — SCALING.md measured exactly this knob at 16×
# (fixed 8 cells: 5.3×; occupancy-scaled: 1.5×). The assignment
# argmin is a DECISION, so it runs on EXACT fixed-point integers
# (quantize_q6 — the q106/q131 discipline; |v6| ≤ 1e6 → the 64-dim
# integer distance < 2.6e14, exact in int64) through the count-gated
# Arrow kernel with a distributed BIGINT-fold fallback
# (_assign_exact_q6 — identical integers either path; the HOF form
# probed ~5× super-linear wall at 16× from the N×K constant alone);
# at true 100 TB the flat seed scan becomes a coarse-quantizer tree,
# which changes the assignment CONSTANT, not the Σ|cell|² pair law
# this row grades. Within-cell
# pairs run on the Arrow blocked kernel at τ = 0.35 (bit-parity with
# the SQL fold pinned by tests/test_vectorized.py), components via
# star contraction, min-id keeper — q203's exact shape downstream.
# ---------------------------------------------------------------------------

_Q223_TAU = 0.35
_Q223_STRIDE = 64  # target occupancy: K = ceil(|corpus| / 64), computed
# K is a COMPUTED count (≈ n/64): collect + int64 kernel while it is
# broadcast-small, distributed HOF-join fallback beyond — the q107
# "driver work bounded by a computed count" rule.
_Q223_KERNEL_MAX_SEEDS = 65536


def _assign_exact_q6(base: DataFrame, seeds: DataFrame) -> DataFrame:
    """[vec_id, cell]: exact-integer nearest-seed assignment.

    base: [vec_id, v6]; seeds: [seed_id, s6] (both quantize_q6
    arrays). Fast path: count-gate the seed table, collect it, and
    run the int64 Arrow kernel (ivf_assign_q6_np — measured ~100×
    the interpreted fold's constant; the HOF-join form probed ~5×
    super-linear wall at 16× purely from the N×K assignment). If K
    ever outgrows the gate, fall back to the distributed broadcast-
    join + BIGINT fold — the identical integers, so the choice can
    never change a result (parity pinned in tests/test_vectorized).
    """
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_q6_np

    k = seeds.count()
    if k <= _Q223_KERNEL_MAX_SEEDS:
        rows = seeds.collect()
        return ivf_assign_q6_np(
            base, [(int(r["seed_id"]), list(r["s6"])) for r in rows]
        ).select("vec_id", "cell")
    d6 = F.aggregate(
        F.zip_with("v6", "s6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        base.join(F.broadcast(seeds))
        .select(
            "vec_id", F.struct(d6.alias("d"), F.col("seed_id").alias("c")).alias("dc")
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"))
        .select("vec_id", F.col("m.c").alias("cell"))
    )


def q223_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import quantize_q6
    from ai_data_pipeline_spark.operators.dedup import dedup_clusters_star
    from ai_data_pipeline_spark.operators.vectorized import cosine_pairs_np

    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0).select(
        F.col("vec_id").alias("seed_id"), quantize_q6("embedding").alias("s6")
    )
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    cells = _assign_exact_q6(base, seeds)
    assigned = emb.select("vec_id", "embedding").join(cells, "vec_id")
    pairs = cosine_pairs_np(
        assigned,
        id_col="vec_id",
        vec_col="embedding",
        block_col="cell",
        min_cosine=_Q223_TAU,
    )
    clusters = dedup_clusters_star(pairs)
    ids = assigned.select(F.col("vec_id").alias("id"))
    members = ids.join(clusters, "id", "left").select(
        "id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id")
    )
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    n_seeds = seeds.agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .withColumn(
            "n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("long")
        )
        .crossJoin(F.broadcast(n_seeds))
        .orderBy("cluster_size")
    )


QUERIES["q223_semdedup_scaled"] = q223_semdedup_scaled


def _q223_oracle() -> str:
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM

    rng = f"range(1, {EMBED_DIM + 1})"
    d6 = f"list_sum(list_transform({rng}, i -> (q.v6[i] - s.s6[i]) * (q.v6[i] - s.s6[i])))"
    dot_vv = f"list_sum(list_transform({rng}, i -> (v)[i] * (v)[i]))"
    dot_ab = f"list_sum(list_transform({rng}, i -> (a.v)[i] * (b.v)[i]))"
    return f"""
        WITH RECURSIVE q6 AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v6
            FROM embeddings
        ), seeds AS MATERIALIZED (
            SELECT vec_id AS seed_id, v6 AS s6 FROM q6
            WHERE vec_id % {_Q223_STRIDE} = 0
        ), cells AS MATERIALIZED (
            SELECT vec_id, seed_id AS cell FROM (
                SELECT q.vec_id, s.seed_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                          ORDER BY {d6}, s.seed_id) AS rn
                FROM q6 q CROSS JOIN seeds s)
            WHERE rn = 1
        ), normed AS MATERIALIZED (
            SELECT q.vec_id, q.v, c.cell, sqrt({dot_vv}) AS nrm
            FROM q6 q JOIN cells c USING (vec_id)
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM normed a JOIN normed b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ({dot_ab}) / (a.nrm * b.nrm) >= '{_Q223_TAU!r}'::DOUBLE
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ), reach AS (
            SELECT a AS id, a AS lab FROM edges
            UNION
            SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
        ), comp AS (
            SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id
        ), clusters AS (
            SELECT v.vec_id AS id,
                   COALESCE(c.cluster_id, v.vec_id) AS cluster_id
            FROM embeddings v LEFT JOIN comp c ON c.id = v.vec_id
        ), sizes AS (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM clusters GROUP BY cluster_id
        )
        SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM seeds) AS n_cells
        FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """


ORACLE["q223_semdedup_scaled"] = _q223_oracle()


# ---------------------------------------------------------------------------
# Q224 — one exact-integer Lloyd refinement of the stride seeds (the
# k-means re-seed pass feeding q223/q211 — r08 verdict #3's other
# half): assign every vector to its nearest stride seed (q223's
# exact-q6 argmin), recompute each cell's centroid as the
# per-dimension mean floored back to micro-units (floor(s/n) via the
# offset form — components are NEGATIVE, so the raw div would hit
# the truncate-vs-floor engine divergence the division lint guards),
# then REASSIGN against the refined centroids. Per-cell audit:
# occupancy before/after and the seed→centroid displacement (exact
# BIGINT Σ∆², micro-unit² — the "how wrong was the seed" signal that
# decides whether another Lloyd round is worth its pass). All
# decisions on exact integers (q106/q131 discipline). Scale: two
# count-gated kernel assignment passes (_assign_exact_q6) + one
# (cell, dim) agg whose output is K×64 rows; nothing pairwise.
# ---------------------------------------------------------------------------

_Q224_OFF = 2_000_000  # |v6| ≤ 1e6 ⇒ s + OFF·n ≥ n·(OFF − 1e6) > 0


def q224_lloyd_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import quantize_q6

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    seeds = base.filter(F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0).select(
        F.col("vec_id").alias("seed_id"), F.col("v6").alias("s6")
    )
    a1 = _assign_exact_q6(base, seeds)
    upd = (
        base.join(a1, "vec_id")
        .select("cell", F.posexplode("v6").alias("dim", "v"))
        .groupBy("cell", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        # floor(s/n) for possibly-negative s: (s + OFF·n) div n − OFF
        .withColumn(
            "c6",
            (
                F.expr(f"(s + {_Q224_OFF} * n) div n") - F.lit(_Q224_OFF)
            ).cast("long"),
        )
    )
    cents2 = (
        upd.groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c6"))),
                lambda s: s["c6"],
            ).alias("c6v"),
            F.max("n").cast("long").alias("n_before"),
        )
        .select(F.col("cell").alias("seed_id"), "c6v", "n_before")
    )
    a2 = _assign_exact_q6(
        base, cents2.select("seed_id", F.col("c6v").alias("s6"))
    )
    after = a2.groupBy("cell").agg(F.count(F.lit(1)).cast("long").alias("n_after"))
    disp = F.aggregate(
        F.zip_with("c6v", "s6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        cents2.join(seeds, cents2.seed_id == seeds.seed_id)
        .select(
            cents2.seed_id.cast("long").alias("cell"),
            "n_before",
            disp.alias("disp_q6sq"),
        )
        .join(after, "cell", "left")
        .select(
            "cell",
            "n_before",
            F.coalesce(F.col("n_after"), F.lit(0)).cast("long").alias("n_after"),
            "disp_q6sq",
        )
        .orderBy("cell")
    )


QUERIES["q224_lloyd_refine"] = q224_lloyd_refine


def _q224_oracle() -> str:
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM

    rng = f"range(1, {EMBED_DIM + 1})"
    d_seed = f"list_sum(list_transform({rng}, i -> (q.v6[i] - s.s6[i]) * (q.v6[i] - s.s6[i])))"
    d_cent = f"list_sum(list_transform({rng}, i -> (q.v6[i] - c.c6v[i]) * (q.v6[i] - c.c6v[i])))"
    disp = f"list_sum(list_transform({rng}, i -> (c.c6v[i] - s.s6[i]) * (c.c6v[i] - s.s6[i])))"
    return f"""
    WITH q6 AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v6
        FROM embeddings
    ), seeds AS MATERIALIZED (
        SELECT vec_id AS seed_id, v6 AS s6 FROM q6
        WHERE vec_id % {_Q223_STRIDE} = 0
    ), a1 AS MATERIALIZED (
        SELECT vec_id, seed_id AS cell FROM (
            SELECT q.vec_id, s.seed_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {d_seed}, s.seed_id) AS rn
            FROM q6 q CROSS JOIN seeds s)
        WHERE rn = 1
    ), upd AS MATERIALIZED (
        SELECT cell,
               list(CAST((s + {_Q224_OFF} * n) // n - {_Q224_OFF} AS BIGINT)
                    ORDER BY dim) AS c6v,
               MAX(n) AS n_before
        FROM (
            SELECT a1.cell, t.i AS dim,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(q.v6[t.i]) AS BIGINT) AS s
            FROM q6 q JOIN a1 USING (vec_id), unnest({rng}) AS t(i)
            GROUP BY a1.cell, t.i)
        GROUP BY cell
    ), a2 AS (
        SELECT vec_id, cell FROM (
            SELECT q.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {d_cent}, c.cell) AS rn
            FROM q6 q CROSS JOIN upd c)
        WHERE rn = 1
    ), after AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_after FROM a2 GROUP BY cell
    )
    SELECT CAST(c.cell AS BIGINT) AS cell,
           CAST(c.n_before AS BIGINT) AS n_before,
           CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
           CAST({disp} AS BIGINT) AS disp_q6sq
    FROM upd c
    JOIN seeds s ON s.seed_id = c.cell
    LEFT JOIN after a ON a.cell = c.cell
    ORDER BY cell
    """


ORACLE["q224_lloyd_refine"] = _q224_oracle()


# ---------------------------------------------------------------------------
# Q225 — CCNet-style per-language quality bucketing (Wenzek et al.
# 2020, "CCNet: Extracting High Quality Monolingual Datasets from
# Web Crawl Data"): CCNet scores each document with a per-language
# LM perplexity and splits every language into head/middle/tail
# thirds. The log-free cross-engine-exact proxy (r08 verdict #5):
# the per-LANGUAGE bigram-frequency log2-bucket ladder (q103's
# fluency, conditioned on lang — the "per-language LM" is the
# language's own bigram table), per-doc fluency = sum_bucket /
# n_bigrams (one IEEE division of exact BIGINTs), tertile = NTILE(3)
# per language over (fluency DESC, doc_id) — tertile 1 is the head
# (most-fluent), matching CCNet's head = lowest perplexity. Docs
# with < 2 tokens have no bigrams and are excluded (CCNet likewise
# drops paragraphs its LM cannot score). min/max fluency per bucket
# are order-independent selections of bit-identical doubles. Scale:
# one (lang, gram)-keyed COUNT window (shuffle carries 60-bit-hash-
# sized grams), one per-doc agg, one NTILE window partitioned by
# lang — no pairs, no driver state.
# ---------------------------------------------------------------------------

def q225_ccnet_lang_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.buckets import log2_bucket_case
    from ai_data_pipeline_spark.functions.text import token_count_ws, word_ngrams

    docs = spread(_t(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id",
        "lang",
        F.explode(word_ngrams(F.lower(F.col("text")), 2)).alias("g"),
    )
    cnt = F.count(F.lit(1)).over(Window.partitionBy("lang", "g"))
    bucketed = grams.select(
        "doc_id", "lang", log2_bucket_case(cnt.cast("long")).alias("bucket")
    )
    per_doc = bucketed.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("bucket").cast("long").alias("sum_bucket"),
    )
    scored = per_doc.withColumn(
        "fluency",
        F.col("sum_bucket").cast("double") / F.col("n_bigrams").cast("double"),
    )
    tert = F.ntile(3).over(
        Window.partitionBy("lang").orderBy(F.desc("fluency"), F.asc("doc_id"))
    )
    toks = docs.select("doc_id", token_count_ws(F.col("text")).alias("n_tok"))
    return (
        scored.withColumn("tertile", tert.cast("long"))
        .join(toks, "doc_id")
        .groupBy("lang", "tertile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
            F.min("fluency").alias("min_fluency"),
            F.max("fluency").alias("max_fluency"),
        )
        .orderBy("lang", "tertile")
    )


QUERIES["q225_ccnet_lang_buckets"] = q225_ccnet_lang_buckets


def _q225_oracle() -> str:
    from ai_data_pipeline_spark.functions.buckets import sql_log2_bucket_case
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    grams2 = sql_word_ngrams("lower(text)", 2)
    ladder = sql_log2_bucket_case("c")
    return f"""
    WITH grams AS (
        SELECT doc_id, lang, unnest({grams2}) AS g FROM documents
    ), c AS (
        SELECT doc_id, lang,
               COUNT(*) OVER (PARTITION BY lang, g) AS c
        FROM grams
    ), b AS (
        SELECT doc_id, lang, {ladder} AS bucket FROM c
    ), per_doc AS (
        SELECT doc_id, lang, COUNT(*) AS n_bigrams,
               CAST(SUM(bucket) AS BIGINT) AS sum_bucket
        FROM b GROUP BY doc_id, lang
    ), scored AS (
        SELECT doc_id, lang,
               CAST(sum_bucket AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS fluency,
               NTILE(3) OVER (PARTITION BY lang
                              ORDER BY CAST(sum_bucket AS DOUBLE)
                                       / CAST(n_bigrams AS DOUBLE) DESC,
                                       doc_id) AS tertile
        FROM per_doc
    ), toks AS (
        SELECT doc_id, len({toks}) AS n_tok FROM documents
    )
    SELECT s.lang, CAST(s.tertile AS BIGINT) AS tertile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_tok) AS BIGINT) AS tokens,
           MIN(s.fluency) AS min_fluency,
           MAX(s.fluency) AS max_fluency
    FROM scored s JOIN toks t USING (doc_id)
    GROUP BY s.lang, s.tertile
    ORDER BY s.lang, s.tertile
    """


ORACLE["q225_ccnet_lang_buckets"] = _q225_oracle()


# ---------------------------------------------------------------------------
# Q226 — vocabulary growth curve (Heaps'-law audit: does the corpus
# keep contributing NEW types, or has it saturated into repetition?
# — the curve every tokenizer-training and data-collection run
# checks before adding another crawl). The corpus splits into 10
# doc_id-range deciles (step derived IN-FRAME from max(doc_id) — no
# driver action, no single-task NTILE window); each lowercased
# whitespace type charges its FIRST decile; per decile: new types,
# cumulative types, cumulative tokens, and the cumulative type/token
# ratio (one IEEE division of exact BIGINTs). Scale: one groupBy
# token → MIN(decile) (map-side combinable — the corpus-sized
# shuffle carries one row per TYPE), then a 10-row window.
# ---------------------------------------------------------------------------

_Q226_BUCKETS = 10


def q226_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    # step = ceil((max_id + 1) / 10): doc_id ≥ 0 and max ≥ 0, so both
    # div dividends are non-negative (division-convention lint).
    mx = docs.agg(
        F.expr(f"(max(doc_id) + {_Q226_BUCKETS}) div {_Q226_BUCKETS}").alias("step")
    )
    toks = (
        docs.crossJoin(F.broadcast(mx))
        .select(
            F.expr("doc_id div step").alias("decile"),
            F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok"),
        )
    )
    per_decile_tokens = toks.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    first_seen = toks.groupBy("tok").agg(F.min("decile").alias("decile"))
    new_types = first_seen.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("new_types")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_decile_tokens.join(new_types, "decile", "left")
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_tokens",
            F.coalesce(F.col("new_types"), F.lit(0)).cast("long").alias("new_types"),
        )
        .withColumn("cum_types", F.sum("new_types").over(w).cast("long"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .withColumn(
            "ttr",
            F.col("cum_types").cast("double") / F.col("cum_tokens").cast("double"),
        )
        .orderBy("decile")
    )


QUERIES["q226_vocab_growth"] = q226_vocab_growth


def _q226_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("lower(text)", 1)
    return f"""
    WITH mx AS (
        SELECT (MAX(doc_id) + {_Q226_BUCKETS}) // {_Q226_BUCKETS} AS step
        FROM documents
    ), toks AS (
        SELECT doc_id // (SELECT step FROM mx) AS decile, unnest({toks}) AS tok
        FROM documents
    ), per_decile AS (
        SELECT decile, COUNT(*) AS n_tokens FROM toks GROUP BY decile
    ), first_seen AS (
        SELECT tok, MIN(decile) AS decile FROM toks GROUP BY tok
    ), new_types AS (
        SELECT decile, COUNT(*) AS new_types FROM first_seen GROUP BY decile
    ), rows_ AS (
        SELECT p.decile,
               CAST(p.n_tokens AS BIGINT) AS n_tokens,
               CAST(COALESCE(n.new_types, 0) AS BIGINT) AS new_types
        FROM per_decile p LEFT JOIN new_types n USING (decile)
    )
    , cum AS (
        SELECT decile, n_tokens, new_types,
               CAST(SUM(new_types) OVER w AS BIGINT) AS cum_types,
               CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens
        FROM rows_
        WINDOW w AS (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_tokens, new_types,
           cum_types, cum_tokens,
           CAST(cum_types AS DOUBLE) / CAST(cum_tokens AS DOUBLE) AS ttr
    FROM cum ORDER BY decile
    """


ORACLE["q226_vocab_growth"] = _q226_oracle()


# ---------------------------------------------------------------------------
# Q227 — QUALITY-AWARE canonical keeper for MinHash dup clusters
# (the production keeper policy: q204 keeps min-id — crawl-order
# bias; q107 keeps longest; real release pipelines keep the member
# that passes the most quality rules). Composition of graded
# primitives: q204's exact MinHash+LSH clusters × q202's Gopher rule
# score; keeper = argmax (rules passed, n_words, −doc_id) per
# cluster via ONE row_number window. keeper_diff counts docs that
# win on QUALITY but would lose under min-id — the measured value of
# the better policy. Scale: q204's candidate/banding law unchanged;
# the score is a scan-stage projection; the keeper window partitions
# by cluster_id (bounded by dup volume, not corpus size).
# ---------------------------------------------------------------------------

def q227_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import dedup
    from ai_data_pipeline_spark.operators.curation import gopher_quality_flags

    docs = spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.minhash_neardup_pairs(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, min_jaccard=0.6
    )
    clusters = dedup.dedup_clusters_star(pairs)
    rules = [
        "r_word_count", "r_mean_word_len", "r_symbol_ratio", "r_bullet_lines",
        "r_ellipsis_lines", "r_alpha_words", "r_stopwords",
    ]
    score = sum(F.col(r).cast("int") for r in rules).cast("long")
    scored = gopher_quality_flags(docs).select(
        "doc_id", "source", score.alias("score"), F.col("n_words").cast("long").alias("n_words")
    )
    members = (
        scored.join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    )
    rk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(
            F.desc("score"), F.desc("n_words"), F.asc("doc_id")
        )
    )
    flagged = members.withColumn("rk", rk)
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("rk") == 1).cast("int")).cast("long").alias("n_kept"),
            F.sum((F.col("rk") != 1).cast("int")).cast("long").alias("n_removed"),
            F.sum(
                ((F.col("rk") == 1) & (F.col("doc_id") != F.col("cluster_id"))).cast("int")
            )
            .cast("long")
            .alias("keeper_diff"),
        )
        .orderBy("source")
    )


QUERIES["q227_quality_keeper"] = q227_quality_keeper


def _q227_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    # the q204 minhash chain verbatim (same fragments, same policy
    # constants), then the Gopher score (q202's fragments) and the
    # quality-keeper window in place of the min-id keeper.
    return f"""
    WITH RECURSIVE sh AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, unnest({sql_word_ngrams("text", 3)}) AS shingle
        FROM documents
    ), sig AS (
        SELECT id, j, MIN((('0x' || substr(md5(shingle || ':' || j), 1, 15))::BIGINT)) AS mh
        FROM sh CROSS JOIN range(32) AS t(j)
        GROUP BY id, j
    ), bandkey AS (
        SELECT id, j // 4 AS band, string_agg(mh::VARCHAR, ',' ORDER BY j) AS bk
        FROM sig GROUP BY id, j // 4
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bandkey a
        JOIN bandkey b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT id_a, id_b, COUNT(*) AS inter
        FROM cand
        JOIN sh sa ON sa.id = cand.id_a
        JOIN sh sb ON sb.id = cand.id_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.6'::DOUBLE
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), comp AS (
        SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id
    ), gd AS (
        SELECT doc_id, source,
               coalesce(text, '') AS t,
               list_filter(string_split_regex(coalesce(text, ''), '[ \\t\\r\\n]+'),
                           w -> w != '') AS words,
               list_filter(string_split(coalesce(text, ''), chr(10)),
                           l -> NOT regexp_full_match(l, '[ \\t\\r]*')) AS lines
        FROM documents
    ), gm AS (
        SELECT doc_id, source,
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
        FROM gd
    ), scored AS (
        SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_words,
               CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END
                  + CASE WHEN 3 * n_words <= word_chars AND word_chars <= 10 * n_words
                         THEN 1 ELSE 0 END
                  + CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END
                  + CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END
                  + CASE WHEN 10 * n_ell <= 3 * n_lines THEN 1 ELSE 0 END
                  + CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END
                  + CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS score
        FROM gm
    ), members AS (
        SELECT s.doc_id, s.source, s.score, s.n_words,
               COALESCE(c.cluster_id, s.doc_id) AS cluster_id
        FROM scored s LEFT JOIN comp c ON c.id = s.doc_id
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                     ORDER BY score DESC, n_words DESC, doc_id) AS rk
        FROM members
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN rk = 1 AND doc_id <> cluster_id THEN 1 ELSE 0 END)
                AS BIGINT) AS keeper_diff
    FROM ranked GROUP BY source ORDER BY source
    """


ORACLE["q227_quality_keeper"] = _q227_oracle()


# ---------------------------------------------------------------------------
# Q228 — APPLY the temperature mixture by deterministic hash
# sampling (q207 computes target weights; this row grades the pass
# that realizes them): per language, acceptance probability
# p = sqrt(t_min / t_lang) (α = 0.5 down-sampling normalized so the
# rarest language keeps everything — up-sampling needs repetition,
# which is an epoch-schedule concern, not a filter); a doc is kept
# iff its 40-bit md5 uniform u < floor(p · 2^40). Every decision is
# engine-exact: t_min/t_lang is one IEEE division of exact BIGINTs,
# sqrt and the 2^40 scale are single correctly-rounded ops, u is an
# md5-derived integer (q24's hash-family idiom) — no RNG, so retries
# and both engines agree row-for-row. Scale: one per-lang agg
# (map-side combinable), one broadcast of L thresholds, one scan-
# stage filter — the shuffle carries (lang, counters) only.
# ---------------------------------------------------------------------------

_Q228_Q40 = 1 << 40


def q228_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws

    docs = spread(_t(spark, sf_dir, "documents"))
    per_doc = docs.select(
        "doc_id", "lang", token_count_ws(F.col("text")).alias("n_tok")
    )
    per_lang = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tokens"),
    )
    t_min = F.min("tokens").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    thr = per_lang.withColumn(
        "thr_q40",
        F.floor(
            F.sqrt(t_min.cast("double") / F.col("tokens").cast("double"))
            * F.lit(float(_Q228_Q40))
        ).cast("long"),
    )
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    sampled = per_doc.withColumn("u40", u40).join(
        F.broadcast(thr.select("lang", "thr_q40")), "lang"
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
            F.max("thr_q40").cast("long").alias("thr_q40"),
            F.sum((F.col("u40") < F.col("thr_q40")).cast("int"))
            .cast("long")
            .alias("n_sampled"),
            F.sum(F.when(F.col("u40") < F.col("thr_q40"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_sampled"),
        )
        .withColumn(
            "realized_rate",
            F.col("n_sampled").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("lang")
    )


QUERIES["q228_mixture_sample"] = q228_mixture_sample


def _q228_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH per_doc AS (
        SELECT doc_id, lang, len({toks}) AS n_tok FROM documents
    ), per_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS tokens
        FROM per_doc GROUP BY lang
    ), thr AS (
        SELECT lang, n_docs, tokens,
               CAST(floor(sqrt(CAST((SELECT MIN(tokens) FROM per_lang) AS DOUBLE)
                               / CAST(tokens AS DOUBLE))
                          * '{float(_Q228_Q40)!r}'::DOUBLE)
                    AS BIGINT) AS thr_q40
        FROM per_lang
    ), s AS (
        SELECT d.lang, d.n_tok, t.thr_q40,
               (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 10))::BIGINT)
                   AS u40
        FROM per_doc d JOIN thr t USING (lang)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens,
           CAST(MAX(thr_q40) AS BIGINT) AS thr_q40,
           CAST(SUM(CASE WHEN u40 < thr_q40 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           CAST(SUM(CASE WHEN u40 < thr_q40 THEN n_tok ELSE 0 END) AS BIGINT)
               AS tokens_sampled,
           CAST(SUM(CASE WHEN u40 < thr_q40 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS realized_rate
    FROM s GROUP BY lang ORDER BY lang
    """


ORACLE["q228_mixture_sample"] = _q228_oracle()


# ---------------------------------------------------------------------------
# Q229 — embedding drift monitor between pipeline batches (the
# re-embedding regression check every encoder upgrade needs): split
# the corpus into batch A (even vec_id) and batch B (odd), compare
# per-LABEL centroids as squared L2 displacement in micro-unit²
# space. Components aggregate as exact q6 BIGINTs (float-parity
# policy: never accumulate doubles); each per-dim mean is one IEEE
# division of exact integers; the 64 squared terms fold left-to-
# right in dim order on both engines (q203's list_sum discipline).
# Labels missing a side are excluded (no 0/0). Scale: one
# (label, dim) agg — 64·L cells regardless of corpus size; no pairs.
# ---------------------------------------------------------------------------

def q229_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import quantize_q6

    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_a"),
        F.posexplode(quantize_q6("embedding")).alias("dim", "v6"),
    )
    per = dims.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("is_a"), F.col("v6")).otherwise(0)).cast("long").alias("s_a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(~F.col("is_a"), F.col("v6")).otherwise(0)).cast("long").alias("s_b"),
    )
    term = (
        F.col("s_a").cast("double") / F.col("n_a").cast("double")
        - F.col("s_b").cast("double") / F.col("n_b").cast("double")
    )
    per_t = per.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "label", "dim", "n_a", "n_b", (term * term).alias("t2")
    )
    fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "t2"))), lambda s: s["t2"]
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        per_t.groupBy("label")
        .agg(
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
            fold.alias("drift_q6sq"),
        )
        .select(F.col("label").cast("long").alias("label"), "n_a", "n_b", "drift_q6sq")
        .orderBy("label")
    )


QUERIES["q229_embedding_drift"] = q229_embedding_drift


def _q229_oracle() -> str:
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM

    rng = f"range(1, {EMBED_DIM + 1})"
    return f"""
    WITH q6 AS (
        SELECT label, vec_id % 2 = 0 AS is_a, t.i AS dim,
               CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT) AS v6
        FROM embeddings, unnest({rng}) AS t(i)
    ), per AS (
        SELECT label, dim,
               CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN is_a THEN v6 ELSE 0 END) AS BIGINT) AS s_a,
               CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN is_a THEN 0 ELSE v6 END) AS BIGINT) AS s_b
        FROM q6 GROUP BY label, dim
    ), terms AS (
        SELECT label, dim, n_a, n_b,
               (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS t2
        FROM per WHERE n_a > 0 AND n_b > 0
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           list_sum(list(t2 ORDER BY dim)) AS drift_q6sq
    FROM terms GROUP BY label ORDER BY label
    """


ORACLE["q229_embedding_drift"] = _q229_oracle()


# ---------------------------------------------------------------------------
# Q230 — winnowing candidate-selection audit for the 50-token span
# pass (q122 × q222 — the r09 queue's recall-vs-cost trade): q222
# hashes EVERY 50-gram; winnowing (SIGMOD'03) samples one fingerprint
# per window of W=8 consecutive grams (ties → rightmost), catching
# any duplicated span of ≥ n+W−1 = 57 tokens while paying ~1/W the
# candidate mass. This row MEASURES that trade on the corpus: a
# duplicated 50-gram key is "caught" iff ≥2 of its occurrences are
# selected fingerprints (then the bucket join finds the pair);
# recall = caught / duplicated keys, sampling_rate = selected
# occurrences / gram occurrences — both one IEEE division of exact
# BIGINTs. 50–56-token duplicates may legitimately be missed: that
# gap is the audit's point. Scale: q122's shapes — narrow posexplode,
# one per-doc window, fingerprint/dup accounting on 60-bit hashes.
# ---------------------------------------------------------------------------

_Q230_W = 8


def q230_winnowing_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import word_ngrams
    from ai_data_pipeline_spark.operators.dedup import md5_hash60

    docs = spread(_t(spark, sf_dir, "documents"))
    arr = word_ngrams(F.col("text"), _Q222_SPAN)
    g = docs.select("doc_id", F.posexplode(arr).alias("pos0", "gram")).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        md5_hash60(F.col("gram")).alias("h"),
    )
    skey = F.concat(
        F.lpad(F.col("h").cast("string"), 19, "0"),
        F.lpad((F.lit(1_000_000_000) - F.col("pos")).cast("string"), 10, "0"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_Q230_W - 1), Window.currentRow)
    )
    sel = (
        g.withColumn("skey", skey)
        .withColumn("wmin", F.min("skey").over(w))
        .filter(F.col("pos") >= _Q230_W)
        .select("doc_id", "wmin")
        .distinct()
        .select(
            "doc_id",
            F.substring("wmin", 1, 19).cast("long").alias("h"),
        )
    )
    per_h = g.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("occ"))
    fp_per_h = sel.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    audit = per_h.join(fp_per_h, "h", "left").select(
        "h",
        "occ",
        F.coalesce(F.col("n_fp"), F.lit(0)).cast("long").alias("n_fp"),
    )
    return audit.agg(
        F.sum("occ").cast("long").alias("n_grams"),
        F.sum("n_fp").cast("long").alias("n_selected"),
        F.sum(((F.col("occ") >= 2)).cast("int")).cast("long").alias("n_dup_keys"),
        F.sum(((F.col("occ") >= 2) & (F.col("n_fp") >= 2)).cast("int"))
        .cast("long")
        .alias("n_caught"),
    ).select(
        "n_grams",
        "n_selected",
        "n_dup_keys",
        "n_caught",
        F.when(
            F.col("n_dup_keys") != 0,
            F.col("n_caught").cast("double") / F.col("n_dup_keys").cast("double"),
        ).alias("recall"),
        (F.col("n_selected").cast("double") / F.col("n_grams").cast("double")).alias(
            "sampling_rate"
        ),
    )


QUERIES["q230_winnowing_span_audit"] = q230_winnowing_span_audit


def _q230_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q222_SPAN)
    return f"""
    WITH lists AS (
        SELECT doc_id, {grams} AS l FROM documents
    ), g AS (
        SELECT doc_id, u.pos AS pos,
               (('0x' || substr(md5(u.g), 1, 15))::BIGINT) AS h
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(l) + 1),
                                         i -> struct_pack(pos := i, g := l[i]))) AS u
            FROM lists
        )
    ), sel AS (
        -- winnowing proper counts fingerprints PER POSITION: the
        -- DISTINCT must run on (doc_id, wmin) with the position
        -- suffix still embedded, THEN strip to h — matching the
        -- Spark side. DISTINCT after stripping would collapse the
        -- same 50-gram selected at two positions in one doc to
        -- n_fp=1 (r09 ADVICE #1 latent parity break).
        SELECT doc_id, CAST(substr(wmin, 1, 19) AS BIGINT) AS h
        FROM (
            SELECT DISTINCT doc_id, wmin
            FROM (
                SELECT doc_id, pos,
                       MIN(lpad(CAST(h AS VARCHAR), 19, '0')
                           || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0'))
                           OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN {_Q230_W - 1} PRECEDING AND CURRENT ROW)
                           AS wmin
                FROM g)
            WHERE pos >= {_Q230_W})
    ), per_h AS (
        SELECT h, CAST(COUNT(*) AS BIGINT) AS occ FROM g GROUP BY h
    ), fp_per_h AS (
        SELECT h, CAST(COUNT(*) AS BIGINT) AS n_fp FROM sel GROUP BY h
    ), audit AS (
        SELECT p.h, p.occ, CAST(COALESCE(f.n_fp, 0) AS BIGINT) AS n_fp
        FROM per_h p LEFT JOIN fp_per_h f USING (h)
    ), agg AS (
        SELECT CAST(SUM(occ) AS BIGINT) AS n_grams,
               CAST(SUM(n_fp) AS BIGINT) AS n_selected,
               CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_keys,
               CAST(SUM(CASE WHEN occ >= 2 AND n_fp >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_caught
        FROM audit
    )
    SELECT n_grams, n_selected, n_dup_keys, n_caught,
           CASE WHEN n_dup_keys <> 0
                THEN CAST(n_caught AS DOUBLE) / CAST(n_dup_keys AS DOUBLE)
                END AS recall,
           CAST(n_selected AS DOUBLE) / CAST(n_grams AS DOUBLE) AS sampling_rate
    FROM agg
    """


ORACLE["q230_winnowing_span_audit"] = _q230_oracle()


# ---------------------------------------------------------------------------
# Q231 — multi-epoch mixture scheduling (q228's other half: q228
# DOWN-samples dominant languages; training runs UP-sample rare ones
# by repetition — "epochs per source", the practice every data-
# constrained run documents, cf. Muennighoff et al. 2023): per
# language p = sqrt(t_max / t_lang) ≥ 1 (α = 0.5), each doc
# materializes floor(p) copies plus one more iff its 40-bit md5
# uniform < floor(frac(p)·2^40) — expected copies = p with ZERO RNG
# (every decision is a correctly-rounded IEEE op or exact integer;
# floor/frac of a double are exact). The epoch stream is actually
# MATERIALIZED (explode over a sequence — linear, no skew: copies ≤
# ceil(p) ≤ sqrt(corpus ratio)) and re-aggregated, so the graded row
# proves stream = arithmetic. amplification is one IEEE division of
# exact BIGINTs.
# ---------------------------------------------------------------------------

def q231_multi_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws

    docs = spread(_t(spark, sf_dir, "documents"))
    per_doc = docs.select(
        "doc_id", "lang", token_count_ws(F.col("text")).alias("n_tok")
    )
    per_lang = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tokens"),
    )
    t_max = F.max("tokens").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    p = F.sqrt(t_max.cast("double") / F.col("tokens").cast("double"))
    plan = per_lang.select(
        "lang",
        "n_docs",
        "tokens",
        F.floor(p).cast("long").alias("reps"),
        F.floor((p - F.floor(p)) * F.lit(float(_Q228_Q40))).cast("long").alias("frac_q40"),
    )
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    copies = F.col("reps") + (u40 < F.col("frac_q40")).cast("long")
    stream = (
        per_doc.join(F.broadcast(plan.select("lang", "reps", "frac_q40")), "lang")
        .select("lang", "n_tok", copies.alias("n_copies"))
        .filter(F.col("n_copies") > 0)
        .select("lang", "n_tok", F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("epoch"))
    )
    eff = stream.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("eff_docs"),
        F.sum("n_tok").cast("long").alias("eff_tokens"),
    )
    return (
        plan.join(eff, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "tokens",
            "reps",
            "frac_q40",
            F.coalesce(F.col("eff_docs"), F.lit(0)).cast("long").alias("eff_docs"),
            F.coalesce(F.col("eff_tokens"), F.lit(0)).cast("long").alias("eff_tokens"),
        )
        .withColumn(
            "amplification",
            F.col("eff_tokens").cast("double") / F.col("tokens").cast("double"),
        )
        .orderBy("lang")
    )


QUERIES["q231_multi_epoch_mixture"] = q231_multi_epoch_mixture


def _q231_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH per_doc AS (
        SELECT doc_id, lang, len({toks}) AS n_tok FROM documents
    ), per_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS tokens
        FROM per_doc GROUP BY lang
    ), plan AS (
        SELECT lang, n_docs, tokens,
               CAST(floor(sqrt(CAST((SELECT MAX(tokens) FROM per_lang) AS DOUBLE)
                               / CAST(tokens AS DOUBLE))) AS BIGINT) AS reps,
               CAST(floor((sqrt(CAST((SELECT MAX(tokens) FROM per_lang) AS DOUBLE)
                               / CAST(tokens AS DOUBLE))
                           - floor(sqrt(CAST((SELECT MAX(tokens) FROM per_lang) AS DOUBLE)
                               / CAST(tokens AS DOUBLE))))
                          * '{float(_Q228_Q40)!r}'::DOUBLE) AS BIGINT) AS frac_q40
        FROM per_lang
    ), stream AS (
        SELECT d.lang, d.n_tok
        FROM per_doc d
        JOIN plan p USING (lang),
        unnest(range(1, p.reps
                        + CASE WHEN (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                                     1, 10))::BIGINT) < p.frac_q40
                               THEN 1 ELSE 0 END + 1)) AS t(epoch)
    ), eff AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS eff_docs,
               CAST(SUM(n_tok) AS BIGINT) AS eff_tokens
        FROM stream GROUP BY lang
    )
    SELECT p.lang, p.n_docs, p.tokens, p.reps, p.frac_q40,
           CAST(COALESCE(e.eff_docs, 0) AS BIGINT) AS eff_docs,
           CAST(COALESCE(e.eff_tokens, 0) AS BIGINT) AS eff_tokens,
           CAST(COALESCE(e.eff_tokens, 0) AS DOUBLE)
             / CAST(p.tokens AS DOUBLE) AS amplification
    FROM plan p LEFT JOIN eff e USING (lang)
    ORDER BY p.lang
    """


ORACLE["q231_multi_epoch_mixture"] = _q231_oracle()


# ---------------------------------------------------------------------------
# Q232 — held-out bigram coverage / OOV audit (the tokenizer- and
# LM-eval complement of q225: before training on a new slice, how
# much of its bigram mass does the existing corpus already model?):
# train = even doc_id, held-out = odd; a held-out bigram occurrence
# is covered iff the SAME (lang, bigram) occurs anywhere in train.
# Coverage is aggregated as exact occurrence counts and divided once
# (IEEE, exact BIGINTs). Scale: coverage via MAX(is_train) window
# over (lang, gram-hash) — ONE shuffle carrying 60-bit hashes, no
# join-back (CLAUDE.md's exchange-reuse rule); the oracle recomputes
# on gram strings (hash-collision note of q146 applies).
# ---------------------------------------------------------------------------

def q232_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import word_ngrams
    from ai_data_pipeline_spark.operators.dedup import md5_hash60

    docs = spread(_t(spark, sf_dir, "documents"))
    occ = docs.select(
        "lang",
        (F.col("doc_id") % 2 == 0).cast("int").alias("is_train"),
        F.explode(word_ngrams(F.lower(F.col("text")), 2)).alias("g"),
    ).select("lang", "is_train", md5_hash60(F.col("g")).alias("h"))
    covered = F.max("is_train").over(Window.partitionBy("lang", "h"))
    marked = occ.withColumn("cov", covered).filter(F.col("is_train") == 0)
    return (
        marked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("bigrams_heldout"),
            F.sum("cov").cast("long").alias("bigrams_covered"),
        )
        .withColumn(
            "oov", (F.col("bigrams_heldout") - F.col("bigrams_covered")).cast("long")
        )
        .withColumn(
            "coverage",
            F.col("bigrams_covered").cast("double")
            / F.col("bigrams_heldout").cast("double"),
        )
        .orderBy("lang")
    )


QUERIES["q232_oov_coverage"] = q232_oov_coverage


def _q232_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams2 = sql_word_ngrams("lower(text)", 2)
    return f"""
    WITH occ AS (
        SELECT lang,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_train,
               unnest({grams2}) AS g
        FROM documents
    ), marked AS (
        SELECT lang, is_train,
               MAX(is_train) OVER (PARTITION BY lang, g) AS cov
        FROM occ
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS bigrams_heldout,
           CAST(SUM(cov) AS BIGINT) AS bigrams_covered,
           CAST(COUNT(*) - SUM(cov) AS BIGINT) AS oov,
           CAST(SUM(cov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
    FROM marked WHERE is_train = 0
    GROUP BY lang ORDER BY lang
    """


ORACLE["q232_oov_coverage"] = _q232_oracle()


# ---------------------------------------------------------------------------
# Q233 — nprobe recall-vs-cost curve over the occupancy-scaled IVF
# (the tuning sweep every ANN deployment runs before fixing nprobe;
# q209 audits ONE point of q28's fixed-8-cell index — this row
# sweeps nprobe ∈ {1, 2, 4} against q223's data-derived cells): for
# each of the five fixed q27 query vectors, probe the nprobe nearest
# seeds (EXACT integer q6 distance — queries quantize once in Python
# and inline as literals, the q106 discipline, so the probe set is a
# pure-integer decision), take the exact cosine top-3 within probed
# cells, and compare against the exact brute-force top-3 (q27's
# graded path). Output per nprobe: candidates examined (the cost
# axis), hits, recall — recall is one IEEE division of exact
# BIGINTs. Scale: the candidate filter is `cell IN probed` — over a
# cell-partitioned corpus this is partition PRUNING, the IVF payoff;
# candidate mass is nprobe × occupancy per query, never the corpus.
# ---------------------------------------------------------------------------

_Q233_NPROBES = [1, 2, 4]


def q233_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import (
        cosine,
        quantize_q6,
        quantize_q6_py,
    )
    from ai_data_pipeline_spark.plans import pipeline_queries as P
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS

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
    qdf = spark.createDataFrame(
        qrows, "qid long, qvec array<double>, q6 array<bigint>"
    )
    d6 = F.aggregate(
        F.zip_with("q6", "s6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    rk = F.row_number().over(
        Window.partitionBy("qid").orderBy("d6", "seed_id")
    )
    probes = (
        qdf.crossJoin(F.broadcast(seeds))
        .select("qid", "qvec", "seed_id", d6.alias("d6"))
        .withColumn("rk", rk)
        .filter(F.col("rk") <= max(_Q233_NPROBES))
        .select("qid", "qvec", "seed_id", "rk")
    )
    cand = corpus.join(
        F.broadcast(probes), corpus.cell == probes.seed_id
    ).select(
        "qid", "rk", "vec_id", cosine(F.col("embedding"), F.col("qvec")).alias("sim")
    )
    nps = F.explode(
        F.array(*[F.lit(n) for n in _Q233_NPROBES]).cast("array<bigint>")
    ).alias("nprobe")
    swept = cand.select(nps, "qid", "rk", "vec_id", "sim").filter(
        F.col("rk") <= F.col("nprobe")
    )
    top = swept.withColumn(
        "rk2",
        F.row_number().over(
            Window.partitionBy("nprobe", "qid").orderBy(F.desc("sim"), F.asc("vec_id"))
        ),
    ).filter(F.col("rk2") <= 3)
    bf = P.q27_cosine_topk(spark, sf_dir).select("qid", "vec_id")
    n_exact = bf.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    hits = top.join(bf, ["qid", "vec_id"]).groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    cost = swept.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    return (
        cost.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            "n_candidates",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .crossJoin(F.broadcast(n_exact))
        .withColumn(
            "recall",
            F.col("n_hits").cast("double") / F.col("n_exact").cast("double"),
        )
        .orderBy("nprobe")
    )


QUERIES["q233_nprobe_recall_curve"] = q233_nprobe_recall_curve


def _q233_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        quantize_q6_py,
        sql_dot,
        sql_lit_list,
        sql_norm,
    )
    from ai_data_pipeline_spark.plans import pipeline_queries as P
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q27_QUERY_VECS

    rng = f"range(1, {EMBED_DIM + 1})"
    d6 = f"list_sum(list_transform({rng}, i -> (q.q6[i] - s.s6[i]) * (q.q6[i] - s.s6[i])))"
    qvals = ", ".join(
        f"({i}, {sql_lit_list(v)}, {quantize_q6_py(v)})"
        for i, v in enumerate(Q27_QUERY_VECS)
    )
    cos = (
        f"({sql_dot('e.embedding', 'c2.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('e.embedding', EMBED_DIM)}) * ({sql_norm('c2.qvec', EMBED_DIM)}))"
    )
    bf = P.ORACLE["q27_cosine_topk"]
    npvals = ", ".join(f"({n})" for n in _Q233_NPROBES)
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
    ), probes AS MATERIALIZED (
        SELECT qid, qvec, seed_id, rk FROM (
            SELECT q.qid, q.qvec, s.seed_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                                      ORDER BY {d6}, s.seed_id) AS rk
            FROM queries q CROSS JOIN seeds s)
        WHERE rk <= {max(_Q233_NPROBES)}
    ), cand AS MATERIALIZED (
        SELECT c2.qid, c2.rk, e.vec_id, {cos} AS sim
        FROM embeddings e
        JOIN cells ON cells.vec_id = e.vec_id
        JOIN probes c2 ON cells.cell = c2.seed_id
    ), swept AS MATERIALIZED (
        SELECT np.nprobe, c.qid, c.vec_id, c.sim
        FROM cand c CROSS JOIN (VALUES {npvals}) AS np(nprobe)
        WHERE c.rk <= np.nprobe
    ), top AS (
        SELECT nprobe, qid, vec_id FROM (
            SELECT nprobe, qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY nprobe, qid
                                      ORDER BY sim DESC, vec_id) AS rk2
            FROM swept)
        WHERE rk2 <= 3
    ), bf AS (
        SELECT qid, vec_id FROM ({bf}) t
    ), hits AS (
        SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM top t JOIN bf ON t.qid = bf.qid AND t.vec_id = bf.vec_id
        GROUP BY t.nprobe
    ), cost AS (
        SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM swept GROUP BY nprobe
    )
    SELECT CAST(c.nprobe AS BIGINT) AS nprobe,
           c.n_candidates,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bf) AS n_exact,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM bf) AS DOUBLE) AS recall
    FROM cost c LEFT JOIN hits h ON h.nprobe = c.nprobe
    ORDER BY nprobe
    """


ORACLE["q233_nprobe_recall_curve"] = _q233_oracle()


# ---------------------------------------------------------------------------
# Q234 — the temperature mixture applied AT INGEST (q228's policy
# through the micro-batch engine — q220's replay pattern): the
# per-language acceptance thresholds are computed ONCE from the
# static corpus (the offline policy table every ingest gate
# broadcasts), then the document stream filters STATELESSLY via a
# stream-static broadcast join + the same md5-uniform decision — no
# state store, no watermark, exactly the shape that keeps a 100 TB/day
# ingest gate embarrassingly parallel. Grades the stream-static-join
# admission path; counts re-aggregate after the memory-sink drain.
# Oracle: the policy is deterministic, so the stream's admission
# equals q228's batch arithmetic (different output names: the gate's
# ingest ledger).
# ---------------------------------------------------------------------------

def q234_streaming_mixture_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from ai_data_pipeline_spark.functions.text import token_count_ws
    from ai_data_pipeline_spark.plans.pipeline_queries import _drain_memory_sink

    # offline policy pass (tiny): per-lang thresholds from the corpus
    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per_lang = (
        # unspread DELIBERATELY (r13 probe): token_count_ws is light
        # enough that the spread shuffle costs more than the 1-task
        # scan — measured 1.33→1.86 s with spread added
        static.select("lang", token_count_ws(F.col("text")).alias("n_tok"))
        .groupBy("lang")
        .agg(F.sum("n_tok").cast("long").alias("tokens"))
    )
    t_min = F.min("tokens").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    thr = per_lang.select(
        "lang",
        F.floor(
            F.sqrt(t_min.cast("double") / F.col("tokens").cast("double"))
            * F.lit(float(_Q228_Q40))
        )
        .cast("long")
        .alias("thr_q40"),
    )

    raw = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    raw = raw.repartition(spark.sparkContext.defaultParallelism)
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    gated = (
        raw.select(
            "lang", token_count_ws(F.col("text")).alias("n_tok"), u40.alias("u40")
        )
        .join(F.broadcast(thr), "lang")  # stream-static broadcast join
        .withColumn("admit", (F.col("u40") < F.col("thr_q40")).cast("int"))
    )
    name = f"q234_{_uuid.uuid4().hex[:8]}"
    q = (
        gated.select("lang", "n_tok", "admit")
        .writeStream.format("memory")
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
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seen"),
            F.sum("admit").cast("long").alias("n_admitted"),
            F.sum(F.when(F.col("admit") == 1, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_admitted"),
        )
    )
    return _drain_memory_sink(agg, name).orderBy("lang")


QUERIES["q234_streaming_mixture_gate"] = q234_streaming_mixture_gate


def _q234_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH per_doc AS (
        SELECT doc_id, lang, len({toks}) AS n_tok FROM documents
    ), per_lang AS (
        SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tokens
        FROM per_doc GROUP BY lang
    ), thr AS (
        SELECT lang,
               CAST(floor(sqrt(CAST((SELECT MIN(tokens) FROM per_lang) AS DOUBLE)
                               / CAST(tokens AS DOUBLE))
                          * '{float(_Q228_Q40)!r}'::DOUBLE)
                    AS BIGINT) AS thr_q40
        FROM per_lang
    ), s AS (
        SELECT d.lang, d.n_tok,
               CASE WHEN (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 10))::BIGINT)
                         < t.thr_q40
                    THEN 1 ELSE 0 END AS admit
        FROM per_doc d JOIN thr t USING (lang)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_seen,
           CAST(SUM(admit) AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN admit = 1 THEN n_tok ELSE 0 END) AS BIGINT)
               AS tokens_admitted
    FROM s GROUP BY lang ORDER BY lang
    """


ORACLE["q234_streaming_mixture_gate"] = _q234_oracle()


# ---------------------------------------------------------------------------
# Q235 — product-quantization audit with an exact-integer codebook
# (Jégou et al. 2011's PQ, the ANN compression standard, in its
# oracle-exact form — distinct from q104's SCALAR quantization): the
# 64-dim space splits into 8 subspaces of 8 dims; the codebook is 8
# FIXED codes per subspace (the first 8 stride seeds' subvectors —
# PQ codebooks are constant-size by design, nbits=3 here; a trained
# codebook swaps in via q224's Lloyd machinery); each vector's
# subvector maps to its nearest code by EXACT q6 integer distance
# (tie → lowest code index, the q106 argmin discipline), so code
# assignments AND the per-subspace quantization error are pure
# BIGINTs both engines. Per-subspace audit: codes actually used,
# total/max error, mean error (one IEEE division of exact BIGINTs) —
# the "is this codebook any good per stripe" read before shipping an
# ADC index. Scale: one int64 Arrow kernel pass at the scan
# (pq_assign_q6_np — the 64-struct expression form measured 7 s WARM
# at sf0.1, pure codegen compile; the kernel is sub-second), zero
# joins, one 8-row agg; the codes collect is 8 rows by construction.
# ---------------------------------------------------------------------------

_Q235_SUBSPACES = 8
_Q235_SUBDIM = 8          # EMBED_DIM / _Q235_SUBSPACES
_Q235_CODES = 8           # fixed codebook size (nbits = 3)


def q235_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import quantize_q6
    from ai_data_pipeline_spark.operators.vectorized import pq_assign_q6_np

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    # codebook: the first _Q235_CODES stride seeds (fixed size — the
    # collect is 8 rows by construction, not corpus-dependent)
    code_rows = (
        base.filter(
            (F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0)
            & (F.col("vec_id") < _Q223_STRIDE * _Q235_CODES)
        )
        .orderBy("vec_id")
        .collect()
    )
    codes = [list(r["v6"]) for r in code_rows]

    expl = pq_assign_q6_np(base, codes, _Q235_SUBDIM)
    return (
        expl.groupBy("subspace")
        .agg(
            F.countDistinct("code").cast("long").alias("codes_used"),
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("err").cast("long").alias("sum_err"),
            F.max("err").cast("long").alias("max_err"),
        )
        .withColumn(
            "mean_err",
            F.col("sum_err").cast("double") / F.col("n_vecs").cast("double"),
        )
        .orderBy("subspace")
    )


QUERIES["q235_pq_audit"] = q235_pq_audit


def _q235_oracle() -> str:
    rng_sub = f"range(1, {_Q235_SUBDIM + 1})"
    d6 = (
        f"list_sum(list_transform({rng_sub}, "
        f"i -> (q.v6[sp.s * {_Q235_SUBDIM} + i] - c.v6[sp.s * {_Q235_SUBDIM} + i])"
        f" * (q.v6[sp.s * {_Q235_SUBDIM} + i] - c.v6[sp.s * {_Q235_SUBDIM} + i])))"
    )
    return f"""
    WITH q6c AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v6
        FROM embeddings
    ), codes AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, v6
        FROM q6c
        WHERE vec_id % {_Q223_STRIDE} = 0
          AND vec_id < {_Q223_STRIDE * _Q235_CODES}
    ), assigned AS (
        SELECT vec_id, subspace, err, code FROM (
            SELECT q.vec_id, sp.s AS subspace, {d6} AS err, c.k AS code,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id, sp.s
                                      ORDER BY {d6}, c.k) AS rn
            FROM q6c q
            CROSS JOIN (SELECT unnest(range({_Q235_SUBSPACES})) AS s) sp
            CROSS JOIN codes c)
        WHERE rn = 1
    )
    SELECT CAST(subspace AS BIGINT) AS subspace,
           CAST(COUNT(DISTINCT code) AS BIGINT) AS codes_used,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(err) AS BIGINT) AS sum_err,
           CAST(MAX(err) AS BIGINT) AS max_err,
           CAST(SUM(err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_err
    FROM assigned GROUP BY subspace ORDER BY subspace
    """


ORACLE["q235_pq_audit"] = _q235_oracle()


# ---------------------------------------------------------------------------
# Q236 — ADC retrieval audit over the PQ codes (Jégou et al. 2011
# §IV: asymmetric distance computation — the reason q235's codes
# exist): each query precomputes a lookup table of exact-integer q6
# distances to every (subspace, code) centroid — 5 queries × 8
# subspaces × 8 codes = 320 ints, computed ONCE in Python from the
# collected codebook and the quantized query literals (definitionally
# shared with the SQL twin, which recomputes the same integers) —
# then a vector's approximate distance is the SUM of 8 table lookups
# over its codes, and the audit compares the ADC top-3 against the
# exact integer-L2 top-3 per query. Everything (table, sums, both
# rankings) is exact BIGINT arithmetic, so the approximation error
# measured is PQ's, not an engine's. Scale: the LUT broadcasts (KBs
# at any corpus size); ADC cost is S lookups + adds per vector —
# the compressed-index scan that replaces full-vector distance math;
# recall is one IEEE division of exact BIGINTs. Expected read on
# this corpus: LOW recall (~0.0–0.33) — an untrained 3-bit stride
# codebook on near-uniform vectors quantizes coarsely by design;
# this audit row is exactly what tells a deployment to train the
# codebook (q224's Lloyd machinery) or raise nbits before trusting
# ADC, and it moves with those knobs.
# ---------------------------------------------------------------------------

def q236_adc_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import quantize_q6, quantize_q6_py
    from ai_data_pipeline_spark.operators.vectorized import pq_assign_q6_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    code_rows = (
        base.filter(
            (F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0)
            & (F.col("vec_id") < _Q223_STRIDE * _Q235_CODES)
        )
        .orderBy("vec_id")
        .collect()
    )
    codes = [list(r["v6"]) for r in code_rows]
    q6s = [quantize_q6_py(v) for v in Q27_QUERY_VECS]

    # the ADC lookup table: exact Python ints == BIGINT == the twin
    lut_rows = []
    for qid, q6 in enumerate(q6s):
        for s in range(_Q235_SUBSPACES):
            lo = s * _Q235_SUBDIM
            for k, c in enumerate(codes):
                d = sum(
                    (q6[lo + i] - c[lo + i]) ** 2 for i in range(_Q235_SUBDIM)
                )
                lut_rows.append((qid, s, k, d))
    lut = spark.createDataFrame(
        lut_rows, "qid long, subspace long, code long, d long"
    )

    assigned = pq_assign_q6_np(base, codes, _Q235_SUBDIM).select(
        "id", "subspace", "code"
    )
    adc = (
        assigned.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("qid", "id")
        .agg(F.sum("d").cast("long").alias("adc_d"))
    )
    adc_top = adc.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.asc("adc_d"), F.asc("id"))
        ),
    ).filter(F.col("rk") <= 3)

    qdf = spark.createDataFrame(
        [(i, q6s[i]) for i in range(len(q6s))], "qid long, q6 array<bigint>"
    )
    d_exact = F.aggregate(
        F.zip_with("v6", "q6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    exact_top = (
        base.crossJoin(F.broadcast(qdf))
        .select("qid", F.col("vec_id").alias("id"), d_exact.alias("ed"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.asc("ed"), F.asc("id"))
            ),
        )
        .filter(F.col("rk") <= 3)
    )
    hits = adc_top.join(exact_top.select("qid", "id"), ["qid", "id"]).groupBy(
        "qid"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return (
        exact_top.groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            "n_exact",
        )
        .withColumn(
            "recall",
            F.col("n_hits").cast("double") / F.col("n_exact").cast("double"),
        )
        .orderBy("qid")
    )


QUERIES["q236_adc_recall_audit"] = q236_adc_recall_audit


def _q236_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import quantize_q6_py
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q27_QUERY_VECS

    rng = f"range(1, {EMBED_DIM + 1})"
    rng_sub = f"range(1, {_Q235_SUBDIM + 1})"
    qvals = ", ".join(
        f"({i}, {quantize_q6_py(v)})" for i, v in enumerate(Q27_QUERY_VECS)
    )
    d_sub = (
        f"list_sum(list_transform({rng_sub}, "
        f"i -> (q.q6[sp.s * {_Q235_SUBDIM} + i] - c.v6[sp.s * {_Q235_SUBDIM} + i])"
        f" * (q.q6[sp.s * {_Q235_SUBDIM} + i] - c.v6[sp.s * {_Q235_SUBDIM} + i])))"
    )
    d_assign = (
        f"list_sum(list_transform({rng_sub}, "
        f"i -> (v.v6[sp.s * {_Q235_SUBDIM} + i] - c.v6[sp.s * {_Q235_SUBDIM} + i])"
        f" * (v.v6[sp.s * {_Q235_SUBDIM} + i] - c.v6[sp.s * {_Q235_SUBDIM} + i])))"
    )
    d_exact = f"list_sum(list_transform({rng}, i -> (v.v6[i] - q.q6[i]) * (v.v6[i] - q.q6[i])))"
    return f"""
    WITH q6c AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v6
        FROM embeddings
    ), codes AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, v6
        FROM q6c
        WHERE vec_id % {_Q223_STRIDE} = 0
          AND vec_id < {_Q223_STRIDE * _Q235_CODES}
    ), queries AS (
        SELECT * FROM (VALUES {qvals}) AS q(qid, q6)
    ), sp AS (SELECT unnest(range({_Q235_SUBSPACES})) AS s
    ), assigned AS MATERIALIZED (
        SELECT vec_id, s AS subspace, code FROM (
            SELECT v.vec_id, sp.s, c.k AS code,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id, sp.s
                                      ORDER BY {d_assign}, c.k) AS rn
            FROM q6c v CROSS JOIN sp CROSS JOIN codes c)
        WHERE rn = 1
    ), lut AS MATERIALIZED (
        SELECT q.qid, sp.s AS subspace, c.k AS code, {d_sub} AS d
        FROM queries q CROSS JOIN sp CROSS JOIN codes c
    ), adc AS (
        SELECT l.qid, a.vec_id AS id, CAST(SUM(l.d) AS BIGINT) AS adc_d
        FROM assigned a
        JOIN lut l ON l.subspace = a.subspace AND l.code = a.code
        GROUP BY l.qid, a.vec_id
    ), adc_top AS (
        SELECT qid, id FROM (
            SELECT qid, id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY adc_d ASC, id) AS rk
            FROM adc)
        WHERE rk <= 3
    ), exact_top AS (
        SELECT qid, id FROM (
            SELECT q.qid, v.vec_id AS id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                                      ORDER BY {d_exact} ASC, v.vec_id) AS rk
            FROM q6c v CROSS JOIN queries q)
        WHERE rk <= 3
    ), hits AS (
        SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM adc_top a JOIN exact_top e ON a.qid = e.qid AND a.id = e.id
        GROUP BY a.qid
    )
    SELECT CAST(e.qid AS BIGINT) AS qid,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM exact_top e LEFT JOIN hits h ON h.qid = e.qid
    GROUP BY e.qid, h.n_hits
    ORDER BY qid
    """


ORACLE["q236_adc_recall_audit"] = _q236_oracle()


# ---------------------------------------------------------------------------
# Q237 — trained-PQ ADC recall LIFT (the r09 verdict's #3: q236's own
# docstring says the untrained 3-bit stride codebook has low recall
# "by design"; this row runs one exact-integer Lloyd pass PER
# SUBSPACE over the corpus — Jégou et al. 2011 §III.A trains each
# subquantizer independently with k-means — and grades ADC recall
# BEFORE vs AFTER, end-to-end in exact integers). Training: assign
# every (vector, subspace) to its nearest untrained code (q235's
# kernel), recompute each (subspace, code) centroid as the
# per-dimension floor-mean (offset form — components are negative),
# keep the untrained subvector for any empty (subspace, code) cell
# (standard empty-cluster policy, COALESCE both engines). The 512-row
# (S×K×subdim) centroid collect is fixed-size by construction, never
# corpus-dependent. Both ADC passes then replay q236's audit: LUT of
# exact-int distances (S×K×|queries| = 320 ints per phase, computed
# once in Python ≡ recomputed by the SQL twin), approximate distance
# = sum of 8 lookups, top-3 vs the exact integer-L2 top-3. Output is
# one row per phase (0 = untrained, 1 = trained) carrying the TOTAL
# quantization error — the signal Lloyd provably never increases, and
# the one that moves even when top-3 membership is insensitive (at
# graded SFs the 24-bit code on near-uniform 64-dim vectors pins
# recall; sum_err drops ~measurably) — plus pooled ADC recall, one
# IEEE division of exact BIGINTs. Scale: three kernel scan passes +
# one linear (vec, subspace) training shuffle; nothing pairwise;
# LUTs broadcast at KBs for any corpus.
# ---------------------------------------------------------------------------


def _pq_lloyd_once(base: DataFrame, codes0: list[list[int]], D: int) -> list[list[int]]:
    """One exact-integer Lloyd pass per PQ subspace: assign with the
    kernel, floor-mean each (subspace, code) cell in micro-units
    (offset form — subvector components are negative), keep the
    untrained subvector for empty cells. The centroid collect is
    ≤ S·K·D rows by construction, never corpus-dependent. Returns the
    trained codebook in codes0's layout (index s*D + d), so the same
    kernel applies. Shared by q237 (ADC lift) and q255 (layout ×
    training ablation)."""
    from ai_data_pipeline_spark.operators.vectorized import pq_assign_q6_np

    S = len(codes0[0]) // D
    K = len(codes0)
    a0 = pq_assign_q6_np(base, codes0, D).select("id", "subspace", "code")
    trained_rows = (
        base.join(a0, base.vec_id == a0.id)
        .select(
            "subspace",
            "code",
            F.posexplode(F.expr(f"slice(v6, subspace * {D} + 1, {D})")).alias(
                "sd", "v"
            ),
        )
        .groupBy("subspace", "code", "sd")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .withColumn(
            "c6",
            (F.expr(f"(s + {_Q224_OFF} * n) div n") - F.lit(_Q224_OFF)).cast(
                "long"
            ),
        )
        .select("subspace", "code", "sd", "c6")
        .collect()
    )
    tr = {(r["subspace"], r["code"], r["sd"]): r["c6"] for r in trained_rows}
    return [
        [tr.get((s, k, d), codes0[k][s * D + d]) for s in range(S) for d in range(D)]
        for k in range(K)
    ]


def q237_pq_train_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import quantize_q6, quantize_q6_py
    from ai_data_pipeline_spark.operators.vectorized import pq_assign_q6_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS

    S, D, K = _Q235_SUBSPACES, _Q235_SUBDIM, _Q235_CODES
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    code_rows = (
        base.filter(
            (F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0)
            & (F.col("vec_id") < _Q223_STRIDE * K)
        )
        .orderBy("vec_id")
        .collect()
    )
    codes0 = [list(r["v6"]) for r in code_rows]
    # one Lloyd pass per subspace (helper shared with q255)
    codes1 = _pq_lloyd_once(base, codes0, D)

    q6s = [quantize_q6_py(v) for v in Q27_QUERY_VECS]

    def lut_df(codes: list[list[int]]) -> DataFrame:
        rows = []
        for qid, q6 in enumerate(q6s):
            for s in range(S):
                lo = s * D
                for k, c in enumerate(codes):
                    d = sum((q6[lo + i] - c[lo + i]) ** 2 for i in range(D))
                    rows.append((qid, s, k, d))
        return spark.createDataFrame(
            rows, "qid long, subspace long, code long, d long"
        )

    qdf = spark.createDataFrame(
        [(i, q6s[i]) for i in range(len(q6s))], "qid long, q6 array<bigint>"
    )
    d_exact = F.aggregate(
        F.zip_with("v6", "q6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    exact_top = (
        base.crossJoin(F.broadcast(qdf))
        .select("qid", F.col("vec_id").alias("id"), d_exact.alias("ed"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.asc("ed"), F.asc("id"))
            ),
        )
        .filter(F.col("rk") <= 3)
    )

    def phase_row(phase: int, codes: list[list[int]]) -> DataFrame:
        assigned = pq_assign_q6_np(base, codes, D).select(
            "id", "subspace", "code", "err"
        )
        errs = assigned.agg(F.sum("err").cast("long").alias("sum_err"))
        adc = (
            assigned.join(F.broadcast(lut_df(codes)), ["subspace", "code"])
            .groupBy("qid", "id")
            .agg(F.sum("d").cast("long").alias("adc_d"))
        )
        top = adc.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.asc("adc_d"), F.asc("id"))
            ),
        ).filter(F.col("rk") <= 3)
        pooled = (
            top.join(exact_top.select("qid", "id"), ["qid", "id"])
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
            .crossJoin(
                exact_top.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
            )
        )
        return errs.crossJoin(pooled).select(
            F.lit(phase).cast("long").alias("phase"),
            "sum_err",
            "n_hits",
            "n_exact",
            (F.col("n_hits").cast("double") / F.col("n_exact").cast("double")).alias(
                "recall"
            ),
        )

    return phase_row(0, codes0).unionAll(phase_row(1, codes1)).orderBy("phase")


QUERIES["q237_pq_train_lift"] = q237_pq_train_lift


def _q237_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import quantize_q6_py
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q27_QUERY_VECS

    S, D, K = _Q235_SUBSPACES, _Q235_SUBDIM, _Q235_CODES
    rng = f"range(1, {EMBED_DIM + 1})"
    rng_sub = f"range(1, {D + 1})"
    qvals = ", ".join(
        f"({i}, {quantize_q6_py(v)})" for i, v in enumerate(Q27_QUERY_VECS)
    )

    def d_assign(vec: str, cb: str) -> str:
        return (
            f"list_sum(list_transform({rng_sub}, "
            f"i -> ({vec}.v6[sp.s * {D} + i] - {cb}.v6[sp.s * {D} + i])"
            f" * ({vec}.v6[sp.s * {D} + i] - {cb}.v6[sp.s * {D} + i])))"
        )

    def d_lut(cb: str) -> str:
        return (
            f"list_sum(list_transform({rng_sub}, "
            f"i -> (q.q6[sp.s * {D} + i] - {cb}.v6[sp.s * {D} + i])"
            f" * (q.q6[sp.s * {D} + i] - {cb}.v6[sp.s * {D} + i])))"
        )

    d_exact = f"list_sum(list_transform({rng}, i -> (v.v6[i] - q.q6[i]) * (v.v6[i] - q.q6[i])))"
    return f"""
    WITH q6c AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v6
        FROM embeddings
    ), codes0 AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, v6
        FROM q6c
        WHERE vec_id % {_Q223_STRIDE} = 0
          AND vec_id < {_Q223_STRIDE * K}
    ), queries AS (
        SELECT * FROM (VALUES {qvals}) AS q(qid, q6)
    ), sp AS (SELECT unnest(range({S})) AS s
    ), a0 AS MATERIALIZED (
        SELECT vec_id, subspace, code, err FROM (
            SELECT v.vec_id, sp.s AS subspace, c.k AS code,
                   {d_assign('v', 'c')} AS err,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id, sp.s
                                      ORDER BY {d_assign('v', 'c')}, c.k) AS rn
            FROM q6c v CROSS JOIN sp CROSS JOIN codes0 c)
        WHERE rn = 1
    ), trained AS MATERIALIZED (
        SELECT a0.subspace, a0.code, t.i - 1 AS sd,
               CAST((SUM(q.v6[a0.subspace * {D} + t.i])
                     + {_Q224_OFF} * COUNT(*)) // COUNT(*)
                    - {_Q224_OFF} AS BIGINT) AS c6
        FROM q6c q JOIN a0 ON a0.vec_id = q.vec_id,
             unnest({rng_sub}) AS t(i)
        GROUP BY a0.subspace, a0.code, t.i
    ), codes1 AS MATERIALIZED (
        SELECT c.k,
               list(COALESCE(tr.c6, c.v6[sp.s * {D} + t.i])
                    ORDER BY sp.s, t.i) AS v6
        FROM codes0 c
        CROSS JOIN sp
        CROSS JOIN unnest({rng_sub}) AS t(i)
        LEFT JOIN trained tr
          ON tr.subspace = sp.s AND tr.code = c.k AND tr.sd = t.i - 1
        GROUP BY c.k
    ), a1 AS MATERIALIZED (
        SELECT vec_id, subspace, code, err FROM (
            SELECT v.vec_id, sp.s AS subspace, c.k AS code,
                   {d_assign('v', 'c')} AS err,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id, sp.s
                                      ORDER BY {d_assign('v', 'c')}, c.k) AS rn
            FROM q6c v CROSS JOIN sp CROSS JOIN codes1 c)
        WHERE rn = 1
    ), lut0 AS MATERIALIZED (
        SELECT q.qid, sp.s AS subspace, c.k AS code, {d_lut('c')} AS d
        FROM queries q CROSS JOIN sp CROSS JOIN codes0 c
    ), lut1 AS MATERIALIZED (
        SELECT q.qid, sp.s AS subspace, c.k AS code, {d_lut('c')} AS d
        FROM queries q CROSS JOIN sp CROSS JOIN codes1 c
    ), top0 AS (
        SELECT qid, id FROM (
            SELECT l.qid, a.vec_id AS id,
                   ROW_NUMBER() OVER (PARTITION BY l.qid
                                      ORDER BY SUM(l.d) ASC, a.vec_id) AS rk
            FROM a0 a JOIN lut0 l
              ON l.subspace = a.subspace AND l.code = a.code
            GROUP BY l.qid, a.vec_id)
        WHERE rk <= 3
    ), top1 AS (
        SELECT qid, id FROM (
            SELECT l.qid, a.vec_id AS id,
                   ROW_NUMBER() OVER (PARTITION BY l.qid
                                      ORDER BY SUM(l.d) ASC, a.vec_id) AS rk
            FROM a1 a JOIN lut1 l
              ON l.subspace = a.subspace AND l.code = a.code
            GROUP BY l.qid, a.vec_id)
        WHERE rk <= 3
    ), exact_top AS MATERIALIZED (
        SELECT qid, id FROM (
            SELECT q.qid, v.vec_id AS id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                                      ORDER BY {d_exact} ASC, v.vec_id) AS rk
            FROM q6c v CROSS JOIN queries q)
        WHERE rk <= 3
    ), e0 AS (SELECT CAST(SUM(err) AS BIGINT) AS sum_err FROM a0
    ), e1 AS (SELECT CAST(SUM(err) AS BIGINT) AS sum_err FROM a1
    ), h0 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM top0 t JOIN exact_top e ON t.qid = e.qid AND t.id = e.id
    ), h1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM top1 t JOIN exact_top e ON t.qid = e.qid AND t.id = e.id
    ), ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM exact_top)
    SELECT phase, sum_err, n_hits, n_exact,
           CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
    FROM (
        SELECT CAST(0 AS BIGINT) AS phase, e0.sum_err, h0.n AS n_hits,
               ne.n AS n_exact
        FROM e0, h0, ne
        UNION ALL
        SELECT CAST(1 AS BIGINT) AS phase, e1.sum_err, h1.n AS n_hits,
               ne.n AS n_exact
        FROM e1, h1, ne
    )
    ORDER BY phase
    """


ORACLE["q237_pq_train_lift"] = _q237_oracle()


# ---------------------------------------------------------------------------
# Q238 — 13-gram benchmark decontamination (GPT-3 Appendix C / The
# Pile practice — the r09 verdict's #4): the held-out "benchmark"
# split is source = src0 (q56's convention); every corpus (source ≠
# src0) token span whose 13-gram also occurs anywhere in the
# benchmark is removed (overlaps union) and the doc REBUILT — the
# span-level pass, distinct from q56's doc-level ≥3-shared-4-grams
# flag. Graded accounting per source: docs hit, tokens before/after,
# removed_rate (one IEEE division of exact BIGINTs). Scale: the
# collision probe is a LEFT SEMI join against the DISTINCT benchmark
# gram-hash set — one output row per colliding occurrence, never a
# pair explosion, so no max_shingle_freq is needed (a semi-join
# against a set cannot go f²; real benchmarks are corpus-tiny and
# the hash set broadcasts, putting the probe at the scan); covered
# spans ≤ 13 index rows per hit; one anti-join; one rebuild agg —
# q222's law at n=13 with the window swapped for the semi-join.
# ---------------------------------------------------------------------------

_Q238_N = 13


def q238_decontaminate_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws
    from ai_data_pipeline_spark.operators.curation import remove_contaminated_spans

    docs = spread(_t(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("source") != "src0")
    benchmark = docs.filter(F.col("source") == "src0")
    rewritten = remove_contaminated_spans(
        corpus.select("doc_id", "text"),
        benchmark.select("text"),
        "doc_id",
        "text",
        n=_Q238_N,
    )
    before = corpus.select(
        "doc_id", "source", token_count_ws(F.col("text")).alias("tok_before")
    )
    after = rewritten.select("doc_id", token_count_ws(F.col("text")).alias("tok_after"))
    return (
        before.join(after, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("tok_after") < F.col("tok_before")).cast("int"))
            .cast("long")
            .alias("n_docs_hit"),
            F.sum("tok_before").cast("long").alias("tokens_before"),
            F.sum("tok_after").cast("long").alias("tokens_after"),
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


QUERIES["q238_decontaminate_13gram"] = q238_decontaminate_13gram


def _q238_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    grams = sql_word_ngrams("text", _Q238_N)
    return f"""
    WITH bench AS MATERIALIZED (
        SELECT DISTINCT unnest({grams}) AS gram
        FROM documents WHERE source = 'src0'
    ), g0 AS (
        SELECT doc_id, {grams} AS gs FROM documents WHERE source <> 'src0'
    ), grams AS (
        SELECT doc_id, generate_subscripts(gs, 1) - 1 AS p, unnest(gs) AS gram
        FROM g0
    ), hit AS (
        SELECT g.doc_id, g.p FROM grams g
        WHERE g.gram IN (SELECT gram FROM bench)
    ), covered AS (
        SELECT doc_id, COUNT(*) AS n_cov FROM (
            SELECT DISTINCT doc_id, idx FROM (
                SELECT doc_id, unnest(generate_series(p, p + {_Q238_N - 1})) AS idx
                FROM hit))
        GROUP BY doc_id
    ), per_doc AS (
        SELECT d.doc_id, d.source,
               len({toks}) AS tok_before,
               len({toks}) - COALESCE(c.n_cov, 0) AS tok_after
        FROM documents d LEFT JOIN covered c USING (doc_id)
        WHERE d.source <> 'src0'
    ), agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN tok_after < tok_before THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_hit,
               CAST(SUM(tok_before) AS BIGINT) AS tokens_before,
               CAST(SUM(tok_after) AS BIGINT) AS tokens_after
        FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, n_docs_hit, tokens_before, tokens_after,
           CASE WHEN tokens_before <> 0
                THEN CAST(tokens_before - tokens_after AS DOUBLE)
                       / CAST(tokens_before AS DOUBLE) END AS removed_rate
    FROM agg ORDER BY source
    """


ORACLE["q238_decontaminate_13gram"] = _q238_oracle()


# ---------------------------------------------------------------------------
# Q239 — boundary-respecting sequence packing (the r09 verdict's #5):
# q87/q205 pack by token cumsum and let a document STRADDLE sequence
# boundaries (the T5 "pack and split" regime); training recipes that
# forbid splitting (contrastive pairs, long-context curricula, any
# loss masked at doc granularity) need every document WHOLLY inside
# one pack. True best-fit/next-fit is a data-dependent RESTART
# recurrence — bin fill resets whenever a doc would overflow, so each
# boundary depends on every prior bump; that is a segmented scan with
# value-dependent segmentation, NOT window-expressible (same verdict
# as q235's rejected expression form, documented here as the verdict
# asks). The window-expressible contract shipped instead is the
# capacity-reserving start-bin assignment: cap kept docs at L tokens
# (longer docs are counted as overflow and routed to a long-doc
# shard), reserve headroom B' = B − L, and assign each doc to the
# bin where its EXCLUSIVE prefix sum lands: bin = (cum − n_tok) div
# B'. Every doc whose start falls in bin k fits entirely because the
# starts in a bin span < B' tokens and the last-starting doc adds ≤
# L: max fill ≤ B by CONSTRUCTION (the guarantee is a graded output
# column), no doc ever splits, utilization loss is bounded by L/B —
# the deterministic two-pass form of the packing used by TPU-style
# fixed-shape batch builders. Scale: q205's law — one
# distributed_prefix_sum (two window passes, no single-task global
# window) + one bin agg; everything else is arithmetic at the scan.
# ---------------------------------------------------------------------------

_Q239_BUDGET = 320  # pack capacity B
_Q239_CAP = 80      # max kept doc length L (longer → overflow shard)
_Q239_EFF = _Q239_BUDGET - _Q239_CAP  # start-bin stride B'


def q239_boundary_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_bpe_ish
    from ai_data_pipeline_spark.operators.curation import distributed_prefix_sum

    docs = _t(spark, sf_dir, "documents")
    step = 1_000_003 // 64 + 1  # q205's ord_key range per bucket
    base = docs.select(
        "doc_id",
        token_count_bpe_ish(F.col("text")).alias("n_tok"),
        # q205's deterministic interleave order (reduce-before-multiply)
        F.expr("((doc_id % 1000003) * 2654435761) % 1000003").alias("ord_key"),
    ).withColumn("bucket", F.expr(f"ord_key div {step}"))
    kept = base.filter(F.col("n_tok") <= _Q239_CAP)
    overflow = base.filter(F.col("n_tok") > _Q239_CAP).agg(
        F.count(F.lit(1)).cast("long").alias("n_overflow")
    )
    cum = distributed_prefix_sum(kept, "bucket", ["ord_key", "doc_id"], "n_tok")
    bins = (
        cum.select(F.expr(f"(cum - n_tok) div {_Q239_EFF}").alias("bin"), "n_tok")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("fill"),
        )
    )
    summary = bins.agg(
        F.sum("n_docs").cast("long").alias("n_docs_packed"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("fill").cast("long").alias("total_tokens"),
        F.max("fill").cast("long").alias("max_bin_fill"),
    )
    return summary.crossJoin(overflow).select(
        "n_docs_packed",
        "n_overflow",
        "n_bins",
        "total_tokens",
        "max_bin_fill",
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_bins") * F.lit(_Q239_BUDGET)).cast("double")
        ).alias("utilization"),
    )


QUERIES["q239_boundary_pack"] = q239_boundary_pack


def _q239_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import BPE_ISH_PATTERN

    return f"""
    WITH base AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_tok,
               ((doc_id % 1000003) * 2654435761) % 1000003 AS ord_key
        FROM documents
    ), cum AS (
        SELECT n_tok,
               SUM(n_tok) OVER (ORDER BY ord_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM base WHERE n_tok <= {_Q239_CAP}
    ), bins AS (
        SELECT (cum - n_tok) // {_Q239_EFF} AS bin,
               COUNT(*) AS n_docs, SUM(n_tok) AS fill
        FROM cum GROUP BY bin
    ), summary AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs_packed,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(fill) AS BIGINT) AS total_tokens,
               CAST(MAX(fill) AS BIGINT) AS max_bin_fill
        FROM bins
    ), overflow AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_overflow
        FROM base WHERE n_tok > {_Q239_CAP}
    )
    SELECT s.n_docs_packed, o.n_overflow, s.n_bins, s.total_tokens,
           s.max_bin_fill,
           CAST(s.total_tokens AS DOUBLE)
             / CAST(s.n_bins * {_Q239_BUDGET} AS DOUBLE) AS utilization
    FROM summary s, overflow o
    """


ORACLE["q239_boundary_pack"] = _q239_oracle()


# ---------------------------------------------------------------------------
# Q240 — hard-negative mining for the retrieval stack (the r09
# verdict's #6 — the standard contrastive-training data pass: DPR /
# ANCE-style "nearest non-positives" negatives): for each fixed q27
# query, the positives are the exact brute-force cosine top-3 (q27's
# graded path); the hard negatives are the top-5 docs by cosine
# WITHIN the probed IVF cells (q233's candidate machinery at
# nprobe=2 over the occupancy-scaled index: probe set by EXACT
# integer q6 distance, query literals quantized once in Python) that
# are NOT positives — an anti-join, then one per-query rank window
# over the pruned candidate set. Emitting the raw cosine is safe by
# the float policy: both engines evaluate the identical LTR
# dot/norm/divide tree on identical doubles (the q62/q27 precedent).
# Scale: candidates are nprobe × occupancy per query (partition
# pruning over a cell-partitioned corpus — the IVF payoff); the
# anti-join's right side is 15 rows, broadcast; never the corpus.
# ---------------------------------------------------------------------------

_Q240_NPROBE = 2
_Q240_K = 5


def q240_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import (
        cosine,
        quantize_q6,
        quantize_q6_py,
    )
    from ai_data_pipeline_spark.plans import pipeline_queries as P
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS

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
    qdf = spark.createDataFrame(
        qrows, "qid long, qvec array<double>, q6 array<bigint>"
    )
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
        .filter(F.col("rk") <= _Q240_NPROBE)
        .select("qid", "qvec", "seed_id")
    )
    cand = corpus.join(
        F.broadcast(probes), corpus.cell == probes.seed_id
    ).select(
        "qid", "vec_id", cosine(F.col("embedding"), F.col("qvec")).alias("sim")
    )
    positives = P.q27_cosine_topk(spark, sf_dir).select("qid", "vec_id")
    negs = cand.join(F.broadcast(positives), ["qid", "vec_id"], "left_anti")
    return (
        negs.withColumn(
            "rank",
            F.row_number()
            .over(Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id")))
            .cast("long"),
        )
        .filter(F.col("rank") <= _Q240_K)
        .select("qid", "rank", "vec_id", "sim")
        .orderBy("qid", "rank")
    )


QUERIES["q240_hard_negatives"] = q240_hard_negatives


def _q240_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        quantize_q6_py,
        sql_dot,
        sql_lit_list,
        sql_norm,
    )
    from ai_data_pipeline_spark.plans import pipeline_queries as P
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q27_QUERY_VECS

    rng = f"range(1, {EMBED_DIM + 1})"
    d6 = f"list_sum(list_transform({rng}, i -> (q.q6[i] - s.s6[i]) * (q.q6[i] - s.s6[i])))"
    qvals = ", ".join(
        f"({i}, {sql_lit_list(v)}, {quantize_q6_py(v)})"
        for i, v in enumerate(Q27_QUERY_VECS)
    )
    cos = (
        f"({sql_dot('e.embedding', 'c2.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('e.embedding', EMBED_DIM)}) * ({sql_norm('c2.qvec', EMBED_DIM)}))"
    )
    bf = P.ORACLE["q27_cosine_topk"]
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
    ), probes AS MATERIALIZED (
        SELECT qid, qvec, seed_id FROM (
            SELECT q.qid, q.qvec, s.seed_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                                      ORDER BY {d6}, s.seed_id) AS rk
            FROM queries q CROSS JOIN seeds s)
        WHERE rk <= {_Q240_NPROBE}
    ), cand AS MATERIALIZED (
        SELECT c2.qid, e.vec_id, {cos} AS sim
        FROM embeddings e
        JOIN cells ON cells.vec_id = e.vec_id
        JOIN probes c2 ON cells.cell = c2.seed_id
    ), bf AS MATERIALIZED (
        SELECT qid, vec_id FROM ({bf}) t
    ), negs AS (
        SELECT c.qid, c.vec_id, c.sim
        FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM bf WHERE bf.qid = c.qid AND bf.vec_id = c.vec_id)
    )
    SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM (
        SELECT qid, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM negs)
    WHERE rank <= {_Q240_K}
    ORDER BY qid, rank
    """


ORACLE["q240_hard_negatives"] = _q240_oracle()


# ---------------------------------------------------------------------------
# Q241 — content-defined chunking (CDC) dedup audit: the LBFS /
# FastCDC boundary trick (Muthitacharoen et al. 2001; Xia et al.
# 2016) at token granularity — chunk boundaries are declared where a
# rolling-window fingerprint hits a modulus, so boundaries move WITH
# the content and an insertion only perturbs its own chunk (the
# property fixed-size blocks lack, and why storage dedup and
# cross-snapshot corpus dedup both use CDC). Deterministic,
# engine-exact form: the rolling fingerprint at token idx IS the
# 60-bit md5 hash of the 4-gram ending at idx (a fixed window IS a
# rolling hash — no Rabin recurrence needed for exactness); idx is a
# boundary iff hash % 16 = 0 (expected chunk ≈ 16 tokens);
# chunk_id = exclusive prefix count of boundaries (per-DOC window —
# bounded partitions, never a corpus window); chunk content rejoins
# and hashes, and the audit reports, per chunk-length band, distinct
# vs duplicate chunk occurrences and the duplicate token mass —
# dup_rate is one IEEE division of exact BIGINTs. Scale: two narrow
# per-doc passes + one chunk-hash agg; all keys are 8-byte hashes;
# no pairs anywhere (dedup accounting is GROUP BY chunk hash).
# ---------------------------------------------------------------------------

_Q241_W = 4      # rolling-window width (tokens)
_Q241_MOD = 16   # boundary modulus -> expected chunk ~16 tokens


def q241_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import word_ngrams, ws_tokens
    from ai_data_pipeline_spark.operators.dedup import md5_hash60

    docs = spread(_t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("idx", "tok")
    )
    bpos = (
        docs.select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("text"), _Q241_W)).alias("p", "gram"),
        )
        .filter(F.pmod(md5_hash60(F.col("gram")), F.lit(_Q241_MOD)) == 0)
        .select("doc_id", (F.col("p") + _Q241_W - 1).alias("idx"), F.lit(1).alias("is_b"))
    )
    w_excl = (
        Window.partitionBy("doc_id")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toks.join(bpos, ["doc_id", "idx"], "left").withColumn(
        "chunk_id", F.coalesce(F.sum("is_b").over(w_excl), F.lit(0))
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("content"),
        F.count(F.lit(1)).cast("long").alias("n_tok"),
    )
    per_hash = (
        chunks.select(md5_hash60(F.col("content")).alias("chash"), "n_tok")
        .groupBy("chash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("occ"),
            F.max("n_tok").cast("long").alias("n_tok"),
        )
    )
    return (
        per_hash.withColumn("band", F.expr("n_tok div 8"))
        .groupBy("band")
        .agg(
            F.sum("occ").cast("long").alias("n_occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.col("occ") - 1).cast("long").alias("n_dup_occurrences"),
            F.sum(F.col("occ") * F.col("n_tok")).cast("long").alias("tok_mass"),
            F.sum((F.col("occ") - 1) * F.col("n_tok")).cast("long").alias("dup_tok_mass"),
        )
        .withColumn(
            "dup_rate",
            F.col("dup_tok_mass").cast("double") / F.col("tok_mass").cast("double"),
        )
        .orderBy("band")
    )


QUERIES["q241_cdc_chunk_dedup"] = q241_cdc_chunk_dedup


def _q241_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    ws = sql_word_ngrams("text", 1)
    grams = sql_word_ngrams("text", _Q241_W)
    h = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
    return f"""
    WITH toks AS (
        SELECT doc_id, generate_subscripts(ws, 1) - 1 AS idx, unnest(ws) AS tok
        FROM (SELECT doc_id, {ws} AS ws FROM documents)
    ), bpos AS (
        SELECT doc_id, p + {_Q241_W - 1} AS idx, 1 AS is_b FROM (
            SELECT doc_id, generate_subscripts(gs, 1) - 1 AS p, unnest(gs) AS gram
            FROM (SELECT doc_id, {grams} AS gs FROM documents))
        WHERE {h.format(x='gram')} % {_Q241_MOD} = 0
    ), chunked AS (
        SELECT t.doc_id, t.idx, t.tok,
               COALESCE(SUM(b.is_b) OVER (PARTITION BY t.doc_id ORDER BY t.idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        FROM toks t LEFT JOIN bpos b ON b.doc_id = t.doc_id AND b.idx = t.idx
    ), chunks AS (
        SELECT doc_id, chunk_id,
               string_agg(tok, ' ' ORDER BY idx) AS content,
               CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM chunked GROUP BY doc_id, chunk_id
    ), per_hash AS (
        SELECT {h.format(x='content')} AS chash,
               CAST(COUNT(*) AS BIGINT) AS occ,
               CAST(MAX(n_tok) AS BIGINT) AS n_tok
        FROM chunks GROUP BY 1
    )
    SELECT CAST(n_tok // 8 AS BIGINT) AS band,
           CAST(SUM(occ) AS BIGINT) AS n_occurrences,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(occ - 1) AS BIGINT) AS n_dup_occurrences,
           CAST(SUM(occ * n_tok) AS BIGINT) AS tok_mass,
           CAST(SUM((occ - 1) * n_tok) AS BIGINT) AS dup_tok_mass,
           CAST(SUM((occ - 1) * n_tok) AS DOUBLE)
             / CAST(SUM(occ * n_tok) AS DOUBLE) AS dup_rate
    FROM per_hash GROUP BY band ORDER BY band
    """


ORACLE["q241_cdc_chunk_dedup"] = _q241_oracle()


# ---------------------------------------------------------------------------
# Q242 — DSIR-style importance scoring (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling" — the
# hashed-ngram data-selection pass): features are word unigrams +
# bigrams hashed into 8192 buckets (DSIR's recipe); the target
# distribution is the held-out split (source = src0, q56/q238's
# convention), raw is the rest; each corpus doc scores
# Σ_features λ(bucket) with λ = the LOG2-QUANTIZED likelihood ratio
# lb(c_target+1) − lb(c_raw+1) — the q103 integer CASE-ladder trick
# that replaces DSIR's float log-probs with exact BIGINTs both
# engines agree on bit-for-bit (the quantization is the documented
# trade: scores are rank-preserving at log2 granularity; add-one
# smoothing mirrors DSIR's). DSIR's per-distribution normalization
# (log p needs ÷ total mass) enters as the CONSTANT per-feature
# shift lb(T_raw+1) − lb(T_target+1), applied as score + n_feats ×
# shift — without it every λ is biased by the raw:target corpus size
# ratio and "selected" degenerates to zero. Graded per source: docs,
# docs selected (normalized score > 0 — more target-like than raw-
# like), total and mean normalized score (one IEEE division of exact
# BIGINTs, possibly negative — exactness is what makes that safe).
# Scale: one feature explode (linear gram mass), two 8192-row count
# aggs, λ broadcasts (≤ 8192 rows at ANY corpus size), one per-doc
# sum — no pairs, no corpus-wide window.
# ---------------------------------------------------------------------------

_Q242_BUCKETS = 8192
_Q242_T_RAW = "(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) + 1)"
_Q242_T_TGT = "(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) + 1)"


def q242_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.buckets import log2_bucket_case as lb
    from ai_data_pipeline_spark.functions.text import word_ngrams
    from ai_data_pipeline_spark.operators.dedup import md5_hash60

    docs = spread(_t(spark, sf_dir, "documents"))
    # ONE scan/explode for both feature orders (a union of two explode
    # branches re-reads the docs per consumer — this frame has three)
    feats = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.concat(word_ngrams(F.col("text"), 1), word_ngrams(F.col("text"), 2))
        ).alias("gram"),
    ).select(
        "doc_id",
        "source",
        F.pmod(md5_hash60(F.col("gram")), F.lit(_Q242_BUCKETS)).alias("b"),
    )
    c_t = (
        feats.filter(F.col("source") == "src0")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    c_r = (
        feats.filter(F.col("source") != "src0")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    lam = (
        c_t.join(c_r, "b", "full")
        .select(
            "b",
            (
                lb(F.coalesce(F.col("ct"), F.lit(0)) + 1)
                - lb(F.coalesce(F.col("cr"), F.lit(0)) + 1)
            ).alias("lam"),
        )
    )
    # normalization constant: lb(T_raw+1) − lb(T_target+1), exact ints
    shift = (
        feats.agg(
            F.sum((F.col("source") == "src0").cast("long")).alias("tt"),
            F.sum((F.col("source") != "src0").cast("long")).alias("tr"),
        ).select(
            (lb(F.col("tr") + 1) - lb(F.col("tt") + 1)).alias("shift")
        )
    )
    scores = (
        feats.filter(F.col("source") != "src0")
        .join(F.broadcast(lam), "b")
        .groupBy("source", "doc_id")
        .agg(
            F.sum("lam").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("nf"),
        )
        .crossJoin(F.broadcast(shift))
        .select(
            "source",
            (F.col("s") + F.col("nf") * F.col("shift")).alias("s2"),
        )
    )
    return (
        scores.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("s2") > 0).cast("int")).cast("long").alias("n_selected"),
            F.sum("s2").cast("long").alias("sum_score"),
        )
        .withColumn(
            "mean_score",
            F.col("sum_score").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q242_dsir_importance"] = q242_dsir_importance


def _q242_oracle() -> str:
    from ai_data_pipeline_spark.functions.buckets import sql_log2_bucket_case as slb
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    uni = sql_word_ngrams("text", 1)
    bi = sql_word_ngrams("text", 2)
    h = "(('0x' || substr(md5(gram), 1, 15))::BIGINT)"
    return f"""
    WITH feats AS MATERIALIZED (
        SELECT doc_id, source, {h} % {_Q242_BUCKETS} AS b FROM (
            SELECT doc_id, source, unnest(list_concat({uni}, {bi})) AS gram
            FROM documents)
    ), lam AS MATERIALIZED (
        SELECT COALESCE(t.b, r.b) AS b,
               {slb('(COALESCE(t.ct, 0) + 1)')}
                 - {slb('(COALESCE(r.cr, 0) + 1)')} AS lam
        FROM (SELECT b, COUNT(*) AS ct FROM feats
              WHERE source = 'src0' GROUP BY b) t
        FULL OUTER JOIN
             (SELECT b, COUNT(*) AS cr FROM feats
              WHERE source <> 'src0' GROUP BY b) r
          ON t.b = r.b
    ), shift AS (
        SELECT {slb(_Q242_T_RAW)} - {slb(_Q242_T_TGT)} AS shift
        FROM feats
    ), scores AS (
        SELECT f.source, f.doc_id,
               CAST(SUM(l.lam) + COUNT(*) * (SELECT shift FROM shift)
                    AS BIGINT) AS s2
        FROM feats f JOIN lam l USING (b)
        WHERE f.source <> 'src0'
        GROUP BY f.source, f.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(SUM(s2) AS BIGINT) AS sum_score,
           CAST(SUM(s2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_score
    FROM scores GROUP BY source ORDER BY source
    """


ORACLE["q242_dsir_importance"] = _q242_oracle()


# ---------------------------------------------------------------------------
# Q243 — longest duplicated-substring audit (the distribution view of
# what q222/q146 REMOVE): for every doc, the longest token span whose
# every 8-gram already occurred earlier in the corpus — i.e. the
# longest run of consecutive duplicated-gram positions, + n−1 tokens.
# Suffix arrays answer this exactly per pair; the gram-run form is
# the shuffle-friendly corpus-order equivalent (a duplicated
# substring of length L duplicates all its L−n+1 n-grams, so run
# length r ⇒ span length r+n−1). Machinery: q222's global
# first-occurrence window on the 8-byte gram hash marks non-first
# occurrences; per doc, consecutive dup positions group by the
# gaps-and-islands key p − row_number() (both engines order by the
# unique p); per-source audit: docs with any duplicated span, the
# longest span, and the mean longest-span over affected docs (one
# IEEE division of exact BIGINTs). Scale: q222's law — the only
# corpus-sized shuffles are the gram-hash window and the per-DOC
# islands window (bounded partitions); everything after is ≤ one row
# per dup position.
# ---------------------------------------------------------------------------

_Q243_N = 8


def q243_longest_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import word_ngrams

    docs = spread(_t(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id",
        "source",
        F.posexplode(word_ngrams(F.col("text"), _Q243_N)).alias("p", "gram"),
    ).select("doc_id", "source", "p", F.xxhash64("gram").alias("gh"))
    w_first = Window.partitionBy("gh")
    occ = F.struct(F.col("doc_id"), F.col("p"))
    dups = grams.withColumn("first_occ", F.min(occ).over(w_first)).filter(
        occ != F.col("first_occ")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("p")
    runs = (
        dups.withColumn("k", F.col("p") - F.row_number().over(w_doc))
        .groupBy("doc_id", "source", "k")
        .agg((F.count(F.lit(1)) + _Q243_N - 1).cast("long").alias("span_len"))
    )
    per_doc = runs.groupBy("doc_id", "source").agg(
        F.max("span_len").cast("long").alias("longest")
    )
    n_docs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        n_docs.join(
            per_doc.groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_docs_with_dup"),
                F.max("longest").cast("long").alias("max_span"),
                F.sum("longest").cast("long").alias("sum_longest"),
            ),
            "source",
            "left",
        )
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_docs_with_dup"), F.lit(0))
            .cast("long")
            .alias("n_docs_with_dup"),
            F.coalesce(F.col("max_span"), F.lit(0)).cast("long").alias("max_span"),
            F.when(
                F.col("n_docs_with_dup") > 0,
                F.col("sum_longest").cast("double")
                / F.col("n_docs_with_dup").cast("double"),
            ).alias("mean_longest"),
        )
        .orderBy("source")
    )


QUERIES["q243_longest_dup_span"] = q243_longest_dup_span


def _q243_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q243_N)
    return f"""
    WITH g0 AS (
        SELECT doc_id, source, {grams} AS gs FROM documents
    ), grams AS (
        SELECT doc_id, source, generate_subscripts(gs, 1) - 1 AS p,
               unnest(gs) AS gram
        FROM g0
    ), dups AS (
        SELECT doc_id, source, p FROM (
            SELECT doc_id, source, p,
                   ROW_NUMBER() OVER (PARTITION BY gram
                                      ORDER BY doc_id, p) AS rn
            FROM grams)
        WHERE rn > 1
    ), runs AS (
        SELECT doc_id, source,
               CAST(COUNT(*) + {_Q243_N - 1} AS BIGINT) AS span_len
        FROM (
            SELECT doc_id, source, p,
                   p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS k
            FROM dups)
        GROUP BY doc_id, source, k
    ), per_doc AS (
        SELECT doc_id, source, CAST(MAX(span_len) AS BIGINT) AS longest
        FROM runs GROUP BY doc_id, source
    ), agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs_with_dup,
               CAST(MAX(longest) AS BIGINT) AS max_span,
               CAST(SUM(longest) AS BIGINT) AS sum_longest
        FROM per_doc GROUP BY source
    )
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(a.n_docs_with_dup, 0) AS BIGINT) AS n_docs_with_dup,
           CAST(COALESCE(a.max_span, 0) AS BIGINT) AS max_span,
           CASE WHEN a.n_docs_with_dup > 0
                THEN CAST(a.sum_longest AS DOUBLE)
                       / CAST(a.n_docs_with_dup AS DOUBLE) END AS mean_longest
    FROM documents d LEFT JOIN agg a ON a.source = d.source
    GROUP BY d.source, a.n_docs_with_dup, a.max_span, a.sum_longest
    ORDER BY d.source
    """


ORACLE["q243_longest_dup_span"] = _q243_oracle()


# ---------------------------------------------------------------------------
# Q244 — merge-vocabulary truncation curve (the tokenizer-design
# sweep behind every BPE vocab-size choice — SentencePiece/BPE teams
# pick |V| by exactly this curve; q218 grades ONE merge round, this
# row grades coverage vs vocabulary SIZE): rank bigram types by
# corpus frequency (ties → lexicographic, both engines), and for
# each candidate vocab size K ∈ {64, 256, 1024} report the kept
# types and the share of total bigram mass the top-K covers — one
# IEEE division of exact BIGINTs. The ranking window runs over TYPES
# (vocab), not tokens: two-phase partial agg collapses the corpus to
# the type table first, and type count grows ~Heaps-sublinearly, so
# the single-task rank over it is metadata-sized at any corpus scale
# (same justification as q54's top-30; for vocabularies too big for
# one task, pre-bucket by the q103 log2-frequency ladder and rank
# within bands). Scale: one explode + two-phase agg + a vocab-sized
# window + a 3-row sweep join.
# ---------------------------------------------------------------------------

_Q244_KS = [64, 256, 1024]


def q244_vocab_truncation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import word_ngrams

    docs = spread(_t(spark, sf_dir, "documents"))
    types = (
        docs.select(
            F.explode(word_ngrams(F.lower(F.col("text")), 2)).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    ranked = types.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("gram"))),
    )
    ks = spark.createDataFrame([(k,) for k in _Q244_KS], "k long")
    total = types.agg(F.sum("tf").cast("long").alias("total_mass"))
    return (
        ranked.crossJoin(F.broadcast(ks))
        .filter(F.col("rk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types_kept"),
            F.sum("tf").cast("long").alias("covered_mass"),
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "coverage",
            F.col("covered_mass").cast("double") / F.col("total_mass").cast("double"),
        )
        .orderBy("k")
    )


QUERIES["q244_vocab_truncation_curve"] = q244_vocab_truncation_curve


def _q244_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("lower(text)", 2)
    ks = ", ".join(f"({k})" for k in _Q244_KS)
    return f"""
    WITH types AS MATERIALIZED (
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS tf FROM (
            SELECT unnest({grams}) AS gram FROM documents)
        GROUP BY gram
    ), ranked AS (
        SELECT gram, tf,
               ROW_NUMBER() OVER (ORDER BY tf DESC, gram) AS rk
        FROM types
    ), total AS (
        SELECT CAST(SUM(tf) AS BIGINT) AS total_mass FROM types
    )
    SELECT k.k,
           CAST(COUNT(*) AS BIGINT) AS n_types_kept,
           CAST(SUM(r.tf) AS BIGINT) AS covered_mass,
           (SELECT total_mass FROM total) AS total_mass,
           CAST(SUM(r.tf) AS DOUBLE)
             / CAST((SELECT total_mass FROM total) AS DOUBLE) AS coverage
    FROM (VALUES {ks}) AS k(k)
    JOIN ranked r ON r.rk <= k.k
    GROUP BY k.k ORDER BY k.k
    """


ORACLE["q244_vocab_truncation_curve"] = _q244_oracle()


# ---------------------------------------------------------------------------
# Q245 — embedding-space benchmark decontamination (the SEMANTIC
# twin of q238's token-space pass — modern release pipelines run
# both: paraphrased eval leakage survives 13-gram matching but not a
# cosine screen): a held-out benchmark split (vec_id ≡ 0 mod 50 —
# the q100 hash-split convention at the vector table) is screened
# against the corpus (the rest); a benchmark item is CONTAMINATED at
# threshold τ iff its nearest corpus vector by cosine reaches τ.
# Graded as a τ ladder (0.35 / 0.40 / 0.45 — chosen to straddle this
# corpus's measured NN-cosine range 0.356–0.453, so the curve moves)
# with per-τ flag counts and rate (one IEEE division of exact
# BIGINTs). Cosine parity: both engines evaluate the identical LTR
# dot/norm/divide tree on per-element-cast doubles; per-item MAX of
# bit-identical doubles is policy-safe; τ literals enter DuckDB as
# '0.35'::DOUBLE string parses (the DECIMAL-literal rule). Scale:
# the benchmark side is corpus-tiny by construction and BROADCASTS;
# the corpus is scanned once, never shuffled on content (q56's
# shape); per-item max is a hash agg keyed by the benchmark id. At
# production scale the corpus side swaps in the q233 IVF probe to
# prune the scan — this row grades the exact contract.
# ---------------------------------------------------------------------------

_Q245_SPLIT = 50
_Q245_TAUS = ["0.35", "0.40", "0.45"]


def q245_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import cosine

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.pmod(F.col("vec_id"), F.lit(_Q245_SPLIT)) == 0).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bvec")
    )
    corpus = emb.filter(F.pmod(F.col("vec_id"), F.lit(_Q245_SPLIT)) != 0)
    best = (
        corpus.crossJoin(F.broadcast(bench))
        .select("bid", cosine(F.col("embedding"), F.col("bvec")).alias("sim"))
        .groupBy("bid")
        .agg(F.max("sim").alias("best"))
    )
    taus = spark.createDataFrame(
        [(float(t),) for t in _Q245_TAUS], "tau double"
    )
    return (
        best.crossJoin(F.broadcast(taus))
        .groupBy("tau")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench"),
            F.sum((F.col("best") >= F.col("tau")).cast("int"))
            .cast("long")
            .alias("n_flagged"),
        )
        .withColumn(
            "flag_rate",
            F.col("n_flagged").cast("double") / F.col("n_bench").cast("double"),
        )
        .orderBy("tau")
    )


QUERIES["q245_embedding_decontamination"] = q245_embedding_decontamination


def _q245_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import sql_dot, sql_norm
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM

    cos = (
        f"({sql_dot('c.embedding', 'b.embedding', EMBED_DIM)}) / "
        f"(({sql_norm('c.embedding', EMBED_DIM)}) * ({sql_norm('b.embedding', EMBED_DIM)}))"
    )
    taus = ", ".join(f"('{t}'::DOUBLE)" for t in _Q245_TAUS)
    return f"""
    WITH bench AS (
        SELECT vec_id AS bid, embedding FROM embeddings
        WHERE vec_id % {_Q245_SPLIT} = 0
    ), best AS MATERIALIZED (
        SELECT b.bid, MAX({cos}) AS best
        FROM embeddings c JOIN bench b ON true
        WHERE c.vec_id % {_Q245_SPLIT} <> 0
        GROUP BY b.bid
    )
    SELECT t.tau,
           CAST(COUNT(*) AS BIGINT) AS n_bench,
           CAST(SUM(CASE WHEN best >= t.tau THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(SUM(CASE WHEN best >= t.tau THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS flag_rate
    FROM best CROSS JOIN (VALUES {taus}) AS t(tau)
    GROUP BY t.tau ORDER BY t.tau
    """


ORACLE["q245_embedding_decontamination"] = _q245_oracle()


# ---------------------------------------------------------------------------
# Q246 — padding-waste audit for fixed-size batch assembly (the
# length-sorted batching trade every training-data loader measures:
# batches pad to their longest member, so grouping similar lengths
# — bucketed/sorted batching — cuts padded-token waste vs arrival
# order; this row QUANTIFIES the win on this corpus): batch size 8,
# two strategies over the same docs — 'hash' (q205's deterministic
# interleave order: the arrival-order baseline) and 'sorted'
# (n_tok DESC, doc_id). Global rank WITHOUT a corpus single-task
# window: distributed_prefix_sum of 1s, whose monotone bucket is the
# leading order key's band (ord_key div step for hash, (CAP − n_tok)
# div 8 for sorted — CAP = 128 > max n_tok keeps the key ≥ 0 and
# ascending = length descending). batch = (rank − 1) div 8; per
# batch padded mass = n·max(n_tok); waste_rate = (padded − real) /
# padded, one IEEE division of exact BIGINTs. Scale: q205's two-pass
# prefix-sum law twice + two 8-row-per-batch aggs.
# ---------------------------------------------------------------------------

_Q246_B = 8
_Q246_CAP = 128  # > max doc n_tok on this corpus (measured max 99)


def q246_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_bpe_ish
    from ai_data_pipeline_spark.operators.curation import distributed_prefix_sum

    docs = _t(spark, sf_dir, "documents")
    step = 1_000_003 // 64 + 1
    base = docs.select(
        "doc_id",
        token_count_bpe_ish(F.col("text")).alias("n_tok"),
        F.expr("((doc_id % 1000003) * 2654435761) % 1000003").alias("ord_key"),
        # 'sorted' order key: ascending = longest first, clamped ≥ 0
        # (docs beyond CAP all tie at 0 = "longest", doc_id breaks the
        # tie) so its div-8 band stays a valid monotone prefix-sum
        # bucket at any corpus
        F.greatest(
            F.lit(_Q246_CAP) - token_count_bpe_ish(F.col("text")),
            F.lit(0).cast("long"),
        ).alias("neg_tok"),
    )

    def strategy(name: str, order_cols: list, bucket_expr: str) -> DataFrame:
        b = base.withColumn("bucket", F.expr(bucket_expr)).withColumn(
            "one", F.lit(1).cast("long")
        )
        cum = distributed_prefix_sum(b, "bucket", order_cols, "one", out_col="rank")
        per_batch = (
            cum.select(F.expr(f"(rank - 1) div {_Q246_B}").alias("batch"), "n_tok")
            .groupBy("batch")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.max("n_tok").cast("long").alias("mx"),
                F.sum("n_tok").cast("long").alias("real"),
            )
        )
        return per_batch.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("real").cast("long").alias("real_mass"),
            F.sum(F.col("n") * F.col("mx")).cast("long").alias("padded_mass"),
        )

    hsh = strategy("hash", ["ord_key", "doc_id"], f"ord_key div {step}")
    srt = strategy("sorted", ["neg_tok", "doc_id"], "neg_tok div 8")
    return (
        hsh.unionAll(srt)
        .withColumn(
            "waste_rate",
            (F.col("padded_mass") - F.col("real_mass")).cast("double")
            / F.col("padded_mass").cast("double"),
        )
        .orderBy("strategy")
    )


QUERIES["q246_padding_waste"] = q246_padding_waste


def _q246_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import BPE_ISH_PATTERN

    return f"""
    WITH base AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_tok,
               ((doc_id % 1000003) * 2654435761) % 1000003 AS ord_key
        FROM documents
    ), ranked AS (
        SELECT n_tok, 'hash' AS strategy,
               ROW_NUMBER() OVER (ORDER BY ord_key, doc_id) AS rank
        FROM base
        UNION ALL
        SELECT n_tok, 'sorted' AS strategy,
               ROW_NUMBER() OVER (ORDER BY greatest({_Q246_CAP} - n_tok, 0),
                                  doc_id) AS rank
        FROM base
    ), per_batch AS (
        SELECT strategy, (rank - 1) // {_Q246_B} AS batch,
               COUNT(*) AS n, MAX(n_tok) AS mx, SUM(n_tok) AS real
        FROM ranked GROUP BY strategy, batch
    )
    SELECT strategy,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(real) AS BIGINT) AS real_mass,
           CAST(SUM(n * mx) AS BIGINT) AS padded_mass,
           CAST(SUM(n * mx) - SUM(real) AS DOUBLE)
             / CAST(SUM(n * mx) AS DOUBLE) AS waste_rate
    FROM per_batch GROUP BY strategy ORDER BY strategy
    """


ORACLE["q246_padding_waste"] = _q246_oracle()


# ---------------------------------------------------------------------------
# Q247 — two-level coarse-quantizer IVF assignment audit (the 100 TB
# constant-changer q223's docstring promises: "at true 100 TB the
# flat seed scan becomes a coarse-quantizer tree, which changes the
# assignment CONSTANT, not the Σ|cell|² law" — this row GRADES that
# tree against the flat scan instead of asserting it): supers are
# every 4th stride seed (vec_id ≡ 0 mod 256); each seed routes to
# its nearest super (exact q6 argmin, ties → lowest id); a vector
# assigns by (1) nearest super, (2) argmin over only that super's
# seed group. The audit reports, per super-cell: seeds in the group,
# vectors routed there, how many agree with the FLAT argmin over all
# seeds, and the agreement rate (one IEEE division of exact
# BIGINTs) — tree assignment is a lossy pruning (the true nearest
# seed can live under a different super), and the disagreement rate
# is exactly the price the tree pays for cutting per-vector work
# from K to S + K/S comparisons. All decisions exact int64
# (q106/q131 discipline). Scale: three count-gated kernel/broadcast
# assignment passes + one grouped argmin whose candidate mass is
# Σ_sup |vecs(sup)|·|seeds(sup)| ≈ N·K/S — the tree's own cost
# model, visible in the plan.
# ---------------------------------------------------------------------------

_Q247_SUPER_STRIDE = 256  # every 4th stride-64 seed


def q247_ivf_tree_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import quantize_q6

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    seeds = base.filter(F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0).select(
        F.col("vec_id").alias("seed_id"), F.col("v6").alias("s6")
    )
    supers = seeds.filter(
        F.pmod(F.col("seed_id"), F.lit(_Q247_SUPER_STRIDE)) == 0
    ).select(F.col("seed_id").alias("super_id"), F.col("s6").alias("p6"))

    # seed -> super routing (K rows) and vector -> super routing
    seed_sup = _assign_exact_q6(
        seeds.select(F.col("seed_id").alias("vec_id"), F.col("s6").alias("v6")),
        supers.select(F.col("super_id").alias("seed_id"), F.col("p6").alias("s6")),
    ).select(F.col("vec_id").alias("seed_id"), F.col("cell").alias("super_id"))
    vec_sup = _assign_exact_q6(
        base,
        supers.select(F.col("super_id").alias("seed_id"), F.col("p6").alias("s6")),
    ).select("vec_id", F.col("cell").alias("super_id"))

    # tree assignment: argmin over ONLY the routed super's seed group
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
        .select("vec_id", "super_id", F.col("m.c").alias("tree_cell"))
    )
    flat = _assign_exact_q6(base, seeds).select(
        "vec_id", F.col("cell").alias("flat_cell")
    )
    joined = tree.join(flat, "vec_id")
    sizes = seed_sup.groupBy("super_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_seeds")
    )
    return (
        joined.groupBy("super_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum((F.col("tree_cell") == F.col("flat_cell")).cast("int"))
            .cast("long")
            .alias("n_agree"),
        )
        .join(sizes, "super_id")
        .select(
            F.col("super_id").cast("long").alias("super_id"),
            "n_seeds",
            "n_vecs",
            "n_agree",
            (F.col("n_agree").cast("double") / F.col("n_vecs").cast("double")).alias(
                "agree_rate"
            ),
        )
        .orderBy("super_id")
    )


QUERIES["q247_ivf_tree_assign"] = q247_ivf_tree_assign


def _q247_oracle() -> str:
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM

    rng = f"range(1, {EMBED_DIM + 1})"

    def d(a: str, av: str, b: str, bv: str) -> str:
        return (
            f"list_sum(list_transform({rng}, "
            f"i -> ({a}.{av}[i] - {b}.{bv}[i]) * ({a}.{av}[i] - {b}.{bv}[i])))"
        )

    return f"""
    WITH q6 AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v6
        FROM embeddings
    ), seeds AS MATERIALIZED (
        SELECT vec_id AS seed_id, v6 AS s6 FROM q6
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
            FROM q6 v CROSS JOIN supers p)
        WHERE rn = 1
    ), tree AS MATERIALIZED (
        SELECT vec_id, super_id, tree_cell FROM (
            SELECT v.vec_id, vs.super_id, s.seed_id AS tree_cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {d('v', 'v6', 's', 's6')}, s.seed_id) AS rn
            FROM q6 v
            JOIN vec_sup vs ON vs.vec_id = v.vec_id
            JOIN seed_sup ss ON ss.super_id = vs.super_id
            JOIN seeds s ON s.seed_id = ss.seed_id)
        WHERE rn = 1
    ), flat AS MATERIALIZED (
        SELECT vec_id, flat_cell FROM (
            SELECT v.vec_id, s.seed_id AS flat_cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {d('v', 'v6', 's', 's6')}, s.seed_id) AS rn
            FROM q6 v CROSS JOIN seeds s)
        WHERE rn = 1
    ), sizes AS (
        SELECT super_id, CAST(COUNT(*) AS BIGINT) AS n_seeds
        FROM seed_sup GROUP BY super_id
    )
    SELECT CAST(t.super_id AS BIGINT) AS super_id,
           z.n_seeds,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN t.tree_cell = f.flat_cell THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN t.tree_cell = f.flat_cell THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS agree_rate
    FROM tree t
    JOIN flat f ON f.vec_id = t.vec_id
    JOIN sizes z ON z.super_id = t.super_id
    GROUP BY t.super_id, z.n_seeds
    ORDER BY super_id
    """


ORACLE["q247_ivf_tree_assign"] = _q247_oracle()


# ---------------------------------------------------------------------------
# Q248 — the 13-gram decontamination gate AT INGEST (q238's policy
# through the micro-batch engine, q234's stateless-admission shape —
# the form a release pipeline actually deploys: the benchmark gram
# set is computed ONCE offline and broadcast into the stream; every
# arriving doc is admitted iff NONE of its 13-grams hits the set —
# doc-level rejection in-flight; the span-level rewrite q238 grades
# stays an offline pass). Implementation: the static side aggregates
# the DISTINCT benchmark gram hashes into ONE array row; the stream
# side computes each doc's gram-hash array as a pure expression and
# gates on arrays_overlap after a stream-static broadcast join on a
# constant key — stateless, no watermark, no state store, exactly-
# once by construction. Benchmark docs themselves self-hit and show
# as fully rejected (the built-in sanity row). Scale: the gram set
# is benchmark-sized (corpus-tiny) and broadcasts; per-doc work is
# one hash-array build + one overlap probe at the scan. Oracle: the
# same admission computed batch-side in DuckDB (raw grams — the
# 64-bit hash-collision asymmetry can only cause an extra rejection,
# q222/q238's documented contract).
# ---------------------------------------------------------------------------


def q248_streaming_decontamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from ai_data_pipeline_spark.functions.text import token_count_ws, word_ngrams
    from ai_data_pipeline_spark.plans.pipeline_queries import _drain_memory_sink

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench_arr = (
        # unspread DELIBERATELY (r13 probe): the src0 slice is ~5% of
        # the corpus — the spread shuffle measured ≥ the serialized
        # gram pass it parallelizes (2.08 both forms, worse cold)
        static.filter(F.col("source") == "src0")
        .select(F.explode(word_ngrams(F.col("text"), _Q238_N)).alias("gram"))
        .agg(F.collect_set(F.xxhash64("gram")).alias("bench_ghs"))
        .withColumn("j", F.lit(1))
    )

    raw = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    raw = raw.repartition(spark.sparkContext.defaultParallelism)
    doc_ghs = F.transform(
        word_ngrams(F.col("text"), _Q238_N), lambda g: F.xxhash64(g)
    )
    gated = (
        raw.select(
            "source",
            token_count_ws(F.col("text")).alias("n_tok"),
            doc_ghs.alias("ghs"),
            F.lit(1).alias("j"),
        )
        .join(F.broadcast(bench_arr), "j")  # stream-static broadcast join
        .withColumn(
            "admit",
            (~F.arrays_overlap(F.col("ghs"), F.col("bench_ghs"))).cast("int"),
        )
    )
    name = f"q248_{_uuid.uuid4().hex[:8]}"
    q = (
        gated.select("source", "n_tok", "admit")
        .writeStream.format("memory")
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
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seen"),
            F.sum("admit").cast("long").alias("n_admitted"),
            F.sum(F.when(F.col("admit") == 1, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_admitted"),
        )
        .withColumn(
            "admit_rate",
            F.col("n_admitted").cast("double") / F.col("n_seen").cast("double"),
        )
    )
    return _drain_memory_sink(agg, name).orderBy("source")


QUERIES["q248_streaming_decontamination_gate"] = q248_streaming_decontamination_gate


def _q248_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    grams = sql_word_ngrams("text", _Q238_N)
    return f"""
    WITH bench AS MATERIALIZED (
        SELECT DISTINCT unnest({grams}) AS gram
        FROM documents WHERE source = 'src0'
    ), hits AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest({grams}) AS gram FROM documents) t
        JOIN bench USING (gram)
    ), per_doc AS (
        SELECT d.doc_id, d.source, len({toks}) AS n_tok,
               CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END AS admit
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_seen,
           CAST(SUM(admit) AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN admit = 1 THEN n_tok ELSE 0 END) AS BIGINT)
               AS tokens_admitted,
           CAST(SUM(admit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS admit_rate
    FROM per_doc GROUP BY source ORDER BY source
    """


ORACLE["q248_streaming_decontamination_gate"] = _q248_oracle()


# ---------------------------------------------------------------------------
# Q249 — OPQ-lite dimension allocation audit (the motivation behind
# Optimized Product Quantization, Ge et al. 2013: PQ's subspaces
# should carry BALANCED information; natural dim order can
# concentrate variance in one stripe and waste the others' code
# budgets — OPQ learns a rotation; the deterministic, exact-integer
# variant graded here is variance-balanced dim ALLOCATION: rank dims
# by exact q6 variance numerator N·Σv² − (Σv)² and deal them
# round-robin into the 8 subspaces, snake order, so each stripe gets
# an even variance mix): re-run q235's per-subspace quantization
# (same stride codebook, subvectors gathered through the permutation
# on BOTH the codes and the vectors) and grade total/max error and
# per-stripe error spread (max−min of per-subspace sums) for the
# natural vs balanced layout. Expected read on THIS corpus: the
# synthetic embeddings are near-isotropic (per-dim variance ~equal),
# so allocation is a measured no-op ± rank noise (sf0.01: sum_err
# −0.7%, spread moves WITH the noise) — which is exactly what the
# audit is for: a deployment runs it to learn whether its real
# embedding geometry needs OPQ before paying for a learned rotation.
# All integers exact — the variance numerator reaches ~N²·var
# (~1e21 at the 16× probe, past int64), so it runs in DECIMAL(38,0)
# ≡ DuckDB HUGEINT and is only ever RANKED, never emitted; one row
# per layout. Scale: q235's kernel law twice + one 64-row
# variance agg; the allocation is a 64-int rank mapping the twin
# recomputes from the same exact integers (stripe membership is all
# that matters — within-stripe slot order cannot change a sum).
# ---------------------------------------------------------------------------


def _q249_perm_from_varnum(varnums: list[tuple[int, int]], n_sub: int) -> list[int]:
    """Snake-deal dims (ranked by variance numerator DESC, dim ASC)
    into n_sub stripes; returns perm where perm[s*subdim + j] = the
    source dim at stripe s, slot j. Pure integer ordering — both
    engines' twins recompute the identical list."""
    order = [d for d, _ in sorted(varnums, key=lambda t: (-t[1], t[0]))]
    stripes: list[list[int]] = [[] for _ in range(n_sub)]
    for i, d in enumerate(order):
        r, c = divmod(i, n_sub)
        s = c if r % 2 == 0 else n_sub - 1 - c  # snake
        stripes[s].append(d)
    return [d for stripe in stripes for d in stripe]


def q249_opq_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import quantize_q6
    from ai_data_pipeline_spark.operators.vectorized import pq_assign_q6_np
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM

    S, D, K = _Q235_SUBSPACES, _Q235_SUBDIM, _Q235_CODES
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))

    # exact per-dim variance numerator N·Σv² − (Σv)²  (64 rows).
    # DECIMAL(38,0) end-to-end: N·Σv² reaches ~1e21 at the 16× probe
    # (> 2^63 — the long form overflowed there); decimal38 ≡ DuckDB
    # HUGEINT, both exact integers, and vn is only ever RANKED.
    dec = "decimal(38,0)"
    varnums = (
        base.select(F.posexplode("v6").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(F.col("v").cast(dec)).cast(dec).alias("s1"),
            F.sum((F.col("v") * F.col("v")).cast(dec)).cast(dec).alias("s2"),
        )
        .select(
            "dim",
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("vn"),
        )
        .collect()  # 64 rows by construction; vn is an exact Decimal
    )
    perm = _q249_perm_from_varnum([(r["dim"], r["vn"]) for r in varnums], S)
    natural = list(range(EMBED_DIM))

    code_rows = (
        base.filter(
            (F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0)
            & (F.col("vec_id") < _Q223_STRIDE * K)
        )
        .orderBy("vec_id")
        .collect()
    )
    codes_raw = [list(r["v6"]) for r in code_rows]

    def layout_row(name: str, p: list[int]) -> DataFrame:
        gathered = base.select(
            "vec_id",
            F.array(*[F.col("v6").getItem(i) for i in p]).alias("v6"),
        )
        codes = [[c[i] for i in p] for c in codes_raw]
        per_sub = (
            pq_assign_q6_np(gathered, codes, D)
            .groupBy("subspace")
            .agg(F.sum("err").cast("long").alias("sub_err"), F.max("err").cast("long").alias("mx"))
        )
        return per_sub.agg(
            F.lit(name).alias("layout"),
            F.sum("sub_err").cast("long").alias("sum_err"),
            F.max("mx").cast("long").alias("max_err"),
            (F.max("sub_err") - F.min("sub_err")).cast("long").alias("stripe_spread"),
        )

    return (
        layout_row("balanced", perm)
        .unionAll(layout_row("natural", natural))
        .orderBy("layout")
    )


QUERIES["q249_opq_allocation"] = q249_opq_allocation


def _q249_oracle() -> str:
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM

    S, D, K = _Q235_SUBSPACES, _Q235_SUBDIM, _Q235_CODES
    return f"""
    WITH q6l AS MATERIALIZED (
        SELECT vec_id, t.i - 1 AS dim,
               CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT) AS v
        FROM embeddings, unnest(range(1, {EMBED_DIM + 1})) AS t(i)
    ), varnum AS (
        -- HUGEINT (128-bit): N·Σv² reaches ~1e21 at the 16× probe,
        -- past BIGINT; mirrors the Spark side's DECIMAL(38,0)
        SELECT dim,
               CAST(COUNT(*) AS HUGEINT) * CAST(SUM(v * v) AS HUGEINT)
                 - CAST(SUM(v) AS HUGEINT) * CAST(SUM(v) AS HUGEINT) AS vn
        FROM q6l GROUP BY dim
    ), rankd AS (
        SELECT dim, ROW_NUMBER() OVER (ORDER BY vn DESC, dim) - 1 AS rnk
        FROM varnum
    ), alloc AS MATERIALIZED (
        SELECT 'balanced' AS layout, dim,
               CASE WHEN (rnk // {S}) % 2 = 0 THEN rnk % {S}
                    ELSE {S - 1} - (rnk % {S}) END AS s
        FROM rankd
        UNION ALL
        SELECT 'natural' AS layout, dim, dim // {D} AS s FROM rankd
    ), codesl AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (PARTITION BY dim ORDER BY vec_id) - 1 AS k,
               dim, v AS cv
        FROM q6l
        WHERE vec_id % {_Q223_STRIDE} = 0
          AND vec_id < {_Q223_STRIDE * K}
    ), errs AS MATERIALIZED (
        SELECT a.layout, q.vec_id, a.s, c.k,
               CAST(SUM((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS d
        FROM q6l q
        JOIN alloc a USING (dim)
        JOIN codesl c USING (dim)
        GROUP BY a.layout, q.vec_id, a.s, c.k
    ), best AS (
        SELECT layout, vec_id, s, d FROM (
            SELECT layout, vec_id, s, d,
                   ROW_NUMBER() OVER (PARTITION BY layout, vec_id, s
                                      ORDER BY d, k) AS rn
            FROM errs)
        WHERE rn = 1
    ), per_sub AS (
        SELECT layout, s,
               CAST(SUM(d) AS BIGINT) AS sub_err,
               CAST(MAX(d) AS BIGINT) AS mx
        FROM best GROUP BY layout, s
    )
    SELECT layout,
           CAST(SUM(sub_err) AS BIGINT) AS sum_err,
           CAST(MAX(mx) AS BIGINT) AS max_err,
           CAST(MAX(sub_err) - MIN(sub_err) AS BIGINT) AS stripe_spread
    FROM per_sub GROUP BY layout ORDER BY layout
    """


ORACLE["q249_opq_allocation"] = _q249_oracle()


# ---------------------------------------------------------------------------
# Q250 — cell-partitioned vector store (the STORAGE half of the IVF
# contract q233's docstring asserts: "over a cell-partitioned corpus
# the candidate filter is partition PRUNING"): the corpus is written
# `partitionBy(cell)` (exact-integer assignment, q223's kernel) to a
# store directory, read BACK, pruned to the nprobe=2 probed cells of
# the five fixed queries via a `cell IN (...)` literal filter (the
# probed ids are a ≤ 2·|queries| bounded collect — a partition
# filter must be a literal predicate to prune at planning), and the
# exact cosine top-3 within probed cells is returned WITH sims. The
# graded claim is storage-layout EQUIVALENCE: the partitioned
# round-trip must be value-identical to computing straight from the
# source table (the oracle recomputes it from `embeddings`, never
# touching the store); the pruning itself is pinned by a plan test
# (PartitionFilters on the read-back scan). Scale: the store write
# is one shuffle by cell; the read scans nprobe/K of the data by
# construction — the IVF payoff as an I/O property, not a compute
# one. Store lifecycle rules: sources/store.py.
# ---------------------------------------------------------------------------


def q250_ivf_partitioned_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import (
        cosine,
        quantize_q6,
        quantize_q6_py,
    )
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    seeds = base.filter(F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0).select(
        F.col("vec_id").alias("seed_id"), F.col("v6").alias("s6")
    )
    cells = _assign_exact_q6(base, seeds)
    corpus = emb.select("vec_id", "embedding").join(cells, "vec_id")

    # probed cells per query (exact integer distance, nprobe = 2)
    qrows = [
        (i, [float(x) for x in Q27_QUERY_VECS[i]], quantize_q6_py(Q27_QUERY_VECS[i]))
        for i in range(len(Q27_QUERY_VECS))
    ]
    qdf = spark.createDataFrame(
        qrows, "qid long, qvec array<double>, q6 array<bigint>"
    )
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
        .filter(F.col("rk") <= 2)
        .select("qid", "qvec", "seed_id")
    )
    probe_rows = probes.select("qid", "seed_id").collect()  # ≤ 2·|queries| rows
    probed_cells = sorted({int(r["seed_id"]) for r in probe_rows})

    with TempStore(spark, "q250_", "cell") as st:
        st.write(corpus)
        store = st.read()
        cand = (
            store.filter(F.col("cell").cast("long").isin(probed_cells))
            .join(
                F.broadcast(probes),
                store["cell"].cast("long") == probes["seed_id"],
            )
            .select(
                "qid",
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
            .select("qid", F.col("rk").cast("long").alias("rk"), "vec_id", "sim")
            .orderBy("qid", "rk")
            .collect()
        )
    return spark.createDataFrame(
        top, "qid long, rk long, vec_id long, sim double"
    ).orderBy("qid", "rk")


QUERIES["q250_ivf_partitioned_store"] = q250_ivf_partitioned_store


def _q250_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        quantize_q6_py,
        sql_dot,
        sql_lit_list,
        sql_norm,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q27_QUERY_VECS

    rng = f"range(1, {EMBED_DIM + 1})"
    d6 = f"list_sum(list_transform({rng}, i -> (q.q6[i] - s.s6[i]) * (q.q6[i] - s.s6[i])))"
    qvals = ", ".join(
        f"({i}, {sql_lit_list(v)}, {quantize_q6_py(v)})"
        for i, v in enumerate(Q27_QUERY_VECS)
    )
    cos = (
        f"({sql_dot('e.embedding', 'c2.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('e.embedding', EMBED_DIM)}) * ({sql_norm('c2.qvec', EMBED_DIM)}))"
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
    ), probes AS MATERIALIZED (
        SELECT qid, qvec, seed_id FROM (
            SELECT q.qid, q.qvec, s.seed_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                                      ORDER BY {d6}, s.seed_id) AS rk
            FROM queries q CROSS JOIN seeds s)
        WHERE rk <= 2
    )
    SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, sim FROM (
        SELECT c2.qid, e.vec_id, {cos} AS sim,
               ROW_NUMBER() OVER (PARTITION BY c2.qid
                                  ORDER BY {cos} DESC, e.vec_id) AS rk
        FROM embeddings e
        JOIN cells ON cells.vec_id = e.vec_id
        JOIN probes c2 ON cells.cell = c2.seed_id)
    WHERE rk <= 3
    ORDER BY qid, rk
    """


ORACLE["q250_ivf_partitioned_store"] = _q250_oracle()


# ---------------------------------------------------------------------------
# Q251 — MinHash-LSH banding sweep (q233's recall-vs-cost curve on
# the TEXT side: the (bands × rows) S-curve every MinHash deployment
# tunes before fixing its geometry — Broder banding theory says
# P[candidate] = 1 − (1 − j^r)^b, so more bands catch lower-Jaccard
# pairs at more candidate cost; this row MEASURES that curve on the
# corpus): one 16-hash signature pass (the md5-seeded deterministic
# family, q24's — SQL-recomputable, which is what buys the oracle),
# swept at bands ∈ {2, 4, 8} (rows/band 8/4/2); per config: candidate
# pairs (the cost axis), truth pairs caught, and recall vs the
# capped exact 3-gram Jaccard ≥ 0.6 pairs (q219's truth side —
# max_shingle_freq mandatory and mirrored, the CLAUDE.md rule).
# Scale: candidates come only from band-digest equality joins
# (bucketed, never all-pairs); the truth side is the documented
# audit-only capped self-join; the signature agg is map-side
# combinable (16 longs per doc).
# ---------------------------------------------------------------------------

_Q251_BANDS = [2, 4, 8]
_Q251_H = 16


def q251_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import dedup
    from ai_data_pipeline_spark.plans.pipeline_queries import Q23_MAX_SHINGLE_FREQ

    docs = spread(_t(spark, sf_dir, "documents"))
    # checkpoint BOTH shared frames (r13 opt): truth is referenced by
    # all three sweep configs + the recall denominator, sigs by every
    # config's banding — without pinning, each reference re-runs the
    # full shingle self-join / signature pipeline. Both frames are
    # tiny (pairs; |docs|×H longs) with expensive lineage — the
    # profitable side of the checkpoint trade-off (unlike the
    # corpus-scale string table rejected in minhash_neardup_pairs).
    truth = (
        dedup.ngram_jaccard_pairs(
            docs,
            "doc_id",
            "text",
            n=3,
            min_jaccard=0.6,
            max_shingle_freq=Q23_MAX_SHINGLE_FREQ,
        )
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", n=3, num_hashes=_Q251_H
    ).localCheckpoint()

    def config_row(bands: int) -> DataFrame:
        cands = dedup.minhash_lsh_candidates(sigs, _Q251_H, bands).select(
            "id_a", "id_b"
        )
        # ONE pass over cands for both counts (was a count agg + a
        # semi-join agg — two full executions of the banded self-join)
        return (
            cands.join(
                truth.withColumn("t", F.lit(1)), ["id_a", "id_b"], "left"
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_candidates"),
                # coalesce the SUM itself: over zero candidate rows SUM
                # is NULL where the old count-based form returned 0
                F.coalesce(F.sum(F.coalesce(F.col("t"), F.lit(0))), F.lit(0))
                .cast("long")
                .alias("n_caught"),
            )
            .select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(_Q251_H // bands).cast("long").alias("rows_per_band"),
                "n_candidates",
                "n_caught",
            )
        )

    out = config_row(_Q251_BANDS[0])
    for b in _Q251_BANDS[1:]:
        out = out.unionAll(config_row(b))
    return (
        out.crossJoin(F.broadcast(n_truth))
        .withColumn(
            "recall",
            F.when(
                F.col("n_truth") != 0,
                F.col("n_caught").cast("double") / F.col("n_truth").cast("double"),
            ),
        )
        .orderBy("bands")
    )


QUERIES["q251_lsh_band_sweep"] = q251_lsh_band_sweep


def _q251_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams
    from ai_data_pipeline_spark.plans.pipeline_queries import (
        _SQL_H60_SEEDED,
        Q23_MAX_SHINGLE_FREQ,
    )

    grams3 = sql_word_ngrams("text", 3)
    band_cte = "\n        UNION ALL\n".join(
        f"""
        SELECT {b} AS bands, a.id AS id_a, b2.id AS id_b FROM (
            SELECT id, j // {_Q251_H // b} AS band,
                   string_agg(mh::VARCHAR, ',' ORDER BY j) AS bk
            FROM sig GROUP BY id, j // {_Q251_H // b}) a
        JOIN (
            SELECT id, j // {_Q251_H // b} AS band,
                   string_agg(mh::VARCHAR, ',' ORDER BY j) AS bk
            FROM sig GROUP BY id, j // {_Q251_H // b}) b2
          ON a.band = b2.band AND a.bk = b2.bk AND a.id < b2.id
        GROUP BY 1, 2, 3"""
        for b in _Q251_BANDS
    )
    return f"""
    WITH sh0 AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, unnest({grams3}) AS shingle
        FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS fq FROM sh0 GROUP BY shingle
    ), shc AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0
        JOIN freq USING (shingle) WHERE fq <= {Q23_MAX_SHINGLE_FREQ}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM shc GROUP BY id
    ), inter AS (
        SELECT sa.id AS id_a, sb.id AS id_b, COUNT(*) AS inter
        FROM shc sa JOIN shc sb ON sa.shingle = sb.shingle AND sa.id < sb.id
        GROUP BY 1, 2
    ), truth AS MATERIALIZED (
        SELECT id_a, id_b FROM inter
        JOIN sizes za ON za.id = id_a
        JOIN sizes zb ON zb.id = id_b
        WHERE inter / (za.n_sh + zb.n_sh - inter) >= '0.6'::DOUBLE
    ), sig AS MATERIALIZED (
        SELECT id, j, MIN({_SQL_H60_SEEDED}) AS mh
        FROM sh0 CROSS JOIN range({_Q251_H}) AS t(j)
        GROUP BY id, j
    ), cand AS MATERIALIZED (
        {band_cte}
    ), per_cfg AS (
        SELECT c.bands,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_caught
        FROM cand c
        LEFT JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b
        GROUP BY c.bands
    )
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST({_Q251_H} // bands AS BIGINT) AS rows_per_band,
           n_candidates, n_caught,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           CASE WHEN (SELECT COUNT(*) FROM truth) <> 0
                THEN CAST(n_caught AS DOUBLE)
                       / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE) END AS recall
    FROM per_cfg ORDER BY bands
    """


ORACLE["q251_lsh_band_sweep"] = _q251_oracle()


# ---------------------------------------------------------------------------
# Q252 — quantization-depth retrieval sweep (q104 audits int8
# RECONSTRUCTION error; this row grades what a deployment actually
# risks: does quantizing the index change the RETRIEVAL results?):
# for scale S ∈ {64, 4096, 1000000} (≈ int8 / int13 / the q6 micro-
# unit), corpus and query vectors quantize to floor(v·S) and the
# integer-L2 top-3 per fixed query is compared against the full-
# precision double-L2 top-3 (LTR fold, identical tree both engines —
# the q19/q27 precedent); pooled hits / recall per scale, one IEEE
# division of exact BIGINTs. The quantized distances are exact int64
# at every swept S (|q| ≤ 1e6, d = 64 ⇒ Σ∆² < 2.6e14). Expected
# read: recall climbs to 1.0 by S = 1e6 — the measured justification
# for the repo-wide q6 convention — while the int8 point shows
# whether cheap quantization already suffices on this geometry.
# Scale: three expression-only corpus scans (one per S), queries
# broadcast, per-qid rank windows over 5-partition frames.
# ---------------------------------------------------------------------------

_Q252_SCALES = [64, 4096, 1_000_000]


def q252_quantization_retrieval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS

    emb = _t(spark, sf_dir, "embeddings")
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in Q27_QUERY_VECS[i]]) for i in range(len(Q27_QUERY_VECS))],
        "qid long, qvec array<double>",
    )
    d_exact = F.aggregate(
        F.zip_with(
            "embedding",
            "qvec",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    joined = emb.crossJoin(F.broadcast(qdf))
    truth = (
        joined.select("qid", "vec_id", d_exact.alias("ed"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.asc("ed"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rk") <= 3)
        .select("qid", "vec_id")
    )
    n_exact = truth.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))

    def scale_row(s: int) -> DataFrame:
        qz = lambda c: F.floor(c.cast("double") * s).cast("long")  # noqa: E731
        dq = F.aggregate(
            F.zip_with("embedding", "qvec", lambda x, y: (qz(x) - qz(y)) * (qz(x) - qz(y))),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        top = (
            joined.select("qid", "vec_id", dq.alias("qd"))
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(F.asc("qd"), F.asc("vec_id"))
                ),
            )
            .filter(F.col("rk") <= 3)
        )
        return top.join(truth, ["qid", "vec_id"], "left_semi").agg(
            F.lit(s).cast("long").alias("scale"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )

    out = scale_row(_Q252_SCALES[0])
    for s in _Q252_SCALES[1:]:
        out = out.unionAll(scale_row(s))
    return (
        out.crossJoin(F.broadcast(n_exact))
        .withColumn(
            "recall",
            F.col("n_hits").cast("double") / F.col("n_exact").cast("double"),
        )
        .orderBy("scale")
    )


QUERIES["q252_quantization_retrieval_sweep"] = q252_quantization_retrieval_sweep


def _q252_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import sql_lit_list
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q27_QUERY_VECS

    rng = f"range(1, {EMBED_DIM + 1})"
    qvals = ", ".join(
        f"({i}, {sql_lit_list(v)})" for i, v in enumerate(Q27_QUERY_VECS)
    )
    d_exact = (
        f"list_sum(list_transform({rng}, "
        f"i -> (CAST(e.embedding[i] AS DOUBLE) - q.qvec[i])"
        f" * (CAST(e.embedding[i] AS DOUBLE) - q.qvec[i])))"
    )

    def dq(s: int) -> str:
        qe = f"CAST(floor(CAST(e.embedding[i] AS DOUBLE) * {s}) AS BIGINT)"
        qq = f"CAST(floor(q.qvec[i] * {s}) AS BIGINT)"
        return f"list_sum(list_transform({rng}, i -> ({qe} - {qq}) * ({qe} - {qq})))"

    sweep = "\n        UNION ALL\n".join(
        f"""
        SELECT {s} AS scale, qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                                      ORDER BY {dq(s)}, e.vec_id) AS rk
            FROM embeddings e CROSS JOIN queries q)
        WHERE rk <= 3"""
        for s in _Q252_SCALES
    )
    return f"""
    WITH queries AS (
        SELECT * FROM (VALUES {qvals}) AS q(qid, qvec)
    ), truth AS MATERIALIZED (
        SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                                      ORDER BY {d_exact}, e.vec_id) AS rk
            FROM embeddings e CROSS JOIN queries q)
        WHERE rk <= 3
    ), swept AS (
        {sweep}
    )
    SELECT CAST(s.scale AS BIGINT) AS scale,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_exact,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE) AS recall
    FROM swept s
    LEFT JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id
    GROUP BY s.scale ORDER BY scale
    """


ORACLE["q252_quantization_retrieval_sweep"] = _q252_oracle()


# ---------------------------------------------------------------------------
# Q253 — robust location estimators per group (the aggregation-
# surface gap next to q113/q135's medians: TRIMMED and WINSORIZED
# means are the standard outlier-robust summaries for skewed corpus
# stats — a handful of boilerplate giants otherwise dominate a
# per-source mean token count): per source, over doc bpe-ish token
# counts, the 10%-trimmed mean (drop the ⌊n/10⌋ smallest and largest
# by (value, doc_id) rank — deterministic total order) and the
# winsorized mean (clamp those tails to the surviving min/max). All
# selection by integer ranks; sums exact BIGINT; means are one IEEE
# division each. Scale: ONE window pass per source partition
# (bounded groups) + a hash agg — the window ranks within source,
# never globally.
# ---------------------------------------------------------------------------


def q253_trimmed_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_bpe_ish

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source", "doc_id", token_count_bpe_ish(F.col("text")).alias("v")
    )
    w = Window.partitionBy("source").orderBy(F.asc("v"), F.asc("doc_id"))
    n = F.count(F.lit(1)).over(Window.partitionBy("source"))
    ranked = base.select(
        "source",
        "v",
        F.row_number().over(w).alias("rk"),
        n.alias("n"),
    ).withColumn("k", F.expr("n div 10"))
    kept = (F.col("rk") > F.col("k")) & (F.col("rk") <= F.col("n") - F.col("k"))
    stats = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("k").cast("long").alias("n_trimmed_each"),
        F.sum(F.when(kept, F.col("v")).otherwise(0)).cast("long").alias("trim_sum"),
        F.sum(kept.cast("int")).cast("long").alias("trim_n"),
        F.min(F.when(kept, F.col("v"))).cast("long").alias("lo"),
        F.max(F.when(kept, F.col("v"))).cast("long").alias("hi"),
        F.sum("v").cast("long").alias("raw_sum"),
    )
    wins_sum = (
        F.col("trim_sum")
        + F.col("n_trimmed_each") * F.col("lo")
        + F.col("n_trimmed_each") * F.col("hi")
    )
    return stats.select(
        "source",
        "n_docs",
        "n_trimmed_each",
        (F.col("raw_sum").cast("double") / F.col("n_docs").cast("double")).alias(
            "mean"
        ),
        (F.col("trim_sum").cast("double") / F.col("trim_n").cast("double")).alias(
            "trimmed_mean"
        ),
        (wins_sum.cast("double") / F.col("n_docs").cast("double")).alias(
            "winsorized_mean"
        ),
    ).orderBy("source")


QUERIES["q253_trimmed_robust_stats"] = q253_trimmed_robust_stats


def _q253_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import BPE_ISH_PATTERN

    return f"""
    WITH base AS (
        SELECT source, doc_id,
               len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS v
        FROM documents
    ), ranked AS (
        SELECT source, v,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY v, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM base
    ), flagged AS (
        SELECT source, v, n, n // 10 AS k,
               (rk > n // 10 AND rk <= n - n // 10) AS kept
        FROM ranked
    ), stats AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(k) AS BIGINT) AS n_trimmed_each,
               CAST(SUM(CASE WHEN kept THEN v ELSE 0 END) AS BIGINT) AS trim_sum,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS trim_n,
               CAST(MIN(CASE WHEN kept THEN v END) AS BIGINT) AS lo,
               CAST(MAX(CASE WHEN kept THEN v END) AS BIGINT) AS hi,
               CAST(SUM(v) AS BIGINT) AS raw_sum
        FROM flagged GROUP BY source
    )
    SELECT source, n_docs, n_trimmed_each,
           CAST(raw_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean,
           CAST(trim_sum AS DOUBLE) / CAST(trim_n AS DOUBLE) AS trimmed_mean,
           CAST(trim_sum + n_trimmed_each * lo + n_trimmed_each * hi AS DOUBLE)
             / CAST(n_docs AS DOUBLE) AS winsorized_mean
    FROM stats ORDER BY source
    """


ORACLE["q253_trimmed_robust_stats"] = _q253_oracle()


# ---------------------------------------------------------------------------
# Q254 — anti-clustered shard assignment audit (the placement
# constraint behind "spread near-duplicates across shards/epochs":
# if a near-dup cluster lands in one training shard the model sees
# its members back-to-back — the repetition harm Lee et al. 2022
# measures — while spreading them apart makes residual duplication
# behave like benign multi-epoch exposure): clusters come from the
# q204 MinHash+verify+components pipeline (singletons = own
# cluster); 'hash' assigns each doc shard = mult-hash(doc_id) mod 8
# (the placement-blind baseline); 'anti' assigns shard = (rank
# within cluster + mult-hash(cluster_id)) mod 8 — members of any
# cluster ≤ 8 land in 8 DISTINCT shards by construction, and the
# cluster-hash offset keeps shard sizes balanced. Audit per
# strategy: the worst same-cluster co-location, the total excess
# co-located docs (Σ count−1 over (shard, cluster) groups with ≥ 2),
# and the shard-size spread. Expected read: 'anti' max_colocated =
# 1 (no cluster here exceeds 8 members), 'hash' ≥ 2 — the graded
# guarantee. Scale: q204's law + one per-cluster rank window
# (bounded groups) + two (shard, cluster) hash aggs.
# ---------------------------------------------------------------------------

_Q254_SHARDS = 8


def q254_anti_clustered_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import dedup

    docs = spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.minhash_neardup_pairs(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, min_jaccard=0.6
    )
    clusters = dedup.dedup_clusters_star(pairs)
    assigned = (
        docs.select("doc_id")
        .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    mh = lambda c: F.expr(  # noqa: E731
        f"(({c} % 1000003) * 2654435761) % 1000003 % {_Q254_SHARDS}"
    )
    rank0 = (
        F.row_number().over(Window.partitionBy("cluster_id").orderBy("doc_id")) - 1
    )
    shards = assigned.select(
        "doc_id",
        "cluster_id",
        mh("doc_id").alias("hash_shard"),
        F.pmod(rank0 + mh("cluster_id"), F.lit(_Q254_SHARDS)).alias("anti_shard"),
    )

    def audit(name: str, col: str) -> DataFrame:
        grp = shards.groupBy(F.col(col).alias("shard"), F.col("cluster_id")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        per_shard = grp.groupBy("shard").agg(F.sum("cnt").cast("long").alias("sz"))
        colo = grp.agg(
            F.max("cnt").cast("long").alias("max_colocated"),
            F.sum(
                F.when(F.col("cnt") >= 2, F.col("cnt") - 1).otherwise(0)
            ).cast("long").alias("n_excess_colocated"),
        )
        spread_ = per_shard.agg(
            F.max("sz").cast("long").alias("shard_max"),
            F.min("sz").cast("long").alias("shard_min"),
        )
        return colo.crossJoin(spread_).select(
            F.lit(name).alias("strategy"),
            "max_colocated",
            "n_excess_colocated",
            "shard_max",
            "shard_min",
        )

    return (
        audit("anti", "anti_shard")
        .unionAll(audit("hash", "hash_shard"))
        .orderBy("strategy")
    )


QUERIES["q254_anti_clustered_sharding"] = q254_anti_clustered_sharding


def _q254_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    mh = lambda c: f"((({c}) % 1000003) * 2654435761) % 1000003 % {_Q254_SHARDS}"  # noqa: E731

    def audit(name: str, shard_expr: str) -> str:
        return f"""
        SELECT '{name}' AS strategy,
               CAST(MAX(cnt) AS BIGINT) AS max_colocated,
               CAST(SUM(CASE WHEN cnt >= 2 THEN cnt - 1 ELSE 0 END) AS BIGINT)
                   AS n_excess_colocated,
               (SELECT CAST(MAX(sz) AS BIGINT) FROM (
                    SELECT SUM(cnt) AS sz FROM (
                        SELECT {shard_expr} AS shard, cluster_id,
                               COUNT(*) AS cnt
                        FROM shards GROUP BY 1, 2) g2 GROUP BY shard) s2)
                   AS shard_max,
               (SELECT CAST(MIN(sz) AS BIGINT) FROM (
                    SELECT SUM(cnt) AS sz FROM (
                        SELECT {shard_expr} AS shard, cluster_id,
                               COUNT(*) AS cnt
                        FROM shards GROUP BY 1, 2) g3 GROUP BY shard) s3)
                   AS shard_min
        FROM (
            SELECT {shard_expr} AS shard, cluster_id, COUNT(*) AS cnt
            FROM shards GROUP BY 1, 2) g"""

    return f"""
    WITH RECURSIVE sh AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, unnest({sql_word_ngrams("text", 3)}) AS shingle
        FROM documents
    ), sig AS (
        SELECT id, j, MIN((('0x' || substr(md5(shingle || ':' || j), 1, 15))::BIGINT)) AS mh
        FROM sh CROSS JOIN range(32) AS t(j)
        GROUP BY id, j
    ), bandkey AS (
        SELECT id, j // 4 AS band, string_agg(mh::VARCHAR, ',' ORDER BY j) AS bk
        FROM sig GROUP BY id, j // 4
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bandkey a
        JOIN bandkey b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT id_a, id_b, COUNT(*) AS inter
        FROM cand
        JOIN sh sa ON sa.id = cand.id_a
        JOIN sh sb ON sb.id = cand.id_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.6'::DOUBLE
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), comp AS (
        SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id
    ), assigned AS MATERIALIZED (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ), shards AS MATERIALIZED (
        SELECT doc_id, cluster_id,
               {mh('doc_id')} AS hash_shard,
               (ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY doc_id) - 1
                + {mh('cluster_id')}) % {_Q254_SHARDS} AS anti_shard
        FROM assigned
    )
    {audit('anti', 'anti_shard')}
    UNION ALL
    {audit('hash', 'hash_shard')}
    ORDER BY strategy
    """


ORACLE["q254_anti_clustered_sharding"] = _q254_oracle()


# ---------------------------------------------------------------------------
# Q255 — PQ layout × training ABLATION (the 2×2 every quantization
# deployment should run before picking its recipe — q237 grades
# training alone, q249 allocation alone; this row grades their
# INTERACTION: does variance-balanced allocation still matter AFTER
# one Lloyd pass, or does training wash it out?): for layout ∈
# {natural, balanced} (q249's exact-integer variance-rank snake
# deal) × phase ∈ {untrained, trained} (q237's per-subspace Lloyd
# pass via _pq_lloyd_once, run on the GATHERED arrays so the stripes
# being trained are the layout's own), the total exact quantization
# error. Expected read on this near-isotropic corpus: training
# dominates (~25% drop) and allocation stays a no-op ± noise in BOTH
# phases — the measured "don't pay for OPQ here" answer; on real
# anisotropic embeddings the balanced×trained cell is where OPQ
# earns its keep. Scale: four pq-kernel scan passes + two bounded
# training aggs + the 64-row variance agg; nothing pairwise.
# ---------------------------------------------------------------------------


def q255_pq_layout_training_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import quantize_q6
    from ai_data_pipeline_spark.operators.vectorized import pq_assign_q6_np
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM

    S, D, K = _Q235_SUBSPACES, _Q235_SUBDIM, _Q235_CODES
    dec = "decimal(38,0)"
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", quantize_q6("embedding").alias("v6"))
    varnums = (
        base.select(F.posexplode("v6").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(F.col("v").cast(dec)).cast(dec).alias("s1"),
            F.sum((F.col("v") * F.col("v")).cast(dec)).cast(dec).alias("s2"),
        )
        .select(
            "dim",
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("vn"),
        )
        .collect()
    )
    perm_b = _q249_perm_from_varnum([(r["dim"], r["vn"]) for r in varnums], S)
    layouts = {"natural": list(range(EMBED_DIM)), "balanced": perm_b}

    code_rows = (
        base.filter(
            (F.pmod(F.col("vec_id"), F.lit(_Q223_STRIDE)) == 0)
            & (F.col("vec_id") < _Q223_STRIDE * K)
        )
        .orderBy("vec_id")
        .collect()
    )
    codes_raw = [list(r["v6"]) for r in code_rows]

    def cell(layout: str, p: list[int]) -> DataFrame:
        gathered = base.select(
            "vec_id",
            F.array(*[F.col("v6").getItem(i) for i in p]).alias("v6"),
        )
        codes0 = [[c[i] for i in p] for c in codes_raw]
        codes1 = _pq_lloyd_once(gathered, codes0, D)

        def err(codes: list[list[int]], phase: str) -> DataFrame:
            return pq_assign_q6_np(gathered, codes, D).agg(
                F.lit(layout).alias("layout"),
                F.lit(phase).alias("phase"),
                F.sum("err").cast("long").alias("sum_err"),
            )

        return err(codes0, "p0_untrained").unionAll(err(codes1, "p1_trained"))

    return (
        cell("balanced", layouts["balanced"])
        .unionAll(cell("natural", layouts["natural"]))
        .orderBy("layout", "phase")
    )


QUERIES["q255_pq_layout_training_ablation"] = q255_pq_layout_training_ablation


def _q255_oracle() -> str:
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM

    S, D, K = _Q235_SUBSPACES, _Q235_SUBDIM, _Q235_CODES
    return f"""
    WITH q6l AS MATERIALIZED (
        SELECT vec_id, t.i - 1 AS dim,
               CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT) AS v
        FROM embeddings, unnest(range(1, {EMBED_DIM + 1})) AS t(i)
    ), varnum AS (
        SELECT dim,
               CAST(COUNT(*) AS HUGEINT) * CAST(SUM(v * v) AS HUGEINT)
                 - CAST(SUM(v) AS HUGEINT) * CAST(SUM(v) AS HUGEINT) AS vn
        FROM q6l GROUP BY dim
    ), rankd AS (
        SELECT dim, ROW_NUMBER() OVER (ORDER BY vn DESC, dim) - 1 AS rnk
        FROM varnum
    ), alloc AS MATERIALIZED (
        SELECT 'balanced' AS layout, dim,
               CASE WHEN (rnk // {S}) % 2 = 0 THEN rnk % {S}
                    ELSE {S - 1} - (rnk % {S}) END AS s
        FROM rankd
        UNION ALL
        SELECT 'natural' AS layout, dim, dim // {D} AS s FROM rankd
    ), codesl AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (PARTITION BY dim ORDER BY vec_id) - 1 AS k,
               dim, v AS cv
        FROM q6l
        WHERE vec_id % {_Q223_STRIDE} = 0
          AND vec_id < {_Q223_STRIDE * K}
    ), e0 AS MATERIALIZED (
        SELECT a.layout, q.vec_id, a.s, c.k,
               CAST(SUM((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS d
        FROM q6l q
        JOIN alloc a USING (dim)
        JOIN codesl c USING (dim)
        GROUP BY a.layout, q.vec_id, a.s, c.k
    ), a0 AS MATERIALIZED (
        SELECT layout, vec_id, s, k, d FROM (
            SELECT layout, vec_id, s, k, d,
                   ROW_NUMBER() OVER (PARTITION BY layout, vec_id, s
                                      ORDER BY d, k) AS rn
            FROM e0)
        WHERE rn = 1
    ), trained AS MATERIALIZED (
        SELECT a.layout, a.s, a.k AS code, q.dim,
               CAST((SUM(q.v) + {_Q224_OFF} * COUNT(*)) // COUNT(*)
                    - {_Q224_OFF} AS BIGINT) AS cv1
        FROM q6l q
        JOIN alloc al ON al.dim = q.dim
        JOIN a0 a ON a.vec_id = q.vec_id AND a.layout = al.layout
               AND a.s = al.s
        GROUP BY a.layout, a.s, a.k, q.dim
    ), codes1 AS MATERIALIZED (
        SELECT al.layout, c.k, c.dim, COALESCE(t.cv1, c.cv) AS cv
        FROM codesl c
        JOIN alloc al ON al.dim = c.dim
        LEFT JOIN trained t
          ON t.layout = al.layout AND t.s = al.s AND t.code = c.k
         AND t.dim = c.dim
    ), e1 AS MATERIALIZED (
        SELECT al.layout, q.vec_id, al.s, c.k,
               CAST(SUM((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS d
        FROM q6l q
        JOIN alloc al ON al.dim = q.dim
        JOIN codes1 c ON c.dim = q.dim AND c.layout = al.layout
        GROUP BY al.layout, q.vec_id, al.s, c.k
    ), b1 AS (
        SELECT layout, vec_id, s, d FROM (
            SELECT layout, vec_id, s, d,
                   ROW_NUMBER() OVER (PARTITION BY layout, vec_id, s
                                      ORDER BY d, k) AS rn
            FROM e1)
        WHERE rn = 1
    )
    SELECT layout, 'p0_untrained' AS phase,
           CAST(SUM(d) AS BIGINT) AS sum_err
    FROM a0 GROUP BY layout
    UNION ALL
    SELECT layout, 'p1_trained' AS phase,
           CAST(SUM(d) AS BIGINT) AS sum_err
    FROM b1 GROUP BY layout
    ORDER BY layout, phase
    """


ORACLE["q255_pq_layout_training_ablation"] = _q255_oracle()
