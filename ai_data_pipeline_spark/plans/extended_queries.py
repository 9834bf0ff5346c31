"""Extended query set: SURVEY.md §2B Q186+ (rounds 7–8).

Round 7: graph analytics (PageRank, triangle counting),
exact-distinct bitmap rollups, sequential recurrences (EWMA),
template-masked dedup, checksum validation, SQL-scripting /
parameterized-SQL surface, frequent-items in the exact regime,
temporal-overlap measures, try-arithmetic overflow semantics,
skyline (Pareto frontier), equi-depth histograms, proportional
allocation, and sequence-gap audits.

Round 8: the LLM-curation graded frontier — Gopher and C4 quality
reports, SemDeDup, the composed MinHash keeper pass and the full
release funnel, temperature mixing, interleaved sequence packing on
a distributed prefix sum, TF-cosine near-dup, IVF occupancy and ANN
recall / LSH banding audits, BPE merge scoring, dataset card,
integer-exact OLS/seasonality, the TPC-H-Q8-shape star, dynamic
partition overwrite, and targeted-deletion auditing.

Same oracle-parity discipline as relational.py (see the float-policy
header there): identical aliases on both engines, exact integer
aggregation wherever accumulation order could matter, doubles emitted
only from expression trees both engines evaluate identically (a
single IEEE division of two exact integers is bit-identical
cross-engine). Every truncating-integer-division site here has
non-negative operands by construction (proofs at each site; linted by
tests/test_division_convention.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_events, load_table as _t
from ai_data_pipeline_spark.sources.store import TempStore

QUERIES: dict = {}
ORACLE: dict = {}


# Events: value is a ≤4-decimal non-negative double → exact 1e-4
# integer units (same convention as analysis_queries).
_V4 = "CAST(ROUND(value * 10000) AS BIGINT)"


# ---------------------------------------------------------------------------
# Q186 — exact distinct via bitmap aggregation (Spark 4
# bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
# bitmap_count): per-priority distinct customers computed as mergeable
# fixed-size bitmaps instead of a distinct-shuffle of raw keys. This
# is the scalable exact-distinct pattern: the inner aggregate carries
# one ≤4KB bitmap per (group, 32k-key bucket) — map-side combinable,
# re-mergeable across rollup levels — where COUNT(DISTINCT) shuffles
# every key. Oracle: plain COUNT(DISTINCT), proving the bitmap path
# is exact. Reference parity: distinct-count semantics per SURVEY §2B
# aggregation row.
# ---------------------------------------------------------------------------

def q186_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    inner = (
        o.select(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bn"),
            F.expr("bitmap_bit_position(o_custkey)").alias("bp"),
        )
        .groupBy("o_orderpriority", "bn")
        .agg(
            F.expr("bitmap_construct_agg(bp)").alias("bm"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return (
        inner.groupBy("o_orderpriority")
        .agg(
            F.sum("n_rows").cast("long").alias("n_orders"),
            F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_cust"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["q186_bitmap_distinct"] = q186_bitmap_distinct
ORACLE["q186_bitmap_distinct"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q187 — PageRank, 3 synchronous iterations, integer-exact: the
# undirected customer↔supplier interaction graph (distinct pairs from
# orders ⋈ lineitem, both edge directions), rank scale 1e6,
# pr' = 150000 + (85 · Σ_in (pr(u) div deg(u))) div 100. Every
# division is truncating integer div on provably non-negative
# operands, so the 3-step fixpoint is bit-identical cross-engine —
# the standard way to make an iterative algorithm oracle-checkable.
# Spark: nodes are BIGINT-encoded (2·custkey / 2·suppkey+1) so every
# shuffle carries longs, with the "c:"/"s:" label materialized only
# on the final 20 rows; the degree rides the one hash(src) exchange
# as a count window (CLAUDE.md rule: never groupBy+join-back the same
# key); the windowed edge frame is localCheckpointed once (iterative
# rule) so iterations never re-run the base join, and iteration 1 is
# join-free because pr₀ is the constant SCALE. At 100 TB this is
# exactly distributed PageRank: edges stay hash(src)-partitioned, the
# rank vector (|V| ≪ |E| longs) moves to the edges each round, and
# the per-iteration exchange carries map-side-combined (dst, mass)
# longs only.
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000
_PR_STEP = "CAST(150000 + (85 * in_mass) div 100 AS BIGINT)"  # in_mass ≥ 0


def q187_pagerank3(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    e2 = edges.withColumn(
        "d", F.count(F.lit(1)).over(Window.partitionBy("src"))
    ).localCheckpoint(eager=False)
    # pr₀ = SCALE for every node, so the first round needs no join:
    # SCALE ≥ 0, d ≥ 1 — non-negative truncating div.
    pr = (
        e2.select("dst", F.expr(f"{_PR_SCALE} div d").alias("share"))
        .groupBy("dst")
        .agg(F.sum("share").alias("in_mass"))
        .select(F.col("dst").alias("node"), F.expr(_PR_STEP).alias("pr"))
    )
    for _ in range(2):
        contrib = (
            e2.join(pr, e2.src == pr.node)
            # pr ≥ 0 (update is 150000 + a non-negative sum), d ≥ 1.
            .select("dst", F.expr("pr div d").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("in_mass"))
        )
        pr = contrib.select(F.col("dst").alias("node"), F.expr(_PR_STEP).alias("pr"))
    return (
        pr.select(
            # node ≥ 0: even = customer, odd = supplier; (2k+1) div 2 = k.
            F.expr(
                "CASE WHEN node % 2 = 0 THEN concat('c:', node div 2)"
                " ELSE concat('s:', node div 2) END"
            ).alias("node"),
            F.col("pr").alias("pr3"),
        )
        .orderBy(F.desc("pr3"), F.asc("node"))
        .limit(20)
    )


QUERIES["q187_pagerank3"] = q187_pagerank3
ORACLE["q187_pagerank3"] = """
    WITH pairs AS (
        SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ), deg AS (
        SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    ), p0 AS (
        SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg
    ), p1 AS (
        SELECT e.dst AS node,
               CAST(150000 + (85 * SUM(p.pr // d.d)) // 100 AS BIGINT) AS pr
        FROM edges e JOIN p0 p ON e.src = p.node JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ), p2 AS (
        SELECT e.dst AS node,
               CAST(150000 + (85 * SUM(p.pr // d.d)) // 100 AS BIGINT) AS pr
        FROM edges e JOIN p1 p ON e.src = p.node JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ), p3 AS (
        SELECT e.dst AS node,
               CAST(150000 + (85 * SUM(p.pr // d.d)) // 100 AS BIGINT) AS pr
        FROM edges e JOIN p2 p ON e.src = p.node JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    )
    SELECT node, pr AS pr3 FROM p3
    ORDER BY pr3 DESC, node
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q188 — triangle counting on the part co-occurrence graph: edges are
# id-ordered part pairs (pa < pb) co-occurring in ≥ 2 orders (the
# support threshold prunes 115k raw pairs to ~3.6k — the same
# frequency-cap discipline as the shingle rules); triangles close
# wedges e(a,b) ⋈ e(b,c) with e(a,c). One-row result (edges, wedges,
# triangles) so the wedge blow-up is itself graded. At 100 TB the
# production variant orients edges from lower- to higher-degree
# endpoint, bounding wedges by O(m · arboricity) instead of Σ deg² —
# the id-ordering used here keeps the oracle twin simple and the
# support threshold already caps degree.
# ---------------------------------------------------------------------------

_TRI_MIN_SUPPORT = 2


def q188_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Co-occurrence within a key never needs a self-join: group once,
    # explode the per-order sorted-index pairs narrowly (bounded by
    # lines-per-order, ~7). For sorted arr, index pairs i<j with
    # arr[i]<arr[j] reproduce the value-ordered row-pair multiset of
    # the a.partkey < b.partkey self-join exactly (equal values skip).
    parts = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("ps")
    )
    pairs = parts.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("e")
    ).filter("e.pa < e.pb")
    edges = (
        pairs.groupBy(F.col("e.pa").alias("pa"), F.col("e.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _TRI_MIN_SUPPORT)
        .select("pa", "pb")
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()  # materializes the checkpoint for both joins
    e1 = edges.select(F.col("pa").alias("x"), F.col("pb").alias("y"))
    e2 = edges.select(F.col("pa").alias("y"), F.col("pb").alias("z"))
    wedges = e1.join(e2, "y").select("x", "z")
    # One job for both counts: each wedge matches at most one closing
    # edge (edges are distinct pairs), so a LEFT join keeps exactly one
    # row per wedge — count(*) = wedges, count(hit) = closed wedges.
    e3 = edges.select(
        F.col("pa").alias("x"), F.col("pb").alias("z"), F.lit(1).alias("hit")
    )
    row = (
        wedges.join(e3, ["x", "z"], "left")
        .agg(
            F.count(F.lit(1)).alias("nw"),
            F.count("hit").alias("nt"),
        )
        .collect()[0]
    )
    n_wedges, n_tri = row["nw"], row["nt"]
    return spark.createDataFrame(
        [(n_edges, n_wedges, n_tri)], "n_edges bigint, n_wedges bigint, n_triangles bigint"
    ).orderBy("n_edges")


QUERIES["q188_triangle_count"] = q188_triangle_count
ORACLE["q188_triangle_count"] = f"""
    WITH pp AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), edges AS (
        SELECT pa, pb FROM pp GROUP BY pa, pb
        HAVING COUNT(*) >= {_TRI_MIN_SUPPORT}
    ), wedges AS (
        SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        FROM edges e1 JOIN edges e2 ON e1.pb = e2.pa
    ), tri AS (
        SELECT w.x FROM wedges w JOIN edges e ON w.x = e.pa AND w.z = e.pb
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles
    ORDER BY n_edges
"""


# ---------------------------------------------------------------------------
# Q189 — sequential recurrence graded exactly: integer EWMA
# s_t = (w_t + 3·s_{t-1}) div 4 over each event type's first 64
# events (w = v4 shifted to its per-series min, so every operand is
# provably non-negative and truncating div is floor on both engines).
# A recurrence is the one shape Catalyst windows cannot express
# (each row depends on the previous OUTPUT, not input) — the Spark
# side is applyInPandas with a per-group scan, the oracle a
# recursive CTE stepping rn → rn+1. 64-row cap: recursion depth on
# the oracle side, and the Spark group payload, both stay constant
# as data grows — the scale knob is #series, not series length.
# ---------------------------------------------------------------------------

_EWMA_N = 64


def q189_ewma_recurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    e = load_events(spark, sf_dir).select(
        "event_type", "ts_ns", "event_id", F.expr(_V4).alias("v4")
    )
    w = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
    ranked = (
        e.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _EWMA_N)
        .withColumn("mn", F.min("v4").over(Window.partitionBy("event_type")))
        .withColumn("wv", F.col("v4") - F.col("mn"))
        .select("event_type", "rn", "wv")
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn").reset_index(drop=True)
        s = 0
        out = []
        for i, wv in enumerate(pdf["wv"]):
            # wv ≥ 0 and s ≥ 0 → python floor-div == truncation.
            s = int(wv) if i == 0 else (int(wv) + 3 * s) // 4
            out.append(s)
        pdf["s"] = out
        return pdf[["event_type", "rn", "s"]]

    return (
        ranked.groupBy("event_type")
        .applyInPandas(ewma, "event_type string, rn long, s long")
        .orderBy("event_type", "rn")
    )


QUERIES["q189_ewma_recurrence"] = q189_ewma_recurrence
ORACLE["q189_ewma_recurrence"] = f"""
    WITH ranked AS (
        SELECT event_type, {_V4} AS v4,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY epoch_ns(ts), event_id) AS rn
        FROM events
    ), head AS (
        SELECT event_type, rn,
               v4 - MIN(v4) OVER (PARTITION BY event_type) AS wv
        FROM ranked WHERE rn <= {_EWMA_N}
    ), rec AS (
        SELECT event_type, rn, CAST(wv AS BIGINT) AS s
        FROM head WHERE rn = 1
        UNION ALL
        SELECT h.event_type, h.rn, CAST((h.wv + 3 * r.s) // 4 AS BIGINT) AS s
        FROM rec r
        JOIN head h ON h.event_type = r.event_type AND h.rn = r.rn + 1
    )
    SELECT event_type, CAST(rn AS BIGINT) AS rn, s
    FROM rec
    ORDER BY event_type, rn
"""
# DuckDB needs WITH RECURSIVE spelled on the first CTE:
ORACLE["q189_ewma_recurrence"] = ORACLE["q189_ewma_recurrence"].replace(
    "WITH ranked", "WITH RECURSIVE ranked", 1
)


# ---------------------------------------------------------------------------
# Q190 — template-masked near-dup detection: training corpora are full
# of machine-generated documents identical up to numbers ("Invoice
# #4821 …"); masking digit runs to '#', lowercasing, collapsing
# whitespace, and hashing the 8-token OPENING template groups them
# where exact dedup (q20) sees distinct texts (q139's 4-token opening
# fingerprint builds a cross-source matrix; this builds the dedup
# GROUPS). Whitespace class is the explicit [ \t\r\n] on both engines
# (Java \s and RE2 \s disagree at the edges — CLAUDE.md trim rule).
# Shuffle carries the 32-hex md5, never the text.
# ---------------------------------------------------------------------------

_TMPL_TOKENS = 8


def q190_template_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    masked = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "#"),
            "[ \t\r\n]+",
            " ",
        )
    )
    tmpl = F.concat_ws(" ", F.slice(F.split(masked, " "), 1, _TMPL_TOKENS))
    return (
        d.select(F.col("doc_id"), F.md5(tmpl).alias("th"))
        .groupBy("th")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n") >= 2)
        .orderBy(F.desc("n"), F.asc("th"))
        .limit(20)
    )


QUERIES["q190_template_dedup"] = q190_template_dedup
ORACLE["q190_template_dedup"] = r"""
    WITH t AS (
        SELECT doc_id,
               md5(array_to_string(list_slice(string_split(
                   trim(regexp_replace(
                       regexp_replace(lower(text), '[0-9]+', '#', 'g'),
                       '[ \t\r\n]+', ' ', 'g')), ' '), 1, 8), ' ')) AS th
        FROM documents
    )
    SELECT th, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM t
    GROUP BY th
    HAVING COUNT(*) >= 2
    ORDER BY n DESC, th ASC
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q191 — Luhn checksum validation (the PII/account-number audit
# primitive): synthetic 12-digit account numbers derived
# deterministically from orderkeys, validated with Spark 4's builtin
# luhn_check; the oracle re-implements Luhn as an unrolled 12-term
# digit expression (double every 2nd digit from the right, subtract 9
# when > 9, valid iff sum % 10 = 0) — proving the builtin against
# first principles. All-integer; ~1 in 10 synthetics is valid.
# ---------------------------------------------------------------------------

def _luhn_sql_terms(col: str, length: int = 12) -> str:
    terms = []
    for i in range(1, length + 1):
        d = f"CAST(substr({col}, {i}, 1) AS BIGINT)"
        if (length - i + 1) % 2 == 0:  # even position from the right → doubled
            terms.append(f"(CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END)")
        else:
            terms.append(d)
    return " + ".join(terms)


def q191_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    acct = F.lpad(
        ((F.col("o_orderkey") * 7919 + 11) % 1000000000000).cast("string"),
        12,
        "0",
    )
    return (
        o.select("o_orderpriority", acct.alias("acct"))
        .withColumn("ok", F.expr("luhn_check(acct)"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("n_valid"),
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("long").alias("n_invalid"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["q191_luhn_checksum"] = q191_luhn_checksum
ORACLE["q191_luhn_checksum"] = f"""
    WITH a AS (
        SELECT o_orderpriority,
               lpad(CAST((o_orderkey * 7919 + 11) % 1000000000000 AS VARCHAR),
                    12, '0') AS acct
        FROM orders
    ), s AS (
        SELECT o_orderpriority,
               ({_luhn_sql_terms('acct')}) % 10 AS luhn_mod
        FROM a
    )
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN luhn_mod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           CAST(SUM(CASE WHEN luhn_mod = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
    FROM s
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q192 — SQL scripting surface (Spark 4 BEGIN…END with DECLAREd
# variables): a two-step script — capture the max order price into a
# variable, then use it in a cross-multiplied top-decile predicate
# (price·10 ≥ max·9, exact integers, no division). The oracle inlines
# the variable as a scalar subquery; identical arithmetic both
# engines. Grades that procedural scripts return their final
# statement's DataFrame through the same driver contract.
# ---------------------------------------------------------------------------

def q192_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_q192")
    return spark.sql(
        """
        BEGIN
          DECLARE hi BIGINT DEFAULT 0;
          SET hi = (SELECT MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    FROM v_orders_q192);
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_top_decile
          FROM v_orders_q192
          WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10 >= hi * 9
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority;
        END
        """
    )


QUERIES["q192_sql_scripting"] = q192_sql_scripting
ORACLE["q192_sql_scripting"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_top_decile
    FROM orders
    WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10 >=
          (SELECT MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) FROM orders) * 9
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q193 — parameterized SQL (spark.sql named args): the injection-safe
# way to template queries — parameter markers bind server-side
# instead of string-splicing. The oracle is the same text with
# literals inlined; money aggregated in integer cents per the float
# policy.
# ---------------------------------------------------------------------------

def q193_param_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_cust_q193")
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        FROM v_cust_q193
        WHERE c_acctbal >= :min_bal AND c_nationkey IN (:n1, :n2, :n3)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """,
        args={"min_bal": 0, "n1": 1, "n2": 2, "n3": 3},
    )


QUERIES["q193_param_sql"] = q193_param_sql
ORACLE["q193_param_sql"] = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer
    WHERE c_acctbal >= 0 AND c_nationkey IN (1, 2, 3)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q194 — frequent items (approx_top_k) graded in its EXACT regime:
# Spark 4's approx_top_k is a space-saving/frequent-items sketch that
# is provably exact while distinct items ≤ maxItemsTracked (here 5
# event types vs 10000 tracked — same discipline as the HLL/KLL/Theta
# exact-regime rows, SURVEY sketch family). k=50 ≥ distinct so no
# tie-truncation; output re-sorted deterministically. Beyond the
# regime it degrades to ±ε counts — documented, probed boundary in
# the sketch rows.
# ---------------------------------------------------------------------------

def q194_approx_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    agg = e.agg(F.expr("approx_top_k(event_type, 50, 10000)").alias("tk"))
    return (
        agg.select(F.explode("tk").alias("x"))
        .select(
            F.col("x.item").alias("event_type"),
            F.col("x.count").cast("long").alias("n"),
        )
        .orderBy(F.desc("n"), F.asc("event_type"))
    )


QUERIES["q194_approx_topk_exact"] = q194_approx_topk_exact
ORACLE["q194_approx_topk_exact"] = """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type ASC
"""


# ---------------------------------------------------------------------------
# Q195 — printf-style formatting parity (format_string ↔ printf):
# zero-padded decimal, hex, octal and left-justified string padding
# produce byte-identical output from Java's Formatter and C-style
# printf FOR INTEGER/STRING conversions (float %f is deliberately
# excluded: Java rounds HALF_UP, C rounds half-even — a documented
# cross-engine trap).
# ---------------------------------------------------------------------------

def q195_printf_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.format_string(
                "P%07d/%x/%o/[%-10s]",
                F.col("p_partkey"),
                F.col("p_size"),
                F.col("p_size"),
                F.substring(F.col("p_brand"), 1, 10),
            ).alias("tag"),
        )
        .orderBy("p_partkey")
    )


QUERIES["q195_printf_format"] = q195_printf_format
ORACLE["q195_printf_format"] = """
    SELECT p_partkey,
           printf('P%07d/%x/%o/[%-10s]',
                  p_partkey, p_size, p_size, substr(p_brand, 1, 10)) AS tag
    FROM part
    ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# Q196 — temporal-overlap aggregate: clamped overlap length (days)
# between each lineitem's 14-day delivery window [shipdate,
# shipdate+14] and its order's 30-day fulfilment window [orderdate,
# orderdate+30], summed per order status — the interval-intersection
# MEASURE (distinct from q07's range-join COUNT and q118's
# concurrency sweep). Pure integer date arithmetic:
# greatest(0, min(ends) − max(starts) + 1).
# ---------------------------------------------------------------------------

def q196_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = o.join(li, o.o_orderkey == li.l_orderkey)
    ov = F.greatest(
        F.lit(0).cast("long"),
        (
            F.datediff(
                F.least(
                    F.date_add(F.col("l_shipdate"), 14),
                    F.date_add(F.col("o_orderdate"), 30),
                ),
                F.greatest(F.col("l_shipdate"), F.col("o_orderdate")),
            )
            + 1
        ).cast("long"),
    )
    return (
        j.select("o_orderstatus", ov.alias("ov_days"))
        .groupBy("o_orderstatus")
        .agg(
            F.sum("ov_days").cast("long").alias("total_overlap_days"),
            F.sum(F.when(F.col("ov_days") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_overlapping"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("o_orderstatus")
    )


QUERIES["q196_interval_overlap"] = q196_interval_overlap
ORACLE["q196_interval_overlap"] = """
    WITH j AS (
        SELECT o_orderstatus,
               GREATEST(0, CAST(
                   LEAST(CAST(l_shipdate AS DATE) + 14,
                         CAST(o_orderdate AS DATE) + 30)
                   - GREATEST(CAST(l_shipdate AS DATE),
                              CAST(o_orderdate AS DATE)) AS BIGINT) + 1) AS ov_days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT o_orderstatus,
           CAST(SUM(ov_days) AS BIGINT) AS total_overlap_days,
           CAST(SUM(CASE WHEN ov_days > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlapping,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM j
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Q197 — try_* arithmetic overflow semantics: Spark's try_multiply /
# try_add return NULL exactly where int64 would overflow, try_divide
# NULLs division by zero. The oracle proves the overflow FRONTIER:
# DuckDB computes in HUGEINT (never overflows), so explicit CASE
# guards mark the rows Spark must NULL — a * BIG overflows iff
# a ≥ 5 (4·(2^61−1+something)… BIG = 2305843009213693951, 4·BIG =
# 2^63−4 fits, 5·BIG doesn't), (MAX−3) + a overflows iff a ≥ 4.
# try_divide output is one IEEE division of two exact small ints —
# bit-identical. min/max instead of SUM keeps every reported value in
# BIGINT on both engines (HUGEINT-class rule).
# ---------------------------------------------------------------------------

_TRY_BIG = 2305843009213693951  # 2^61 - 1 - 2^0… exact: 4*BIG = 2^63 - 4
_TRY_NEAR_MAX = 9223372036854775804  # 2^63 - 4


def q197_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = (F.col("o_orderkey") % 5 + 1).cast("long")
    b = (F.col("o_orderkey") % 4).cast("long")
    t = o.select(
        "o_orderstatus",
        F.try_multiply(a, F.lit(_TRY_BIG).cast("long")).alias("tm"),
        F.try_add(F.lit(_TRY_NEAR_MAX).cast("long"), a).alias("ta"),
        F.try_divide(a, b).alias("td"),
    )
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(F.col("tm").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_mul_overflow"),
            F.min("tm").alias("min_mul"),
            F.sum(F.when(F.col("ta").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_add_overflow"),
            F.max("ta").alias("max_add"),
            F.sum(F.when(F.col("td").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_div_by_zero"),
            F.max("td").alias("max_div"),
        )
        .orderBy("o_orderstatus")
    )


QUERIES["q197_try_arithmetic"] = q197_try_arithmetic
ORACLE["q197_try_arithmetic"] = f"""
    WITH t AS (
        SELECT o_orderstatus,
               o_orderkey % 5 + 1 AS a,
               o_orderkey % 4 AS b
        FROM orders
    ), v AS (
        SELECT o_orderstatus,
               CASE WHEN a >= 5 THEN NULL
                    ELSE CAST(a * {_TRY_BIG} AS BIGINT) END AS tm,
               CASE WHEN a >= 4 THEN NULL
                    ELSE CAST({_TRY_NEAR_MAX} + a AS BIGINT) END AS ta,
               CASE WHEN b = 0 THEN NULL
                    ELSE CAST(a AS DOUBLE) / CAST(b AS DOUBLE) END AS td
        FROM t
    )
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN tm IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mul_overflow,
           CAST(MIN(tm) AS BIGINT) AS min_mul,
           CAST(SUM(CASE WHEN ta IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_add_overflow,
           CAST(MAX(ta) AS BIGINT) AS max_add,
           CAST(SUM(CASE WHEN td IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_by_zero,
           MAX(td) AS max_div
    FROM v
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Q198 — skyline (Pareto frontier): parts not dominated on
# (minimize retailprice, maximize size). Sorted by (price asc, size
# desc, partkey asc), a row is on the frontier iff its size strictly
# exceeds the running max size over all earlier rows — one window
# over one sort instead of the naive O(n²) dominance self-join.
# Duplicate (price, size) points keep only the smallest partkey (the
# "distinct skyline" convention, documented). Integer cents
# throughout. Scale: the sort is the only exchange; the running max
# is a streaming frame. 100 TB variant: pre-filter per partition
# with the same window (a partition-local skyline is a superset of
# its global skyline contribution), then one narrow global pass.
# ---------------------------------------------------------------------------

def q198_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    w = Window.orderBy(
        F.asc("price_cents"), F.desc("size"), F.asc("p_partkey")
    ).rowsBetween(Window.unboundedPreceding, -1)
    return (
        p.withColumn("mx", F.max("size").over(w))
        .filter(F.col("mx").isNull() | (F.col("size") > F.col("mx")))
        .select("p_partkey", "price_cents", "size")
        .orderBy("price_cents", "p_partkey")
    )


QUERIES["q198_skyline"] = q198_skyline
ORACLE["q198_skyline"] = """
    WITH p AS (
        SELECT p_partkey,
               CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
               CAST(p_size AS BIGINT) AS size
        FROM part
    ), r AS (
        SELECT p_partkey, price_cents, size,
               MAX(size) OVER (ORDER BY price_cents ASC, size DESC, p_partkey ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        FROM p
    )
    SELECT p_partkey, price_cents, size
    FROM r
    WHERE mx IS NULL OR size > mx
    ORDER BY price_cents, p_partkey
"""


# ---------------------------------------------------------------------------
# Q199 — equi-DEPTH histogram via NTILE: decile boundaries of the
# order-price distribution (count, min, max, span per tile) — the
# quantile-binning twin of q129's equi-WIDTH histogram. NTILE's
# remainder convention (first n_rows mod 10 tiles get the extra row)
# is pinned identical on both engines by the total order
# (price_cents, orderkey). Integer cents.
# ---------------------------------------------------------------------------

def q199_equidepth_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("price_cents"),
    )
    w = Window.orderBy(F.asc("price_cents"), F.asc("o_orderkey"))
    return (
        o.withColumn("tile", F.ntile(10).over(w).cast("long"))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("price_cents").alias("lo_cents"),
            F.max("price_cents").alias("hi_cents"),
        )
        .orderBy("tile")
    )


QUERIES["q199_equidepth_ntile"] = q199_equidepth_ntile
ORACLE["q199_equidepth_ntile"] = """
    WITH t AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
               NTILE(10) OVER (ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                               o_orderkey) AS tile
        FROM orders
    )
    SELECT CAST(tile AS BIGINT) AS tile,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(price_cents) AS lo_cents,
           MAX(price_cents) AS hi_cents
    FROM t
    GROUP BY tile
    ORDER BY tile
"""


# ---------------------------------------------------------------------------
# Q200 — largest-remainder proportional allocation (seat
# apportionment / budget split): allocate exactly 1000 slots across
# order priorities proportional to order counts. base = n·1000 div
# total (non-negative div), remainders ranked (remainder desc,
# priority asc) and the leftover slots go one each to the top ranks —
# Σ seats = 1000 exactly, fully deterministic. The all-integer form
# of a weighted-quota operator (quota sampling, shard sizing,
# stratified batch allocation).
# ---------------------------------------------------------------------------

_LR_SEATS = 1000


def q200_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy()
    per = (
        per.withColumn("total", F.sum("n").over(tot))
        # n, SEATS, total all ≥ 0 → both divs non-negative.
        .withColumn("base", F.expr(f"(n * {_LR_SEATS}) div total"))
        .withColumn("rem", F.expr(f"(n * {_LR_SEATS}) % total"))
        .withColumn("deficit", F.lit(_LR_SEATS) - F.sum("base").over(tot))
    )
    wr = Window.orderBy(F.desc("rem"), F.asc("o_orderpriority"))
    return (
        per.withColumn("rk", F.row_number().over(wr))
        .select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n"),
            (
                F.col("base") + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
            )
            .cast("long")
            .alias("seats"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["q200_largest_remainder"] = q200_largest_remainder
ORACLE["q200_largest_remainder"] = f"""
    WITH per AS (
        SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority
    ), e AS (
        SELECT o_orderpriority, n,
               SUM(n) OVER () AS total,
               (n * {_LR_SEATS}) // SUM(n) OVER () AS base,
               (n * {_LR_SEATS}) % SUM(n) OVER () AS rem
        FROM per
    ), r AS (
        SELECT *,
               {_LR_SEATS} - SUM(base) OVER () AS deficit,
               ROW_NUMBER() OVER (ORDER BY rem DESC, o_orderpriority ASC) AS rk
        FROM e
    )
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n,
           CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS seats
    FROM r
    ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q201 — sequence-gap audit (data-completeness primitive): the
# orderkeys of 'F'-status orders form a sparse subsequence of the
# contiguous key space; report the largest gaps (run of missing keys
# between consecutive present keys) — the standard check for dropped
# ingestion batches / missing id ranges. One sort-window (lag), no
# joins; top-20 by (gap_len desc, gap_start asc).
# ---------------------------------------------------------------------------

def q201_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    w = Window.orderBy("o_orderkey")
    return (
        o.select("o_orderkey")
        .withColumn("prev", F.lag("o_orderkey").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("o_orderkey") - F.col("prev") > 1))
        .select(
            (F.col("prev") + 1).cast("long").alias("gap_start"),
            (F.col("o_orderkey") - 1).cast("long").alias("gap_end"),
            (F.col("o_orderkey") - F.col("prev") - 1).cast("long").alias("gap_len"),
        )
        .orderBy(F.desc("gap_len"), F.asc("gap_start"))
        .limit(20)
    )


QUERIES["q201_sequence_gaps"] = q201_sequence_gaps
ORACLE["q201_sequence_gaps"] = """
    WITH f AS (
        SELECT o_orderkey,
               LAG(o_orderkey) OVER (ORDER BY o_orderkey) AS prev
        FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT CAST(prev + 1 AS BIGINT) AS gap_start,
           CAST(o_orderkey - 1 AS BIGINT) AS gap_end,
           CAST(o_orderkey - prev - 1 AS BIGINT) AS gap_len
    FROM f
    WHERE prev IS NOT NULL AND o_orderkey - prev > 1
    ORDER BY gap_len DESC, gap_start ASC
    LIMIT 20
"""


# ===========================================================================
# Round 8 — graded LLM-curation rows
# ===========================================================================

# ---------------------------------------------------------------------------
# Q202 — Gopher quality-rule report (Rae et al. 2021, A.1.1 — the
# MassiveText structural pre-filter): per-source document counts,
# keep counts, and per-rule rejection counts over the 7-rule family
# in operators/curation.gopher_quality_flags. Every rule is a
# cross-multiplied integer comparison (no float ratios), so the SQL
# twin recomputes them bit-exactly from the same [ \t\r\n] token and
# line classes. keep_rate is the one double: a single IEEE division
# of two exact BIGINTs (float-policy rule). Scale: the flag
# projection is one narrow pure-Catalyst pass at the scan (no UDF,
# no shuffle before the per-source agg) — 16x probe flat
# (SCALING.md). The synthetic corpus is stopword-poor word soup, so
# n_kept is 0 by r_stopwords while the OTHER rule columns vary —
# the per-rule counts are the graded signal.
# ---------------------------------------------------------------------------

def q202_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.curation import gopher_quality_flags

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    g = gopher_quality_flags(docs)
    rules = [
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_stopwords",
    ]
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("gopher_keep").cast("int")).cast("long").alias("n_kept"),
        F.sum("n_words").cast("long").alias("words_total"),
    ] + [
        F.sum((~F.col(r)).cast("int")).cast("long").alias("f" + r[1:])
        for r in rules
    ]
    out = g.groupBy("source").agg(*aggs)
    return (
        out.withColumn(
            "keep_rate",
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q202_gopher_quality"] = q202_gopher_quality
ORACLE["q202_gopher_quality"] = """
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
    ), r AS (
        SELECT source, n_words,
               (n_words >= 50 AND n_words <= 100000) AS r_word_count,
               (3 * n_words <= word_chars AND word_chars <= 10 * n_words) AS r_mean_word_len,
               (10 * n_sym <= n_words) AS r_symbol_ratio,
               (10 * n_bullet <= 9 * n_lines) AS r_bullet_lines,
               (10 * n_ell <= 3 * n_lines) AS r_ellipsis_lines,
               (5 * n_alpha >= 4 * n_words) AS r_alpha_words,
               (n_stop >= 2) AS r_stopwords
        FROM m
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r_word_count AND r_mean_word_len AND r_symbol_ratio
                          AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
                          AND r_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(n_words) AS BIGINT) AS words_total,
           CAST(SUM(CASE WHEN r_word_count THEN 0 ELSE 1 END) AS BIGINT) AS f_word_count,
           CAST(SUM(CASE WHEN r_mean_word_len THEN 0 ELSE 1 END) AS BIGINT) AS f_mean_word_len,
           CAST(SUM(CASE WHEN r_symbol_ratio THEN 0 ELSE 1 END) AS BIGINT) AS f_symbol_ratio,
           CAST(SUM(CASE WHEN r_bullet_lines THEN 0 ELSE 1 END) AS BIGINT) AS f_bullet_lines,
           CAST(SUM(CASE WHEN r_ellipsis_lines THEN 0 ELSE 1 END) AS BIGINT) AS f_ellipsis_lines,
           CAST(SUM(CASE WHEN r_alpha_words THEN 0 ELSE 1 END) AS BIGINT) AS f_alpha_words,
           CAST(SUM(CASE WHEN r_stopwords THEN 0 ELSE 1 END) AS BIGINT) AS f_stopwords,
           CAST(SUM(CASE WHEN r_word_count AND r_mean_word_len AND r_symbol_ratio
                          AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
                          AND r_stopwords THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS keep_rate
    FROM r
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q203 — SemDeDup semantic deduplication (Abbas et al. 2023,
# arXiv:2303.09540) as a graded row: IVF cell assignment over the
# fixed Q28 centroid set, within-cell exact cosine pairs at
# τ = 0.35, connected-component resolution, min-id keeper — reported
# as the cluster-size histogram (n_clusters per size; Σ n_clusters
# is the keeper count, Σ n_docs the corpus). Everything upstream of
# the histogram is bit-deterministic: the numpy kernels accumulate
# float64 left-to-right, matching the SQL twin's list_sum fold
# exactly (parity pinned by tests/test_vectorized.py), so the
# threshold decisions — hence the component structure — hash-match.
# Scale: the quadratic term is Σ|cell|² only (cells sized by
# occupancy at production — SCALING.md measures the knob at 16×);
# the pair stage is the Arrow blocked kernel (block_col="cell"),
# never the interpreted HOF path; cluster resolution is the
# checkpointed min-label propagation. Oracle components use q84's
# proven recursive-CTE idiom. Zero-norm vectors would diverge
# (kernel drops NaN pairs, SQL divides) — the det-fake corpus has
# none, and production embeddings are unit-normalized.
# ---------------------------------------------------------------------------

_Q203_TAU = 0.35


def q203_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.dedup import semantic_dedup
    from ai_data_pipeline_spark.plans.constants import Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, Q28_CENTROIDS, min_cosine=_Q203_TAU)
    sizes = out.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .withColumn(
            "n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("long")
        )
        .orderBy("cluster_size")
    )


QUERIES["q203_semantic_dedup"] = q203_semantic_dedup


def _q203_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_lit_list,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q28_CENTROIDS

    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    # pre-cast each vector to a DOUBLE list and precompute its norm
    # ONCE (the kernel does exactly the same: norms_ltr per vector,
    # one cross-dot per pair) — folding 3 lambdas per candidate pair
    # instead measured 54 s vs ~15 s at 500 vecs
    rng = f"range(1, {EMBED_DIM + 1})"
    dot_vv = f"list_sum(list_transform({rng}, i -> (v)[i] * (v)[i]))"
    dot_ab = f"list_sum(list_transform({rng}, i -> (a.v)[i] * (b.v)[i]))"
    # AS MATERIALIZED: without it DuckDB inlines `normed` into both
    # sides of the self-join and re-evaluates the 8-centroid argmin
    # per candidate PAIR — measured 49 s vs 5 s at 500 vecs
    return f"""
        WITH RECURSIVE assigned AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   struct_extract((list_sort([{cells}]))[1], 'c') AS cell
            FROM embeddings
        ), normed AS MATERIALIZED (
            SELECT vec_id, v, cell, sqrt({dot_vv}) AS nrm FROM assigned
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM normed a JOIN normed b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ({dot_ab}) / (a.nrm * b.nrm) >= '{_Q203_TAU!r}'::DOUBLE
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
               CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
        FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """


ORACLE["q203_semantic_dedup"] = _q203_oracle()


# ---------------------------------------------------------------------------
# Q204 — document-level MinHash dedup END-TO-END at a fixed policy
# (the FineWeb/RefinedWeb production pass, Penedo et al. 2024): q24's
# exact MinHash+LSH pipeline (3-gram shingles, 32 md5-family hashes,
# 8 bands × 4 — banding threshold ≈ 0.59 at the 0.6 verification
# cutoff) → star-contraction connected components → min-id keeper,
# reported per source as docs before/after dedup. This composes the
# three graded primitives (q24 pairs, q84/q107 components+keeper)
# into the single pass a user actually runs — the same way q91
# composed the curation funnel. removed_rate is one IEEE division of
# exact BIGINTs. Scale: candidates come from banding (never an
# all-pairs shingle join — the verification join is linear in
# candidates), shuffles carry 60-bit hashes not text, components
# resolve in O(log n) star rounds or the count-gated union-find.
# ---------------------------------------------------------------------------

def q204_minhash_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import spread
    from ai_data_pipeline_spark.operators import dedup

    docs = spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.minhash_neardup_pairs(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, min_jaccard=0.6
    )
    clusters = dedup.dedup_clusters_star(pairs)
    keeper = (
        docs.select("doc_id", "source")
        .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "source",
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    agg = keeper.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("doc_id") == F.col("cluster_id")).cast("int"))
        .cast("long")
        .alias("n_kept"),
    )
    return (
        agg.withColumn("n_removed", (F.col("n_docs") - F.col("n_kept")).cast("long"))
        .withColumn(
            "removed_rate",
            F.col("n_removed").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q204_minhash_keeper"] = q204_minhash_keeper

# Oracle: q24's SQL pipeline (signatures → band keys → candidates →
# exact-Jaccard ≥ 0.6) over the SAME sql_word_ngrams fragment q24's
# twin uses, then q84's recursive-CTE components and the same min-id
# keeper defaulting to self.
def _q204_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

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
    ), keeper AS (
        SELECT d.source, d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS removed_rate
    FROM keeper
    GROUP BY source
    ORDER BY source
"""


ORACLE["q204_minhash_keeper"] = _q204_oracle()


# ---------------------------------------------------------------------------
# Q205 — tokenizer-aware multi-source interleaved sequence packing
# (q87's per-source packing extended to the cross-source training
# stream): documents from ALL sources interleave in a deterministic
# pseudo-random order (multiplicative-hash key — the reproducible
# stand-in for the shuffle every training run applies), concatenate,
# and cut into 1024-token sequences using the BPE-ish token count;
# report the per-sequence source-diversity histogram (sequences by
# how many distinct sources contributed a doc STARTING in them) —
# the mixing audit for curriculum/contamination concerns. The global
# cumsum uses distributed_prefix_sum (operators/curation.py): the
# hash key is uniform, so its range buckets are contiguous in the
# global order and the two-pass prefix sum replaces q87's
# single-task-window caveat with a B-row offset pass — the 100 TB
# shape, graded. All integer arithmetic; every div/% dividend is
# non-negative (doc_id ≥ 0, token counts ≥ 0, cum ≥ n_tok).
# ---------------------------------------------------------------------------

_Q205_BUDGET = 1024
_Q205_P = 1_000_003          # hash modulus (prime)
_Q205_MULT = 2_654_435_761   # Knuth multiplicative constant
_Q205_BUCKETS = 64


def q205_pack_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_bpe_ish
    from ai_data_pipeline_spark.operators.curation import distributed_prefix_sum

    docs = _t(spark, sf_dir, "documents")
    step = _Q205_P // _Q205_BUCKETS + 1  # ord_key range per bucket
    base = docs.select(
        "doc_id",
        "source",
        token_count_bpe_ish(F.col("text")).alias("n_tok"),
        # Reduce BEFORE multiplying: (doc_id % P) ≤ P-1 keeps the
        # product < 2^53 for ANY BIGINT doc_id (doc_id * MULT alone
        # wraps negative past doc_id ≈ 3.47e9 — the 100 TB id range);
        # mathematically identical mod P. doc_id ≥ 0 → non-negative.
        F.expr(f"((doc_id % {_Q205_P}) * {_Q205_MULT}) % {_Q205_P}").alias("ord_key"),
    ).withColumn("bucket", F.expr(f"ord_key div {step}"))
    cum = distributed_prefix_sum(
        base, "bucket", ["ord_key", "doc_id"], "n_tok"
    )
    seqs = cum.select(
        "source",
        # cum ≥ n_tok ≥ 0: the doc's FIRST sequence index
        F.expr(f"(cum - n_tok) div {_Q205_BUDGET}").alias("seq"),
    )
    per_seq = seqs.groupBy("seq").agg(
        F.countDistinct("source").cast("long").alias("n_src"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return (
        per_seq.groupBy("n_src")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
        .orderBy("n_src")
    )


QUERIES["q205_pack_interleave"] = q205_pack_interleave


def _q205_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import BPE_ISH_PATTERN

    return f"""
    WITH base AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_tok,
               ((doc_id % {_Q205_P}) * {_Q205_MULT}) % {_Q205_P} AS ord_key
        FROM documents
    ), cum AS (
        SELECT source, n_tok,
               SUM(n_tok) OVER (ORDER BY ord_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM base
    ), seqs AS (
        SELECT source, (cum - n_tok) // {_Q205_BUDGET} AS seq FROM cum
    ), per_seq AS (
        SELECT seq, COUNT(DISTINCT source) AS n_src, COUNT(*) AS n_docs
        FROM seqs GROUP BY seq
    )
    SELECT CAST(n_src AS BIGINT) AS n_src,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs
    FROM per_seq GROUP BY n_src ORDER BY n_src
    """


ORACLE["q205_pack_interleave"] = _q205_oracle()


# ---------------------------------------------------------------------------
# Q206 — C4 cleaning report (Raffel et al. 2020 §2.2 — the other
# canonical structural pre-filter next to q202's Gopher family):
# per-source doc counts, per-rule doc rejections (brace / lorem-ipsum
# / <3 retained lines) and the line-level retention mass (lines that
# end in terminal punctuation AND have ≥5 words). Same discipline as
# q202: explicit [ \t\r] classes on both engines, exact integers,
# keep_rate as one IEEE division of exact BIGINTs, pure-Catalyst
# projection at the scan.
# ---------------------------------------------------------------------------

def q206_c4_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.curation import c4_quality_flags

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    g = c4_quality_flags(docs)
    out = g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("c4_keep").cast("int")).cast("long").alias("n_kept"),
        F.sum(F.col("has_brace").cast("int")).cast("long").alias("n_brace"),
        F.sum(F.col("has_lorem").cast("int")).cast("long").alias("n_lorem"),
        F.sum((F.col("n_kept_lines") < 3).cast("int")).cast("long").alias("n_too_few"),
        F.sum("n_lines").cast("long").alias("lines_total"),
        F.sum("n_kept_lines").cast("long").alias("lines_kept"),
        F.sum("kept_chars").cast("long").alias("kept_chars"),
    )
    return (
        out.withColumn(
            "keep_rate",
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q206_c4_quality"] = q206_c4_quality
ORACLE["q206_c4_quality"] = """
    WITH d AS (
        SELECT source,
               coalesce(text, '') AS t,
               list_filter(string_split(coalesce(text, ''), chr(10)),
                           l -> NOT regexp_full_match(l, '[ \\t\\r]*')) AS lines
        FROM documents
    ), m AS (
        SELECT source,
               len(lines) AS n_lines,
               list_filter(lines, l ->
                   regexp_matches(l, '[.!?"][ \\t\\r]*$')
                   AND len(list_filter(string_split_regex(l, '[ \\t\\r]+'),
                                       w -> w != '')) >= 5) AS kept,
               contains(t, '{') AS has_brace,
               contains(lower(t), 'lorem ipsum') AS has_lorem
        FROM d
    ), r AS (
        SELECT source, n_lines,
               len(kept) AS n_kept_lines,
               coalesce(list_sum(list_transform(kept, l -> len(l))), 0) AS kept_chars,
               has_brace, has_lorem,
               (NOT has_brace AND NOT has_lorem AND len(kept) >= 3) AS keep
        FROM m
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN has_brace THEN 1 ELSE 0 END) AS BIGINT) AS n_brace,
           CAST(SUM(CASE WHEN has_lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_lorem,
           CAST(SUM(CASE WHEN n_kept_lines < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_too_few,
           CAST(SUM(n_lines) AS BIGINT) AS lines_total,
           CAST(SUM(n_kept_lines) AS BIGINT) AS lines_kept,
           CAST(SUM(kept_chars) AS BIGINT) AS kept_chars,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS keep_rate
    FROM r
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q207 — temperature-based multilingual sampling weights (the XLM-R /
# mBERT α-smoothed mixing rule, Conneau et al. 2020: p_l ∝ n_l^α,
# α = 0.5): per language, token mass, the smoothed weight, its share
# of the mix, and the document allocation out of a 100k budget.
# Float policy: sqrt of an exact BIGINT (< 2^53) is ONE correctly-
# rounded IEEE op on both engines; w = floor(sqrt(tokens) * 1e6) is
# exact integer after one more exact-input multiply+floor (never
# ROUND(double) — the .5 trap); share is a single division of two
# exact BIGINTs; alloc is a truncating div of non-negative BIGINTs.
# Scale: one agg on lang (tiny domain) — map-side combined counts.
# ---------------------------------------------------------------------------

_Q207_BUDGET = 100_000
_Q207_WSCALE = 1_000_000


def q207_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws

    docs = _t(spark, sf_dir, "documents")
    per_lang = (
        docs.select("lang", token_count_ws(F.col("text")).alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
        )
    )
    w = per_lang.withColumn(
        "w",
        F.floor(F.sqrt(F.col("tokens").cast("double")) * _Q207_WSCALE).cast("long"),
    )
    total = F.sum("w").over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    ))
    return (
        w.withColumn("w_total", total.cast("long"))
        .select(
            "lang",
            "n_docs",
            "tokens",
            "w",
            (F.col("w").cast("double") / F.col("w_total").cast("double")).alias("share"),
            # w, w_total ≥ 0 → non-negative truncating div
            F.expr(f"({_Q207_BUDGET} * w) div w_total").cast("long").alias("alloc"),
        )
        .orderBy("lang")
    )


QUERIES["q207_temperature_mix"] = q207_temperature_mix
ORACLE["q207_temperature_mix"] = f"""
    WITH per_lang AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                        w -> len(w) > 0))) AS BIGINT) AS tokens
        FROM documents
        GROUP BY lang
    ), w AS (
        SELECT lang, n_docs, tokens,
               CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * {_Q207_WSCALE}) AS BIGINT) AS w
        FROM per_lang
    )
    SELECT lang, n_docs, tokens, w,
           CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE) AS share,
           CAST(({_Q207_BUDGET} * w) // SUM(w) OVER () AS BIGINT) AS alloc
    FROM w
    ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Q208 — integer-exact OLS trend per event type (regr_slope's
# oracle-safe form): daily event counts regressed on the day index,
# slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with every sum an exact
# BIGINT (x = day − min_day ≤ a few hundred, y = daily count), so
# the engine-native regr_* double accumulation — whose result is
# summation-order-dependent — is replaced by one correctly-rounded
# IEEE division of exact integers (slope), plus intercept =
# (Σy − slope·Σx)/n as the identical three-op expression tree on
# both engines. The numerator MAY be negative: it is never fed to
# integer div (the one division is IEEE double), so the division-
# convention rule does not apply. Scale: two map-side-combined aggs
# (type×day, then type).
# ---------------------------------------------------------------------------

_Q208_DAY_NS = 86_400_000_000_000


def q208_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    daily = (
        e.select("event_type", F.expr(f"ts_ns div {_Q208_DAY_NS}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    base = daily.withColumn(
        "x",
        (F.col("day") - F.min("day").over(Window.partitionBy("event_type")))
        .cast("long"),
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long")
    out = s.select(
        "event_type", "n", "sx", "sy", "sxy", "sxx",
        num.alias("num"), den.alias("den"),
    ).withColumn(
        # den = 0 when a type has a single day (x constant): 0/0 is
        # NaN on Spark but version-dependent on DuckDB (NULL pre-0.10)
        # — the q131-class driver trap. NULL on both engines instead.
        "slope",
        F.when(
            F.col("den") != 0,
            F.col("num").cast("double") / F.col("den").cast("double"),
        ),
    )
    return out.withColumn(
        "intercept",
        F.when(
            F.col("den") != 0,
            (F.col("sy").cast("double") - F.col("slope") * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
        ),
    ).orderBy("event_type")


QUERIES["q208_linear_trend"] = q208_linear_trend
ORACLE["q208_linear_trend"] = f"""
    WITH daily AS (
        SELECT event_type, epoch_ns(ts) // {_Q208_DAY_NS} AS day,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events
        GROUP BY event_type, day
    ), base AS (
        SELECT event_type, y,
               day - MIN(day) OVER (PARTITION BY event_type) AS x
        FROM daily
    ), s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM base
        GROUP BY event_type
    ), d AS (
        SELECT event_type, n, sx, sy, sxy, sxx,
               CAST(n * sxy - sx * sy AS BIGINT) AS num,
               CAST(n * sxx - sx * sx AS BIGINT) AS den
        FROM s
    )
    SELECT event_type, n, sx, sy, sxy, sxx, num, den,
           CASE WHEN den <> 0
                THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS slope,
           CASE WHEN den <> 0
                THEN (CAST(sy AS DOUBLE)
                        - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * CAST(sx AS DOUBLE))
                       / CAST(n AS DOUBLE) END AS intercept
    FROM d
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Q209 — ANN quality audit: recall@3 of the IVF index (q28's fixed
# 8-centroid / nprobe=2 policy) against the exact brute-force top-3
# (q27), per query — the eval row every ANN deployment needs before
# trusting the index. Both rankings are the already-graded
# deterministic paths, so the audit is bit-deterministic end-to-end;
# recall is one IEEE division of exact small integers. Scale: the
# audit inherits q27/q28's shapes (broadcast query side, partition-
# prunable cells); the join is on (qid, vec_id) over 15-row frames.
# ---------------------------------------------------------------------------

def q209_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.plans import pipeline_queries as P

    bf = P.q27_cosine_topk(spark, sf_dir).select("qid", "vec_id")
    ivf = P.q28_ivf_ann(spark, sf_dir).select("qid", "vec_id")
    hits = (
        bf.join(ivf, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    qids = bf.select("qid").distinct()
    return (
        qids.join(hits, "qid", "left")
        .select(
            F.col("qid").cast("long").alias("qid"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn("recall", F.col("n_hits").cast("double") / F.lit(3.0))
        .orderBy("qid")
    )


QUERIES["q209_ann_recall"] = q209_ann_recall


def _q209_oracle() -> str:
    from ai_data_pipeline_spark.plans import pipeline_queries as P

    bf = P.ORACLE["q27_cosine_topk"]
    ivf = P.ORACLE["q28_ivf_ann"]
    return f"""
    WITH bf AS (
        SELECT qid, vec_id FROM ({bf}) t
    ), ivf AS (
        SELECT qid, vec_id FROM ({ivf}) t
    ), hits AS (
        SELECT bf.qid, COUNT(*) AS n_hits
        FROM bf JOIN ivf ON bf.qid = ivf.qid AND bf.vec_id = ivf.vec_id
        GROUP BY bf.qid
    )
    SELECT CAST(q.qid AS BIGINT) AS qid,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 3.0 AS recall
    FROM (SELECT DISTINCT qid FROM bf) q
    LEFT JOIN hits h ON h.qid = q.qid
    ORDER BY qid
    """


ORACLE["q209_ann_recall"] = _q209_oracle()


# ---------------------------------------------------------------------------
# Q210 — TF-weighted sparse cosine near-dup (the multiset sibling of
# q23's set Jaccard): word-3-gram term vectors with exact BIGINT
# term frequencies, document-frequency cap 20 (the shingle-pair rule
# — a term in f docs contributes f² join rows; the df rides a COUNT
# window over the term so the join's exchange is reused), cosine =
# dot / (√na²·√nb²) as three terminal IEEE ops over exact integers.
# Frequency-sensitive: docs repeating the same phrases at different
# multiplicities separate from the Jaccard ranking. Top-20 with a
# total order.
# ---------------------------------------------------------------------------

_Q210_MAX_TERM_DF = 20


def q210_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import spread
    from ai_data_pipeline_spark.operators import dedup

    docs = spread(_t(spark, sf_dir, "documents"))
    return (
        dedup.tf_cosine_pairs(
            docs, "doc_id", "text", n=3, max_term_df=_Q210_MAX_TERM_DF
        )
        .orderBy(F.desc("sim"), F.asc("id_a"), F.asc("id_b"))
        .limit(20)
    )


QUERIES["q210_tf_cosine"] = q210_tf_cosine
ORACLE["q210_tf_cosine"] = f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+'),
                           t -> len(t) > 0) AS ws
        FROM documents
    ), g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS term
        FROM w
    ), tf AS (
        SELECT doc_id AS id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM g GROUP BY 1, 2
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), kept AS (
        SELECT tf.id, tf.term, tf.tf
        FROM tf JOIN dfreq ON tf.term = dfreq.term
        WHERE dfreq.df <= {_Q210_MAX_TERM_DF}
    ), nrm AS (
        SELECT id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM kept GROUP BY id
    ), dots AS (
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM kept a JOIN kept b ON a.term = b.term AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, dot,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS sim
    FROM dots
    JOIN nrm na ON na.id = id_a
    JOIN nrm nb ON nb.id = id_b
    ORDER BY sim DESC, id_a, id_b
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q211 — IVF cell-occupancy profile: per cell of the fixed Q28
# centroid set, vector count and total/mean squared-L2 distance to
# the centroid — the balance diagnostic behind every IVF decision
# (Σ|cell|² drives q203's pair cost and q28's probe cost; a hot cell
# means re-seed or split). Float policy: the per-row distance is the
# proven bit-identical ltr fold; it quantizes to floor(d²·1e4)
# BIGINT per row (floor of an exact-input product — exact), sums as
# exact integers, and the mean is one IEEE division. The occupancy
# share is likewise exact-int / exact-int. Scale: one map-side
# combined agg over the assignment scan — no shuffle of vectors.
# ---------------------------------------------------------------------------

def q211_ivf_cell_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    # the Arrow kernel, not the unrolled expression path: 8 unrolled
    # 64-dim distances + the least() chain are codegen-compile-bound
    # (measured 15.9 s warm on 500 rows vs <1 s here); the kernel's
    # ltr fold is bit-parity-pinned against both twins
    assigned = ivf_assign_np(emb, Q28_CENTROIDS, keep_dist=True)
    qd = F.floor(F.col("dist") * 10_000).cast("long")
    out = (
        assigned.select("cell", qd.alias("qd"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("qd").cast("long").alias("sum_qd"),
        )
    )
    total = F.sum("n_vecs").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        out.withColumn("n_total", total.cast("long"))
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n_vecs",
            "sum_qd",
            (F.col("sum_qd").cast("double") / F.col("n_vecs").cast("double")).alias("mean_qd"),
            (F.col("n_vecs").cast("double") / F.col("n_total").cast("double")).alias("occupancy"),
        )
        .orderBy("cell")
    )


QUERIES["q211_ivf_cell_profile"] = q211_ivf_cell_profile


def _q211_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import sql_lit_list, sql_squared_l2
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q28_CENTROIDS

    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    return f"""
    WITH assigned AS (
        SELECT vec_id,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell,
               struct_extract((list_sort([{cells}]))[1], 'd') AS dist
        FROM embeddings
    ), q AS (
        SELECT cell, CAST(floor(dist * 10000) AS BIGINT) AS qd FROM assigned
    ), agg AS (
        SELECT CAST(cell AS INTEGER) AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(qd) AS BIGINT) AS sum_qd
        FROM q GROUP BY cell
    )
    SELECT cell, n_vecs, sum_qd,
           CAST(sum_qd AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS mean_qd,
           CAST(n_vecs AS DOUBLE) / CAST(SUM(n_vecs) OVER () AS DOUBLE) AS occupancy
    FROM agg
    ORDER BY cell
    """


ORACLE["q211_ivf_cell_profile"] = _q211_oracle()


# ---------------------------------------------------------------------------
# Q212 — dataset card (one-row corpus summary): the release-notes
# numbers every dataset ships — doc/source/language counts, token
# and char mass, exact-duplicate mass (md5 of raw text — q20's
# digest-first discipline), non-ASCII document count, and the
# derived rates as single IEEE divisions of exact BIGINTs. One scan,
# all aggregates map-side combinable (distincts are over tiny
# domains except the digest, which is the dedup shuffle we'd pay
# anyway and carries 16-byte digests, not text).
# ---------------------------------------------------------------------------

def q212_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        token_count_ws(F.col("text")).alias("n_tok"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.col("text").rlike("[^\\x00-\\x7F]").cast("int").alias("non_ascii"),
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_tok").cast("long").alias("tokens"),
        F.sum("n_chars").cast("long").alias("chars"),
        (F.count(F.lit(1)) - F.countDistinct("digest"))
        .cast("long")
        .alias("n_exact_dups"),
        F.sum("non_ascii").cast("long").alias("n_non_ascii"),
    )
    return agg.select(
        "*",
        (F.col("tokens").cast("double") / F.col("n_docs").cast("double")).alias("mean_tokens"),
        (F.col("n_exact_dups").cast("double") / F.col("n_docs").cast("double")).alias("dup_rate"),
        (F.col("n_non_ascii").cast("double") / F.col("n_docs").cast("double")).alias("non_ascii_rate"),
    )


QUERIES["q212_dataset_card"] = q212_dataset_card
ORACLE["q212_dataset_card"] = """
    WITH base AS (
        SELECT source, lang,
               len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'),
                               w -> len(w) > 0)) AS n_tok,
               length(text) AS n_chars,
               md5(text) AS digest,
               CASE WHEN regexp_matches(text, '[^\\x00-\\x7F]') THEN 1 ELSE 0 END AS non_ascii
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(COUNT(*) - COUNT(DISTINCT digest) AS BIGINT) AS n_exact_dups,
           CAST(SUM(non_ascii) AS BIGINT) AS n_non_ascii,
           CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tokens,
           CAST(COUNT(*) - COUNT(DISTINCT digest) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_rate,
           CAST(SUM(non_ascii) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS non_ascii_rate
    FROM base
"""


# ---------------------------------------------------------------------------
# Q213 — seasonality strength via integer-exact detrending: per
# event type, daily counts y; the 7-row centered moving-average
# detrend is kept integer by scaling (r = 7·y − Σ_{−3..+3} y over
# COMPLETE row frames only), and the strength ratio is
# (n·Σr² − (Σr)²) / (49·(n·Σy² − (Σy)²)) — residual variance over
# scaled raw variance — with every sum an exact BIGINT and ONE
# terminal IEEE division (q208's exact-moment discipline; the 49
# compensates the 7× residual scaling). Row frames (not ranges) on
# both engines, so missing days bind identically. Scale: daily
# pre-agg then one partitioned window pass — shuffle carries
# (type, day, count) longs.
# ---------------------------------------------------------------------------

def q213_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    daily = (
        e.select("event_type", F.expr(f"ts_ns div {_Q208_DAY_NS}").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    base = daily.select(
        "event_type",
        "y",
        F.sum("y").over(w).alias("ma7"),
        F.count(F.lit(1)).over(w).alias("nw"),
    ).filter(F.col("nw") == 7)
    r = (7 * F.col("y") - F.col("ma7")).cast("long")
    s = base.select("event_type", F.col("y"), r.alias("r")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum("r").cast("long").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("srr"),
    )
    num = (F.col("n") * F.col("srr") - F.col("sr") * F.col("sr")).cast("long")
    den = (49 * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))).cast("long")
    return (
        s.select("event_type", "n", "sy", "syy", "sr", "srr",
                 num.alias("num"), den.alias("den"))
        .withColumn(
            # den = 0 when daily counts are constant: NULL on both
            # engines (DuckDB 0/0 is version-dependent — ADVICE r08).
            "strength",
            F.when(
                F.col("den") != 0,
                F.col("num").cast("double") / F.col("den").cast("double"),
            ),
        )
        .orderBy("event_type")
    )


QUERIES["q213_seasonal_strength"] = q213_seasonal_strength
ORACLE["q213_seasonal_strength"] = f"""
    WITH daily AS (
        SELECT event_type, epoch_ns(ts) // {_Q208_DAY_NS} AS day,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY event_type, day
    ), win AS (
        SELECT event_type, y,
               SUM(y) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma7,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
        FROM daily
    ), base AS (
        SELECT event_type, y, 7 * y - ma7 AS r FROM win WHERE nw = 7
    ), s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(r) AS BIGINT) AS sr,
               CAST(SUM(r * r) AS BIGINT) AS srr
        FROM base GROUP BY event_type
    )
    SELECT event_type, n, sy, syy, sr, srr,
           CAST(n * srr - sr * sr AS BIGINT) AS num,
           CAST(49 * (n * syy - sy * sy) AS BIGINT) AS den,
           CASE WHEN 49 * (n * syy - sy * sy) <> 0
                THEN CAST(n * srr - sr * sr AS DOUBLE)
                       / CAST(49 * (n * syy - sy * sy) AS DOUBLE) END AS strength
    FROM s
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Q214 — market share (TPC-H Q8 shape, the 6-table star flagship):
# for PROMO-type parts sold to ASIA-region customers, the share of
# each order year's revenue supplied by NATION_3 suppliers. Exercises
# Catalyst's join-order/broadcast machinery on the full star (fact
# lineitem ⋈ orders ⋈ customer, dims part/supplier/nation/region
# all broadcast; plan test pins zero SortMergeJoin on dims). Money
# discipline: rev_u = cents × (10000 − discount-bp) exact BIGINT
# (q03's idiom); the share is one IEEE division of two exact sums.
# ---------------------------------------------------------------------------

def q214_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    n_c = _t(spark, sf_dir, "nation").alias("nc")
    n_s = _t(spark, sf_dir, "nation").alias("ns")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    ext_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_bp = F.round(F.col("l_discount") * 10000, 0).cast("long")
    rev_u = (ext_c * (10000 - disc_bp)).alias("rev_u")
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), c.c_nationkey == F.col("nc.n_nationkey"))
        .join(F.broadcast(r), F.col("nc.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), s.s_nationkey == F.col("ns.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev_u,
            (F.col("ns.n_name") == "NATION_3").alias("is_nat"),
        )
    )
    agg = base.groupBy("o_year").agg(
        F.sum("rev_u").cast("long").alias("total_u"),
        F.sum(F.when(F.col("is_nat"), F.col("rev_u")).otherwise(0))
        .cast("long")
        .alias("nat_u"),
    )
    return (
        agg.select(
            F.col("o_year").cast("int").alias("o_year"),
            "nat_u",
            "total_u",
            (F.col("nat_u").cast("double") / F.col("total_u").cast("double")).alias("share"),
        )
        .orderBy("o_year")
    )


QUERIES["q214_market_share"] = q214_market_share
ORACLE["q214_market_share"] = """
    WITH base AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (10000 - CAST(ROUND(l_discount * 10000) AS BIGINT)) AS rev_u,
               (ns.n_name = 'NATION_3') AS is_nat
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN is_nat THEN rev_u ELSE 0 END) AS BIGINT) AS nat_u,
           CAST(SUM(rev_u) AS BIGINT) AS total_u,
           CAST(SUM(CASE WHEN is_nat THEN rev_u ELSE 0 END) AS DOUBLE)
             / CAST(SUM(rev_u) AS DOUBLE) AS share
    FROM base
    GROUP BY o_year
    ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# Q215 — dynamic partition overwrite semantics (the incremental-
# reload contract of every partitioned lake table): write orders
# Hive-partitioned by status, then OVERWRITE with a frame containing
# only half of status-'F'. Dynamic mode must replace ONLY the 'F'
# partition and leave the others byte-intact — the graded row reads
# back per-status counts and exact key checksums (static mode would
# wipe the other statuses; the checksum catches any partial rewrite).
# Store lifecycle rules: sources/store.py.
# ---------------------------------------------------------------------------

def q215_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    with TempStore(spark, "q215_", "o_orderstatus") as st:
        st.write(o)
        st.overwrite(
            o.filter(
                (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 2 == 0)
            ),
            ["F"],
        )
        back = (
            st.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum("o_custkey").cast("long").alias("cust_sum"),
            )
            .orderBy("o_orderstatus")
            .collect()
        )
    return spark.createDataFrame(
        back, "o_orderstatus string, n long, key_sum long, cust_sum long"
    )


QUERIES["q215_dynamic_overwrite"] = q215_dynamic_overwrite
ORACLE["q215_dynamic_overwrite"] = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
    FROM orders
    WHERE o_orderstatus <> 'F' OR o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Q216 — the corpus RELEASE FUNNEL end-to-end (the FineWeb-shaped
# pass, composing the round's graded stages into the one row a
# dataset release actually runs): per source,
#   n_raw → n_quality (the four STRUCTURAL Gopher rules — word
#   count, mean word length, symbol ratio, alpha-word share; the
#   stopword/line rules are graded separately in q202/q206 and are
#   degenerate on this single-line stopword-poor corpus, so the
#   funnel pins the discriminating subset as its documented policy)
#   → n_exact (global digest dedup, keep-first by doc_id, survivors
#   attributed to their own source) → n_final (q204's MinHash
#   policy — 3-gram, 32 hashes, 8×4 bands, Jaccard ≥ 0.6 — over the
#   exact survivors, min-id keeper) plus the token mass retained.
# Every stage reuses a proven fragment (q202 rules, q20 digests,
# q24/q204 MinHash + components); the one double is tokens-per-kept
# as an exact-int division. Scale posture inherits the stages':
# rules at the scan, digest shuffle, banded candidates, star/union-
# find components.
# ---------------------------------------------------------------------------

def q216_release_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import spread
    from ai_data_pipeline_spark.operators import dedup
    from ai_data_pipeline_spark.operators.curation import gopher_quality_flags

    docs = spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )
    flagged = gopher_quality_flags(docs)
    quality = flagged.filter(
        F.col("r_word_count")
        & F.col("r_mean_word_len")
        & F.col("r_symbol_ratio")
        & F.col("r_alpha_words")
    ).select("doc_id", "source", "text", "n_words")
    # exact dedup: keep the minimum doc_id per raw-text digest
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    exact = (
        quality.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "source", "text", "n_words")
        # spread BEFORE the checkpoint (r13): AQE coalesces the small
        # post-window exchange to ONE partition, and a checkpoint
        # freezes that — the 32-seed minhash downstream then ran on 1
        # task (measured 7.4–11.4 s vs 2.5–3.1 s re-spread; the q288
        # parallelism finding at a checkpoint boundary)
        .transform(spread)
        .localCheckpoint()  # three downstream consumers (sig, shingles, final join)
    )
    pairs = dedup.minhash_neardup_pairs(
        exact, "doc_id", "text", n=3, num_hashes=32, bands=8, min_jaccard=0.6
    )
    clusters = dedup.dedup_clusters_star(pairs)
    final = (
        exact.join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn(
            "keeper",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")) == F.col("doc_id"),
        )
    )
    # stage counts, all attributed to the doc's own source
    raw_c = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw")
    )
    qual_c = quality.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_quality")
    )
    exact_c = exact.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    # tokens_final sums the SAME [ \t\r\n] word count the quality
    # rules used (carried through the funnel), so both engines fold
    # one class — token_count_ws's \s+ differs on exotic whitespace
    final_c = final.filter(F.col("keeper")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_final"),
        F.sum("n_words").cast("long").alias("tokens_final"),
    )
    out = (
        raw_c.join(qual_c, "source", "left")
        .join(exact_c, "source", "left")
        .join(final_c, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact"),
            F.coalesce("n_final", F.lit(0)).cast("long").alias("n_final"),
            F.coalesce("tokens_final", F.lit(0)).cast("long").alias("tokens_final"),
        )
    )
    return out.withColumn(
        "mean_tokens_kept",
        F.when(
            F.col("n_final") > 0,
            F.col("tokens_final").cast("double") / F.col("n_final").cast("double"),
        ).otherwise(F.lit(0.0)),
    ).orderBy("source")


QUERIES["q216_release_funnel"] = q216_release_funnel


def _q216_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    ws = "list_filter(string_split_regex(coalesce(text, ''), '[ \\t\\r\\n]+'), w -> w != '')"
    return f"""
    WITH RECURSIVE m AS (
        SELECT doc_id, source, text,
               len({ws}) AS n_words,
               coalesce(list_sum(list_transform({ws}, w -> len(w))), 0) AS word_chars,
               len(list_filter({ws}, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
               length(coalesce(text, ''))
                 - length(replace(coalesce(text, ''), '#', ''))
                 + len(regexp_extract_all(coalesce(text, ''), '(\\.\\.\\.|…)')) AS n_sym
        FROM documents
    ), quality AS MATERIALIZED (
        SELECT doc_id, source, text, n_words
        FROM m
        WHERE n_words >= 50 AND n_words <= 100000
          AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
          AND 10 * n_sym <= n_words
          AND 5 * n_alpha >= 4 * n_words
    ), exact AS MATERIALIZED (
        SELECT doc_id, source, text, n_words
        FROM (
            SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
            FROM quality
        )
        WHERE doc_id = keep_id
    ), sh AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, unnest({sql_word_ngrams("text", 3)}) AS shingle
        FROM exact
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
    ), final AS (
        SELECT e.doc_id, e.source, e.n_words,
               (COALESCE(c.cluster_id, e.doc_id) = e.doc_id) AS keeper
        FROM exact e LEFT JOIN comp c ON c.id = e.doc_id
    ), per_src AS (
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_raw,
               CAST(COALESCE(MAX(q.nq), 0) AS BIGINT) AS n_quality,
               CAST(COALESCE(MAX(x.nx), 0) AS BIGINT) AS n_exact,
               CAST(COALESCE(MAX(f.nf), 0) AS BIGINT) AS n_final,
               CAST(COALESCE(MAX(f.tok), 0) AS BIGINT) AS tokens_final
        FROM documents d
        LEFT JOIN (SELECT source, COUNT(*) AS nq FROM quality GROUP BY source) q
          ON q.source = d.source
        LEFT JOIN (SELECT source, COUNT(*) AS nx FROM exact GROUP BY source) x
          ON x.source = d.source
        LEFT JOIN (SELECT source, COUNT(*) AS nf, SUM(n_words) AS tok
                   FROM final WHERE keeper GROUP BY source) f
          ON f.source = d.source
        GROUP BY d.source
    )
    SELECT source, n_raw, n_quality, n_exact, n_final, tokens_final,
           CASE WHEN n_final > 0
                THEN CAST(tokens_final AS DOUBLE) / CAST(n_final AS DOUBLE)
                ELSE 0.0 END AS mean_tokens_kept
    FROM per_src
    ORDER BY source
    """


ORACLE["q216_release_funnel"] = _q216_oracle()


# ---------------------------------------------------------------------------
# Q217 — targeted deletion (right-to-be-forgotten processing, the
# data-governance pass every training corpus needs): a deterministic
# removal list (doc_id % 37 = 0 — the stand-in for a DSR/opt-out
# table) anti-joins the corpus (broadcast LeftAnti — the list is
# tiny relative to the corpus at any scale), the survivors rewrite
# to a fresh partitioned location, and the AUDIT row reads the
# rewrite back: per source, surviving count, exact id checksum, and
# removed count vs the pre-image — proving the delete removed
# exactly the listed rows and nothing else.
# ---------------------------------------------------------------------------

def q217_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    removal = docs.filter(F.col("doc_id") % 37 == 0).select("doc_id")
    with TempStore(spark, "q217_", "source") as st:
        st.write(docs.join(F.broadcast(removal), "doc_id", "left_anti"))
        back = (
            st.read()
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_kept"),
                F.sum("doc_id").cast("long").alias("id_sum"),
            )
        )
        pre = docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_raw")
        )
        rows = (
            pre.join(back, "source", "left")
            .select(
                "source",
                "n_raw",
                F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                (F.col("n_raw") - F.coalesce("n_kept", F.lit(0)))
                .cast("long")
                .alias("n_removed"),
                F.coalesce("id_sum", F.lit(0)).cast("long").alias("id_sum"),
            )
            .orderBy("source")
            .collect()
        )
    return spark.createDataFrame(
        rows, "source string, n_raw long, n_kept long, n_removed long, id_sum long"
    )


QUERIES["q217_targeted_delete"] = q217_targeted_delete
ORACLE["q217_targeted_delete"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN doc_id % 37 <> 0 THEN doc_id ELSE 0 END) AS BIGINT) AS id_sum
    FROM documents
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q218 — BPE merge-candidate scoring (the first step of byte-pair-
# encoding tokenizer training, Sennrich et al. 2016): count adjacent
# character-pair occurrences inside whitespace words across the
# corpus (repeats counted — BPE merges by occurrence mass, not
# document frequency) and rank the top-20 merge candidates. Pure
# integer counts; substr is codepoint-indexed on both engines so
# multi-byte text binds identically. Scale: chars explode is linear
# in corpus bytes, the count is map-side combinable, top-20 is
# TakeOrdered.
# ---------------------------------------------------------------------------

def q218_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(F.explode(ws_tokens(F.col("text"))).alias("w"))
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


QUERIES["q218_bpe_merge_candidates"] = q218_bpe_merge_candidates
ORACLE["q218_bpe_merge_candidates"] = """
    WITH words AS (
        SELECT unnest(list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                  w -> len(w) > 0)) AS w
        FROM documents
    ), pairs AS (
        SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair
        FROM words
        WHERE len(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q219 — LSH banding quality audit (measure, don't guess: the
# recall check every MinHash deployment owes itself): the exact
# capped 3-gram Jaccard pairs at τ=0.6 (the feasible exact baseline
# — same Q23 hot-shingle cap, mirrored in the oracle) FULL-OUTER-
# joined against the production MinHash+LSH output (q24/q204's
# fixed policy), reported as one row of truth/found/common/missed/
# extra counts and the recall ratio (one exact-int division).
# n_missed counts banding false negatives AND cap-vs-uncapped
# verification drift — both are real pipeline risk, which is the
# point of auditing the composition rather than the theory.
# ---------------------------------------------------------------------------

def q219_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import spread
    from ai_data_pipeline_spark.operators import dedup
    from ai_data_pipeline_spark.plans.pipeline_queries import Q23_MAX_SHINGLE_FREQ

    docs = spread(_t(spark, sf_dir, "documents"))
    truth = (
        dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3,
            min_jaccard=0.6, max_shingle_freq=Q23_MAX_SHINGLE_FREQ,
        )
        .select("id_a", "id_b")
        .withColumn("t", F.lit(1))
    )
    found = (
        dedup.minhash_neardup_pairs(
            docs, "doc_id", "text", n=3, num_hashes=32, bands=8, min_jaccard=0.6
        )
        .select("id_a", "id_b")
        .withColumn("f", F.lit(1))
    )
    j = truth.join(found, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.sum(F.coalesce("t", F.lit(0))).cast("long").alias("n_truth"),
        F.sum(F.coalesce("f", F.lit(0))).cast("long").alias("n_found"),
        F.sum(
            (F.col("t").isNotNull() & F.col("f").isNotNull()).cast("int")
        ).cast("long").alias("n_common"),
        F.sum(
            (F.col("t").isNotNull() & F.col("f").isNull()).cast("int")
        ).cast("long").alias("n_missed"),
        F.sum(
            (F.col("t").isNull() & F.col("f").isNotNull()).cast("int")
        ).cast("long").alias("n_extra"),
    )
    return agg.withColumn(
        "recall",
        F.col("n_common").cast("double") / F.col("n_truth").cast("double"),
    )


QUERIES["q219_lsh_recall_audit"] = q219_lsh_recall_audit


def _q219_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams
    from ai_data_pipeline_spark.plans.pipeline_queries import Q23_MAX_SHINGLE_FREQ

    grams3 = sql_word_ngrams("text", 3)
    return f"""
    WITH sh0 AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, unnest({grams3}) AS shingle
        FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS fq FROM sh0 GROUP BY shingle
    ), shc AS MATERIALIZED (
        SELECT id, sh0.shingle
        FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE fq <= {Q23_MAX_SHINGLE_FREQ}
    ), sizes_c AS (
        SELECT id, COUNT(*) AS n_sh FROM shc GROUP BY id
    ), inter_c AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), truth AS (
        SELECT id_a, id_b
        FROM inter_c
        JOIN sizes_c sa ON sa.id = id_a
        JOIN sizes_c sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.6'::DOUBLE
    ), sig AS (
        SELECT id, j, MIN((('0x' || substr(md5(shingle || ':' || j), 1, 15))::BIGINT)) AS mh
        FROM sh0 CROSS JOIN range(32) AS t(j)
        GROUP BY id, j
    ), bandkey AS (
        SELECT id, j // 4 AS band, string_agg(mh::VARCHAR, ',' ORDER BY j) AS bk
        FROM sig GROUP BY id, j // 4
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bandkey a
        JOIN bandkey b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id
    ), sizes_u AS (
        SELECT id, COUNT(*) AS n_sh FROM sh0 GROUP BY id
    ), inter_u AS (
        SELECT cand.id_a, cand.id_b, COUNT(*) AS inter
        FROM cand
        JOIN sh0 sa ON sa.id = cand.id_a
        JOIN sh0 sb ON sb.id = cand.id_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ), found AS (
        SELECT id_a, id_b
        FROM inter_u
        JOIN sizes_u sa ON sa.id = id_a
        JOIN sizes_u sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.6'::DOUBLE
    ), fo AS (
        SELECT COALESCE(t.id_a, f.id_a) AS id_a,
               COALESCE(t.id_b, f.id_b) AS id_b,
               (t.id_a IS NOT NULL) AS in_t,
               (f.id_a IS NOT NULL) AS in_f
        FROM truth t FULL OUTER JOIN found f
          ON t.id_a = f.id_a AND t.id_b = f.id_b
    )
    SELECT CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN in_f THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
           CAST(SUM(CASE WHEN in_t AND in_f THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           CAST(SUM(CASE WHEN in_t AND NOT in_f THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
           CAST(SUM(CASE WHEN NOT in_t AND in_f THEN 1 ELSE 0 END) AS BIGINT) AS n_extra,
           CAST(SUM(CASE WHEN in_t AND in_f THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS DOUBLE) AS recall
    FROM fo
"""


ORACLE["q219_lsh_recall_audit"] = _q219_oracle()


# ---------------------------------------------------------------------------
# Q220 — the quality gate IN-STREAM (curation at ingest, the shape a
# production corpus pipeline actually deploys: filter at the door,
# never land junk): documents replay through a file stream, the
# Gopher rule projection (pure Catalyst — streaming-compatible by
# construction, no state) evaluates per micro-batch, and the append
# sink collects per-row verdicts; the audit aggregates the sink per
# source — counts through the gate, structural keeps, token mass of
# keepers. Oracle recomputes the same four structural rules in SQL
# (q202's fragments). Uses the q95 replay pattern (memory sink,
# drained) — production wires the same projection into
# streaming/pipelines.py's file/foreachBatch sinks.
# ---------------------------------------------------------------------------

def q220_streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from ai_data_pipeline_spark.operators.curation import gopher_quality_flags
    from ai_data_pipeline_spark.plans.pipeline_queries import _drain_memory_sink

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # the local replay is ONE parquet file = one stream partition; the
    # rule projection is CPU-bound, so rebalance each micro-batch
    # across cores (q152's spread() rationale — at production scale
    # many files arrive per trigger and this exchange is a no-op cost
    # next to the single-threaded alternative: measured 10.1 s → ~1 s
    # at sf0.1)
    raw = raw.repartition(spark.sparkContext.defaultParallelism)
    flagged = gopher_quality_flags(raw).withColumn(
        "structural_keep",
        F.col("r_word_count")
        & F.col("r_mean_word_len")
        & F.col("r_symbol_ratio")
        & F.col("r_alpha_words"),
    )
    name = f"q220_{_uuid.uuid4().hex[:8]}"
    q = (
        flagged.select("source", "structural_keep", "n_words")
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
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("structural_keep").cast("int")).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("structural_keep"), F.col("n_words")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
        )
    )
    return _drain_memory_sink(agg, name).orderBy("source")


QUERIES["q220_streaming_quality_gate"] = q220_streaming_quality_gate
ORACLE["q220_streaming_quality_gate"] = """
    WITH d AS (
        SELECT source,
               coalesce(text, '') AS t,
               list_filter(string_split_regex(coalesce(text, ''), '[ \\t\\r\\n]+'),
                           w -> w != '') AS words
        FROM documents
    ), m AS (
        SELECT source,
               len(words) AS n_words,
               coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS word_chars,
               len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
               length(t) - length(replace(t, '#', ''))
                 + len(regexp_extract_all(t, '(\\.\\.\\.|…)')) AS n_sym
        FROM d
    ), r AS (
        SELECT source, n_words,
               (n_words >= 50 AND n_words <= 100000
                AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
                AND 10 * n_sym <= n_words
                AND 5 * n_alpha >= 4 * n_words) AS keep
        FROM m
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM r
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q221 — salted hot-key aggregation graded (operators/skew.py's
# salted_count under the driver): event_type is the corpus's
# power-law key (q138 measures the skew); the two-phase
# (key, salt)-partial → key-final form splits the hot reduce
# partition 8 ways, and the graded row proves it exactly equals the
# plain GROUP BY (oracle). At 100 TB the plain form leaves one
# straggler partition holding the hottest key's entire count stream;
# the salted form bounds every reduce task at 1/salts of it.
# ---------------------------------------------------------------------------

def q221_salted_hot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.skew import salted_count

    e = load_events(spark, sf_dir)
    # event_id varies per row, so the content-derived salt actually
    # splits each hot key 8 ways (key-only input is degenerate — one
    # salt per key — and salted_count now rejects it).
    return (
        salted_count(e.select("event_type", "event_id"), "event_type", salts=8)
        .select("event_type", F.col("n").cast("long").alias("n"))
        .orderBy("event_type")
    )


QUERIES["q221_salted_hot_agg"] = q221_salted_hot_agg
ORACLE["q221_salted_hot_agg"] = """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""
