"""Relational core: SURVEY.md §2B Q01–Q18.

Everything here is stock DataFrame API — zero UDFs, zero RDDs — so
Catalyst gets full predicate pushdown / column pruning / join
selection. Scale notes per query explain why the plan survives a
1000-executor, 100 TB deployment.

Oracle float-parity rules (learned the hard way; the driver hashes
values computed independently by Spark and DuckDB):

1. RAW IS SAFE. A column read from parquet, or any per-row
   expression tree evaluated identically on both engines, yields
   bit-identical doubles — output it unrounded.
2. NEVER ``ROUND(double, n)`` where the exact rational value can be
   exactly ``.xx5``: Spark rounds the shortest *decimal string*
   (BigDecimal HALF_UP) while DuckDB rounds the *binary* double, and
   on an exact half they disagree (e.g. rational 0.35 → double
   0.34999…; Spark prints "0.35" and rounds up, DuckDB rounds the
   binary down).
3. AGGREGATE IN INTEGERS. Money columns are ≤4-decimal: convert to
   exact integer units (``ROUND(x*10000)`` is never a half because
   the data sits within 5e-7 of an integer), SUM as BIGINT
   (order-independent — double sums drift with shuffle order), do
   half-up rounding with integer div, and divide by 100.0 only for
   display (an exact-cents value has a ≤2-decimal shortest repr on
   both engines).
4. DUCKDB FRACTIONAL LITERALS ARE DECIMAL, NOT DOUBLE. ``0.01``
   parses as DECIMAL(3,2): multiplied by an integer it stays EXACT
   decimal (n/100) where Spark computes ``n * double(0.01)`` — a
   different tree, 1 ulp apart (broke q30's raw quality sum), and
   DuckDB's internal DECIMAL→DOUBLE cast of high-scale values is
   itself not correctly rounded (broke q62's cosines via the qvec
   literal list). Any fractional literal that feeds DOUBLE
   arithmetic in the oracle must be written ``'0.01'::DOUBLE``
   (VARCHAR→DOUBLE parse is correctly rounded); sql_lit_list does
   this for vector literals. Small-scale literals used only as
   display DIVISORS (``/ 100.0``) are safe: they convert exactly
   and division is correctly rounded. CEIL(n * 0.9)-style index
   picks are safe by margin analysis: |double(q)·n − q·n| stays
   under a half-ulp of the product, so the product rounds to the
   exact rational and both engines agree.
5. DOUBLES MUST NOT PICK BRANCHES — unless the operands are
   bit-identical by rule 1 AND every tie has a deterministic integer
   tie-break. Audit of the decision sites (r03 task #7, closed r05):
   - q37/q71 lang-id argmax: operands are exact BIGINT stopword/gram
     HIT COUNTS (operators/text_analysis.py:46,139); ties break on
     the fixed language-code index inside the greatest(struct) —
     no double exists on the path. SAFE.
   - q22 accept/reject threshold (operators/similarity.py:97):
     ``dist <= 1.0`` where dist is the SAME left-to-right fold on
     both engines (numpy kernel parity-tested bit-exact against the
     expression path), so the comparison sees bit-identical doubles;
     the upstream 1-NN argmin orders by (dist, corpus_id) with the
     integer id breaking exact-dist ties on both engines. SAFE —
     but any reordering of the distance fold breaks this; keep the
     kernel/expression parity test green.
   - q104/q114/q148 double ORDER-BY + LIMIT: each ranking double is
     a rule-1 tree (single division / sqrt of exact integers) with a
     full integer-key tie-break — SAFE by the same argument.
   - q106/q131 k-means argmin: moved OFF doubles entirely (exact
     fixed-point v6 distances, r04) and the centroid division uses
     the non-negative-dividend offset form (r05) — integer end to
     end. See tests/test_division_convention.py.
   New decision sites must add themselves to this list with a proof.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table as _t


def money4(col) -> Column:
    """Exact 1e-4 fixed-point units of a ≤4-decimal money column.

    DuckDB twin: ``CAST(ROUND(x * 10000) AS BIGINT)``.
    """
    return F.round(F.col(col) * 10000, 0).cast("long")


def unit_round_div(num: Column, den: Column) -> Column:
    """Half-up integer division num/den for non-negative operands:
    ``(2*num + den) // (2*den)``. DuckDB twin uses ``//``.

    The quotient is computed as ``(a - a % b) / b`` so the double
    division is of an exact multiple (IEEE-exact below 2^53) — a
    plain ``a / b`` double division could land one ulp above an
    integer and truncate wrong.
    """
    a = 2 * num + den
    b = 2 * den
    return ((a - a % b) / b).cast("long")


# DuckDB SQL fragments mirroring the helpers above.
_SQL_M4 = "CAST(ROUND({x} * 10000) AS BIGINT)"


# ---------------------------------------------------------------------------
# Q01 — scan + filter + project (reference R1/R14 shape).
# Scale: the shipdate range predicate and 4-column projection push
# into the parquet scan (PushedFilters / ReadSchema) — at 100 TB this
# is the difference between reading 4 columns of one year and the
# whole table.
# ---------------------------------------------------------------------------

def q01_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("price"),
            "l_returnflag",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Q02 — broadcast equi-join (nation ⋈ region).
# Scale: region is O(10) rows at any SF — an explicit broadcast hint
# removes the shuffle entirely; the join runs map-side on every
# executor.
# ---------------------------------------------------------------------------

def q02_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# Q03 — 3-way join + hash aggregation (revenue by nation).
# Scale: nation broadcasts; customer⋈orders and ⋈lineitem shuffle on
# their join keys with partial (map-side) aggregation before the final
# 25-group hash agg — the shuffled agg payload is one long per
# (partition, nation).
# Revenue is computed exactly: extendedprice in cents (2-dec data) ×
# discount in basis points (2-dec data) stays integral end-to-end.
# ---------------------------------------------------------------------------

def q03_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    ext_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_bp = F.round(F.col("l_discount") * 10000, 0).cast("long")
    rev_u = ext_c * (10000 - disc_bp)  # cents × 1e4 units, exact
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rev_u", rev_u)
        .groupBy("n_name")
        .agg(F.sum("rev_u").alias("s"))
        .select(
            "n_name",
            (unit_round_div(F.col("s"), F.lit(10000).cast("long")) / 100.0).alias("revenue"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Q04 — left outer join + null handling (customers with/without orders).
# COUNT(o_orderkey) counts only matched rows: customers without
# orders get 0, exercising outer-join null semantics.
# ---------------------------------------------------------------------------

def q04_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q05 — left-semi join (customers having ≥1 order).
# Scale: semi-join never materializes the probe side's payload — at
# 100 TB this beats join+distinct by the width of the orders row.
# ---------------------------------------------------------------------------

def q05_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q06 — left-anti join (parts never ordered).
# ---------------------------------------------------------------------------

def q06_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Q07 — theta / range join: lineitems shipped within 30 days of their
# order date. The equi key (l_orderkey = o_orderkey) carries the
# shuffle; the range predicate is evaluated post-match, so this stays
# a hash join, not a cartesian.
# ---------------------------------------------------------------------------

def q07_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    return (
        o.join(li, cond)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Q08 — aggregation suite (TPC-H Q1 shape): count/sum/avg/min/max +
# exact count(distinct), grouped by returnflag/linestatus.
# Scale: all aggregates except count(distinct) combine map-side;
# count(distinct) expands with one extra shuffle on (group, value) —
# that is Spark's exact-distinct plan and the right trade at scale.
# ---------------------------------------------------------------------------

def q08_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty_c = F.round(F.col("l_quantity") * 100, 0).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    return (
        li.withColumn("qty_c", qty_c)
        .withColumn("price_c", price_c)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("qty_c").alias("sq"),
            F.sum("price_c").alias("sp"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.countDistinct("l_partkey").alias("nd_parts"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("cnt").alias("n"),
            (F.col("sq") / 100.0).alias("sum_qty"),
            (unit_round_div(F.col("sp"), F.col("cnt")) / 100.0).alias("avg_price"),
            "min_price",
            "max_price",
            "nd_parts",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q09 — ROLLUP revenue by (nation, mktsegment).
# ---------------------------------------------------------------------------

def q09_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("tp4", money4("o_totalprice"))
    )
    return (
        joined.rollup("n_name", "c_mktsegment")
        .agg(F.sum("tp4").alias("s"))
        .select(
            "n_name",
            "c_mktsegment",
            (unit_round_div(F.col("s"), F.lit(100).cast("long")) / 100.0).alias("revenue"),
        )
        .orderBy(F.asc_nulls_first("n_name"), F.asc_nulls_first("c_mktsegment"))
    )


# ---------------------------------------------------------------------------
# Q10 — CUBE counts by (orderstatus, orderpriority).
# ---------------------------------------------------------------------------

def q10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


# ---------------------------------------------------------------------------
# Q11 — ranking window: top-3 customers by acctbal per nation.
# Scale: one shuffle on the partition key (nation), rank computed
# in-partition; the rk<=3 filter cuts output before any further
# exchange. Deterministic tie-break on c_custkey.
# ---------------------------------------------------------------------------

def q11_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_custkey", F.col("c_acctbal").alias("acctbal"), "rk")
        .orderBy("n_name", "rk")
    )


# ---------------------------------------------------------------------------
# Q12 — analytic window: lag + running sum per customer.
# Running total summed in exact 1e-4 units so the result is
# accumulation-order independent.
# ---------------------------------------------------------------------------

def q12_analytic_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").withColumn("tp4", money4("o_totalprice"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            (
                unit_round_div(F.sum("tp4").over(wsum), F.lit(100).cast("long")) / 100.0
            ).alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q13 — range frame: 7-day moving average of daily order totals.
# Implemented over an integer day index so the range frame is
# numeric on both engines (Spark rangeBetween needs a numeric/long
# ordering column; DuckDB mirrors with RANGE BETWEEN 6 PRECEDING).
# ---------------------------------------------------------------------------

def q13_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").withColumn("tp4", money4("o_totalprice"))
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum("tp4").alias("s4"))
        .withColumn("day_num", F.datediff(F.col("d"), F.lit("1970-01-01")).cast("long"))
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    hundred = F.lit(100).cast("long")
    return (
        daily.select(
            "d",
            (unit_round_div(F.col("s4"), hundred) / 100.0).alias("total"),
            (
                unit_round_div(F.sum("s4").over(w), hundred * F.count(F.lit(1)).over(w))
                / 100.0
            ).alias("ma7"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Q14 — global top-k: top-10 orders by totalprice.
# Scale: orderBy+limit compiles to TakeOrderedAndProject — each
# partition keeps its local top-10, the driver merges; no global sort.
# ---------------------------------------------------------------------------

def q14_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", F.col("o_totalprice").alias("price"))
        .orderBy(F.desc("price"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q15 — set operations.
# ---------------------------------------------------------------------------

def q15a_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    return s.intersect(c).orderBy("nationkey")


def q15b_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s).orderBy("nationkey")


# ---------------------------------------------------------------------------
# Q16 — string functions: regexp_extract + substring over part attrs.
# ---------------------------------------------------------------------------

def q16_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            F.substring("p_type", 1, 3).alias("type_prefix"),
            F.regexp_extract("p_brand", r"Brand#([0-9]+)", 1).cast("int").alias("brand_num"),
            F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("price_c"),
        )
        .groupBy("type_prefix", "brand_num")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("price_c").alias("sp"))
        .select(
            "type_prefix",
            "brand_num",
            F.col("cnt").alias("n"),
            (unit_round_div(F.col("sp"), F.col("cnt")) / 100.0).alias("avg_price"),
        )
        .orderBy("type_prefix", "brand_num")
    )


# ---------------------------------------------------------------------------
# Q17 — date functions: orders per month.
# ---------------------------------------------------------------------------

def q17_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").withColumn("tp4", money4("o_totalprice"))
    return (
        o.groupBy(F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("tp4").alias("s4"))
        .select(
            "month",
            "n",
            (unit_round_div(F.col("s4"), F.lit(100).cast("long")) / 100.0).alias("total"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Q18 — JSON function: get_json_object over events.props
# (reference R6 uses the same from_json/regexp machinery; see
# operators/json_fallback.py for the 3-stage fallback itself).
# avg in exact hundredths: k is integral, so avg_k = half-up of
# (100*sum)/n, divided by 100.0 for display.
# ---------------------------------------------------------------------------

def q18_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("k").alias("sk"))
        .select(
            "event_type",
            F.col("cnt").alias("n"),
            F.col("sk").alias("sum_k"),
            (unit_round_div(100 * F.col("sk"), F.col("cnt")) / 100.0).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q39 — explicit GROUPING SETS (the third grouping flavor next to
# Q09 ROLLUP / Q10 CUBE): per-nation and per-segment customer
# profiles plus a grand total, one pass. Spark expands the sets and
# runs them in a single shuffle (Expand → partial agg → final agg).
# ---------------------------------------------------------------------------

def q39_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).withColumn(
        "bal_c", F.round(F.col("c_acctbal") * 100, 0).cast("long")
    )
    return (
        joined.groupingSets([["n_name"], ["c_mktsegment"], []], "n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("bal_c").alias("s"))
        .select(
            "n_name",
            "c_mktsegment",
            "n",
            (F.col("s") / 100.0).alias("total_bal"),
        )
        .orderBy(F.asc_nulls_first("n_name"), F.asc_nulls_first("c_mktsegment"))
    )


# ---------------------------------------------------------------------------
# Q42 — ranking/analytic window suite: ntile + lead + first/last
# value with an explicit unbounded frame. Completes the §2B windows
# row (q11 row_number, q12 lag/running sum, q13 range frame).
# Deterministic window order: (o_orderdate, o_orderkey) is total
# within each customer. Prices pass through untouched → raw-double
# safe (float policy rule 1).
# Scale: one shuffle on o_custkey serves all four window functions —
# Spark computes same-window specs in a single WindowExec pass.
# ---------------------------------------------------------------------------

def q42_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            F.first("o_totalprice").over(wfull).alias("first_price"),
            F.last("o_totalprice").over(wfull).alias("last_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q43 — union all vs union distinct (completes §2B set ops next to
# q15 intersect/except).
# Scale: UNION ALL is a free concat (no shuffle); DISTINCT is one
# hash-agg shuffle on the key — partial dedup map-side first.
# ---------------------------------------------------------------------------

def q43_union_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("long").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("long").alias("nationkey"))
    ua = (
        c.unionAll(s)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("union_all").alias("mode"), "n")
    )
    ud = (
        c.union(s)
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("union_distinct").alias("mode"), "n")
    )
    return ua.unionAll(ud).orderBy("mode")


# ---------------------------------------------------------------------------
# Q44 — pivot: order counts by priority × status as columns. Explicit
# pivot values (the three TPC-H statuses) so the plan needs no extra
# distinct-values job and the output schema is static — required for
# streaming reuse and for a stable oracle contract.
# ---------------------------------------------------------------------------

def q44_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return (
        piv.select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q45 — discrete percentiles (p50/p90 of order totals per status),
# built from row_number + count windows on BOTH engines rather than
# native PERCENTILE_DISC/quantile_disc: the SQL-standard "smallest
# value with cume_dist ≥ f" maps to the row at ceil(f·n), and
# hand-building it pins identical boundary semantics cross-engine.
# The picked value is an actual table element → raw-double safe.
# Scale: single shuffle on the group key; no global sort.
# ---------------------------------------------------------------------------

def q45_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderstatus")
    ranked = o.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    at = lambda f: F.ceil(F.col("n") * f).cast("long")  # noqa: E731
    return (
        ranked.groupBy("o_orderstatus")
        .agg(
            F.max("n").alias("n"),
            F.max(F.when(F.col("rn") == at(0.5), F.col("o_totalprice"))).alias("p50"),
            F.max(F.when(F.col("rn") == at(0.9), F.col("o_totalprice"))).alias("p90"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Q47 — salted join (skew recipe, oracle-checked): revenue per market
# segment through operators/skew.salted_join — the 8-way salt splits
# any hot customer key across 8 reducers; the oracle is the PLAIN
# join, proving the salt is result-invariant. At 100 TB this is the
# recipe for power-law keys that AQE's skew splitting can't fix
# (single giant key > splittable partition).
# ---------------------------------------------------------------------------

def q47_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), money4("o_totalprice").alias("tp4")
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = salted_join(o, c, "custkey", salts=8)
    return (
        j.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("tp4").alias("s4"))
        .select(
            "c_mktsegment",
            "n_orders",
            (unit_round_div(F.col("s4"), F.lit(100).cast("long")) / 100.0).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Q50 — distinct-agg suite: exact count(distinct) + sorted
# collect_set, canonicalized to a CSV string so the comparison is
# order-independent (collect_set order is partition-dependent;
# sort_array pins it). approx_count_distinct is engine-specific HLL
# — pinned by the error-bound unit test in test_plans.py, kept out
# of the hashed output. Scale: count(distinct key) expands to a
# two-phase agg (partial distinct map-side); the set column is safe
# only for bounded-cardinality keys like nationkey — for unbounded
# keys use approx_count_distinct instead.
# ---------------------------------------------------------------------------

def q50_distinct_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.array_join(
                F.sort_array(F.collect_set(F.col("c_nationkey").cast("long"))), ","
            ).alias("nations_csv"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Q53 — remaining ranking/analytic fns: percent_rank, cume_dist,
# nth_value. Both engines compute the rank ratios as exact-integer
# divisions ((rank-1)/(n-1), rn/n) → identical doubles; nth_value
# picks an actual table element. One shuffle on the partition key
# serves all three (same window spec). Customer partitions keep the
# per-group sort small at any scale.
# ---------------------------------------------------------------------------

def q53_rank_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        c.select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            "c_custkey",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
            F.nth_value("c_acctbal", 3).over(wfull).alias("third_bal"),
        )
        .orderBy("nationkey", "c_custkey")
    )


# ---------------------------------------------------------------------------
# Q65 — window-over-join composition: customers whose lifetime spend
# exceeds their nation's average. The average comparison is done in
# EXACT integers — spend_i · n > Σ spends (cross-multiplied) — so no
# division ever touches the predicate; both engines compare the same
# BIGINTs. Scale: join shuffles on custkey with partial sums; the
# nation-level window carries two longs per customer.
# ---------------------------------------------------------------------------

def q65_above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").withColumn("tp4", money4("o_totalprice"))
    spend = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.coalesce(F.sum("tp4"), F.lit(0)).cast("long").alias("spend4"))
    )
    w = Window.partitionBy("c_nationkey")
    flagged = spend.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "spend4",
        (
            F.col("spend4") * F.count(F.lit(1)).over(w) > F.sum("spend4").over(w)
        ).alias("above"),
    )
    return (
        flagged.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(F.col("above"), 1).otherwise(0)).cast("long").alias("n_above_avg"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Q66 — fuzzy string match: Levenshtein distance of every part name
# to a probe string, closest 10. Integer edit distance → exact
# cross-engine parity. Scale: per-row O(len²) compute in codegen;
# top-k via TakeOrdered (no global sort). For corpus-scale fuzzy
# JOINs, block first (q-gram prefilter like the shingle join) —
# all-pairs Levenshtein is the quadratic trap.
# ---------------------------------------------------------------------------

def q66_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    probe = F.lit("forest green metallic")
    return (
        p.select(
            "p_partkey",
            "p_name",
            F.levenshtein(F.col("p_name"), probe).cast("long").alias("dist"),
        )
        .orderBy("dist", "p_partkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q68 — date/interval function suite: datediff between order and
# ship dates, month arithmetic, ISO day-of-week histogram. Spark's
# dayofweek is 1=Sunday while DuckDB's isodow is 1=Monday — both
# sides emit ISO (Monday=1) explicitly so the convention is pinned
# in the query, not left to engine defaults. Narrow scan (3 date
# columns), one agg shuffle.
# ---------------------------------------------------------------------------

def q68_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long").alias("lag_days"),
        # ISO weekday: Monday=1..Sunday=7 (Spark dayofweek is 1=Sunday)
        (((F.dayofweek("l_shipdate") + 5) % 7) + 1).cast("long").alias("iso_dow"),
        F.months_between(
            F.date_trunc("month", F.col("l_shipdate")),
            F.date_trunc("month", F.col("o_orderdate")),
        ).cast("long").alias("month_lag"),
    )
    return (
        j.groupBy("iso_dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lag_days").alias("min_lag"),
            F.max("lag_days").alias("max_lag"),
            F.sum("lag_days").alias("sum_lag"),
            F.max("month_lag").alias("max_month_lag"),
        )
        .orderBy("iso_dow")
    )


# ---------------------------------------------------------------------------
# Q69 — DECIMAL arithmetic: money summed as DECIMAL(18,2) — exact by
# type, no float policy gymnastics needed (the alternative to rule 3
# when the sink schema wants decimals). The aggregation stays DECIMAL
# internally (that is the point of the query); the OUTPUT columns are
# cast to DOUBLE because the driver hashes a *rendering* of each value
# and Spark's Decimal / Arrow decimal128 and DuckDB's fetch path render
# decimals differently (r01 driver FAIL: rows+schema matched, hash
# didn't). The sums are cent-integers far below 2^53, so the DOUBLE
# representation is exact and identical on both engines.
# ---------------------------------------------------------------------------

def q69_decimal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.sum(dec).cast("decimal(18,2)").cast("double").alias("total"),
            F.max(dec).cast("decimal(18,2)").cast("double").alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Q70 — conditional expression suite: nested CASE, nullif, coalesce,
# least/greatest over order attributes. Pure narrow expressions; the
# agg shuffles 4 longs per group.
# ---------------------------------------------------------------------------

def q70_conditional_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").withColumn("tp4", money4("o_totalprice"))
    band = (
        F.when(F.col("tp4") < 50_000_0000, "low")
        .when(F.col("tp4") < 150_000_0000, "mid")
        .otherwise("high")
    )
    return (
        o.select(
            band.alias("band"),
            F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("prio_nn"),
            F.least(F.col("o_custkey") % 7, F.lit(3).cast("long")).alias("lp"),
            F.greatest(F.col("o_custkey") % 7, F.lit(3).cast("long")).alias("gp"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("prio_nn").alias("n_nonmedium"),
            F.min("lp").alias("min_lp"),
            F.max("gp").alias("max_gp"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Q75 — schema-evolution union: two generations of a feed (old:
# custkey+name; new: custkey+nationkey) merged with
# unionByName(allowMissingColumns=True) — absent columns null-pad.
# The ingest pattern for evolving upstream schemas; no shuffle, the
# union is a plan concat.
# ---------------------------------------------------------------------------

def q75_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    old_gen = c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", F.col("c_name").alias("name")
    )
    new_gen = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("nationkey")
    )
    u = old_gen.unionByName(new_gen, allowMissingColumns=True)
    return u.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("name").alias("n_with_name"),
        F.count("nationkey").alias("n_with_nation"),
    )


# ---------------------------------------------------------------------------
# Q76 — SQL subqueries through spark.sql over the registered views:
# correlated EXISTS / NOT EXISTS and an uncorrelated scalar subquery
# in one statement — Spark SQL IS the query language (SURVEY §7);
# Catalyst rewrites the EXISTS pair into semi/anti joins (same plans
# as q05/q06).
# ---------------------------------------------------------------------------

def q76_sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT
          CAST((SELECT COUNT(*) FROM customer c
                WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
            AS n_with_orders,
          CAST((SELECT COUNT(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
            AS n_without_orders,
          CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_customers
        """
    )


# ---------------------------------------------------------------------------
# Q77 — argmin/argmax aggregates: max_by/min_by pick the customer
# name at the extreme balance per nation in ONE hash agg (each
# partial keeps a single champion per group — map-side combinable),
# vs q11's sort-based window pass. The ordering key embeds c_custkey
# so the extreme is unique: balance ties collapse deterministically
# on both engines (DuckDB twin: arg_max/arg_min).
# ---------------------------------------------------------------------------

def q77_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    key = money4("c_acctbal") * 1_000_000 + F.col("c_custkey")
    bal = money4("c_acctbal")
    return (
        c.groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.max_by("c_name", key).alias("richest"),
            F.min_by("c_name", key).alias("poorest"),
            F.max(bal).alias("max_bal_u"),
            F.min(bal).alias("min_bal_u"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Q79 — extended string-function suite over part: reverse, lpad,
# translate, instr, substring, split_part, repeat — all codegen'd
# JVM expressions in one narrow projection (no shuffle, no Python).
# Functions restricted to the Spark ∩ DuckDB surface with identical
# semantics (1-based instr, space-preserving translate).
# ---------------------------------------------------------------------------

def q79_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.reverse(F.col("p_name")).alias("rev_name"),
            F.lpad(F.col("p_type"), 12, ".").alias("pad_type"),
            F.translate(F.col("p_name"), "aeiou", "AEIOU").alias("caps_vowels"),
            F.instr(F.col("p_name"), "widget").cast("long").alias("widget_pos"),
            F.substring(F.col("p_name"), 1, 4).alias("head4"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
            F.expr("repeat('*', CAST(p_size % 5 AS INT))").alias("stars"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Q81 — interpolated (continuous) percentiles: exact linear-
# interpolation percentiles per group, the continuous twin of q45's
# hand-built discrete percentiles. Float-parity note: l_quantity is
# integer-valued and the percentage grid is quarters, so the
# interpolation position q*(n-1) has fraction ∈ {0,.25,.5,.75} and
# every product/sum in the interpolation is IEEE-exact — both
# engines produce the identical double regardless of formula
# association.
#
# Plan (r05): computed from the VALUE HISTOGRAM, not percentile().
# percentile()/percentile_cont buffer every raw value per group
# (ObjectHashAggregate, no map-side reduction of the payload) — a
# per-group value buffer is exactly what dies at 100 TB. l_quantity
# has a 50-value domain, so groupBy (flag, value) count collapses
# map-side to ≤ |groups|·|domain| cells; the percentile then reads
# off the cumulative counts with the SAME interpolation formula
# lower + frac·(higher − lower) that percentile() applies, so the
# output double is bit-identical to the old plan (regression-pinned
# in tests/test_plans.py). Measured 0.65s → ~0.2s warm at sf0.1; at
# 100 TB the win is structural (no value buffering). For unbounded
# real-valued domains, percentile()/approx_percentile remain the
# tools — this is the bounded-domain exact recipe.
# ---------------------------------------------------------------------------

def q81_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    counts = (
        li.select("l_returnflag", F.col("l_quantity").cast("long").alias("v"))
        .groupBy("l_returnflag", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    cum = counts.select(
        "l_returnflag",
        "v",
        F.sum("c").over(wcum).alias("cum"),  # count of rows <= v
        F.sum("c").over(wall).alias("n_tot"),
        (F.sum("c").over(wcum) - F.col("c")).alias("cum_prev"),
    )

    def interp(p: float, alias: str) -> F.Column:
        # 0-based position; exact dyadic double for quarter grid
        pos = F.lit(p) * (F.col("n_tot") - 1).cast("double")
        lo_i, hi_i = F.floor(pos), F.ceil(pos)
        # value at 0-based index i lives in the row with
        # cum_prev <= i < cum
        v_lo = F.max(
            F.when((F.col("cum_prev") <= lo_i) & (lo_i < F.col("cum")), F.col("v"))
        )
        v_hi = F.max(
            F.when((F.col("cum_prev") <= hi_i) & (hi_i < F.col("cum")), F.col("v"))
        )
        frac = F.max(pos - lo_i)
        return (
            v_lo.cast("double") + frac * (v_hi - v_lo).cast("double")
        ).alias(alias)

    return (
        cum.groupBy("l_returnflag")
        .agg(
            interp(0.25, "q25"),
            interp(0.5, "median_qty"),
            interp(0.75, "q75"),
            F.max("n_tot").cast("long").alias("n"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q83 — FULL OUTER join (completes the join family: q02 inner, q04
# left, q05 semi, q06 anti, q07 theta): even-custkey customers FULL
# OUTER order-counts of custkey%3==0 customers, so all three match
# regimes (left-only / right-only / both) are populated. Summary
# counts + integer sums of each regime's payload get hashed. Scale:
# full outer is a plain sort-merge join — same shuffle as q04.
# ---------------------------------------------------------------------------

def q83_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", money4("c_acctbal").alias("bal4"))
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 3 == 0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_custkey").alias("n_left"),
        F.count("o_custkey").alias("n_right"),
        F.sum(
            F.when(F.col("c_custkey").isNotNull() & F.col("o_custkey").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_both"),
        F.sum(F.when(F.col("c_custkey").isNull(), F.col("n_orders")).otherwise(0))
        .cast("long")
        .alias("orders_right_only"),
        F.sum(F.when(F.col("o_custkey").isNull(), F.col("bal4")).otherwise(0))
        .cast("long")
        .alias("bal4_left_only"),
    )


# ---------------------------------------------------------------------------
# Q94 — variance/stddev, oracle-checked: var_samp/stddev_samp are
# ORDER-DEPENDENT double accumulations in both engines (shuffle order
# changes the last ulps), so the native aggregates can never hash-
# match. Instead aggregate the EXACT integer moments (n, Σx, Σx²) in
# cents units — order-independent BIGINT sums — and form
# (n·Σx² − (Σx)²) / (n·(n−1)) as a double division of EXACT wide
# integers. The BIGINT moments themselves stay < 2^63 to beyond
# 100 TB (qc ≤ ~5100, so Σqc² < 9.2e18 needs > 3e11 rows/group), but
# the derived products n·Σx² and (Σx)² cross 2^63 once a group
# reaches ~1M rows (~sf0.4) — so the products are formed in
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), both exact integer
# types, and only the final numerator/denominator are converted to
# double (same IEEE round-to-nearest in both engines) for the one
# division.
# ---------------------------------------------------------------------------

def q94_variance_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity") * 100, 0).cast("long")
    agg = (
        li.select("l_returnflag", qc.alias("qc"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qc").alias("s1"),
            F.sum(F.col("qc") * F.col("qc")).alias("s2"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = dec(F.col("n")) * dec(F.col("s2")) - dec(F.col("s1")) * dec(F.col("s1"))
    den = dec(F.col("n")) * dec(F.col("n") - 1)
    var = num.cast("double") / den.cast("double") / 10000.0
    return agg.select(
        "l_returnflag",
        "n",
        (F.col("s1") / 100.0).alias("sum_qty"),
        var.alias("var_qty"),
        F.sqrt(var).alias("std_qty"),
    ).orderBy("l_returnflag")


QUERIES = {
    "q01_scan_filter_project": q01_scan_filter_project,
    "q02_broadcast_join": q02_broadcast_join,
    "q03_revenue_by_nation": q03_revenue_by_nation,
    "q04_left_join_counts": q04_left_join_counts,
    "q05_semi_join": q05_semi_join,
    "q06_anti_join": q06_anti_join,
    "q07_range_join": q07_range_join,
    "q08_agg_suite": q08_agg_suite,
    "q09_rollup": q09_rollup,
    "q10_cube": q10_cube,
    "q11_topk_per_group": q11_topk_per_group,
    "q12_analytic_window": q12_analytic_window,
    "q13_moving_average": q13_moving_average,
    "q14_global_topk": q14_global_topk,
    "q15a_intersect": q15a_intersect,
    "q15b_except": q15b_except,
    "q16_string_functions": q16_string_functions,
    "q17_date_trunc": q17_date_trunc,
    "q18_json_extract": q18_json_extract,
    "q39_grouping_sets": q39_grouping_sets,
    "q42_window_suite": q42_window_suite,
    "q43_union_ops": q43_union_ops,
    "q44_pivot_counts": q44_pivot_counts,
    "q45_percentile_disc": q45_percentile_disc,
    "q47_salted_join": q47_salted_join,
    "q50_distinct_suite": q50_distinct_suite,
    "q53_rank_fns": q53_rank_fns,
    "q65_above_avg_customers": q65_above_avg_customers,
    "q66_fuzzy_match": q66_fuzzy_match,
    "q68_date_fns": q68_date_fns,
    "q69_decimal_agg": q69_decimal_agg,
    "q70_conditional_fns": q70_conditional_fns,
    "q75_union_by_name": q75_union_by_name,
    "q76_sql_subqueries": q76_sql_subqueries,
    "q77_arg_extremes": q77_arg_extremes,
    "q79_string_suite": q79_string_suite,
    "q81_percentile_cont": q81_percentile_cont,
    "q83_full_outer_join": q83_full_outer_join,
    "q94_variance_suite": q94_variance_suite,
}


ORACLE = {
    "q01_scan_filter_project": """
        SELECT l_orderkey, l_linenumber, l_extendedprice AS price, l_returnflag
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        ORDER BY l_orderkey, l_linenumber
    """,
    "q02_broadcast_join": """
        SELECT n_nationkey, n_name, r_name AS region_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
        ORDER BY n_nationkey
    """,
    "q03_revenue_by_nation": """
        WITH rev AS (
            SELECT c_nationkey,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   * (10000 - CAST(ROUND(l_discount * 10000) AS BIGINT)) AS rev_u
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
        )
        SELECT n_name,
               CAST((2 * SUM(rev_u) + 10000) // 20000 AS BIGINT) / 100.0 AS revenue
        FROM rev JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """,
    "q04_left_join_counts": """
        SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
        ORDER BY c_custkey
    """,
    "q05_semi_join": """
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
    """,
    "q06_anti_join": """
        SELECT p_partkey, p_name
        FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        ORDER BY p_partkey
    """,
    "q07_range_join": """
        SELECT o_orderstatus, COUNT(*) AS n
        FROM orders JOIN lineitem
          ON l_orderkey = o_orderkey
         AND l_shipdate >= o_orderdate
         AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "q08_agg_suite": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
               CAST((2 * SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) + COUNT(*))
                    // (2 * COUNT(*)) AS BIGINT) / 100.0 AS avg_price,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price,
               COUNT(DISTINCT l_partkey) AS nd_parts
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q09_rollup": """
        SELECT n_name, c_mktsegment,
               CAST((2 * SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) + 100)
                    // 200 AS BIGINT) / 100.0 AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP(n_name, c_mktsegment)
        ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST
    """,
    "q10_cube": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    "q11_topk_per_group": """
        SELECT n_name, c_custkey, acctbal, rk
        FROM (
            SELECT n_name, c_custkey, c_acctbal AS acctbal,
                   ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rk
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        )
        WHERE rk <= 3
        ORDER BY n_name, rk
    """,
    "q12_analytic_window": """
        SELECT o_custkey, o_orderkey, o_totalprice AS price,
               LAG(o_totalprice) OVER w AS prev_price,
               CAST((2 * SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT))
                         OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 100)
                    // 200 AS BIGINT) / 100.0 AS running_total
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey
    """,
    "q13_moving_average": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS s4
            FROM orders GROUP BY 1
        ), indexed AS (
            SELECT d, s4, date_diff('day', DATE '1970-01-01', d) AS day_num FROM daily
        )
        SELECT d,
               CAST((2 * s4 + 100) // 200 AS BIGINT) / 100.0 AS total,
               CAST((2 * SUM(s4) OVER w + 100 * COUNT(*) OVER w)
                    // (200 * COUNT(*) OVER w) AS BIGINT) / 100.0 AS ma7
        FROM indexed
        WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY d
    """,
    "q14_global_topk": """
        SELECT o_orderkey, o_custkey, o_totalprice AS price
        FROM orders
        ORDER BY price DESC, o_orderkey
        LIMIT 10
    """,
    "q15a_intersect": """
        SELECT s_nationkey AS nationkey FROM supplier
        INTERSECT
        SELECT c_nationkey AS nationkey FROM customer
        ORDER BY nationkey
    """,
    "q15b_except": """
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey
    """,
    "q16_string_functions": """
        SELECT substr(p_type, 1, 3) AS type_prefix,
               CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS INTEGER) AS brand_num,
               COUNT(*) AS n,
               CAST((2 * SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) + COUNT(*))
                    // (2 * COUNT(*)) AS BIGINT) / 100.0 AS avg_price
        FROM part
        GROUP BY type_prefix, brand_num
        ORDER BY type_prefix, brand_num
    """,
    "q17_date_trunc": """
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               COUNT(*) AS n,
               CAST((2 * SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) + 100)
                    // 200 AS BIGINT) / 100.0 AS total
        FROM orders
        GROUP BY month
        ORDER BY month
    """,
    "q18_json_extract": """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST((2 * 100 * SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) + COUNT(*))
                    // (2 * COUNT(*)) AS BIGINT) / 100.0 AS avg_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q39_grouping_sets": """
        SELECT n_name, c_mktsegment, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST
    """,
    "q42_window_suite": """
        SELECT o_custkey, o_orderkey,
               CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
               LEAD(o_totalprice) OVER w AS next_price,
               FIRST_VALUE(o_totalprice) OVER wf AS first_price,
               LAST_VALUE(o_totalprice) OVER wf AS last_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, o_orderkey
    """,
    "q43_union_ops": """
        SELECT 'union_all' AS mode, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT c_nationkey AS nationkey FROM customer
              UNION ALL SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'union_distinct' AS mode, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT c_nationkey AS nationkey FROM customer
              UNION SELECT s_nationkey FROM supplier)
        ORDER BY mode
    """,
    "q44_pivot_counts": """
        SELECT o_orderpriority,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q45_percentile_disc": """
        WITH ranked AS (
            SELECT o_orderstatus, o_totalprice,
                   CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                           ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
            FROM orders
        )
        SELECT o_orderstatus,
               MAX(n) AS n,
               MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN o_totalprice END) AS p50,
               MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT) THEN o_totalprice END) AS p90
        FROM ranked
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "q47_salted_join": """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST((2 * SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) + 100)
                    // 200 AS BIGINT) / 100.0 AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "q50_distinct_suite": """
        SELECT c_mktsegment,
               CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
               array_to_string(
                   list_sort(list(DISTINCT CAST(c_nationkey AS BIGINT))), ','
               ) AS nations_csv
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "q53_rank_fns": """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_custkey,
               PERCENT_RANK() OVER w AS pr,
               CUME_DIST() OVER w AS cd,
               NTH_VALUE(c_acctbal, 3) OVER wf AS third_bal
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey),
               wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY nationkey, c_custkey
    """,
    "q65_above_avg_customers": """
        WITH spend AS (
            SELECT c_custkey, c_nationkey,
                   CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)), 0) AS BIGINT) AS spend4
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey, c_nationkey
        ),
        flagged AS (
            SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                   spend4 * COUNT(*) OVER (PARTITION BY c_nationkey)
                       > SUM(spend4) OVER (PARTITION BY c_nationkey) AS above
            FROM spend
        )
        SELECT nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
        FROM flagged
        GROUP BY nationkey
        ORDER BY nationkey
    """,
    "q66_fuzzy_match": """
        SELECT p_partkey, p_name,
               CAST(levenshtein(p_name, 'forest green metallic') AS BIGINT) AS dist
        FROM part
        ORDER BY dist, p_partkey
        LIMIT 10
    """,
    "q68_date_fns": """
        WITH j AS (
            SELECT date_diff('day', o_orderdate, l_shipdate) AS lag_days,
                   CAST(isodow(l_shipdate) AS BIGINT) AS iso_dow,
                   date_diff('month', date_trunc('month', o_orderdate),
                             date_trunc('month', l_shipdate)) AS month_lag
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )
        SELECT iso_dow,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(lag_days) AS BIGINT) AS min_lag,
               CAST(MAX(lag_days) AS BIGINT) AS max_lag,
               CAST(SUM(lag_days) AS BIGINT) AS sum_lag,
               CAST(MAX(month_lag) AS BIGINT) AS max_month_lag
        FROM j
        GROUP BY iso_dow
        ORDER BY iso_dow
    """,
    "q69_decimal_agg": """
        SELECT o_orderstatus,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total,
               CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS max_price
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "q70_conditional_fns": """
        WITH t AS (
            SELECT CASE WHEN CAST(ROUND(o_totalprice * 10000) AS BIGINT) < 500000000 THEN 'low'
                        WHEN CAST(ROUND(o_totalprice * 10000) AS BIGINT) < 1500000000 THEN 'mid'
                        ELSE 'high' END AS band,
                   nullif(o_orderpriority, '3-MEDIUM') AS prio_nn,
                   least(o_custkey % 7, 3) AS lp,
                   greatest(o_custkey % 7, 3) AS gp
            FROM orders
        )
        SELECT band,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(prio_nn) AS BIGINT) AS n_nonmedium,
               CAST(MIN(lp) AS BIGINT) AS min_lp,
               CAST(MAX(gp) AS BIGINT) AS max_gp
        FROM t
        GROUP BY band
        ORDER BY band
    """,
    "q75_union_by_name": """
        WITH u AS (
            SELECT c_custkey, c_name AS name, CAST(NULL AS BIGINT) AS nationkey
            FROM customer WHERE c_custkey % 2 = 0
            UNION ALL
            SELECT c_custkey, CAST(NULL AS VARCHAR), CAST(c_nationkey AS BIGINT)
            FROM customer WHERE c_custkey % 2 = 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(name) AS BIGINT) AS n_with_name,
               CAST(COUNT(nationkey) AS BIGINT) AS n_with_nation
        FROM u
    """,
    "q76_sql_subqueries": """
        SELECT
          CAST((SELECT COUNT(*) FROM customer c
                WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
            AS n_with_orders,
          CAST((SELECT COUNT(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
            AS n_without_orders,
          CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_customers
    """,
    "q77_arg_extremes": """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
               arg_max(c_name, CAST(ROUND(c_acctbal * 10000) AS BIGINT) * 1000000 + c_custkey) AS richest,
               arg_min(c_name, CAST(ROUND(c_acctbal * 10000) AS BIGINT) * 1000000 + c_custkey) AS poorest,
               CAST(MAX(CAST(ROUND(c_acctbal * 10000) AS BIGINT)) AS BIGINT) AS max_bal_u,
               CAST(MIN(CAST(ROUND(c_acctbal * 10000) AS BIGINT)) AS BIGINT) AS min_bal_u
        FROM customer
        GROUP BY 1
        ORDER BY nationkey
    """,
    "q79_string_suite": """
        SELECT p_partkey,
               reverse(p_name) AS rev_name,
               lpad(p_type, 12, '.') AS pad_type,
               translate(p_name, 'aeiou', 'AEIOU') AS caps_vowels,
               CAST(instr(p_name, 'widget') AS BIGINT) AS widget_pos,
               substring(p_name, 1, 4) AS head4,
               split_part(p_name, ' ', 2) AS noun,
               repeat('*', CAST(p_size % 5 AS INT)) AS stars
        FROM part
        ORDER BY p_partkey
    """,
    "q81_percentile_cont": """
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS q25,
               quantile_cont(l_quantity, 0.5) AS median_qty,
               quantile_cont(l_quantity, 0.75) AS q75,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "q94_variance_suite": """
        WITH agg AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(qc) AS BIGINT) AS s1,
                   CAST(SUM(qc * qc) AS BIGINT) AS s2
            FROM (SELECT l_returnflag,
                         CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc
                  FROM lineitem)
            GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               s1 / 100.0 AS sum_qty,
               CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) / 10000.0 AS var_qty,
               sqrt(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) / 10000.0) AS std_qty
        FROM agg
        ORDER BY l_returnflag
    """,
    "q83_full_outer_join": """
        WITH c AS (
            SELECT c_custkey, CAST(ROUND(c_acctbal * 10000) AS BIGINT) AS bal4
            FROM customer WHERE c_custkey % 2 = 0
        ), o AS (
            SELECT o_custkey, COUNT(*) AS n_orders
            FROM orders WHERE o_custkey % 3 = 0
            GROUP BY o_custkey
        )
        SELECT COUNT(*) AS n_rows,
               COUNT(c_custkey) AS n_left,
               COUNT(o_custkey) AS n_right,
               CAST(SUM(CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
               CAST(SUM(CASE WHEN c_custkey IS NULL THEN n_orders ELSE 0 END) AS BIGINT)
                   AS orders_right_only,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN bal4 ELSE 0 END) AS BIGINT)
                   AS bal4_left_only
        FROM c FULL JOIN o ON c_custkey = o_custkey
    """,
}
