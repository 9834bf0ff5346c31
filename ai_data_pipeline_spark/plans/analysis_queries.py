"""Round-3 analysis query set: SURVEY.md §2B Q114+.

Corpus-statistics, data-profiling, and time-series primitives that a
training-data curation team runs alongside the q19–q113 pipeline set:
collocation mining, SCD2 history construction, forward-fill, column
profiling, concurrency sweeps, exact-moment correlation, outlier
gating, n-gram novelty, winnowing fingerprints, transition mining,
Bloom-probe audits, weighted sampling, and drift metrics.

Same oracle-parity discipline as relational.py (see the float-policy
header there): identical aliases on both engines, exact integer
aggregation wherever accumulation order could matter, doubles emitted
only from expression trees both engines evaluate identically (a single
IEEE division of two exact integers is bit-identical cross-engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_events, load_table as _t
from ai_data_pipeline_spark.functions.text import sql_word_ngrams, word_ngrams, ws_tokens
from ai_data_pipeline_spark.functions.buckets import (
    log2_bucket_case as _log2b,
    sql_log2_bucket_case as _sql_log2b,
)

QUERIES: dict = {}
ORACLE: dict = {}


_SQL_TOKS_LOWER = sql_word_ngrams("lower(text)", 1)
_SQL_BIGRAMS_LOWER = sql_word_ngrams("lower(text)", 2)

# Events: value is a ≤4-decimal double → exact 1e-4 integer units.
_V4 = "CAST(ROUND(value * 10000) AS BIGINT)"

DAY_NS = 86_400_000_000_000


# ---------------------------------------------------------------------------
# Q114 — PMI bigram collocations: pointwise mutual information
# score(w1,w2) = P(w1 w2) / (P(w1)·P(w2)) = c_xy·N / (c_x·c_y) over
# lowercase whitespace bigrams, c_xy ≥ 5, top-30. The score is ONE
# IEEE division of two exact BIGINT products (< 2^53 at graded
# scales), so the double is bit-identical cross-engine; numerator and
# denominator ride along as the exact audit. Scale: token/bigram
# counts combine map-side (Zipf mass collapses before the exchange);
# the two unigram enrichment joins key on the vocab, which is orders
# of magnitude smaller than the corpus. At extreme corpus sizes where
# c_xy·N crosses 2^53, form the products in DECIMAL(38,0) and rank on
# the exact fraction via cross-multiplied comparison.
# ---------------------------------------------------------------------------

def q114_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"))
    tc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    grams = docs.select(
        F.explode(word_ngrams(F.lower(F.col("text")), 2)).alias("g")
    )
    bc = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c_xy"))
    n_total = bc.agg(F.sum("c_xy").cast("long").alias("n_bi"))
    parts = F.split(F.col("g"), " ", 2)
    bc = bc.filter(F.col("c_xy") >= 5).select(
        parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2"), "c_xy"
    )
    joined = (
        bc.join(tc.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(tc.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n_total))
    )
    num = (F.col("c_xy") * F.col("n_bi")).cast("long")
    den = (F.col("c_x") * F.col("c_y")).cast("long")
    return (
        joined.select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            num.alias("pmi_num"),
            den.alias("pmi_den"),
            (num.cast("double") / den.cast("double")).alias("pmi_ratio"),
        )
        .orderBy(F.desc("pmi_ratio"), F.asc("w1"), F.asc("w2"))
        .limit(30)
    )


ORACLE["q114_pmi_bigrams"] = f"""
    WITH toks AS (
        SELECT unnest({_SQL_TOKS_LOWER}) AS w FROM documents
    ), tc AS (
        SELECT w, COUNT(*) AS c FROM toks GROUP BY w
    ), grams AS (
        SELECT unnest({_SQL_BIGRAMS_LOWER}) AS g FROM documents
    ), bc AS (
        SELECT g, COUNT(*) AS c_xy FROM grams GROUP BY g
    ), n AS (
        SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bi FROM bc
    ), sp AS (
        SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2, c_xy
        FROM bc WHERE c_xy >= 5
    )
    SELECT w1, w2, c_xy, tx.c AS c_x, ty.c AS c_y,
           CAST(c_xy * n_bi AS BIGINT) AS pmi_num,
           CAST(tx.c * ty.c AS BIGINT) AS pmi_den,
           CAST(c_xy * n_bi AS BIGINT) / CAST(tx.c * ty.c AS BIGINT) AS pmi_ratio
    FROM sp
    JOIN tc tx ON sp.w1 = tx.w
    JOIN tc ty ON sp.w2 = ty.w
    CROSS JOIN n
    ORDER BY pmi_ratio DESC, w1, w2
    LIMIT 30
"""


# ---------------------------------------------------------------------------
# Q115 — SCD2 history construction (type-2 slowly-changing dimension):
# each user's event_type stream collapses to its CHANGE rows
# (consecutive-duplicate drop), each change opening a validity
# interval [ts, next-change ts) closed by the following change — the
# CDC/merge primitive behind every warehouse dimension table. Exact
# ns-epoch integer arithmetic; durations summed in integer
# MILLISECONDS (ns div 1e6) so a 100 TB-scale sum stays far inside
# int64. Scale: two window passes over the same (user_id) partitioning
# — one exchange total; the change-row filter drops the stream to its
# information content before the second pass.
# ---------------------------------------------------------------------------

def q115_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.timeseries import scd2_intervals

    e = load_events(spark, sf_dir)
    iv = scd2_intervals(
        e, key="user_id", time_col="ts_ns", tiebreak_col="event_id",
        state_col="event_type",
    ).select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("from_ns"),
        F.col("valid_to").alias("to_ns"),
    )
    dur_ms = F.expr("(to_ns - from_ns) div 1000000")
    return (
        iv.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.when(F.col("to_ns").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_open"),
            F.sum(F.when(F.col("to_ns").isNotNull(), dur_ms).otherwise(0))
            .cast("long")
            .alias("closed_ms"),
            F.max(dur_ms).alias("max_ms"),
        )
        .orderBy("event_type")
    )


ORACLE["q115_scd2_intervals"] = """
    WITH ordered AS (
        SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts), event_id) AS prev_type
        FROM events
    ), changes AS (
        SELECT user_id, ts_ns, event_id, event_type
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    ), iv AS (
        SELECT user_id, event_type, ts_ns AS from_ns,
               lead(ts_ns) OVER (PARTITION BY user_id
                                 ORDER BY ts_ns, event_id) AS to_ns
        FROM changes
    )
    SELECT event_type,
           COUNT(*) AS n_intervals,
           CAST(SUM(CASE WHEN to_ns IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN to_ns IS NOT NULL
                         THEN (to_ns - from_ns) // 1000000 ELSE 0 END) AS BIGINT)
               AS closed_ms,
           MAX((to_ns - from_ns) // 1000000) AS max_ms
    FROM iv GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Q116 — forward fill (last-observation-carried-forward): every event
# carries the user's most recent purchase value at that instant —
# `last(..., ignorenulls)` over an unbounded-preceding frame, the
# imputation primitive pandas calls ffill. Values ride as exact 1e-4
# integer units so the carried sums are order-independent BIGINTs.
# Scale: one window shuffle on user_id; the frame is running state,
# not a buffer — Spark evaluates it in O(rows).
# ---------------------------------------------------------------------------

def q116_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.timeseries import forward_fill

    e = load_events(spark, sf_dir)
    v4 = F.round(F.col("value") * 10000, 0).cast("long")
    filled = forward_fill(
        e.select("user_id", "ts_ns", "event_id", "event_type", v4.alias("v4")),
        key="user_id",
        time_cols=["ts_ns", "event_id"],
        value=F.when(F.col("event_type") == "purchase", F.col("v4")),
        out_col="carried_v4",
    )
    return (
        filled.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("carried_v4").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_filled"),
            F.sum(F.coalesce(F.col("carried_v4"), F.lit(0))).cast("long").alias("sum_carried_v4"),
        )
        .orderBy("event_type")
    )


ORACLE["q116_forward_fill"] = f"""
    WITH filled AS (
        SELECT event_type,
               last_value(CASE WHEN event_type = 'purchase' THEN {_V4} END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_v4
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN carried_v4 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_filled,
           CAST(SUM(COALESCE(carried_v4, 0)) AS BIGINT) AS sum_carried_v4
    FROM filled GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Q117 — column profiling via unpivot (the data-quality pass run
# before any table is admitted): every column of `customer` melts to
# (col_name, val) rows — Spark `stack`, the UNPIVOT primitive — then
# one agg computes per-column null count, exact distinct count, and
# value-length extremes. The money column is canonicalized to exact
# cents BEFORE the string cast (double→string rendering is not
# portable; integer→string is). Scale: stack is a narrow per-row
# explode (no shuffle); the distinct-count agg is the only exchange,
# keyed on (col_name, val) with map-side partial aggregation.
# ---------------------------------------------------------------------------

def q117_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    melted = c.withColumn("acctbal_cents", cents).select(
        F.expr(
            "stack(5, "
            "'c_custkey', CAST(c_custkey AS STRING), "
            "'c_name', c_name, "
            "'c_nationkey', CAST(c_nationkey AS STRING), "
            "'c_mktsegment', c_mktsegment, "
            "'c_acctbal_cents', CAST(acctbal_cents AS STRING)"
            ") AS (col_name, val)"
        )
    )
    return (
        melted.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("val").isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
            F.countDistinct("val").alias("n_distinct"),
            F.min(F.length("val")).cast("long").alias("min_len"),
            F.max(F.length("val")).cast("long").alias("max_len"),
        )
        .orderBy("col_name")
    )


ORACLE["q117_column_profile"] = """
    WITH melted AS (
        SELECT 'c_custkey' AS col_name, CAST(c_custkey AS VARCHAR) AS val FROM customer
        UNION ALL
        SELECT 'c_name', c_name FROM customer
        UNION ALL
        SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
        UNION ALL
        SELECT 'c_mktsegment', c_mktsegment FROM customer
        UNION ALL
        SELECT 'c_acctbal_cents',
               CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS VARCHAR) FROM customer
    )
    SELECT col_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           COUNT(DISTINCT val) AS n_distinct,
           CAST(MIN(len(val)) AS BIGINT) AS min_len,
           CAST(MAX(len(val)) AS BIGINT) AS max_len
    FROM melted GROUP BY col_name ORDER BY col_name
"""


# ---------------------------------------------------------------------------
# Q118 — peak concurrency sweep line: 30-min-gap sessions (q34's
# recipe) become ±1 boundary events; a running sum ordered by a TOTAL
# order (t, delta DESC, user_id, session_id) gives the number of
# simultaneously-open sessions at every instant, and the per-day MAX
# is the capacity-planning number. Sessions crossing midnight are
# clipped into per-day segments (sequence + explode), so the sweep
# window partitions BY DAY — the global sweep is embarrassingly
# parallel across days, never a single-partition sort. Inclusive
# endpoints: +1 sorts before −1 at equal t, so a session ending the
# instant another starts counts both as concurrent (pinned on both
# engines by the same sort key).
# ---------------------------------------------------------------------------

def q118_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.timeseries import (
        max_concurrency_by_day,
        session_spans,
    )

    e = load_events(spark, sf_dir)
    spans = session_spans(
        e, key="user_id", time_col="ts_ns", gap=30 * 60 * 1_000_000_000
    )
    return max_concurrency_by_day(spans, ["user_id", "session_id"]).orderBy("day")


ORACLE["q118_max_concurrency"] = f"""
    WITH marked AS (
        SELECT user_id, epoch_ns(ts) AS t, event_id,
               CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
                      OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
    ), sessed AS (
        SELECT user_id, t,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM marked
    ), sess AS (
        SELECT user_id, session_id, MIN(t) AS t0, MAX(t) AS t1
        FROM sessed GROUP BY user_id, session_id
    ), spans AS (
        SELECT user_id, session_id, t0, t1,
               unnest(generate_series(t0 // {DAY_NS}, t1 // {DAY_NS})) AS day
        FROM sess
    ), seg AS (
        SELECT user_id, session_id, day,
               greatest(t0, day * {DAY_NS}) AS seg0,
               least(t1, (day + 1) * {DAY_NS} - 1) AS seg1
        FROM spans
    ), pts AS (
        SELECT day, seg0 AS t, 1 AS delta, user_id, session_id FROM seg
        UNION ALL
        SELECT day, seg1 AS t, -1 AS delta, user_id, session_id FROM seg
    ), swept AS (
        SELECT day,
               SUM(delta) OVER (PARTITION BY day
                                ORDER BY t, delta DESC, user_id, session_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS open_now
        FROM pts
    )
    SELECT day,
           CAST(MAX(open_now) AS BIGINT) AS peak_concurrency,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_session_segments
    FROM swept GROUP BY day ORDER BY day
"""


QUERIES.update(
    {
        "q114_pmi_bigrams": q114_pmi_bigrams,
        "q115_scd2_intervals": q115_scd2_intervals,
        "q116_forward_fill": q116_forward_fill,
        "q117_column_profile": q117_column_profile,
        "q118_max_concurrency": q118_max_concurrency,
    }
)


# ---------------------------------------------------------------------------
# Q119 — correlation / OLS-slope suite via exact integer moments:
# native corr()/covar_samp() are order-dependent double accumulations
# that can never hash-match across engines, so the six moments (n, Σx,
# Σy, Σxy, Σx², Σy²) aggregate as DECIMAL(38,0) (Spark) / HUGEINT
# (DuckDB) — order-independent and overflow-safe far past 100 TB (q94
# precedent, extended per the round-2 advice: the SUMS are already
# decimal, not just the derived products) — and Pearson r and the OLS
# slope are formed as ONE identical double expression tree.
# Scale: a single map-side-combinable hash agg; six numbers per group
# cross the exchange.
# ---------------------------------------------------------------------------

def q119_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    qc = F.round(F.col("l_quantity") * 100, 0).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    agg = (
        li.select("l_returnflag", qc.alias("x"), pc.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(F.col("x"))).alias("sx"),
            F.sum(dec(F.col("y"))).alias("sy"),
            F.sum(dec(F.col("x")) * dec(F.col("y"))).alias("sxy"),
            F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("sxx"),
            F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
        )
    )
    n = dec(F.col("n"))
    num = n * F.col("sxy") - dec(F.col("sx")) * dec(F.col("sy"))
    d1 = n * F.col("sxx") - dec(F.col("sx")) * dec(F.col("sx"))
    d2 = n * F.col("syy") - dec(F.col("sy")) * dec(F.col("sy"))
    corr = num.cast("double") / F.sqrt(d1.cast("double") * d2.cast("double"))
    slope = num.cast("double") / d1.cast("double")
    return agg.select(
        "l_returnflag",
        "n",
        corr.alias("corr_qty_price"),
        slope.alias("slope_cents_per_cq"),
    ).orderBy("l_returnflag")


ORACLE["q119_corr_moments"] = """
    WITH agg AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM (SELECT l_returnflag,
                     CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
                     CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
              FROM lineitem)
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) AS corr_qty_price,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_cq
    FROM agg
    ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q120 — 3σ outlier gate via the integer-moment predicate: an event is
# an outlier iff (n·x − s1)² > 9·n·(n·s2 − s1²) — the z-score test
# |x−μ| > 3σ cross-multiplied into exact integers so no engine ever
# divides or square-roots. Group moments arrive by COUNT/SUM WINDOWS
# over event_type (not groupBy + join-back: the window's exchange is
# the same one the final per-type agg needs — one shuffle total,
# CLAUDE.md's q23 rule). All products DECIMAL(38,0)/HUGEINT.
# ---------------------------------------------------------------------------

def q120_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    v4 = F.round(F.col("value") * 10000, 0).cast("long")
    w = Window.partitionBy("event_type")
    base = e.select("event_type", v4.alias("v4")).select(
        "event_type",
        "v4",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v4").over(w).alias("s1"),
        F.sum(dec(F.col("v4")) * dec(F.col("v4"))).over(w).alias("s2"),
    )
    n, s1, s2 = dec(F.col("n")), dec(F.col("s1")), F.col("s2")
    lhs = (n * dec(F.col("v4")) - s1) * (n * dec(F.col("v4")) - s1)
    rhs = F.lit(9).cast("decimal(38,0)") * n * (n * s2 - s1 * s1)
    flagged = base.withColumn("is_out", (lhs > rhs).cast("int"))
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_out").cast("long").alias("n_outliers"),
            F.min(F.when(F.col("is_out") == 1, F.col("v4"))).alias("min_out_v4"),
            F.max(F.when(F.col("is_out") == 1, F.col("v4"))).alias("max_out_v4"),
        )
        .orderBy("event_type")
    )


ORACLE["q120_zscore_outliers"] = f"""
    WITH base AS (
        SELECT event_type, {_V4} AS v4,
               COUNT(*) OVER w AS n,
               CAST(SUM({_V4}) OVER w AS HUGEINT) AS s1,
               CAST(SUM(CAST({_V4} AS HUGEINT) * {_V4}) OVER w AS HUGEINT) AS s2
        FROM events
        WINDOW w AS (PARTITION BY event_type)
    ), flagged AS (
        SELECT event_type, v4,
               CASE WHEN (CAST(n AS HUGEINT) * v4 - s1) * (CAST(n AS HUGEINT) * v4 - s1)
                         > 9 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * s2 - s1 * s1)
                    THEN 1 ELSE 0 END AS is_out
        FROM base
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(is_out) AS BIGINT) AS n_outliers,
           MIN(CASE WHEN is_out = 1 THEN v4 END) AS min_out_v4,
           MAX(CASE WHEN is_out = 1 THEN v4 END) AS max_out_v4
    FROM flagged GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Q121 — n-gram novelty vs the growing corpus: a document's novelty is
# the fraction of its distinct word-4-grams whose corpus-wide FIRST
# appearance (MIN doc_id over the gram) is this document — the
# time-ordered-crawl dedup signal (a doc of entirely already-seen
# grams is boilerplate even if no single pair-similarity fires).
# Per-doc dedup of grams happens NARROW (array_distinct before the
# explode), and the shuffle carries 60-bit gram hashes, never text.
# Scale: one exchange on gram hash (window MIN), one on doc_id, one on
# source — all map-side combinable.
# ---------------------------------------------------------------------------

def q121_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.dedup import md5_hash60

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(word_ngrams(F.lower(F.col("text")), 4))).alias("g"),
    ).select("doc_id", "source", md5_hash60(F.col("g")).alias("h"))
    first = F.min("doc_id").over(Window.partitionBy("h"))
    marked = sh.select(
        "doc_id", "source", (F.col("doc_id") == first).cast("int").alias("novel")
    )
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("novel").cast("long").alias("n_novel"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_novel").cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
        )
        .orderBy("source")
    )


ORACLE["q121_ngram_novelty"] = f"""
    WITH sh AS (
        SELECT doc_id, source,
               (('0x' || substr(md5(g), 1, 15))::BIGINT) AS h
        FROM (
            SELECT doc_id, source,
                   unnest(list_distinct({sql_word_ngrams("lower(text)", 4)})) AS g
            FROM documents
        )
    ), marked AS (
        SELECT doc_id, source,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY h)
                    THEN 1 ELSE 0 END AS novel
        FROM sh
    ), per_doc AS (
        SELECT doc_id, source, COUNT(*) AS n_grams,
               CAST(SUM(novel) AS BIGINT) AS n_novel
        FROM marked GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           CAST(SUM(n_novel) AS BIGINT) / CAST(SUM(n_grams) AS BIGINT) AS novelty
    FROM per_doc GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q122 — winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
# SIGMOD'03 — the MOSS algorithm): over each document's word-3-gram
# hash sequence, every w=4 window selects its minimum hash (ties →
# rightmost position), and the distinct selections are the document's
# fingerprints — guaranteed-density local sampling robust to
# insertion/reordering, the classic plagiarism/near-dup sketch. The
# (hash, position) pair is encoded as ONE zero-padded decimal string
# so a single MIN window implements argmin-with-rightmost-ties
# portably (no engine-specific min_by frames; hex casing differs
# between engines, decimal digits do not). Scale: narrow posexplode,
# one window shuffle on doc_id, fingerprint counting map-side.
# ---------------------------------------------------------------------------

def q122_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.dedup import md5_hash60

    docs = _t(spark, sf_dir, "documents")
    arr = word_ngrams(F.lower(F.col("text")), 3)
    g = docs.select(
        "doc_id",
        "source",
        F.size(arr).alias("n_grams"),
        F.posexplode(arr).alias("pos0", "g"),
    ).select(
        "doc_id",
        "source",
        "n_grams",
        (F.col("pos0") + 1).alias("pos"),
        md5_hash60(F.col("g")).alias("h"),
    )
    skey = F.concat(
        F.lpad(F.col("h").cast("string"), 19, "0"),
        F.lpad((F.lit(1_000_000_000) - F.col("pos")).cast("string"), 10, "0"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-3, Window.currentRow)
    )
    sel = g.withColumn("skey", skey).withColumn("wmin", F.min("skey").over(w))
    per_doc = (
        sel.groupBy("doc_id", "source", "n_grams")
        .agg(
            F.countDistinct(
                F.when(F.col("pos") >= 4, F.col("wmin"))
            ).alias("n_fp")
        )
        .filter(F.col("n_grams") >= 4)
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_grams") - 3).cast("long").alias("n_windows"),
            F.sum("n_fp").cast("long").alias("n_fp"),
        )
        .withColumn(
            "density",
            F.col("n_fp").cast("double") / F.col("n_windows").cast("double"),
        )
        .orderBy("source")
    )


_SQL_3GRAMS_LOWER = sql_word_ngrams("lower(text)", 3)

ORACLE["q122_winnowing"] = f"""
    WITH lists AS (
        SELECT doc_id, source, {_SQL_3GRAMS_LOWER} AS l FROM documents
    ), g AS (
        SELECT doc_id, source, len(l) AS n_grams, u.pos AS pos,
               (('0x' || substr(md5(u.g), 1, 15))::BIGINT) AS h
        FROM (
            SELECT doc_id, source, l,
                   unnest(list_transform(range(1, len(l) + 1),
                                         i -> struct_pack(pos := i, g := l[i]))) AS u
            FROM lists
        )
    ), sel AS (
        SELECT doc_id, source, n_grams, pos,
               MIN(lpad(CAST(h AS VARCHAR), 19, '0')
                   || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0'))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        FROM g
    ), per_doc AS (
        SELECT doc_id, source, n_grams,
               COUNT(DISTINCT CASE WHEN pos >= 4 THEN wmin END) AS n_fp
        FROM sel GROUP BY doc_id, source, n_grams
        HAVING n_grams >= 4
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_grams - 3) AS BIGINT) AS n_windows,
           CAST(SUM(n_fp) AS BIGINT) AS n_fp,
           CAST(SUM(n_fp) AS BIGINT) / CAST(SUM(n_windows_one) AS BIGINT) AS density
    FROM (SELECT doc_id, source, n_grams, n_fp, n_grams - 3 AS n_windows_one FROM per_doc)
    GROUP BY source ORDER BY source
"""


QUERIES.update(
    {
        "q119_corr_moments": q119_corr_moments,
        "q120_zscore_outliers": q120_zscore_outliers,
        "q121_ngram_novelty": q121_ngram_novelty,
        "q122_winnowing": q122_winnowing,
    }
)


# ---------------------------------------------------------------------------
# Q123 — Markov transition matrix (sequence mining): per-user
# consecutive event-type transitions via lead() over the exact total
# order, counted per (from, to) with each row's share of its source
# state — the behavioral-model / next-event-prediction primitive.
# Share = one IEEE division of two exact BIGINTs. Scale: one window
# shuffle on user_id; the transition matrix is |types|² rows, so the
# per-from share window runs on a micro-frame.
# ---------------------------------------------------------------------------

def q123_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    pairs = (
        e.select("user_id", "ts_ns", "event_id", F.col("event_type").alias("from_type"))
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    pc = pairs.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy("from_type"))
    return (
        pc.withColumn("n_from", total.cast("long"))
        .withColumn(
            "share", F.col("n").cast("double") / F.col("n_from").cast("double")
        )
        .orderBy("from_type", "to_type")
    )


ORACLE["q123_markov_transitions"] = """
    WITH pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY epoch_ns(ts), event_id) AS to_type
        FROM events
    ), pc AS (
        SELECT from_type, to_type, COUNT(*) AS n
        FROM pairs WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
           n / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS share
    FROM pc
    ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# Q124 — Bloom-filter probe audit: a digest blocklist (every 97th doc)
# sets k=3 bits (md5_hash60 seeds 0..2, mod 4096) in a shared bitmap;
# each corpus doc "hits" iff ALL three of its positions are set. The
# audit joins the bloom verdict against EXACT membership to count true
# hits and false positives per source — measuring, in-engine, the fp
# rate a production pre-filter would pay before the expensive exact
# join. Scale: the bit table is tiny and broadcast; the corpus is
# probed narrowly (3 hash positions per doc), never shuffled on text.
# The m=4096 geometry is FIXED here (the oracle-checked anchor, same
# rationale as q82's 2×4 planes); the production lever is holding
# bits-per-key constant — m ∝ |blocklist|, k ≈ (m/n)·ln 2 — which
# pins the fp rate (and the probe's downstream cost) flat at any
# scale. SCALING.md measures the saturation curve at 8×/16×.
# ---------------------------------------------------------------------------

_BLOOM_M = 4096
_BLOOM_K = 3


def q124_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import normalized_text
    from ai_data_pipeline_spark.operators.profiling import bloom_prefilter

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.md5(normalized_text(F.col("text"))).alias("digest")
    )
    block = base.filter(F.col("doc_id") % 97 == 0).select("digest").distinct()
    flagged = bloom_prefilter(base, block, "digest", m=_BLOOM_M, k=_BLOOM_K)
    member = block.withColumn("is_member", F.lit(1))
    audited = flagged.join(F.broadcast(member), "digest", "left").select(
        "source",
        "bloom_hit",
        F.coalesce(F.col("is_member"), F.lit(0)).alias("is_member"),
    )
    return (
        audited.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bloom_hit").cast("long").alias("n_bloom_hits"),
            F.sum("is_member").cast("long").alias("n_members"),
            F.sum(
                F.when((F.col("bloom_hit") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
        )
        .orderBy("source")
    )


from ai_data_pipeline_spark.functions.text import SQL_NORMALIZED as _SQL_NORM_A

_SQL_DIGEST = f"md5({_SQL_NORM_A.format(x='text')})"


def _sql_bloom_pos(digest_expr: str, seed: int) -> str:
    return f"((('0x' || substr(md5({digest_expr} || ':{seed}'), 1, 15))::BIGINT) % {_BLOOM_M})"


ORACLE["q124_bloom_audit"] = f"""
    WITH base AS (
        SELECT doc_id, source, {_SQL_DIGEST} AS digest FROM documents
    ), block AS (
        SELECT DISTINCT digest FROM base WHERE doc_id % 97 = 0
    ), bits AS (
        SELECT DISTINCT pos FROM (
            SELECT {_sql_bloom_pos('digest', 0)} AS pos FROM block
            UNION ALL SELECT {_sql_bloom_pos('digest', 1)} FROM block
            UNION ALL SELECT {_sql_bloom_pos('digest', 2)} FROM block
        )
    ), probes AS (
        SELECT doc_id, source, digest, {_sql_bloom_pos('digest', 0)} AS pos FROM base
        UNION ALL
        SELECT doc_id, source, digest, {_sql_bloom_pos('digest', 1)} FROM base
        UNION ALL
        SELECT doc_id, source, digest, {_sql_bloom_pos('digest', 2)} FROM base
    ), hit_counts AS (
        SELECT p.doc_id, p.source, p.digest,
               SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_set
        FROM probes p LEFT JOIN bits b ON p.pos = b.pos
        GROUP BY p.doc_id, p.source, p.digest
    ), audited AS (
        SELECT h.source,
               CASE WHEN h.n_set = {_BLOOM_K} THEN 1 ELSE 0 END AS bloom_hit,
               CASE WHEN bl.digest IS NOT NULL THEN 1 ELSE 0 END AS is_member
        FROM hit_counts h LEFT JOIN block bl ON h.digest = bl.digest
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(is_member) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN bloom_hit = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM audited GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q125 — quality-weighted deterministic sampling: accept a doc iff
# h60(text) < w·2^60 with w = min(1, n_chars/2000) — longer docs keep
# proportionally higher odds, short boilerplate is thinned. The
# comparison cross-multiplies into DECIMAL(38,0)/HUGEINT (h60·2000 vs
# n_chars·2^60) so no double ever forms; content-derived hashing makes
# the sample identical across runs, partitionings, and engines (the
# q46/q61 family, now with per-row variable rates). Scale: pure narrow
# per-row arithmetic + one agg.
# ---------------------------------------------------------------------------

def q125_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.dedup import md5_hash60

    docs = _t(spark, sf_dir, "documents")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    h = md5_hash60(F.col("text"))
    accept = dec(h) * F.lit(2000).cast("decimal(38,0)") < dec(
        F.least(F.col("n_chars"), F.lit(2000))
    ) * F.lit(1 << 60).cast("decimal(38,0)")
    flagged = docs.select(
        "source", "n_chars", accept.cast("int").alias("kept")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
        )
        .withColumn(
            "keep_rate", F.col("n_kept").cast("double") / F.col("n_docs").cast("double")
        )
        .orderBy("source")
    )


ORACLE["q125_weighted_sample"] = """
    WITH flagged AS (
        SELECT source, n_chars,
               CASE WHEN CAST(('0x' || substr(md5(text), 1, 15))::BIGINT AS HUGEINT) * 2000
                         < CAST(least(n_chars, 2000) AS HUGEINT) * 1152921504606846976
                    THEN 1 ELSE 0 END AS kept
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
           CAST(SUM(kept) AS BIGINT) / COUNT(*) AS keep_rate
    FROM flagged GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q126 — source drift via total variation distance: per-source
# log2-bucketed token-length histograms, then TVD(a,b) = ½·Σ|p_i−q_i|
# for every source pair — the distribution-shift check run before
# mixing a new crawl into the training blend. Fractions with unequal
# denominators compare exactly by cross-multiplication: the numerator
# Σ|c_ai·n_b − c_bi·n_a| stays integer, and TVD forms as one final
# division. Missing buckets zero-fill via a complete sources×buckets
# grid (both tiny). Scale: the corpus collapses to |sources|×|buckets|
# histogram rows before any pairing — the pair join is metadata-sized.
# ---------------------------------------------------------------------------

def q126_source_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source", _log2b(token_count_ws(F.col("text")) + 1).alias("bucket")
    )
    hist = per_doc.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("c"))
    totals = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    grid = (
        totals.select("source", "n")
        .crossJoin(hist.select("bucket").distinct())
        .join(hist, ["source", "bucket"], "left")
        .select(
            "source", "n", "bucket", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    a = grid.select(
        F.col("source").alias("source_a"),
        F.col("n").alias("n_a"),
        "bucket",
        F.col("c").alias("c_a"),
    )
    b = grid.select(
        F.col("source").alias("source_b"),
        F.col("n").alias("n_b"),
        "bucket",
        F.col("c").alias("c_b"),
    )
    paired = a.join(b, "bucket").filter(F.col("source_a") < F.col("source_b"))
    diff = F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a"))
    return (
        paired.groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(F.sum(diff).cast("long").alias("tvd_num"))
        .withColumn(
            "tvd",
            F.col("tvd_num").cast("double")
            / (2 * F.col("n_a") * F.col("n_b")).cast("double"),
        )
        .orderBy("source_a", "source_b")
    )


ORACLE["q126_source_tvd"] = f"""
    WITH per_doc AS (
        SELECT source,
               {_sql_log2b('tl')} AS bucket
        FROM (SELECT source, len({sql_word_ngrams("text", 1)}) + 1 AS tl
              FROM documents)
    ), hist AS (
        SELECT source, bucket, COUNT(*) AS c FROM per_doc GROUP BY source, bucket
    ), totals AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY source
    ), grid AS (
        SELECT t.source, t.n, bk.bucket, COALESCE(h.c, 0) AS c
        FROM totals t
        CROSS JOIN (SELECT DISTINCT bucket FROM hist) bk
        LEFT JOIN hist h ON h.source = t.source AND h.bucket = bk.bucket
    )
    SELECT a.source AS source_a, b.source AS source_b,
           a.n AS n_a, b.n AS n_b,
           CAST(SUM(abs(a.c * b.n - b.c * a.n)) AS BIGINT) AS tvd_num,
           CAST(SUM(abs(a.c * b.n - b.c * a.n)) AS BIGINT)
               / CAST(2 * a.n * b.n AS BIGINT) AS tvd
    FROM grid a JOIN grid b ON a.bucket = b.bucket AND a.source < b.source
    GROUP BY a.source, b.source, a.n, b.n
    ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# Q127 — session path mining: each 30-min session's first five event
# types join into a '>'-path (deterministic in-array sort by the exact
# total order — no ordered-aggregation engine dependence), counted
# corpus-wide, top-20 paths — the UX-funnel complement of q59's fixed
# signup→view→purchase funnel. Scale: one shuffle on user_id for
# sessionization; path counting combines map-side.
# ---------------------------------------------------------------------------

def q127_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.asof import sessionize

    e = load_events(spark, sf_dir)
    s = sessionize(e, key="user_id", time_col="ts_ns", gap=30 * 60 * 1_000_000_000)
    per_sess = s.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts_ns", "event_id", "event_type"))
                    ),
                    lambda x: x.getField("event_type"),
                ),
                1,
                5,
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        per_sess.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


ORACLE["q127_session_paths"] = """
    WITH marked AS (
        SELECT user_id, epoch_ns(ts) AS t, event_id, event_type,
               CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
                      OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
    ), sessed AS (
        SELECT user_id, t, event_id, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM marked
    ), per_sess AS (
        SELECT user_id, session_id,
               array_to_string(list_slice(list(event_type ORDER BY t, event_id), 1, 5), '>')
                   AS path,
               COUNT(*) AS n_events
        FROM sessed GROUP BY user_id, session_id
    )
    SELECT path,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM per_sess GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
"""


QUERIES.update(
    {
        "q123_markov_transitions": q123_markov_transitions,
        "q124_bloom_audit": q124_bloom_audit,
        "q125_weighted_sample": q125_weighted_sample,
        "q126_source_tvd": q126_source_tvd,
        "q127_session_paths": q127_session_paths,
    }
)


# ---------------------------------------------------------------------------
# Q128 — week-over-week trend: exact ns-epoch week buckets (q60's
# idiom — never date_trunc, whose week convention differs across
# engines), per-type weekly counts, lag() delta and growth ratio (one
# IEEE division of exact BIGINTs; NULL on the first week). Scale: the
# corpus collapses to |types|×|weeks| rows before the lag window.
# ---------------------------------------------------------------------------

WEEK_NS = 604_800_000_000_000


def q128_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    week = (F.col("ts_ns") - F.col("ts_ns") % WEEK_NS).alias("week")
    weekly = e.select("event_type", week).groupBy("event_type", "week").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(w)
    return (
        weekly.select(
            "event_type",
            "week",
            "n",
            prev.alias("prev_n"),
            (F.col("n") - prev).cast("long").alias("delta"),
            (F.col("n").cast("double") / prev.cast("double")).alias("wow_ratio"),
        )
        .orderBy("event_type", "week")
    )


ORACLE["q128_wow_change"] = f"""
    WITH weekly AS (
        SELECT event_type,
               epoch_ns(ts) - epoch_ns(ts) % {WEEK_NS} AS week,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, week, n,
           lag(n) OVER w AS prev_n,
           CAST(n - lag(n) OVER w AS BIGINT) AS delta,
           n / CAST(lag(n) OVER w AS BIGINT) AS wow_ratio
    FROM weekly
    WINDOW w AS (PARTITION BY event_type ORDER BY week)
    ORDER BY event_type, week
"""


# ---------------------------------------------------------------------------
# Q129 — equi-width histogram + CDF: order totals in exact cents cut
# into $20k bins, per-bin counts with running cumulative fraction —
# the distribution-summary primitive behind every data-profiling UI.
# The CDF window runs UNPARTITIONED by design: it orders the ~dozens
# of histogram BINS, not the fact table — the corpus collapses to
# |bins| rows in the map-side-combined agg first (same single-digit
# row regime as q92's Zipf ladder).
# ---------------------------------------------------------------------------

_BIN_CENTS = 2_000_000  # $20k


def q129_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    hist = (
        o.select(F.expr(f"CAST(ROUND(o_totalprice * 100) AS BIGINT) div {_BIN_CENTS}").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = F.sum("n").over(Window.partitionBy())
    return (
        hist.select(
            "bin",
            (F.col("bin") * _BIN_CENTS / 100.0).alias("bin_lo_dollars"),
            "n",
            F.sum("n").over(w).cast("long").alias("cum_n"),
            (F.sum("n").over(w).cast("double") / total.cast("double")).alias("cdf"),
        )
        .orderBy("bin")
    )


ORACLE["q129_price_histogram"] = f"""
    WITH hist AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // {_BIN_CENTS} AS bin,
               COUNT(*) AS n
        FROM orders GROUP BY bin
    )
    SELECT bin,
           bin * {_BIN_CENTS} / 100.0 AS bin_lo_dollars,
           n,
           CAST(SUM(n) OVER (ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_n,
           CAST(SUM(n) OVER (ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               / CAST(SUM(n) OVER () AS BIGINT) AS cdf
    FROM hist ORDER BY bin
"""


# ---------------------------------------------------------------------------
# Q130 — referential-integrity audit: orphan counts for three foreign
# keys (orders→customer, lineitem→orders, lineitem→part) in one
# result — the admission gate a warehouse runs before trusting a new
# snapshot. Each check is a LEFT ANTI join counted against its child
# table; orphan_rate is one exact-integer division. Scale: anti joins
# shuffle on the key only (Catalyst prunes every other column);
# dimension sides broadcast when small.
# ---------------------------------------------------------------------------

def q130_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")

    def check(name: str, child: DataFrame, key: str, parent: DataFrame, pkey: str):
        orphans = child.select(F.col(key)).join(
            parent.select(F.col(pkey).alias(key)), key, "left_anti"
        )
        return (
            child.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(
                F.lit(name).alias("fk_check"),
                "n_child",
                "n_orphans",
                (F.col("n_orphans").cast("double") / F.col("n_child").cast("double")).alias(
                    "orphan_rate"
                ),
            )
        )

    return (
        check("lineitem_orders", li, "l_orderkey", o, "o_orderkey")
        .union(check("lineitem_part", li, "l_partkey", p, "p_partkey"))
        .union(check("orders_customer", o, "o_custkey", c, "c_custkey"))
        .orderBy("fk_check")
    )


ORACLE["q130_integrity_audit"] = """
    WITH checks AS (
        SELECT 'lineitem_orders' AS fk_check,
               (SELECT COUNT(*) FROM lineitem) AS n_child,
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        UNION ALL
        SELECT 'lineitem_part',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'orders_customer',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
    )
    SELECT fk_check, n_child, n_orphans,
           n_orphans / CAST(n_child AS BIGINT) AS orphan_rate
    FROM checks ORDER BY fk_check
"""


# ---------------------------------------------------------------------------
# Q131 — k-means RE-assignment churn (iteration 2, completing q106's
# update step): BOTH rounds are now exact fixed-point.  Round 1 is
# the shared `_kmeans_assign_exact` integer argmin (the r03 driver
# flake lived in the old IEEE-double fold here — an all-integer
# output must not let doubles pick its branches); round 2's updated
# centroids are exact 1e-6 integers (c6 = s6 div n — fixed-point
# k-means, the declared algorithm), so second-round distances are
# EXACT BIGINTs too.  Argmin over the 4 candidate clusters encodes
# as MIN(dist·4 + cluster) — the encoded key orders by (dist,
# cluster). Output: the old→new migration matrix, the convergence
# diagnostic every k-means loop watches. Scale: centroids are a
# 4-row broadcast; distances are narrow HOF folds over the vector
# array — no per-dim row explosion on the Spark side (the SQL twin
# explodes because it can).
# ---------------------------------------------------------------------------

def q131_kmeans_reassign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.plans.pipeline_queries import (
        Q106_K,
        _kmeans_assign_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    assigned = _kmeans_assign_exact(emb, "vec_id")
    base = assigned.select(
        "vec_id", F.col("cluster_id").alias("old_cluster"), "v6"
    )
    # The assignment stage (scan + 4 HOF distance folds) feeds BOTH
    # the centroid build and the reassignment probe; it is narrow, so
    # no exchange exists for Spark to reuse — without this checkpoint
    # the whole stage executes twice (measured ~2x; the dedup_clusters
    # localCheckpoint rule). The materialized frame is (id, label,
    # int array) — no text/vector payload beyond the quantized ints.
    base = base.localCheckpoint(eager=True)

    expl = base.select(F.col("old_cluster").alias("cluster_id"), F.posexplode("v6").alias("dim", "v6v"))
    # Centroid = integer mean of the 1e-6 fixed-point coords.  s6 is
    # NEGATIVE for many (cluster, dim) cells, and Spark `div` truncates
    # toward zero while DuckDB `//` floor-divides on some versions
    # (truncates on others) — a 1-unit disagreement that flips
    # downstream argmins.  Offsetting the dividend non-negative first
    # (OFF = 2^23 ≫ max |mean| in 1e-6 units for unit-norm-ish vectors)
    # makes truncate ≡ floor, so the expression is division-convention-
    # proof on every engine/version.  The oracle uses the same form.
    # Invariance proven in tests/test_division_convention.py.
    cent = (
        expl.groupBy("cluster_id", F.col("dim").cast("long").alias("dim"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v6v").alias("s6"))
        .withColumn("c6", F.expr("(s6 + 8388608 * n) div n - 8388608"))
    )
    cent_rows = cent.groupBy(F.col("cluster_id").alias("new_cluster")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c6"))),
            lambda x: x.getField("c6"),
        ).alias("c6arr")
    )
    dist = F.aggregate(
        F.zip_with(F.col("v6"), F.col("c6arr"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    enc = dist * Q106_K + F.col("new_cluster")
    reassigned = (
        base.crossJoin(F.broadcast(cent_rows))
        .select("vec_id", "old_cluster", enc.alias("enc"))
        .groupBy("vec_id", "old_cluster")
        .agg((F.min("enc") % Q106_K).alias("new_cluster"))
    )
    return (
        reassigned.groupBy("old_cluster", "new_cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("old_cluster", "new_cluster")
    )


def _q131_oracle() -> str:
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM
    from ai_data_pipeline_spark.plans.pipeline_queries import (
        _Q106_ASSIGN_SQL,
        Q106_K,
    )

    return f"""
    WITH {_Q106_ASSIGN_SQL}, expl AS (
        SELECT vec_id, cluster_id AS old_cluster, CAST(j AS BIGINT) AS dim,
               v6l[j + 1] AS v6
        FROM assigned CROSS JOIN range({EMBED_DIM}) AS t(j)
    ), cent AS (
        SELECT old_cluster AS cluster_id, dim,
               (CAST(SUM(v6) AS BIGINT) + 8388608 * COUNT(*)) // COUNT(*)
                 - 8388608 AS c6
        FROM expl GROUP BY old_cluster, dim
    ), cand AS (
        SELECT e.vec_id, e.old_cluster, c.cluster_id AS new_cluster,
               SUM((e.v6 - c.c6) * (e.v6 - c.c6)) AS dist
        FROM expl e JOIN cent c ON e.dim = c.dim
        GROUP BY e.vec_id, e.old_cluster, c.cluster_id
    ), reassigned AS (
        SELECT vec_id, old_cluster,
               CAST(MIN(dist * {Q106_K} + new_cluster) % {Q106_K} AS BIGINT)
                   AS new_cluster
        FROM cand GROUP BY vec_id, old_cluster
    )
    SELECT old_cluster, new_cluster, COUNT(*) AS n
    FROM reassigned GROUP BY old_cluster, new_cluster
    ORDER BY old_cluster, new_cluster
    """


ORACLE["q131_kmeans_reassign"] = _q131_oracle()


QUERIES.update(
    {
        "q128_wow_change": q128_wow_change,
        "q129_price_histogram": q129_price_histogram,
        "q130_integrity_audit": q130_integrity_audit,
        "q131_kmeans_reassign": q131_kmeans_reassign,
    }
)


# ---------------------------------------------------------------------------
# Q132 — rolling 7-day active users (the DAU/WAU metric): each
# (user, active-day) fans out narrowly to the 7 trailing report days
# it counts toward, then one distinct-count per report day — rolling
# DISTINCT cardinality, which no window frame can express (frames
# aggregate rows, not sets). Report days clip to observed days via a
# broadcast semi-join. Scale: the fan-out is ×7 on the (user, day)
# DISTINCT pairs (already collapsed from raw events), and the count-
# distinct agg partial-aggregates map-side.
# ---------------------------------------------------------------------------

def q132_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.timeseries import rolling_distinct_count

    e = load_events(spark, sf_dir)
    return (
        rolling_distinct_count(
            e, entity="user_id", day_col=F.expr(f"ts_ns div {DAY_NS}"), window_days=7
        )
        .withColumnRenamed("n_distinct", "wau")
        .orderBy("report_day")
    )


ORACLE["q132_rolling_active"] = f"""
    WITH ud AS (
        SELECT DISTINCT user_id, epoch_ns(ts) // {DAY_NS} AS day FROM events
    ), days AS (
        SELECT DISTINCT day FROM ud
    ), fanned AS (
        SELECT user_id, unnest(generate_series(day, day + 6)) AS report_day
        FROM ud
    )
    SELECT report_day, COUNT(DISTINCT user_id) AS wau
    FROM fanned JOIN days ON fanned.report_day = days.day
    GROUP BY report_day ORDER BY report_day
"""


# ---------------------------------------------------------------------------
# Q133 — time-to-convert histogram: minutes from each user's FIRST
# view to their first purchase at-or-after it, log2-bucketed — the
# latency-distribution read on q59's funnel. The first-view moment
# arrives by a MIN window over user_id and the qualifying-purchase
# agg groups by the same key — one exchange total. Exact ns integers
# throughout; the bucket ladder is integer CASE (cross-engine-safe
# where floor(log2(double)) is not).
# ---------------------------------------------------------------------------

def q133_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts_ns"))).over(w)
    base = e.select("user_id", "event_type", "ts_ns").withColumn("t_view", t_view)
    conv = (
        base.filter(
            (F.col("event_type") == "purchase")
            & F.col("t_view").isNotNull()
            & (F.col("ts_ns") >= F.col("t_view"))
        )
        .groupBy("user_id")
        .agg(F.min(F.expr("(ts_ns - t_view) div 60000000000")).alias("mins"))
    )
    return (
        conv.select(_log2b(F.col("mins") + 1).alias("mins_bucket"))
        .groupBy("mins_bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("mins_bucket")
    )


ORACLE["q133_time_to_convert"] = f"""
    WITH base AS (
        SELECT user_id, event_type, epoch_ns(ts) AS ts_ns,
               MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END)
                   OVER (PARTITION BY user_id) AS t_view
        FROM events
    ), conv AS (
        SELECT user_id,
               MIN((ts_ns - t_view) // 60000000000) AS mins
        FROM base
        WHERE event_type = 'purchase' AND t_view IS NOT NULL AND ts_ns >= t_view
        GROUP BY user_id
    )
    SELECT {_sql_log2b('(mins + 1)')} AS mins_bucket,
           COUNT(*) AS n_users
    FROM conv GROUP BY mins_bucket ORDER BY mins_bucket
"""


# ---------------------------------------------------------------------------
# Q134 — Pareto / ABC classification: parts ranked by exact-cents
# revenue, cumulative share cut at 80% (A) and 95% (B) with integer
# cross-multiplied boundaries (100·cum ≤ 80·total — never a float in
# a predicate). Revenue uses q03's exact recipe (price-cents ×
# discount-e4 units, half-up to cents). The ranking window is GLOBAL
# over the PART dimension — dimension-sized by design (parts ≪
# facts); the fact table collapses per part first.
# ---------------------------------------------------------------------------

def q134_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev_u = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (10000 - F.round(F.col("l_discount") * 10000, 0).cast("long"))
    )
    per_part = li.select("l_partkey", rev_u.alias("rev_u")).groupBy("l_partkey").agg(
        F.sum("rev_u").alias("rev_u")
    )
    cents = F.expr("(2 * rev_u + 10000) div 20000")
    ranked = per_part.select("l_partkey", cents.alias("rev_c"))
    from ai_data_pipeline_spark.operators.profiling import pareto_classes

    classed = pareto_classes(
        ranked, key="l_partkey", weight="rev_c", cuts=[("A", 80), ("B", 95)]
    ).select("l_partkey", F.col("w").alias("rev_c"), F.col("cls").alias("abc"))
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_c").cast("long").alias("rev_c"),
        )
        .withColumn(
            "rev_share",
            F.col("rev_c").cast("double")
            / F.sum("rev_c").over(Window.partitionBy()).cast("double"),
        )
        .orderBy("abc")
    )


ORACLE["q134_pareto_abc"] = """
    WITH per_part AS (
        SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * (10000 - CAST(ROUND(l_discount * 10000) AS BIGINT)))
                    AS BIGINT) AS rev_u
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT l_partkey, (2 * rev_u + 10000) // 20000 AS rev_c FROM per_part
    ), classed AS (
        SELECT l_partkey, rev_c,
               SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_c,
               SUM(rev_c) OVER () AS total_c
        FROM ranked
    ), abc AS (
        SELECT l_partkey, rev_c,
               CASE WHEN 100 * cum_c <= 80 * total_c THEN 'A'
                    WHEN 100 * cum_c <= 95 * total_c THEN 'B'
                    ELSE 'C' END AS abc
        FROM classed
    )
    SELECT abc,
           COUNT(*) AS n_parts,
           CAST(SUM(rev_c) AS BIGINT) AS rev_c,
           CAST(SUM(rev_c) AS BIGINT) / CAST(SUM(SUM(rev_c)) OVER () AS BIGINT)
               AS rev_share
    FROM abc GROUP BY abc ORDER BY abc
"""


# ---------------------------------------------------------------------------
# Q135 — weighted median (exact): the char-weighted median token
# length per source — the "median of the data you actually train on"
# (doc-count medians over-weight short docs). Classic running-weight
# selection: order by (n_tok, doc_id), pick the first value where
# 2·cum_weight ≥ total_weight — all BIGINT comparisons, rank and
# total windows sharing the per-source exchange.
# ---------------------------------------------------------------------------

def q135_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import token_count_ws
    from ai_data_pipeline_spark.operators.timeseries import weighted_median

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source", "doc_id", token_count_ws(F.col("text")).alias("n_tok"), "n_chars"
    )
    return (
        weighted_median(
            base, group="source", value_col="n_tok", weight_col="n_chars",
            tiebreak_col="doc_id",
        )
        .select(
            "source",
            F.col("n_rows").alias("n_docs"),
            F.col("total_weight").alias("total_chars"),
            F.col("wmedian").alias("wmedian_tok"),
        )
        .orderBy("source")
    )


ORACLE["q135_weighted_median"] = f"""
    WITH base AS (
        SELECT source, doc_id, len({sql_word_ngrams("text", 1)}) AS n_tok, n_chars
        FROM documents
    ), marked AS (
        SELECT source, n_tok, n_chars,
               SUM(n_chars) OVER (PARTITION BY source ORDER BY n_tok, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_w,
               SUM(n_chars) OVER (PARTITION BY source) AS total_w
        FROM base
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(MAX(total_w) AS BIGINT) AS total_chars,
           MIN(CASE WHEN 2 * cum_w >= total_w THEN n_tok END) AS wmedian_tok
    FROM marked GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q136 — weekly churn / acquisition: per user-week activity (exact
# ns-epoch weeks), lag/lead over each user's week sequence classify
# every active week as NEW (no prior adjacent week) and/or CHURNING
# (no following adjacent week) — the retention bookkeeping behind
# q60's cohort matrix, as deltas. The final data week reports
# everyone churning (lead IS NULL) — a documented boundary, not a
# bug. Scale: events collapse to distinct (user, week) before the
# user-partitioned window; the weekly rollup reuses nothing heavier
# than |users|·|weeks| rows.
# ---------------------------------------------------------------------------

def q136_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    uw = (
        e.select("user_id", (F.col("ts_ns") - F.col("ts_ns") % WEEK_NS).alias("week"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("week")
    marked = uw.select(
        "user_id",
        "week",
        (F.lag("week").over(w).isNull() | (F.lag("week").over(w) < F.col("week") - WEEK_NS))
        .cast("int")
        .alias("is_new"),
        (F.lead("week").over(w).isNull() | (F.lead("week").over(w) > F.col("week") + WEEK_NS))
        .cast("int")
        .alias("is_churning"),
    )
    return (
        marked.groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum("is_new").cast("long").alias("n_new"),
            F.sum("is_churning").cast("long").alias("n_churning"),
        )
        .orderBy("week")
    )


ORACLE["q136_weekly_churn"] = f"""
    WITH uw AS (
        SELECT DISTINCT user_id,
               epoch_ns(ts) - epoch_ns(ts) % {WEEK_NS} AS week
        FROM events
    ), marked AS (
        SELECT user_id, week,
               CASE WHEN lag(week) OVER w IS NULL
                      OR lag(week) OVER w < week - {WEEK_NS} THEN 1 ELSE 0 END AS is_new,
               CASE WHEN lead(week) OVER w IS NULL
                      OR lead(week) OVER w > week + {WEEK_NS} THEN 1 ELSE 0 END AS is_churning
        FROM uw
        WINDOW w AS (PARTITION BY user_id ORDER BY week)
    )
    SELECT week,
           COUNT(*) AS n_active,
           CAST(SUM(is_new) AS BIGINT) AS n_new,
           CAST(SUM(is_churning) AS BIGINT) AS n_churning
    FROM marked GROUP BY week ORDER BY week
"""


QUERIES.update(
    {
        "q132_rolling_active": q132_rolling_active,
        "q133_time_to_convert": q133_time_to_convert,
        "q134_pareto_abc": q134_pareto_abc,
        "q135_weighted_median": q135_weighted_median,
        "q136_weekly_churn": q136_weekly_churn,
    }
)


# ---------------------------------------------------------------------------
# Q137 — inter-arrival time distribution (burstiness): per-user lag()
# deltas between consecutive events, log2-bucketed SECONDS per event
# type — the traffic-shape read behind session-gap and watermark
# tuning (q34's 30-min gap and q97's lookback are picked off exactly
# this histogram). One user_id window exchange; the histogram agg
# combines map-side.
# ---------------------------------------------------------------------------

def q137_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    delta_s = F.expr("(ts_ns - prev_ns) div 1000000000")
    base = (
        e.select("user_id", "ts_ns", "event_id", "event_type")
        .withColumn("prev_ns", F.lag("ts_ns").over(w))
        .filter(F.col("prev_ns").isNotNull())
    )
    return (
        base.select("event_type", _log2b(delta_s + 1).alias("gap_bucket"))
        .groupBy("event_type", "gap_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "gap_bucket")
    )


ORACLE["q137_interarrival"] = f"""
    WITH base AS (
        SELECT event_type,
               epoch_ns(ts) - lag(epoch_ns(ts))
                   OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS d_ns
        FROM events
    )
    SELECT event_type,
           {_sql_log2b('(d_ns // 1000000000 + 1)')} AS gap_bucket,
           COUNT(*) AS n
    FROM base WHERE d_ns IS NOT NULL
    GROUP BY event_type, gap_bucket
    ORDER BY event_type, gap_bucket
"""


# ---------------------------------------------------------------------------
# Q138 — heavy-hitter / skew diagnostic: top-10 users by event share
# with integer cross-multiplied share thresholds — the check run
# BEFORE choosing a salted join or AQE skew hints (q47's lever). A
# key is "hot" if its count × 1000 > total (share > 0.1%); the
# output is the exact skew evidence a planner acts on. Scale:
# per-key counts combine map-side; the total rides a single-row
# broadcast.
# ---------------------------------------------------------------------------

def q138_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.profiling import hot_key_shares

    e = load_events(spark, sf_dir)
    return (
        hot_key_shares(e, "user_id", hot_per_mille=1)
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )


ORACLE["q138_hot_keys"] = """
    WITH per_key AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), t AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total FROM per_key
    )
    SELECT user_id, n, total,
           CASE WHEN n * 1000 > total THEN 1 ELSE 0 END AS is_hot,
           n / CAST(total AS BIGINT) AS share
    FROM per_key CROSS JOIN t
    ORDER BY n DESC, user_id
    LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q139 — cross-source boilerplate-flow matrix: for every source pair,
# how many distinct OPENING fingerprints (md5 of the first 4
# lowercase tokens — the "same opening line" heuristic) they share —
# the contamination-flow map telling a curation team which feeds copy
# headers/templates from which. Exact-digest sharing is the degenerate
# strict case; openings catch template reuse exact dedup misses.
# Digest → sorted source set (one digest-keyed agg); pairs explode
# ONLY over each fingerprint's distinct sources (≤ |sources|, a
# constant), never over docs; the shuffle carries digests, not text.
# ---------------------------------------------------------------------------

def q139_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(ws_tokens(F.lower(F.col("text"))), 1, 4), " "
    )
    ds = docs.select(F.md5(prefix).alias("digest"), "source").distinct()
    sets = (
        ds.groupBy("digest")
        .agg(F.array_sort(F.collect_set("source")).alias("sources"))
        .filter(F.size("sources") >= 2)
    )
    pairs = (
        sets.select("digest", F.explode("sources").alias("source_a"), "sources")
        .select("digest", "source_a", F.explode("sources").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.countDistinct("digest").alias("n_shared_openings"))
        .orderBy("source_a", "source_b")
    )


ORACLE["q139_cross_source_dups"] = f"""
    WITH ds AS (
        SELECT DISTINCT
               md5(array_to_string(({sql_word_ngrams("lower(text)", 1)})[1:4], ' '))
                   AS digest,
               source
        FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(DISTINCT a.digest) AS n_shared_openings
    FROM ds a JOIN ds b ON a.digest = b.digest AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# Q140 — embedding quality gate: per-label vector audit — zero/near-
# zero norms (dead encoders), norm² extremes, and a norm² log2-bucket
# mode check. norm² is a left-to-right HOF fold, so the double is
# bit-identical cross-engine (q19's discipline), and the bucket takes
# floor AFTER scaling to exact 1e-6 fixed point. Pure narrow
# arithmetic + one agg; the gate a pipeline runs before trusting a
# new encoder drop.
# ---------------------------------------------------------------------------

def q140_embed_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )
    n6 = F.floor(norm2 * 1_000_000).cast("long")
    base = emb.select("label", norm2.alias("norm2"), n6.alias("n6"))
    return (
        base.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("n6") == 0).cast("int")).cast("long").alias("n_zero"),
            F.sum((F.col("n6") < 1_000_000).cast("int")).cast("long").alias("n_subunit"),
            F.min("norm2").alias("min_norm2"),
            F.max("norm2").alias("max_norm2"),
        )
        .orderBy("label")
    )


ORACLE["q140_embed_norm_audit"] = """
    WITH base AS (
        SELECT label,
               list_sum(list_transform(embedding,
                        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS norm2
        FROM embeddings
    ), b6 AS (
        SELECT label, norm2,
               CAST(floor(norm2 * 1000000) AS BIGINT) AS n6
        FROM base
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN n6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(SUM(CASE WHEN n6 < 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_subunit,
           MIN(norm2) AS min_norm2,
           MAX(norm2) AS max_norm2
    FROM b6 GROUP BY label ORDER BY label
"""


QUERIES.update(
    {
        "q137_interarrival": q137_interarrival,
        "q138_hot_keys": q138_hot_keys,
        "q139_cross_source_dups": q139_cross_source_dups,
        "q140_embed_norm_audit": q140_embed_norm_audit,
    }
)


# ---------------------------------------------------------------------------
# Q141 — linear-interpolation resample: hourly spine per event type,
# each spine point valued by lerp between the last observation at-or-
# before and the first at-or-after (completing the imputation family:
# q112 zero-fills counts, q116 carries forward, this interpolates).
# Implementation is the union-then-window recipe run BOTH directions
# in one pass — spine rows ride the event stream, ffill/bfill windows
# attach (t0,v0)/(t1,v1), and the lerp numerator stays in exact
# BIGINTs (v4 × seconds; ≤2^53) with ONE final IEEE division. Tie
# rule, pinned identically by both engines' sort keys: an observation
# at exactly the spine second joins the BACKWARD side (t0 = t, so the
# lerp degenerates to v0); the forward side is strictly-after. No
# join anywhere; one exchange on event_type. Scale caveat: the
# partition key is the SERIES id, so parallelism = series count —
# right for per-metric/per-sensor resampling (thousands of series),
# wrong for 5 types × 100 TB: there, re-key to (series, time-range)
# and exchange the two boundary observations per range (the standard
# sorted-time-series recipe), or interpolate per entity key.
# ---------------------------------------------------------------------------

HOUR_NS = 3_600_000_000_000


def q141_lerp_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.timeseries import lerp_resample

    e = load_events(spark, sf_dir)
    v4 = F.round(F.col("value") * 10000, 0).cast("long")
    return (
        lerp_resample(
            e.select("event_type", F.expr("ts_ns div 1000000000").alias("t_s"), v4.alias("v4")),
            series="event_type",
            time_s="t_s",
            value="v4",
            step_s=3600,
        )
        .select(
            F.col("series").alias("event_type"),
            "t_s",
            F.col("lerp_v").alias("lerp_v4"),
        )
        .orderBy("event_type", "t_s")
    )


ORACLE["q141_lerp_resample"] = f"""
    WITH obs AS (
        SELECT event_type, epoch_ns(ts) // 1000000000 AS t_s,
               {_V4} AS v4, 0 AS is_spine
        FROM events
    ), span AS (
        SELECT event_type,
               MIN(epoch_ns(ts)) // {HOUR_NS} AS h0,
               MAX(epoch_ns(ts)) // {HOUR_NS} AS h1
        FROM events GROUP BY event_type
    ), spine AS (
        SELECT event_type, unnest(generate_series(h0 + 1, h1)) * 3600 AS t_s,
               CAST(NULL AS BIGINT) AS v4, 1 AS is_spine
        FROM span
    ), u AS (
        SELECT * FROM obs UNION ALL SELECT * FROM spine
    ), filled AS (
        SELECT event_type, t_s, is_spine,
               last_value(CASE WHEN v4 IS NOT NULL
                               THEN struct_pack(t_s := t_s, v4 := v4) END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY t_s, is_spine
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p0,
               last_value(CASE WHEN v4 IS NOT NULL
                               THEN struct_pack(t_s := t_s, v4 := v4) END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY t_s DESC, is_spine DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p1
        FROM u
    )
    SELECT event_type, t_s,
           CASE WHEN p0 IS NOT NULL AND p0.t_s = t_s THEN CAST(p0.v4 AS DOUBLE)
                WHEN p0 IS NULL OR p1 IS NULL THEN NULL
                ELSE CAST(p0.v4 * (p1.t_s - t_s) + p1.v4 * (t_s - p0.t_s) AS DOUBLE)
                     / CAST(p1.t_s - p0.t_s AS DOUBLE)
           END AS lerp_v4
    FROM filled WHERE is_spine = 1
    ORDER BY event_type, t_s
"""


# ---------------------------------------------------------------------------
# Q142 — source vocabulary overlap: per source-pair, the overlap
# coefficient |A∩B| / min(|A|,|B|) of their distinct-token sets —
# q126's companion (TVD compares SHAPE, this compares CONTENT; a
# paraphrase source shows high TVD yet high vocab overlap). Distinct
# (source, token) pairs collapse first; the pair join keys on the
# token with per-source set sizes carried by a COUNT window over the
# same exchange; the coefficient is one exact-integer division.
# ---------------------------------------------------------------------------

def q142_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    st = docs.select(
        "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    ).distinct()
    sizes = F.count(F.lit(1)).over(Window.partitionBy("source"))
    st = st.withColumn("n_vocab", sizes)
    a = st.select(
        F.col("source").alias("source_a"), "tok", F.col("n_vocab").alias("n_a")
    )
    b = st.select(
        F.col("source").alias("source_b"), "tok", F.col("n_vocab").alias("n_b")
    )
    inter = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    return (
        inter.withColumn(
            "overlap",
            F.col("n_common").cast("double")
            / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
        )
        .orderBy("source_a", "source_b")
    )


ORACLE["q142_vocab_overlap"] = f"""
    WITH st AS (
        SELECT DISTINCT source, unnest({_SQL_TOKS_LOWER}) AS tok FROM documents
    ), sized AS (
        SELECT source, tok, COUNT(*) OVER (PARTITION BY source) AS n_vocab FROM st
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_common,
           CAST(MIN(a.n_vocab) AS BIGINT) AS n_a,
           CAST(MIN(b.n_vocab) AS BIGINT) AS n_b,
           COUNT(*) / CAST(least(MIN(a.n_vocab), MIN(b.n_vocab)) AS BIGINT) AS overlap
    FROM sized a JOIN sized b ON a.tok = b.tok AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# Q143 — seasonality matrix: hour-of-day × day-of-week activity from
# PURE ns-epoch integer arithmetic (dow = (epoch_days + 4) % 7,
# Thursday-anchored; hour = epoch_hours % 24) — engine date functions
# never touch the path, so weekday/timezone conventions cannot
# diverge (q68 pins the date-fn dialect; this avoids it entirely).
# The corpus collapses map-side to ≤ 7×24×|types| cells.
# ---------------------------------------------------------------------------

def q143_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    v4 = F.round(F.col("value") * 10000, 0).cast("long")
    return (
        e.select(
            "event_type",
            F.expr(f"(ts_ns div {DAY_NS} + 4) % 7").alias("dow"),
            F.expr(f"(ts_ns div {HOUR_NS}) % 24").alias("hour"),
            v4.alias("v4"),
        )
        .groupBy("event_type", "dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v4").cast("long").alias("sum_v4"),
        )
        .orderBy("event_type", "dow", "hour")
    )


ORACLE["q143_seasonality"] = f"""
    SELECT event_type,
           (epoch_ns(ts) // {DAY_NS} + 4) % 7 AS dow,
           (epoch_ns(ts) // {HOUR_NS}) % 24 AS hour,
           COUNT(*) AS n,
           CAST(SUM({_V4}) AS BIGINT) AS sum_v4
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY event_type, dow, hour
"""


QUERIES.update(
    {
        "q141_lerp_resample": q141_lerp_resample,
        "q142_vocab_overlap": q142_vocab_overlap,
        "q143_seasonality": q143_seasonality,
    }
)


# ---------------------------------------------------------------------------
# Q144 — Theta-sketch corpus overlap (operators/sketches.theta_overlap
# graded end-to-end): estimated |A|, |B|, |A∩B|, |A∪B|, Jaccard of the
# active-customer sets of two order years WITHOUT a join — each side
# reduces map-side to one ~KB Theta state; intersection/union are
# driver-scale set ops on the two states. Oracle strategy: at graded
# SF the per-side cardinality (~1.2k) sits far below the sketch's
# nominal 2^lgk = 4096 entries, so the sketch is in its EXACT regime
# (theta = 1, every hash retained) and the estimates equal the exact
# distinct counts DuckDB computes — deterministic, hashable. Beyond
# 2^lgk the same query degrades gracefully into ±1.6% estimation,
# which is the point at 100 TB: overlap of two 10-billion-key corpora
# costs two scans and zero shuffle-join. jaccard is ONE IEEE division
# of two exact BIGINTs — bit-identical cross-engine.
# ---------------------------------------------------------------------------

def q144_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.sketches import theta_overlap

    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1995)
    b = o.filter(F.year("o_orderdate") == 1996)
    return theta_overlap(a, b, "o_custkey", lgk=12).select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_intersection").cast("long").alias("n_intersection"),
        F.col("n_union").cast("long").alias("n_union"),
        "jaccard",
    )


ORACLE["q144_theta_overlap"] = """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) = 1995),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) = 1996),
         m AS (SELECT (SELECT COUNT(*) FROM a) AS n_a,
                      (SELECT COUNT(*) FROM b) AS n_b,
                      (SELECT COUNT(*) FROM a JOIN b USING (o_custkey)) AS n_i)
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(n_i AS BIGINT) AS n_intersection,
           CAST(n_a + n_b - n_i AS BIGINT) AS n_union,
           CAST(n_i AS BIGINT) / CAST(n_a + n_b - n_i AS BIGINT) AS jaccard
    FROM m
"""


# ---------------------------------------------------------------------------
# Q145 — KLL quantile profile + ROLLUP (operators/sketches
# .kll_quantile_profile → kll_rollup_quantiles graded end-to-end):
# per-nation account-balance sketches MERGE up to region purely from
# the stored states — the property that makes incremental 1000-day
# profiling feasible (re-reading raw data to re-profile is exactly
# what doesn't scale). Oracle strategy: group sizes at graded SF stay
# below the sketch's pre-compaction capacity (k = 8192 ≫ 60/nation,
# ~300/region), so the sketch holds every value and its inclusive-
# rank quantile equals DuckDB's quantile_disc EXACTLY (verified
# across odd/even group sizes and negative balances); past capacity
# the same plan answers with ~1.65%-rank-error estimates. Values are
# exact cents; no doubles anywhere.
# ---------------------------------------------------------------------------

def q145_kll_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.sketches import (
        kll_quantile_profile,
        kll_rollup_quantiles,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_c"),
    )
    prof = kll_quantile_profile(cust, ["c_nationkey"], "bal_c", k=8192)
    nation = _t(spark, sf_dir, "nation")
    keyed = prof.join(
        F.broadcast(nation), prof.c_nationkey == nation.n_nationkey
    ).select(F.col("n_regionkey").cast("long").alias("r_regionkey"), "kll_sketch")
    roll = kll_rollup_quantiles(keyed, ["r_regionkey"])
    return roll.select(
        "r_regionkey", "n", "q_25", "q_50", "q_75", "q_95"
    ).orderBy("r_regionkey")


ORACLE["q145_kll_profile"] = """
    SELECT CAST(n_regionkey AS BIGINT) AS r_regionkey,
           COUNT(*) AS n,
           quantile_disc(CAST(ROUND(c_acctbal * 100) AS BIGINT), 0.25) AS q_25,
           quantile_disc(CAST(ROUND(c_acctbal * 100) AS BIGINT), 0.50) AS q_50,
           quantile_disc(CAST(ROUND(c_acctbal * 100) AS BIGINT), 0.75) AS q_75,
           quantile_disc(CAST(ROUND(c_acctbal * 100) AS BIGINT), 0.95) AS q_95
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_regionkey
    ORDER BY r_regionkey
"""


# ---------------------------------------------------------------------------
# Q146 — exact duplicate-SPAN removal (operators/curation
# .remove_duplicate_spans graded end-to-end): every token span whose
# 8-gram already occurred earlier in corpus order is dropped and the
# documents are rewritten — the token-granular form of the public
# exact-substring train-data dedup pass. Scale shape (why this beats
# suffix arrays on a cluster): everything is equi-keyed — one window
# over the 8-byte gram hash finds global first occurrences, covered
# spans explode to ≤ n index rows per occurrence (linear in gram
# mass, never f²), one anti-join, one rebuild groupBy. The oracle
# recomputes the same pass on the gram STRINGS (the Spark side keys
# on xxhash64(gram); a 64-bit collision — ~1e-6 at graded gram mass —
# is the only possible divergence, and only ever drops an extra span).
# ---------------------------------------------------------------------------

def q146_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.curation import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return remove_duplicate_spans(docs, "doc_id", "text", n=8).orderBy("doc_id")


_SQL_TOKS_RAW = sql_word_ngrams("text", 1)
_SQL_G8_RAW = sql_word_ngrams("text", 8)

ORACLE["q146_dup_span_removal"] = f"""
    WITH tok0 AS (
        SELECT doc_id, {_SQL_TOKS_RAW} AS ws FROM documents
    ), toks AS (
        SELECT doc_id, generate_subscripts(ws, 1) - 1 AS idx, unnest(ws) AS tok
        FROM tok0
    ), g80 AS (
        SELECT doc_id, {_SQL_G8_RAW} AS g8 FROM documents
    ), grams AS (
        SELECT doc_id, generate_subscripts(g8, 1) - 1 AS p, unnest(g8) AS gram
        FROM g80
    ), dup AS (
        SELECT doc_id, p FROM (
            SELECT doc_id, p,
                   ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn
            FROM grams)
        WHERE rn > 1
    ), covered AS (
        SELECT DISTINCT doc_id, idx FROM (
            SELECT doc_id, unnest(generate_series(p, p + 7)) AS idx FROM dup)
    ), kept AS (
        SELECT t.doc_id, t.idx, t.tok
        FROM toks t
        LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.idx
        WHERE c.doc_id IS NULL
    ), rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(r.text, '') AS text
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Q147 — SCD2 CDC APPLY (operators/timeseries.scd2_apply graded
# end-to-end, completing q115 which grades interval CONSTRUCTION):
# history = type-2 intervals built from the first half of the event
# stream; the second half becomes a CDC batch (op = delete for
# 'error' events, else upsert) applied incrementally. The graded
# output is the full post-apply history table row-for-row. Scale
# shape: closed history rows never shuffle (pass-through union);
# only open rows of touched keys + the batch move through ONE key
# exchange shared by both window passes — a 10-billion-row history
# with a nightly 1-million-row batch moves megabytes, not the table.
# All times are exact ns-epoch BIGINTs.
# ---------------------------------------------------------------------------

Q147_SPLIT_NS = 1_705_363_200 * 10**9  # 2024-01-16T00:00:00Z


def q147_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.timeseries import (
        scd2_apply,
        scd2_intervals,
    )

    e = load_events(spark, sf_dir).select(
        "user_id", "ts_ns", "event_id", "event_type"
    )
    hist = scd2_intervals(
        e.filter(F.col("ts_ns") <= Q147_SPLIT_NS),
        key="user_id",
        time_col="ts_ns",
        tiebreak_col="event_id",
        state_col="event_type",
    )
    # contract: one change per (key, ts) — dedup deterministically
    wdup = Window.partitionBy("user_id", "ts_ns").orderBy("event_id")
    changes = (
        e.filter(F.col("ts_ns") > Q147_SPLIT_NS)
        .withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts_ns").alias("ts"),
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
        )
    )
    out = scd2_apply(
        hist, changes, key="user_id", state_col="event_type",
        time_col="ts", op_col="op",
    )
    return out.select(
        "user_id", "event_type", "valid_from", "valid_to"
    ).orderBy("user_id", "valid_from")


ORACLE["q147_scd2_apply"] = f"""
    WITH pre AS (
        SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type
        FROM events WHERE epoch_ns(ts) <= {Q147_SPLIT_NS}
    ), ordered AS (
        SELECT user_id, ts_ns, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts_ns, event_id) AS prev_type
        FROM pre
    ), chg AS (
        SELECT user_id, ts_ns, event_id, event_type
        FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type
    ), hist AS (
        SELECT user_id, event_type, ts_ns AS valid_from,
               lead(ts_ns) OVER (PARTITION BY user_id
                                 ORDER BY ts_ns, event_id) AS valid_to
        FROM chg
    ), batch AS (
        SELECT user_id, event_type, ts, op FROM (
            SELECT user_id, event_type, epoch_ns(ts) AS ts,
                   CASE WHEN event_type = 'error'
                        THEN 'delete' ELSE 'upsert' END AS op,
                   ROW_NUMBER() OVER (PARTITION BY user_id, epoch_ns(ts)
                                      ORDER BY event_id) AS rn
            FROM events WHERE epoch_ns(ts) > {Q147_SPLIT_NS})
        WHERE rn = 1
    ), ckeys AS (
        SELECT DISTINCT user_id FROM batch
    ), open_rows AS (
        SELECT * FROM hist WHERE valid_to IS NULL
    ), closed AS (
        SELECT * FROM hist WHERE valid_to IS NOT NULL
    ), untouched_open AS (
        SELECT o.* FROM open_rows o
        WHERE NOT EXISTS (SELECT 1 FROM ckeys c WHERE c.user_id = o.user_id)
    ), ev AS (
        SELECT o.user_id, o.event_type, o.valid_from AS _t,
               'upsert' AS _op, 0 AS _src
        FROM open_rows o
        WHERE EXISTS (SELECT 1 FROM ckeys c WHERE c.user_id = o.user_id)
        UNION ALL
        SELECT user_id, event_type, ts AS _t, op AS _op, 1 AS _src FROM batch
    ), led AS (
        SELECT user_id, event_type, _op, _t,
               lead(_t) OVER (PARTITION BY user_id
                              ORDER BY _t, _src) AS _next
        FROM ev
    ), applied AS (
        SELECT user_id, event_type, _t AS valid_from, _next AS valid_to
        FROM led WHERE _op = 'upsert'
    )
    SELECT user_id, event_type, valid_from, valid_to FROM closed
    UNION ALL SELECT user_id, event_type, valid_from, valid_to FROM untouched_open
    UNION ALL SELECT user_id, event_type, valid_from, valid_to FROM applied
    ORDER BY user_id, valid_from
"""


# ---------------------------------------------------------------------------
# Q148 — whole-corpus subsequence top-k (operators/timeseries
# .subsequence_topk graded end-to-end): the 10 length-8 sliding
# windows of the per-(event_type, minute) activity series closest to
# a ramp query pattern, euclidean distance. The graded run uses
# znorm=False on INTEGER series values so every accumulated square is
# an exact integer-valued double (order-independent sums; the final
# sqrt of an exact integer is one correctly-rounded IEEE op —
# bit-identical cross-engine); the z-normalized mode rides the same
# plan and is pinned by unit tests. Plan shape: one exchange on the
# series key for the sort window; windows materialize as length-8
# arrays and fold in codegen'd HOFs; top-k is TakeOrdered (k rows per
# partition to the driver merge, never the windows). The oracle
# recomputes windows via a bounded rn-band self-join — same integer
# arithmetic.
# ---------------------------------------------------------------------------

Q148_PATTERN = [1, 2, 3, 4, 5, 4, 3, 2]
MINUTE_NS = 60_000_000_000


def q148_subsequence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.timeseries import subsequence_topk

    e = load_events(spark, sf_dir)
    series = (
        e.select(
            "event_type",
            (F.expr(f"ts_ns div {MINUTE_NS}") * 60).alias("t_s"),
        )
        .groupBy("event_type", "t_s")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return subsequence_topk(
        series,
        key="event_type",
        time_col="t_s",
        value_col="v",
        query=Q148_PATTERN,
        k=10,
        znorm=False,
    )


_Q148_QSQL = " ".join(
    f"WHEN {i} THEN {v}" for i, v in enumerate(Q148_PATTERN)
)

ORACLE["q148_subsequence_topk"] = f"""
    WITH s AS (
        SELECT event_type,
               (epoch_ns(ts) // {MINUTE_NS}) * 60 AS t_s,
               COUNT(*) AS v
        FROM events GROUP BY 1, 2
    ), r AS (
        SELECT event_type, t_s, v,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY t_s) AS rn
        FROM s
    ), win AS (
        SELECT a.event_type, a.t_s,
               SUM((b.v - (CASE b.rn - a.rn {_Q148_QSQL} END))
                   * (b.v - (CASE b.rn - a.rn {_Q148_QSQL} END))) AS ss,
               COUNT(*) AS m
        FROM r a
        JOIN r b ON b.event_type = a.event_type
                AND b.rn BETWEEN a.rn AND a.rn + {len(Q148_PATTERN) - 1}
        GROUP BY a.event_type, a.t_s
        HAVING COUNT(*) = {len(Q148_PATTERN)}
    )
    SELECT event_type, t_s, sqrt(CAST(ss AS DOUBLE)) AS dist
    FROM win
    ORDER BY dist, event_type, t_s
    LIMIT 10
"""


QUERIES.update(
    {
        "q144_theta_overlap": q144_theta_overlap,
        "q145_kll_profile": q145_kll_profile,
        "q146_dup_span_removal": q146_dup_span_removal,
        "q147_scd2_apply": q147_scd2_apply,
        "q148_subsequence_topk": q148_subsequence_topk,
    }
)


# ---------------------------------------------------------------------------
# Q149 — HLL distinct profile + ROLLUP (operators/sketches
# .hll_distinct_by → hll_rollup graded end-to-end, completing the
# sketch family: q144 Theta set-algebra, q145 KLL quantiles, this
# HLL cardinality): per-event-type distinct users plus the merged
# ALL row recomputed purely from the stored per-type sketches — the
# segment-profile-then-re-aggregate pattern that makes 1000-day
# incremental profiling feasible. Oracle strategy: DataSketches HLL
# runs an exact coupon (LIST/SET) phase before promoting to the
# dense estimator — measured exact through ≥1500 distinct at
# lgk=14, far above the graded cardinalities (≤150 users at sf0.01)
# — so the estimates equal DuckDB's COUNT(DISTINCT) and the hash is
# stable; at production cardinalities the same plan answers with
# ~0.8% error and KB-scale shuffled state instead of a full
# distinct shuffle.
# ---------------------------------------------------------------------------

def q149_hll_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.sketches import (
        hll_distinct_by,
        hll_rollup,
    )

    e = load_events(spark, sf_dir).select("event_type", "user_id")
    prof = hll_distinct_by(e, ["event_type"], "user_id", lgk=14)
    total = hll_rollup(
        prof.withColumn("grain", F.lit("ALL")), ["grain"]
    ).select(F.col("grain").alias("event_type"), "distinct_est")
    per = prof.select("event_type", "distinct_est")
    return (
        per.unionByName(total)
        .select("event_type", F.col("distinct_est").cast("long").alias("distinct_users"))
        .orderBy("event_type")
    )


ORACLE["q149_hll_profile"] = """
    SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT user_id) FROM events
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Q150 — Z-order clustering audit (sources/sinks.zorder_key graded:
# the bit math behind compact_zorder's 2-D file layout): orders
# bucket (o_custkey, price-cents) to 16 bits each via pure-integer
# min/max scaling, interleave with the classic mask ladder, split
# the curve into 32 ntile runs (a file-sized run ≈ one output file
# of compact_zorder), and report each run's min/max in BOTH
# dimensions. The payoff the numbers demonstrate: every run is
# tight in both a and b, so footer-stat pruning works for filters
# on EITHER column — a 1-D sort is tight in one and spans ~all of
# the other. The oracle recomputes the identical ladder in SQL
# (BIGINT shifts/masks). Integer end to end; the global-ntile sort
# is the diagnostic form — the production write path uses
# repartitionByRange on the same key (sources/sinks.compact_zorder,
# file-footer tightness pinned in tests/test_sources.py).
# ---------------------------------------------------------------------------

def q150_zorder_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.sources.sinks import zorder_key

    hi = (1 << 16) - 1
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("a"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("b"),
    )
    mm = base.agg(
        F.min("a").alias("a0"), F.max("a").alias("a1"),
        F.min("b").alias("b0"), F.max("b").alias("b1"),
    )
    # pure-integer bucketing ((x-lo) ≥ 0 ⇒ div is convention-safe;
    # compact_zorder's production bucketer uses double floor, which
    # is fine for layout but not for an oracle — rule 4)
    j = base.crossJoin(F.broadcast(mm)).select(
        "o_orderkey",
        F.expr(f"((a - a0) * {hi}) div greatest(a1 - a0, 1)").alias("au"),
        F.expr(f"((b - b0) * {hi}) div greatest(b1 - b0, 1)").alias("bu"),
    )
    keyed = j.select(
        "o_orderkey", "au", "bu", zorder_key(F.col("au"), F.col("bu"), 16).alias("zkey")
    )
    w = Window.orderBy("zkey", "o_orderkey")
    runs = keyed.withColumn("bucket", F.ntile(32).over(w).cast("long"))
    return (
        runs.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("au").alias("a_lo"), F.max("au").alias("a_hi"),
            F.min("bu").alias("b_lo"), F.max("bu").alias("b_hi"),
        )
        .withColumn("span_a", F.col("a_hi") - F.col("a_lo"))
        .withColumn("span_b", F.col("b_hi") - F.col("b_lo"))
        .orderBy("bucket")
    )


def _q150_oracle() -> str:
    masks = [
        (16, 281470681808895),       # 0x0000FFFF0000FFFF
        (8, 71777214294589695),      # 0x00FF00FF00FF00FF
        (4, 1085102592571150095),    # 0x0F0F0F0F0F0F0F0F
        (2, 3689348814741910323),    # 0x3333333333333333
        (1, 6148914691236517205),    # 0x5555555555555555
    ]
    steps = []
    prev_a, prev_b = "au", "bu"
    for i, (sh, mk) in enumerate(masks):
        na, nb = f"xa{i}", f"xb{i}"
        steps.append(
            f"s{i} AS (SELECT o_orderkey, au, bu, "
            f"(({prev_a} | ({prev_a} << {sh})) & {mk}) AS {na}, "
            f"(({prev_b} | ({prev_b} << {sh})) & {mk}) AS {nb} "
            f"FROM {'buck' if i == 0 else f's{i - 1}'})"
        )
        prev_a, prev_b = na, nb
    ladder = ", ".join(steps)
    return f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey AS a,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS b
        FROM orders
    ), mm AS (
        SELECT MIN(a) AS a0, MAX(a) AS a1, MIN(b) AS b0, MAX(b) AS b1
        FROM base
    ), buck AS (
        SELECT o_orderkey,
               ((a - a0) * 65535) // greatest(a1 - a0, 1) AS au,
               ((b - b0) * 65535) // greatest(b1 - b0, 1) AS bu
        FROM base CROSS JOIN mm
    ), {ladder}, zk AS (
        SELECT o_orderkey, au, bu,
               ({prev_a} | ({prev_b} << 1)) AS zkey
        FROM s{len(masks) - 1}
    ), nt AS (
        SELECT au, bu,
               CAST(NTILE(32) OVER (ORDER BY zkey, o_orderkey) AS BIGINT)
                   AS bucket
        FROM zk
    )
    SELECT bucket, COUNT(*) AS n,
           MIN(au) AS a_lo, MAX(au) AS a_hi,
           MIN(bu) AS b_lo, MAX(bu) AS b_hi,
           MAX(au) - MIN(au) AS span_a,
           MAX(bu) - MIN(bu) AS span_b
    FROM nt GROUP BY bucket ORDER BY bucket
    """


ORACLE["q150_zorder_cluster_audit"] = _q150_oracle()


QUERIES.update(
    {
        "q149_hll_profile": q149_hll_profile,
        "q150_zorder_cluster_audit": q150_zorder_cluster_audit,
    }
)


# ---------------------------------------------------------------------------
# Q151 — RECURSIVE CTE (Spark 4.1 WITH RECURSIVE, new SQL surface):
# per-customer longest strictly-price-increasing PREFIX chain of
# orders — seeded at each customer's first order, the recursive step
# follows rank rn → rn+1 only while price (exact cents) increases;
# output is the corpus histogram of chain lengths. Recursion depth
# is bounded by max orders per customer (~10 at graded SF); all
# comparisons are exact BIGINT cents and the rank tie-break is
# (o_orderdate, o_orderkey) — fully deterministic on both engines.
# The SAME SQL text runs on Spark and DuckDB (both speak standard
# WITH RECURSIVE ... UNION ALL), which is the point of the row:
# recursion joins the declared spark.sql surface (q76's subquery
# family) with engine-identical semantics. Scale: each recursive
# step is one equi-join of the frontier against the ranked orders —
# frontier rows only ever shrink (strict inequality), so the work is
# O(total chain mass), and the ranked base is one window shuffle.
# Perf note: Spark executes recursion as one join JOB per step
# (~0.5s/step overhead; ~5.8s warm at sf0.1) — this row buys SQL
# surface parity, not throughput. When the recursion is expressible
# as a window (THIS one is: chain_len = position of the first
# non-increase), prefer the one-shuffle window form in production;
# recursion earns its cost only for genuinely iterative reachability.
# ---------------------------------------------------------------------------

_Q151_SQL = """
    WITH RECURSIVE ranked AS (
        SELECT o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                    AS BIGINT) AS rn
        FROM orders
    ), chain (o_custkey, rn, cents, len) AS (
        SELECT o_custkey, rn, cents, CAST(1 AS BIGINT) AS len
        FROM ranked WHERE rn = 1
        UNION ALL
        SELECT r.o_custkey, r.rn, r.cents, c.len + CAST(1 AS BIGINT)
        FROM chain c
        JOIN ranked r ON r.o_custkey = c.o_custkey AND r.rn = c.rn + 1
        WHERE r.cents > c.cents
    ), per_cust AS (
        SELECT o_custkey, MAX(len) AS chain_len FROM chain GROUP BY o_custkey
    )
    SELECT chain_len, COUNT(*) AS n_customers
    FROM per_cust GROUP BY chain_len ORDER BY chain_len
"""


def q151_recursive_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q151_SQL)


ORACLE["q151_recursive_chains"] = _Q151_SQL

QUERIES.update({"q151_recursive_chains": q151_recursive_chains})


# ---------------------------------------------------------------------------
# Q155 — native Python UDTF graded E2E (Spark 4 table function via
# SQL LATERAL): fixed_window_chunks (operators/udtf_ops.py — 120-char
# windows every 90) fans each document out to chunk rows feeding a
# per-source aggregate. The oracle reproduces the window start set in
# pure SQL (starts are multiples of 90; s emitted iff s=0 or the
# previous window did not already cover the tail: s+30 < n), so any
# drift in the UDTF's emit/stop semantics flips the hash. Scale: the
# UDTF streams rows per input row (bounded memory per fan-out); the
# aggregate combines map-side.
# ---------------------------------------------------------------------------

def q155_udtf_lateral_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import register_views
    from ai_data_pipeline_spark.operators.udtf_ops import register_udtfs

    register_views(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(length(c.chunk_text)) AS BIGINT) AS total_chars,
               CAST(MAX(c.chunk_index) AS BIGINT) AS max_index,
               CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_docs
        FROM documents d, LATERAL fixed_window_chunks(d.text, 120, 30) c
        GROUP BY d.source
        ORDER BY d.source
        """
    )


QUERIES["q155_udtf_lateral_chunks"] = q155_udtf_lateral_chunks
ORACLE["q155_udtf_lateral_chunks"] = """
    WITH d AS (
        SELECT source, doc_id, length(text) AS n FROM documents
    ), s AS (
        SELECT d.source, d.doc_id, d.n, gs.s AS start
        FROM d, LATERAL (SELECT unnest(range(0, greatest(n, 1), 90)) AS s) gs
        WHERE d.n > 0 AND (gs.s = 0 OR gs.s + 30 < d.n)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(LEAST(120, n - start)) AS BIGINT) AS total_chars,
           CAST(MAX(start // 90) AS BIGINT) AS max_index,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM s
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q156 — unpivot/melt (wide → long): per-returnflag metric triple
# unpivoted to (metric, val) rows — the DataFrame.unpivot surface vs
# DuckDB's UNPIVOT. All metrics are exact BIGINTs (count / rounded
# quantity / price cents) so the shared `val` column is
# dtype-uniform. One agg + a zero-shuffle projection.
# ---------------------------------------------------------------------------

def q156_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
            "sum_price_cents"
        ),
    )
    return (
        wide.unpivot(
            ["l_returnflag"], ["n_rows", "sum_qty", "sum_price_cents"], "metric", "val"
        )
        .orderBy("l_returnflag", "metric")
    )


QUERIES["q156_unpivot_metrics"] = q156_unpivot_metrics
ORACLE["q156_unpivot_metrics"] = """
    WITH wide AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, val
    FROM wide UNPIVOT (val FOR metric IN (n_rows, sum_qty, sum_price_cents))
    ORDER BY l_returnflag, metric
"""


# ---------------------------------------------------------------------------
# Q157 — correlated LATERAL subquery join with per-row ORDER BY +
# LIMIT (the SQL form of per-group top-k): top-2 customers by balance
# per nation. The IDENTICAL SQL text runs on both engines (same
# c_name tie-break; money in cents). Catalyst rewrites the lateral
# into a ranked window join — same plan class as q11, different
# surface.
# ---------------------------------------------------------------------------

_Q157_SQL = """
    SELECT n.n_name, c.c_name, c.bal_cents
    FROM nation n, LATERAL (
        SELECT c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name
        LIMIT 2
    ) c
    ORDER BY n.n_name, c.c_name
"""


def q157_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q157_SQL)


QUERIES["q157_lateral_topk"] = q157_lateral_topk
ORACLE["q157_lateral_topk"] = _Q157_SQL


# ---------------------------------------------------------------------------
# Q158 — bitwise + boolean aggregates (bit_and/bit_or/bit_xor,
# bool_and/bool_or) per order priority. Order-independent by algebra
# (AND/OR/XOR are commutative-associative), so shuffle order can
# never flip the hash; the boolean predicates compare raw parquet
# doubles against integer literals (identical trees per float rule 1).
# ---------------------------------------------------------------------------

def q158_bit_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.bit_and("o_orderkey").alias("key_and"),
            F.bit_or("o_orderkey").alias("key_or"),
            F.bit_xor("o_orderkey").alias("key_xor"),
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["q158_bit_bool_aggs"] = q158_bit_bool_aggs
ORACLE["q158_bit_bool_aggs"] = """
    SELECT o_orderpriority,
           CAST(bit_and(o_orderkey) AS BIGINT) AS key_and,
           CAST(bit_or(o_orderkey) AS BIGINT) AS key_or,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q159 — ordered string aggregation: listagg(DISTINCT …) WITHIN GROUP
# (Spark 4) vs DuckDB string_agg(DISTINCT … ORDER BY …) — sorted
# distinct concatenation is deterministic on both engines regardless
# of shuffle order.
# ---------------------------------------------------------------------------

def q159_listagg_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    # n_segments derives from the aggregated string: combining the
    # WITHIN-GROUP listagg with a second DISTINCT aggregate trips a
    # Spark 4.1 planner ClassCastException (AttributeReference vs
    # SortOrder in the distinct-Expand rewrite).
    return spark.sql(
        """
        SELECT c_nationkey, segments,
               CAST(size(split(segments, ',')) AS BIGINT) AS n_segments
        FROM (
            SELECT c_nationkey,
                   listagg(DISTINCT c_mktsegment, ',')
                       WITHIN GROUP (ORDER BY c_mktsegment) AS segments
            FROM customer
            GROUP BY c_nationkey
        )
        ORDER BY c_nationkey
        """
    )


QUERIES["q159_listagg_segments"] = q159_listagg_segments
ORACLE["q159_listagg_segments"] = """
    SELECT c_nationkey, segments,
           CAST(len(string_split(segments, ',')) AS BIGINT) AS n_segments
    FROM (
        SELECT c_nationkey,
               string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
        FROM customer
        GROUP BY c_nationkey
    )
    ORDER BY c_nationkey
"""


# ---------------------------------------------------------------------------
# Q160 — regexp_extract_all + array reduction: per part brand, word
# runs extracted from p_name ([a-z]+ — the RE2 ∩ Java dialect), with
# counts and the longest extracted word. Narrow per-row regex at the
# scan (no shuffle before the agg).
# ---------------------------------------------------------------------------

def q160_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    words = F.regexp_extract_all(F.col("p_name"), F.lit("[a-z]+"), 0)
    return (
        p.select(
            "p_brand",
            F.size(words).alias("n_words"),
            F.array_max(F.transform(words, F.length)).alias("longest"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("n_words").cast("long")).alias("total_words"),
            F.max("longest").cast("int").alias("max_word_len"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .orderBy("p_brand")
    )


QUERIES["q160_regexp_extract_all"] = q160_regexp_extract_all
ORACLE["q160_regexp_extract_all"] = """
    WITH w AS (
        SELECT p_brand,
               len(regexp_extract_all(p_name, '[a-z]+')) AS n_words,
               list_max(list_transform(regexp_extract_all(p_name, '[a-z]+'),
                                       x -> len(x))) AS longest
        FROM part
    )
    SELECT p_brand,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(MAX(longest) AS INTEGER) AS max_word_len,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM w
    GROUP BY p_brand
    ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# Q165 — null-safe equality join (<=> / IS NOT DISTINCT FROM): pair
# counts of customers×suppliers on a DERIVED NULLABLE key (nationkey
# mod 5, one residue nulled out) — NULL<=>NULL matches, so the null
# bucket joins too, unlike plain `=`. Explicit NULLS FIRST so both
# engines order the null group identically.
# ---------------------------------------------------------------------------

def q165_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.expr("nullif(c_nationkey % 5, 3)").alias("k")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.expr("nullif(s_nationkey % 5, 3)").alias("k2")
    )
    return (
        cust.join(supp, F.col("k").eqNullSafe(F.col("k2")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.asc_nulls_first("k"))
    )


QUERIES["q165_null_safe_join"] = q165_null_safe_join
ORACLE["q165_null_safe_join"] = """
    WITH c AS (SELECT nullif(c_nationkey % 5, 3) AS k FROM customer),
         s AS (SELECT nullif(s_nationkey % 5, 3) AS k2 FROM supplier)
    SELECT CAST(k AS INTEGER) AS k, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k2
    GROUP BY k
    ORDER BY k NULLS FIRST
"""


# ---------------------------------------------------------------------------
# Q161 — Matryoshka retrieval audit: for 5 fixed query vectors, how
# much of the full-dimension cosine top-10 survives when both sides
# are truncated to the first 32 dims (the matryoshka-embedding
# cheap-retrieval question: can the prefix stand in for the full
# vector?). One pass computes both similarities per (query, vector)
# row; two ranking windows share the qid exchange; overlap = rows in
# both top-10s. Ranking doubles are identical HOF folds on both
# engines (q27 discipline) with vec_id tie-breaks (float rule 5).
# Scale: queries broadcast; the corpus is scanned once, never
# self-joined; at production k/N use the blocked ANN paths (q28/q38)
# for each dimension tier instead of exact ranking.
# ---------------------------------------------------------------------------

_Q161_TRUNC_DIM = 32


def q161_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS

    emb = _t(spark, sf_dir, "embeddings")
    rows = []
    for qid, vec in enumerate(Q27_QUERY_VECS):
        rows.append((qid, vec, vec[:_Q161_TRUNC_DIM]))
    q = spark.createDataFrame(rows, "qid int, qv array<double>, qv32 array<double>")
    sims = emb.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        cosine("embedding", "qv").alias("sim_f"),
        cosine(F.slice("embedding", 1, _Q161_TRUNC_DIM), "qv32").alias("sim_t"),
    )
    w_f = Window.partitionBy("qid").orderBy(F.desc("sim_f"), F.asc("vec_id"))
    w_t = Window.partitionBy("qid").orderBy(F.desc("sim_t"), F.asc("vec_id"))
    r = sims.select(
        "qid",
        "vec_id",
        F.row_number().over(w_f).alias("rn_f"),
        F.row_number().over(w_t).alias("rn_t"),
    )
    return (
        r.groupBy("qid")
        .agg(
            F.sum(
                F.when((F.col("rn_f") <= 10) & (F.col("rn_t") <= 10), 1).otherwise(0)
            ).alias("n_overlap"),
            F.max(F.when(F.col("rn_f") == 1, F.col("vec_id"))).alias("top1_full"),
            F.max(F.when(F.col("rn_t") == 1, F.col("vec_id"))).alias("top1_trunc"),
        )
        .orderBy("qid")
    )


def _q161_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import sql_dot, sql_lit_list, sql_norm
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q27_QUERY_VECS

    vals = ", ".join(
        f"({qid}, {sql_lit_list(v)}, {sql_lit_list(v[:_Q161_TRUNC_DIM])})"
        for qid, v in enumerate(Q27_QUERY_VECS)
    )
    e32 = "(e.embedding[1:32])"
    cos_f = (
        f"{sql_dot('e.embedding', 'q.qv', EMBED_DIM)} / "
        f"({sql_norm('e.embedding', EMBED_DIM)} * {sql_norm('q.qv', EMBED_DIM)})"
    )
    cos_t = (
        f"{sql_dot(e32, 'q.qv32', _Q161_TRUNC_DIM)} / "
        f"({sql_norm(e32, _Q161_TRUNC_DIM)} * {sql_norm('q.qv32', _Q161_TRUNC_DIM)})"
    )
    return f"""
        WITH q(qid, qv, qv32) AS (VALUES {vals}),
        sims AS (
            SELECT q.qid, e.vec_id, {cos_f} AS sim_f, {cos_t} AS sim_t
            FROM embeddings e CROSS JOIN q
        ), r AS (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_f DESC, vec_id) AS rn_f,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_t DESC, vec_id) AS rn_t
            FROM sims
        )
        SELECT qid,
               CAST(SUM(CASE WHEN rn_f <= 10 AND rn_t <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
               MAX(CASE WHEN rn_f = 1 THEN vec_id END) AS top1_full,
               MAX(CASE WHEN rn_t = 1 THEN vec_id END) AS top1_trunc
        FROM r
        GROUP BY qid
        ORDER BY qid
    """


QUERIES["q161_matryoshka_overlap"] = q161_matryoshka_overlap
ORACLE["q161_matryoshka_overlap"] = _q161_oracle()


# ---------------------------------------------------------------------------
# Q163 — partition-pruned scan E2E: orders re-laid-out as a parquet
# table PARTITIONED BY o_orderpriority (content-keyed fixture,
# distributed write), then read back with a partition-column
# predicate — the scan must touch only the 2 of 5 partition
# directories (PartitionFilters; pinned by the plan test in
# tests/test_plans.py). The graded hash proves the pruned read
# returns exactly the plain filtered aggregate. This is THE 100 TB
# layout lever: a date/tenant-partitioned lake turns most queries
# into partition-directory listings.
# ---------------------------------------------------------------------------

_Q163_PRIORITIES = ("1-URGENT", "2-HIGH")


def q163_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.sources.fixtures import materialize_partitioned_orders

    part_dir = materialize_partitioned_orders(spark, sf_dir)
    o = spark.read.parquet(part_dir)
    return (
        o.filter(F.col("o_orderpriority").isin(*_Q163_PRIORITIES))
        .groupBy(
            "o_orderpriority",
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            ),
        )
        .orderBy("o_orderpriority", "month")
    )


QUERIES["q163_partition_pruned_scan"] = q163_partition_pruned_scan
ORACLE["q163_partition_pruned_scan"] = f"""
    SELECT o_orderpriority,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderpriority IN {_Q163_PRIORITIES!r}
    GROUP BY o_orderpriority, month
    ORDER BY o_orderpriority, month
"""


# ---------------------------------------------------------------------------
# Q164 — bucketed co-located join: customer and orders written as
# BUCKETED tables (8 buckets on the join key, sorted, external
# parquet under the fixture root so nothing lands outside the repo),
# then joined bucket-to-bucket — NO shuffle on either side (the plan
# test pins zero Exchange below the join and SelectedBucketsCount in
# the scans). The graded hash proves bucketing is result-invariant vs
# the plain join the oracle computes. At 100 TB this is the
# co-location contract: bucket both fact tables on the join key at
# write time and every subsequent join skips its exchange.
# ---------------------------------------------------------------------------

def _q164_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import os

    from ai_data_pipeline_spark.sources.fixtures import _FIXTURE_ROOT, source_signature

    sig = source_signature(os.path.join(sf_dir, "orders.parquet"), "bucket-v1")
    names = (f"q164_cust_{sig}", f"q164_ord_{sig}")
    specs = (
        ("customer", "c_custkey", names[0]),
        ("orders", "o_custkey", names[1]),
    )
    for table, key, name in specs:
        path = os.path.join(_FIXTURE_ROOT, name)
        if spark.catalog.tableExists(name) and os.path.exists(
            os.path.join(path, "_SUCCESS")
        ):
            continue
        (
            _t(spark, sf_dir, table)
            .write.format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
    return names


def q164_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust_t, ord_t = _q164_bucketed_tables(spark, sf_dir)
    c = spark.table(cust_t)
    o = spark.table(ord_t)
    joined = c.join(o, c.c_custkey == o.o_custkey)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            ),
            F.countDistinct("c_custkey").cast("long").alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


QUERIES["q164_bucketed_join"] = q164_bucketed_join
ORACLE["q164_bucketed_join"] = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q166 — Arrow-optimized scalar Python UDF (Spark 4 ``useArrow=True``:
# Arrow batch transfer without the pandas wrapper) graded E2E: a
# per-row vowel count feeding a per-source aggregate, hash-matched
# against DuckDB's regexp_replace-based count. The UDF is the point;
# the kernel is deliberately trivial. (Production hot paths stay on
# built-ins/pandas UDFs — this row pins the seam's correctness, not a
# recommendation.)
# ---------------------------------------------------------------------------

def q166_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType

    @F.udf(returnType=LongType(), useArrow=True)
    def vowel_count(t):
        return sum(1 for ch in (t or "") if ch in "aeiou")

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", vowel_count("text").alias("v"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("v").alias("total_vowels"),
            F.max("v").alias("max_vowels"),
        )
        .orderBy("source")
    )


QUERIES["q166_arrow_udf"] = q166_arrow_udf
ORACLE["q166_arrow_udf"] = """
    WITH v AS (
        SELECT source,
               CAST(len(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS v
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(v) AS BIGINT) AS total_vowels,
           CAST(MAX(v) AS BIGINT) AS max_vowels
    FROM v
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q167 — streaming checkpoint RESTART, exactly-once, graded: the
# event replay is drained in TWO separate query runs sharing one
# checkpoint (run 1 sees only the first file; files 2–3 appear before
# run 2), writing an append-mode parquet sink. The graded aggregate
# over the sink must equal the batch aggregate over all events — rows
# lost at the restart boundary or duplicated by sink re-commit would
# flip the hash. This pins the recovery contract a multi-day 100 TB
# ingestion leans on. Per-invocation scratch dirs are removed after
# the sink is drained into the returned frame.
# ---------------------------------------------------------------------------

def q167_stream_restart_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ai_data_pipeline_spark.sources.fixtures import (
        _FIXTURE_ROOT,
        materialize_event_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream_src = materialize_event_stream(sf_dir, n_files=3)
    files = sorted(
        f for f in os.listdir(stream_src) if f.endswith(".parquet")
    )
    os.makedirs(_FIXTURE_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(dir=_FIXTURE_ROOT, prefix=".q167_")
    in_dir = os.path.join(work, "in")
    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(in_dir)
    schema = spark.read.parquet(os.path.join(stream_src, files[0])).schema

    def run_once() -> None:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        proj = raw.select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 10000, 0).cast("long").alias("v4"),
        )
        q = (
            proj.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        import time as _time

        # run 1: only the first slice of history exists
        shutil.copy(os.path.join(stream_src, files[0]), in_dir)
        run_once()
        # the rest of the history lands; run 2 resumes from the
        # checkpoint and must pick up exactly files 2..n (explicit
        # mtimes: back-to-back copies can tie at the source's ms
        # granularity — harmless here because this aggregate is
        # arrival-order-invariant, but kept deterministic anyway)
        now = int(_time.time())
        for i, f in enumerate(files[1:], start=1):
            dst = os.path.join(in_dir, f)
            shutil.copy(os.path.join(stream_src, f), dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))
        run_once()
        agg = (
            spark.read.parquet(out_dir)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("event_id").cast("long").alias("n_distinct"),
                (F.sum("v4") / 10000.0).alias("sum_value"),
                F.countDistinct("user_id").cast("long").alias("n_users"),
            )
            .orderBy("event_type")
        )
        rows = agg.collect()
        out = spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


QUERIES["q167_stream_restart_exactly_once"] = q167_stream_restart_exactly_once
ORACLE["q167_stream_restart_exactly_once"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Q168 — ORC source E2E: orders written as ORC (content-keyed
# fixture, distributed write), read back through the ORC reader into
# the q17-shape monthly aggregate; the oracle computes from the
# PARQUET original, so any ORC encode/decode drift (types, dates,
# nulls) flips the hash.
# ---------------------------------------------------------------------------

def q168_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ai_data_pipeline_spark.sources.fixtures import _FIXTURE_ROOT, source_signature

    sig = source_signature(os.path.join(sf_dir, "orders.parquet"), "orc-v1")
    final = os.path.join(_FIXTURE_ROOT, f"orders_orc_{sig}")
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        _t(spark, sf_dir, "orders").write.mode("overwrite").orc(final)
    o = spark.read.orc(final)
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
        .orderBy("o_orderstatus")
    )


QUERIES["q168_orc_source"] = q168_orc_source
ORACLE["q168_orc_source"] = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Q169 — CSV quoting/escaping round-trip graded: documents text is
# first made CSV-HOSTILE (embedded double quotes, commas, and a real
# newline — the corpus itself is CSV-benign, so hostility is injected
# with an expression both engines share), written as quoted CSV, read
# back with multiLine + escape, and digest-aggregated. The oracle
# recomputes the same hostile text straight from parquet: any
# quoting, escaping, or multiline-parse defect flips the md5s.
# ---------------------------------------------------------------------------

def q169_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ai_data_pipeline_spark.sources.fixtures import _FIXTURE_ROOT, source_signature

    docs = _t(spark, sf_dir, "documents")
    hostile = F.concat(
        F.lit('"'), F.col("source"), F.lit('",\n'), F.col("text")
    ).alias("text2")
    sig = source_signature(os.path.join(sf_dir, "documents.parquet"), "csv-v1")
    final = os.path.join(_FIXTURE_ROOT, f"docs_csv_{sig}")
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        (
            docs.select("doc_id", hostile, "source")
            .write.mode("overwrite")
            .option("header", "true")
            .option("quoteAll", "true")
            .option("escape", '"')
            .csv(final)
        )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("doc_id bigint, text2 string, source string")
        .csv(final)
    )
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text2").cast("long")).alias("total_chars"),
            F.md5(
                F.array_join(
                    F.sort_array(F.collect_list(F.md5(F.col("text2").cast("binary")))),
                    ",",
                ).cast("binary")
            ).alias("digest"),
        )
        .orderBy("source")
    )


QUERIES["q169_csv_roundtrip"] = q169_csv_roundtrip
ORACLE["q169_csv_roundtrip"] = """
    WITH h AS (
        SELECT source,
               '"' || source || '",' || chr(10) || text AS text2
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text2)) AS BIGINT) AS total_chars,
           md5(list_aggregate(list_sort(list(md5(text2))), 'string_agg', ',')) AS digest
    FROM h
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q170 — Python DataSource STREAMING half graded (q154's batch twin):
# the synthdocs SimpleDataSourceStreamReader replays its deterministic
# corpus in 17-row micro-batches through an append memory sink; the
# drained rows aggregate per shard and must hash-match the golden
# VALUES computed from the same _doc_row generator — exactly-once
# offset bookkeeping (no skipped/duplicated cursor ranges) is what's
# actually under test. Deliberately sf-independent: the seam, not the
# corpus, is graded (cf. q22's fixed query vectors).
# ---------------------------------------------------------------------------

_Q170_N, _Q170_BATCH, _Q170_SEED = 120, 17, 7


def q170_pyds_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from ai_data_pipeline_spark.plans.pipeline_queries import _drain_memory_sink
    from ai_data_pipeline_spark.sources.pyds import register_synthdocs

    register_synthdocs(spark)
    raw = (
        spark.readStream.format("synthdocs")
        .option("numdocs", str(_Q170_N))
        .option("batchsize", str(_Q170_BATCH))
        .option("seed", str(_Q170_SEED))
        .load()
    )
    name = f"q170_{_uuid.uuid4().hex[:8]}"
    # processAllAvailable, not availableNow: the simple stream reader
    # advances one prefetched batch per trigger, and availableNow
    # snapshots only the first prefetch (17 of 120 rows drained).
    q = (
        raw.writeStream.format("memory")
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
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("doc_id").cast("long").alias("n_distinct"),
            F.sum("doc_id").alias("sum_ids"),
            F.md5(
                F.array_join(F.sort_array(F.collect_list("text")), ",").cast("binary")
            ).alias("digest"),
        )
    )
    return _drain_memory_sink(agg, name).orderBy("source")


def _q170_oracle() -> str:
    import hashlib as _h

    from ai_data_pipeline_spark.sources.pyds import _doc_row

    per_source: dict[str, list] = {}
    for i in range(_Q170_N):
        doc_id, text, source = _doc_row(_Q170_SEED, i, f"shard{i % 4}")
        per_source.setdefault(source, []).append((doc_id, text))
    vals = []
    for source in sorted(per_source):
        docs = per_source[source]
        digest = _h.md5(",".join(sorted(t for _, t in docs)).encode()).hexdigest()
        vals.append(
            f"('{source}', {len(docs)}, {len(set(d for d, _ in docs))}, "
            f"{sum(d for d, _ in docs)}, '{digest}')"
        )
    return (
        "SELECT source, CAST(n_docs AS BIGINT) AS n_docs, "
        "CAST(n_distinct AS BIGINT) AS n_distinct, "
        "CAST(sum_ids AS BIGINT) AS sum_ids, digest "
        "FROM (VALUES "
        + ", ".join(vals)
        + ") AS g(source, n_docs, n_distinct, sum_ids, digest) ORDER BY source"
    )


QUERIES["q170_pyds_stream"] = q170_pyds_stream
ORACLE["q170_pyds_stream"] = _q170_oracle()


# ---------------------------------------------------------------------------
# Q171 — as-of join WITH TOLERANCE (the merge_asof(tolerance=…)
# semantics q33/q86 lack): each purchase matches its latest preceding
# view only if it lies within 30 minutes; older matches null out.
# Same linear union+window recipe (no per-key join blowup); the
# tolerance is a post-carry filter, so the scale shape is unchanged.
# Lags are exact ns-integer math; ms via the audited non-negative div.
# ---------------------------------------------------------------------------

_Q171_TOL_NS = 1_800 * 10**9  # 30 minutes


def q171_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    purch = e.filter(F.col("event_type") == "purchase").select("user_id", "ts_ns")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts_ns").alias("vt")
    )
    tagged = purch.withColumn("side", F.lit(1)).unionByName(
        views.select(
            "user_id", F.col("vt").alias("ts_ns"), F.lit(0).alias("side")
        ).withColumn("vt", F.col("ts_ns")),
        allowMissingColumns=True,
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn("last_vt", F.last("vt", ignorenulls=True).over(w))
    matched = carried.filter(F.col("side") == 1).withColumn(
        "ok",
        F.col("last_vt").isNotNull()
        & ((F.col("ts_ns") - F.col("last_vt")) <= _Q171_TOL_NS),
    )
    return (
        matched.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purch"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_matched"),
            F.sum(
                F.when(
                    F.col("ok"), F.expr("(ts_ns - last_vt) div 1000000")
                ).otherwise(0)
            ).alias("sum_lag_ms"),
        )
        .orderBy("user_id")
    )


QUERIES["q171_asof_tolerance"] = q171_asof_tolerance
ORACLE["q171_asof_tolerance"] = f"""
    WITH p AS (
        SELECT user_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'purchase'
    ), v AS (
        SELECT user_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'view'
    ), m AS (
        SELECT p.user_id, p.t,
               (SELECT MAX(v.t) FROM v
                WHERE v.user_id = p.user_id AND v.t <= p.t) AS vt
        FROM p
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purch,
           CAST(SUM(CASE WHEN vt IS NOT NULL AND t - vt <= {_Q171_TOL_NS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN vt IS NOT NULL AND t - vt <= {_Q171_TOL_NS}
                         THEN (t - vt) // 1000000 ELSE 0 END) AS BIGINT) AS sum_lag_ms
    FROM m
    GROUP BY user_id
    ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Q172 — SCD2 point-in-time lookup (the feature-store PIT read):
# state = each user's current event_type under the q115 SCD2 history;
# AS-OF timestamps are the data-span quartiles (exact integer
# arithmetic from min/max ns). For each quartile: how many users sit
# in each state — interval containment [from, to), open intervals
# match everything after. The 3-row as-of frame broadcasts; intervals
# are the information content of the stream, not the stream.
# ---------------------------------------------------------------------------

def q172_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.timeseries import scd2_intervals

    e = load_events(spark, sf_dir)
    iv = scd2_intervals(
        e, key="user_id", time_col="ts_ns", tiebreak_col="event_id",
        state_col="event_type",
    )
    bounds = e.agg(F.min("ts_ns").alias("t0"), F.max("ts_ns").alias("t1"))
    asof = (
        spark.range(1, 4)
        .withColumnRenamed("id", "k")
        .crossJoin(F.broadcast(bounds))
        .select("k", F.expr("t0 + ((t1 - t0) * k) div 4").alias("t"))
    )
    pit = iv.crossJoin(F.broadcast(asof)).filter(
        (F.col("valid_from") <= F.col("t"))
        & (F.col("valid_to").isNull() | (F.col("t") < F.col("valid_to")))
    )
    return (
        pit.groupBy("k", "event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("k", "event_type")
    )


QUERIES["q172_pit_lookup"] = q172_pit_lookup
ORACLE["q172_pit_lookup"] = """
    WITH ordered AS (
        SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts), event_id) AS prev_type
        FROM events
    ), changes AS (
        SELECT user_id, ts_ns, event_id, event_type
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    ), iv AS (
        SELECT user_id, event_type, ts_ns AS from_ns,
               lead(ts_ns) OVER (PARTITION BY user_id
                                 ORDER BY ts_ns, event_id) AS to_ns
        FROM changes
    ), bounds AS (
        SELECT MIN(epoch_ns(ts)) AS t0, MAX(epoch_ns(ts)) AS t1 FROM events
    ), pits AS (
        SELECT k, t0 + ((t1 - t0) * k) // 4 AS t
        FROM bounds, (VALUES (1), (2), (3)) AS ks(k)
    )
    SELECT CAST(k AS BIGINT) AS k, event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM iv JOIN pits
      ON from_ns <= t AND (to_ns IS NULL OR t < to_ns)
    GROUP BY k, event_type
    ORDER BY k, event_type
"""


# ---------------------------------------------------------------------------
# Q173 — approx_percentile in its EXACT regime (the sketch-oracle
# discipline of q144/q145/q149): per-type p10/p50/p90 of exact 1e-4
# value units via percentile_approx(accuracy=100000). GK never
# compresses while a group's n stays below the accuracy budget, so
# the result IS the inclusive-rank discrete quantile and equals
# DuckDB quantile_disc bit-for-bit (probed at both graded SFs; per-
# type n there is ≤2k — and 20k at the sf0.1 bench — vs the 100k
# budget). Beyond the regime it degrades to ±1/accuracy rank error
# with bounded sketch state — that estimation regime is the 100 TB
# point: a full sort per group is replaced by KB of mergeable state.
# ---------------------------------------------------------------------------

def q173_percentile_approx_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    return (
        e.withColumn("v4", F.round(F.col("value") * 10000, 0).cast("long"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile_approx("v4", 0.1, 100000).alias("p10"),
            F.percentile_approx("v4", 0.5, 100000).alias("p50"),
            F.percentile_approx("v4", 0.9, 100000).alias("p90"),
        )
        .orderBy("event_type")
    )


QUERIES["q173_percentile_approx_exact"] = q173_percentile_approx_exact
ORACLE["q173_percentile_approx_exact"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_disc(CAST(ROUND(value * 10000) AS BIGINT), 0.1) AS p10,
           quantile_disc(CAST(ROUND(value * 10000) AS BIGINT), 0.5) AS p50,
           quantile_disc(CAST(ROUND(value * 10000) AS BIGINT), 0.9) AS p90
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Q174 — GROUP BY ALL (Spark 4 + DuckDB shared modern-SQL surface):
# grouping keys inferred from the select list; identical SQL text on
# both engines. (ORDER BY stays explicit — the inferred ordering of
# ORDER BY ALL is the part worth not trusting cross-engine.)
# ---------------------------------------------------------------------------

_Q174_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    GROUP BY ALL
    ORDER BY o_orderstatus, o_orderpriority
"""


def q174_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q174_SQL)


QUERIES["q174_group_by_all"] = q174_group_by_all
ORACLE["q174_group_by_all"] = _Q174_SQL


# ---------------------------------------------------------------------------
# Q175 — multiset set ops: INTERSECT ALL / EXCEPT ALL keep
# MULTIPLICITY (q15's intersect/subtract are the distinct forms) —
# per-key surviving copy counts prove the bag semantics: intersect
# keeps min(count_a, count_b) copies, except keeps count_a - count_b.
# ---------------------------------------------------------------------------

def q175_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    i = (
        c.intersectAll(s)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    e = (
        c.exceptAll(s)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("except_all"))
    )
    return i.unionByName(e).select("op", "k", "n").orderBy("op", "k")


QUERIES["q175_setops_all"] = q175_setops_all
ORACLE["q175_setops_all"] = """
    WITH a AS (SELECT c_nationkey AS k FROM customer),
         b AS (SELECT s_nationkey AS k FROM supplier),
         i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
         e AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    SELECT 'intersect_all' AS op, k, CAST(COUNT(*) AS BIGINT) AS n
    FROM i GROUP BY k
    UNION ALL
    SELECT 'except_all' AS op, k, CAST(COUNT(*) AS BIGINT) AS n
    FROM e GROUP BY k
    ORDER BY op, k
"""


# ---------------------------------------------------------------------------
# Q176 — error-safe casts (try_cast / TRY_CAST): a derived string
# column cycles numeric / junk-prefixed / fractional forms; parse
# failures become NULLs instead of job-killing exceptions — the
# ingestion posture for dirty columns at scale. DOUBLE is the graded
# target type: string→double parses are correctly rounded on both
# engines, whereas string→int of a FRACTIONAL string diverges
# (Spark try_cast yields NULL, DuckDB rounds) — documented here,
# deliberately not graded.
# ---------------------------------------------------------------------------

def q176_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    s = F.expr(
        "CASE p_size % 3 WHEN 0 THEN CAST(p_size AS STRING) "
        "WHEN 1 THEN concat('x', CAST(p_size AS STRING)) "
        "ELSE concat(CAST(p_size AS STRING), '.5') END"
    )
    parsed = F.expr(
        "try_cast(CASE p_size % 3 WHEN 0 THEN CAST(p_size AS STRING) "
        "WHEN 1 THEN concat('x', CAST(p_size AS STRING)) "
        "ELSE concat(CAST(p_size AS STRING), '.5') END AS DOUBLE)"
    )
    return (
        p.select("p_brand", s.alias("s"), parsed.alias("v"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_unparsed"),
            F.sum((F.col("v") * 10).cast("long")).alias("sum_v10"),
        )
        .orderBy("p_brand")
    )


QUERIES["q176_try_cast"] = q176_try_cast
ORACLE["q176_try_cast"] = """
    WITH d AS (
        SELECT p_brand,
               TRY_CAST(CASE p_size % 3 WHEN 0 THEN CAST(p_size AS VARCHAR)
                        WHEN 1 THEN 'x' || CAST(p_size AS VARCHAR)
                        ELSE CAST(p_size AS VARCHAR) || '.5' END AS DOUBLE) AS v
        FROM part
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed,
           CAST(SUM(CAST(v * 10 AS BIGINT)) AS BIGINT) AS sum_v10
    FROM d
    GROUP BY p_brand
    ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# Q177 — calendar-part extraction suite with the cross-engine DOW
# convention pinned: Spark dayofweek is 1–7 Sunday-first; DuckDB dow
# is 0–6 Sunday-first (oracle maps dow+1). weekofyear is ISO on both.
# Integer checksums per (year, dow) make any part-function drift
# (leap years, ISO week 52/53 wraps) flip the hash.
# ---------------------------------------------------------------------------

def q177_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"),
            F.dayofweek("o_orderdate").alias("dow"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.dayofyear("o_orderdate").cast("long")).alias("sum_doy"),
            F.sum(F.weekofyear("o_orderdate").cast("long")).alias("sum_week"),
            F.sum(F.quarter("o_orderdate").cast("long")).alias("sum_quarter"),
        )
        .orderBy("y", "dow")
    )


QUERIES["q177_date_parts"] = q177_date_parts
ORACLE["q177_date_parts"] = """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dayofyear(o_orderdate)) AS BIGINT) AS sum_doy,
           CAST(SUM(weekofyear(o_orderdate)) AS BIGINT) AS sum_week,
           CAST(SUM(quarter(o_orderdate)) AS BIGINT) AS sum_quarter
    FROM orders
    GROUP BY y, dow
    ORDER BY y, dow
"""


# ---------------------------------------------------------------------------
# Q178 — complete date spine via sequence(): monthly order counts
# LEFT-joined onto the generated min→max month spine so empty months
# appear as zero rows (the gap a bare GROUP BY silently hides — the
# calendar twin of q112's hourly gap-fill). The spine is one
# generate-and-explode row, broadcast onto the aggregate.
# ---------------------------------------------------------------------------

def q178_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("c_raw"),
    )
    spine = (
        o.agg(
            F.to_date(F.date_trunc("month", F.min("o_orderdate"))).alias("m0"),
            F.to_date(F.date_trunc("month", F.max("o_orderdate"))).alias("m1"),
        )
        .select(
            F.explode(F.expr("sequence(m0, m1, INTERVAL 1 MONTH)")).alias("month")
        )
    )
    return (
        spine.join(monthly, "month", "left")
        .select(
            "month",
            F.coalesce("n_raw", F.lit(0)).alias("n"),
            F.coalesce("c_raw", F.lit(0)).alias("cents"),
        )
        .orderBy("month")
    )


QUERIES["q178_date_spine"] = q178_date_spine
ORACLE["q178_date_spine"] = """
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(COUNT(*) AS BIGINT) AS n_raw,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c_raw
        FROM orders GROUP BY month
    ), bounds AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS m0,
               CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS m1
        FROM orders
    ), spine AS (
        SELECT CAST(unnest(generate_series(m0::TIMESTAMP, m1::TIMESTAMP,
                                           INTERVAL 1 MONTH)) AS DATE) AS month
        FROM bounds
    )
    SELECT s.month, COALESCE(n_raw, 0) AS n, COALESCE(c_raw, 0) AS cents
    FROM spine s LEFT JOIN monthly m ON s.month = m.month
    ORDER BY s.month
"""


# ---------------------------------------------------------------------------
# Q179 — XML source round-trip (Spark 4 native XML, q169's CSV twin):
# customer written as rowTag XML, read back under an explicit schema,
# digest-aggregated; the oracle recomputes straight from parquet, so
# any XML serialize/parse defect (escaping, type coercion) flips the
# md5s. Fixture is content-keyed and written distributed.
# ---------------------------------------------------------------------------

def q179_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ai_data_pipeline_spark.sources.fixtures import _FIXTURE_ROOT, source_signature

    cust = _t(spark, sf_dir, "customer")
    sig = source_signature(os.path.join(sf_dir, "customer.parquet"), "xml-v1")
    final = os.path.join(_FIXTURE_ROOT, f"cust_xml_{sig}")
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        (
            cust.select("c_custkey", "c_name", "c_mktsegment")
            .write.format("xml")
            .option("rootTag", "customers")
            .option("rowTag", "customer")
            .mode("overwrite")
            .save(final)
        )
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema("c_custkey bigint, c_name string, c_mktsegment string")
        .load(final)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c_custkey").alias("sum_keys"),
            F.md5(
                F.array_join(F.sort_array(F.collect_list("c_name")), ",").cast(
                    "binary"
                )
            ).alias("name_digest"),
        )
        .orderBy("c_mktsegment")
    )


QUERIES["q179_xml_roundtrip"] = q179_xml_roundtrip
ORACLE["q179_xml_roundtrip"] = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_keys,
           md5(list_aggregate(list_sort(list(c_name)), 'string_agg', ',')) AS name_digest
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q180 — NATIVE Apache DataSketches HLL (Spark 4 hll_sketch_agg /
# hll_union_agg / hll_sketch_estimate — the built-in twin of the
# custom q149 family): per-type distinct users plus the ALL row
# merged purely from the stored per-type sketches. lgK=16 keeps every
# graded SF (and the sf0.1 bench: 1500 users, probed exact) deep in
# the coupon-exact regime — set-mode capacity ≈ 6k — so the oracle is
# COUNT(DISTINCT); beyond it the estimate is ~0.8% with KB mergeable
# state (the q149 scale law, now on the built-in).
# ---------------------------------------------------------------------------

def q180_native_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    per = e.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 16)").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    typed = per.select(
        "event_type",
        F.expr("hll_sketch_estimate(sk)").alias("n_users"),
        "n_events",
    )
    allrow = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("n_users"),
        F.sum("n_events").alias("n_events"),
    ).select(F.lit("ALL").alias("event_type"), "n_users", "n_events")
    return typed.unionByName(allrow).orderBy("event_type")


QUERIES["q180_native_hll"] = q180_native_hll
ORACLE["q180_native_hll"] = """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Q181 — collated string semantics (Spark 4 collations): a derived
# mixed-case key grouped under UTF8_LCASE folds case variants into
# one group; the representative emitted is min(raw) under BINARY
# collation so the output is deterministic regardless of which
# variant a partition sees first. Oracle groups by lower(key).
# ---------------------------------------------------------------------------

def q181_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    k = F.expr(
        "CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment ELSE lower(c_mktsegment) END"
    )
    return (
        c.select(k.alias("k"))
        .groupBy(F.expr("collate(k, 'UTF8_LCASE')").alias("kc"))
        .agg(
            # min over the RAW (binary-collated) column — the group-key
            # alias itself is not referencable inside aggregates
            F.min("k").alias("variant_min"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("variant_min", "n")
        .orderBy("variant_min")
    )


QUERIES["q181_collation_group"] = q181_collation_group
ORACLE["q181_collation_group"] = """
    WITH d AS (
        SELECT CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
                    ELSE lower(c_mktsegment) END AS k
        FROM customer
    )
    SELECT MIN(k) AS variant_min, CAST(COUNT(*) AS BIGINT) AS n
    FROM d
    GROUP BY lower(k)
    ORDER BY variant_min
"""


# ---------------------------------------------------------------------------
# Q182 — STATEFUL streaming restart (q153 × q167): the per-user
# running profile (applyInPandasWithState) survives a full query
# restart — run 1 sees only the first ts-slice, stops; the remaining
# files land; run 2 resumes from the SAME checkpoint and its state
# store, so final per-key stats must equal the batch aggregate. The
# update stream lands via foreachBatch into per-batch parquet dirs
# (idempotent by batchId — re-committed batches overwrite, never
# duplicate); final state = the max-n_events row per key across all
# batches of both runs. This is the recovery contract of a multi-day
# stateful ingestion: kill -9 between micro-batches loses nothing.
# ---------------------------------------------------------------------------

def q182_stateful_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ai_data_pipeline_spark.catalog import normalize_event_time
    from ai_data_pipeline_spark.sources.fixtures import (
        _FIXTURE_ROOT,
        materialize_event_stream,
    )
    from ai_data_pipeline_spark.streaming.stateful import running_user_stats

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream_src = materialize_event_stream(sf_dir, n_files=3)
    files = sorted(f for f in os.listdir(stream_src) if f.endswith(".parquet"))
    os.makedirs(_FIXTURE_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(dir=_FIXTURE_ROOT, prefix=".q182_")
    in_dir, out_dir, ckpt = (os.path.join(work, d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)
    os.makedirs(out_dir)
    schema = spark.read.parquet(os.path.join(stream_src, files[0])).schema

    def run_once() -> None:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        e = normalize_event_time(raw).withColumn(
            "v4", F.round(F.col("value") * 10000, 0)
        )
        stats = running_user_stats(
            e, key="user_id", value_col="v4", type_col="event_type", time_col="ts"
        )

        def sink(batch_df, batch_id: int) -> None:
            # one dir per batchId, overwritten on re-commit: replayed
            # epochs converge instead of duplicating (exactly-once
            # without a transactional sink)
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_{batch_id:05d}")
            )

        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
        try:
            q = (
                stats.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    try:
        import time as _time

        shutil.copy(os.path.join(stream_src, files[0]), in_dir)
        run_once()  # run 1: state for the first slice persists
        # explicit strictly-increasing mtimes: FileStreamSource orders
        # by modification time at ms granularity, and back-to-back
        # copies can tie (observed: run 2 drained file 3 before file 2,
        # flipping last_event_type)
        now = int(_time.time())
        for i, f in enumerate(files[1:], start=1):
            dst = os.path.join(in_dir, f)
            shutil.copy(os.path.join(stream_src, f), dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))
        run_once()  # run 2: resumes state from the checkpoint
        updates = spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
        final = (
            updates.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("n_events", "total_value", "last_event_type"),
                    "n_events",
                ).alias("s")
            )
            .select(
                "user_id",
                F.col("s.n_events").alias("n_events"),
                (F.col("s.total_value") / 10000.0).alias("sum_value"),
                F.col("s.last_event_type").alias("last_event_type"),
            )
            .orderBy("user_id")
        )
        rows = final.collect()
        out = spark.createDataFrame(rows, final.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


QUERIES["q182_stateful_restart"] = q182_stateful_restart
ORACLE["q182_stateful_restart"] = """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value,
           arg_max(event_type, ts) AS last_event_type
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Q183 — POLYMORPHIC UDTF graded (q155 grades the static-schema form;
# this grades the ``analyze()`` API): SplitFixed derives its output
# columns from the constant parts argument at PLAN time, so the
# lateral yields real typed part0..part2 columns Catalyst can prune.
# The delimited input is derived with an expression both engines
# share; the oracle re-splits with string_split_part (null-padded,
# tail folded into the last column — the documented SplitFixed
# semantics, though the 2-delimiter input here exercises the exact
# split only).
# ---------------------------------------------------------------------------

def q183_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import register_views
    from ai_data_pipeline_spark.operators.udtf_ops import SplitFixed

    register_views(spark, sf_dir)
    spark.udtf.register("split_fixed", SplitFixed)
    return spark.sql(
        """
        WITH d AS (
            SELECT concat(p_brand, '|', p_type, '|', CAST(p_size AS STRING)) AS line
            FROM part
        )
        SELECT s.part0 AS brand,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT s.part1) AS BIGINT) AS n_types,
               CAST(SUM(CAST(s.part2 AS BIGINT)) AS BIGINT) AS sum_sizes
        FROM d, LATERAL split_fixed(d.line, '|', 3) s
        GROUP BY s.part0
        ORDER BY brand
        """
    )


QUERIES["q183_polymorphic_udtf"] = q183_polymorphic_udtf
ORACLE["q183_polymorphic_udtf"] = """
    SELECT p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types,
           CAST(SUM(p_size) AS BIGINT) AS sum_sizes
    FROM part
    GROUP BY p_brand
    ORDER BY brand
"""


# ---------------------------------------------------------------------------
# Q184 — NOT IN null semantics (null-aware anti join): under
# tri-valued logic a single NULL in the subquery empties a NOT IN
# result entirely, while NOT EXISTS keeps matching — both counted
# side by side from the same derived nullable key set (Spark plans
# the first as BroadcastNestedLoopJoin NAAJ). Identical SQL text on
# both engines.
# ---------------------------------------------------------------------------

_Q184_SQL = """
    SELECT
      CAST((SELECT COUNT(*) FROM customer
            WHERE c_nationkey NOT IN
                  (SELECT nullif(s_nationkey, 3) FROM supplier)) AS BIGINT)
        AS n_not_in_with_nulls,
      CAST((SELECT COUNT(*) FROM customer
            WHERE c_nationkey NOT IN
                  (SELECT s_nationkey FROM supplier WHERE s_nationkey <> 3)) AS BIGINT)
        AS n_not_in_clean,
      CAST((SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE nullif(s.s_nationkey, 3) = c.c_nationkey)) AS BIGINT)
        AS n_not_exists
"""


def q184_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q184_SQL)


QUERIES["q184_not_in_null_semantics"] = q184_not_in_null_semantics
ORACLE["q184_not_in_null_semantics"] = _Q184_SQL


# ---------------------------------------------------------------------------
# Q185 — min-max time-series downsampling (the plotting/decimation
# operator: per bucket keep the extreme points so rendered spikes
# survive): each event type's (ts, value) series is split into 32
# equal-time buckets over its own span; each bucket emits its min and
# max point (value ties break on earliest ts — integer-only
# decisions). Fully parallel — unlike classic LTTB, whose
# previous-selected-point chain serializes; min-max is the standard
# scale-out variant. One exchange on (type), two ranking windows.
# ---------------------------------------------------------------------------

def q185_minmax_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir).select(
        "event_type",
        "ts_ns",
        F.round(F.col("value") * 10000, 0).cast("long").alias("v4"),
    )
    wb = Window.partitionBy("event_type")
    # width-form bucketing, NOT ((ts - t0) * 32) div span: the offset
    # × 32 product overflows int64 once a series spans ≳ 2^63/32 ns —
    # the 8× scale probe hit exactly that (ANSI ARITHMETIC_OVERFLOW).
    # width = span div 32 + 1 > span/32, so offset div width ≤ 31.
    b = e.withColumn("t0", F.min("ts_ns").over(wb)).withColumn(
        "t1", F.max("ts_ns").over(wb)
    ).withColumn(
        "bucket", F.expr("(ts_ns - t0) div ((t1 - t0) div 32 + 1)")
    )
    wmin = Window.partitionBy("event_type", "bucket").orderBy(
        F.asc("v4"), F.asc("ts_ns")
    )
    wmax = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("v4"), F.asc("ts_ns")
    )
    r = b.withColumn("rn_min", F.row_number().over(wmin)).withColumn(
        "rn_max", F.row_number().over(wmax)
    )
    mins = r.filter(F.col("rn_min") == 1).select(
        "event_type", "bucket", F.lit("min").alias("kind"), "ts_ns", "v4"
    )
    maxs = r.filter(F.col("rn_max") == 1).select(
        "event_type", "bucket", F.lit("max").alias("kind"), "ts_ns", "v4"
    )
    return mins.unionByName(maxs).orderBy("event_type", "bucket", "kind")


QUERIES["q185_minmax_downsample"] = q185_minmax_downsample
ORACLE["q185_minmax_downsample"] = """
    WITH e AS (
        SELECT event_type, epoch_ns(ts) AS ts_ns,
               CAST(ROUND(value * 10000) AS BIGINT) AS v4
        FROM events
    ), b AS (
        SELECT event_type, ts_ns, v4,
               (ts_ns - MIN(ts_ns) OVER (PARTITION BY event_type))
                 // ((MAX(ts_ns) OVER (PARTITION BY event_type)
                      - MIN(ts_ns) OVER (PARTITION BY event_type)) // 32 + 1) AS bucket
        FROM e
    ), r AS (
        SELECT event_type, bucket, ts_ns, v4,
               ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                                  ORDER BY v4 ASC, ts_ns ASC) AS rn_min,
               ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                                  ORDER BY v4 DESC, ts_ns ASC) AS rn_max
        FROM b
    )
    SELECT event_type, bucket, 'min' AS kind, ts_ns, v4 FROM r WHERE rn_min = 1
    UNION ALL
    SELECT event_type, bucket, 'max' AS kind, ts_ns, v4 FROM r WHERE rn_max = 1
    ORDER BY event_type, bucket, kind
"""
