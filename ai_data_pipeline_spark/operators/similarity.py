"""Similarity search over embedding columns.

Reference parity: exact kNN with squared-L2 + threshold rejection is
the retrieval core at `rag_chatbot/main.py:26-47` (R16/R17/R18 in
SURVEY.md §2A): FAISS IndexFlatL2 → brute-force scan; threshold is a
strict ``>`` on the *squared* distance (`rag_chatbot/main.py:42`),
with distance exactly at the threshold accepted.

Spark-first design:
- the corpus stays distributed; the (small) query side is a LOCAL
  relation built from Arrow (``queries_df``): its plan is a
  ``LocalTableScan``, so collecting or broadcasting it starts no job
  and no Python worker — a Python-RDD ``createDataFrame(list)`` would
  cost one of each on every request;
- exact kNN = broadcast nested-loop join + per-query top-k window;
  at 100 TB the scan is embarrassingly parallel and the window
  shuffles only (n_queries × k) candidate rows after partial
  aggregation... more precisely we pre-reduce with a per-partition
  top-k (the window after a `row_number` filter) so the shuffle
  carries candidates, not the corpus;
- the 1-NN-with-answer request (``knn_l2_with_threshold``) is ONE
  corpus scan plus one tiny reduce: the numpy kernel scans the corpus
  partitions as they are and carries the answer next to each winning
  candidate (the reference's positional ``answers[idx]``, R19), so
  there is no second corpus scan for a join and no per-request
  shuffle of the corpus. An index that needs spreading across cores
  is spread ONCE, when it is built (and cached), never per query;
- approximate path = IVF with deterministic centroids: assign each
  corpus vector to its nearest centroid once (a narrow column),
  partition by centroid, probe only ``nprobe`` cells per query.
  This is the textbook inverted-file ANN re-expressed relationally;
  LSH bucketing (MinHashLSH/BRP-LSH in MLlib) is the alternative
  when no trained centroids exist.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.functions.vector import array_lit, cosine, dot, norm, squared_l2


def local_vectors(
    spark: SparkSession,
    vectors: list[list[float]],
    id_col: str,
    vec_col: str,
    id_type: str = "BIGINT",
    id_start: int = 0,
) -> DataFrame:
    """Small [<id_col>, <vec_col> ARRAY<DOUBLE>] local relation, ids
    ``id_start, id_start+1, ...`` in list order.

    Built from a ``pyarrow.Table`` so the plan is a ``LocalTableScan``:
    a collect or broadcast of it runs on the driver, with no Spark job
    and no Python worker.
    """
    table = pa.table(
        {
            id_col: pa.array(range(id_start, id_start + len(vectors)), pa.int64()),
            vec_col: pa.array([[float(x) for x in v] for v in vectors], pa.list_(pa.float64())),
        }
    )
    return spark.createDataFrame(table, f"{id_col} {id_type}, {vec_col} ARRAY<DOUBLE>")


def queries_df(spark: SparkSession, vectors: list[list[float]], id_start: int = 0) -> DataFrame:
    """Small query-side local relation [qid BIGINT, qvec ARRAY<DOUBLE>]
    from literal vectors (see ``local_vectors``)."""
    return local_vectors(spark, vectors, "qid", "qvec", id_start=id_start)


def knn_l2(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qvec",
    dim: int | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbors by squared L2 (R17 generalized to k).

    Output: [qid, <corpus_id>, dist, rk]. Ties broken by corpus id.
    """
    n = corpus.sparkSession.sparkContext.defaultParallelism
    joined = corpus.repartition(n).crossJoin(F.broadcast(queries)).withColumn(
        "dist", squared_l2(corpus_vec, query_vec, dim)
    )
    w = Window.partitionBy(query_id).orderBy(F.asc("dist"), F.asc(corpus_id))
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(query_id, corpus_id, "dist", "rk")
    )


def knn_l2_with_threshold(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    sentinel: str,
    answer_col: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """R17+R18: 1-NN with rejection — strictly-greater-than on the
    squared distance rejects (distance == threshold is ACCEPTED,
    preserving `rag_chatbot/main.py:42`).

    Output: [qid, <corpus_id>, dist, accepted, answer]. The answer
    (``answer_col`` as a string) rides through the numpy kernel next
    to each winning candidate — the reference's positional
    ``answers[idx]`` lookup (R19) — so one request is a single scan of
    the corpus partitions as they are plus one tiny reduce: no join
    back to the corpus, no per-request corpus shuffle. Spread an index
    once when it is built if its partitions are too few for the cores.

    Distances run through the numpy kernel (operators/vectorized.py —
    bit-exact with the expression path; parity-tested) because d-wide
    per-pair expressions fall out of codegen at realistic d.
    """
    from ai_data_pipeline_spark.operators.vectorized import knn_l2_np

    src = corpus.select(corpus_id, corpus_vec, F.col(answer_col).cast("string").alias("_ans"))
    nn = knn_l2_np(src, queries, k=1, corpus_id=corpus_id, corpus_vec=corpus_vec, payload="_ans")
    return nn.select(
        "qid",
        corpus_id,
        "dist",
        (F.col("dist") <= F.lit(threshold)).alias("accepted"),
        F.when(F.col("dist") > F.lit(threshold), F.lit(sentinel))
        .otherwise(F.col("_ans"))
        .alias("answer"),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k (descending similarity).

    Norms are precomputed per side (array folds are interpreted, not
    codegen'd — never recompute them per pair), and the corpus is
    spread across cores before the broadcast join so a single-file
    corpus doesn't serialize the scan.
    """
    n = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.repartition(n).withColumn("_cn", norm(corpus_vec, dim))
    q = queries.withColumn("_qn", norm("qvec", dim))
    d = F.col("_cn") * F.col("_qn")
    joined = c.crossJoin(F.broadcast(q)).withColumn(
        "sim", F.when(d != 0, dot(corpus_vec, "qvec", dim) / d)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(corpus_id))
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("qid", corpus_id, "sim", "rk")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    corpus_vec: str = "embedding",
    dim: int | None = None,
    keep_dist: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (the IVF 'index
    build'). Adds a ``cell`` column (and, with ``keep_dist``, the
    squared-L2 ``dist`` to that centroid — the occupancy/balance
    diagnostic); at scale, write the result partitioned/bucketed by
    cell so probes prune files.

    Each centroid distance is materialized as its own column BEFORE
    the least() chain: inlining K full distance expressions into a
    nested least(struct(...)) tree explodes the generated code past
    JIT limits and Spark silently falls back to interpretation
    (measured 5× slowdown at K=8, d=64).
    """
    with_d = corpus
    for ci, cv in enumerate(centroids):
        with_d = with_d.withColumn(f"_d{ci}", squared_l2(corpus_vec, array_lit(cv), dim))
    best = None
    for ci in range(len(centroids)):
        cell = F.struct(F.col(f"_d{ci}").alias("d"), F.lit(ci).alias("c"))
        best = cell if best is None else F.least(best, cell)
    out = with_d.withColumn("cell", best["c"].cast("int"))
    if keep_dist:
        out = out.withColumn("dist", best["d"])
    return out.drop(*[f"_d{ci}" for ci in range(len(centroids))])


def ivf_search_cosine(
    corpus_with_cells: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int,
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Probe the ``nprobe`` nearest cells per query, then exact
    cosine top-k within the probed subset. Scale path: the join on
    ``cell`` prunes the corpus scan to nprobe/n_cells of the data
    (partition pruning if the corpus is written partitioned by cell).
    """
    # nearest cells per query (tiny: n_queries × n_centroids)
    cent_df = local_vectors(corpus_with_cells.sparkSession, centroids, "cell", "cvec", "INT")
    qcells = (
        queries.crossJoin(F.broadcast(cent_df))
        .withColumn("cd", squared_l2("qvec", "cvec", dim))
        .withColumn(
            "crk",
            F.row_number().over(Window.partitionBy("qid").orderBy(F.asc("cd"), F.asc("cell"))),
        )
        .filter(F.col("crk") <= nprobe)
        .select("qid", "qvec", "cell")
    )
    d = F.col("_cn") * F.col("_qn")
    joined = (
        corpus_with_cells.withColumn("_cn", norm(corpus_vec, dim))
        .join(F.broadcast(qcells.withColumn("_qn", norm("qvec", dim))), "cell")
        .withColumn("sim", F.when(d != 0, dot(corpus_vec, "qvec", dim) / d))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(corpus_id))
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("qid", corpus_id, "sim", "rk")
    )
