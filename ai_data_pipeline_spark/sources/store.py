"""Temporary partitioned parquet stores: the one implementation of the
build / append / overwrite / read lifecycle the store queries share.

Each rule is stated here once; the queries do not repeat them.

- **Lifetime.** A store lives in its own temp directory, removed when
  the ``with`` block exits, also on an exception. Collect anything a
  query returns from a store inside the block: a lazy frame over
  deleted files fails when it is evaluated.
- **Build writes pin their partition count.** ``write`` and ``append``
  shuffle with ``repartition(defaultParallelism, *by)``. A numbered
  repartition is not coalesced by AQE (the column-only form ran a
  corpus-mass write on 2 coalesced tasks), and hashing on the partition
  columns puts every partition value in exactly one task, so each write
  adds one file per value instead of tasks × values slivers (the naive
  write probed 6.2× wall growth at 16× data).
- **Overwrite lineage.** A frame whose lineage reads the store must be
  pinned before it overwrites the files it reads, or the write's scan
  tasks read files its own commit replaces. ``overwrite`` applies
  ``localCheckpoint()`` first. The rule covers metadata frames too (file
  counts, manifests): callers checkpoint or collect those before an
  overwrite.
- **Dynamic overwrite is a per-write option**, never a session conf:
  a vanilla session does not carry the conf, and a session-wide set is
  visible to every concurrent overlap thread.
- **Emptied partitions are dropped.** A dynamic overwrite replaces only
  the partitions present in the written frame, so a partition the
  rewrite emptied keeps its old files. Every partition the write does
  reach gets new file names, so ``overwrite`` lists the affected
  directories before and after the write and drops each one whose file
  set did not change.
- **Reads take the written schema.** An empty store has no part file to
  infer a schema from, and partition-value inference can retype a
  column (a string value "1" reads back as int). A subset read passes
  ``basePath`` so the partition columns survive. An empty subset returns
  an empty frame without calling ``parquet()``: a zero-path read raises
  whenever the schema has to be inferred.
- **``content_xor`` is the order-independent content digest**: the xor
  of the md5-60 hashes of a key column — overflow-free, and one changed
  row flips it. DuckDB twin:
  ``CAST(bit_xor(('0x' || substr(md5(key), 1, 15))::BIGINT) AS BIGINT)``.
  Callers build ``key`` themselves: ``concat`` is NULL when a part is
  NULL while ``concat_ws`` skips the part, and each oracle pins one form.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ai_data_pipeline_spark.operators.dedup import md5_hash60


def content_xor(key: Column) -> Column:
    """xor of md5-60(key) over the group, as BIGINT."""
    return F.bit_xor(md5_hash60(key)).cast("long")


def write_partitioned(
    df: DataFrame,
    path: str,
    by: Sequence[str],
    mode: str = "overwrite",
    sort: Sequence[str] = (),
) -> None:
    """The build write: a pinned-count shuffle on ``by``, then one file
    per partition value (rows sorted by ``sort`` inside each file)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(n, *by)
    if sort:
        # partition columns lead: the writer's own sort on them would
        # not keep the ``sort`` order
        df = df.sortWithinPartitions(*by, *sort)
    df.write.mode(mode).partitionBy(*by).parquet(path)


class TempStore:
    """A parquet store partitioned by ``by`` in a temp directory.

    ``path`` is the store; ``root`` is the temp directory that holds it,
    free for the caller's scratch files (stream checkpoints, feeds).
    """

    def __init__(self, spark: SparkSession, prefix: str, by: str | Sequence[str] = ()):
        self.spark = spark
        self.prefix = prefix
        self.by = [by] if isinstance(by, str) else list(by)
        self.root = self.path = None
        self.schema: StructType | None = None

    def __enter__(self) -> TempStore:
        self.root = tempfile.mkdtemp(prefix=self.prefix)
        self.path = os.path.join(self.root, "store")
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def write(self, df: DataFrame, sort: Sequence[str] = ()) -> None:
        """Replace the whole store with ``df``."""
        write_partitioned(df, self.path, self.by, "overwrite", sort)
        self.schema = self._layout([], df)

    def append(self, df: DataFrame) -> None:
        """Add ``df`` as new files; existing files stay untouched. New
        columns join the store schema (older files read them as NULL)."""
        write_partitioned(df, self.path, self.by, "append")
        self.schema = self._layout(self.schema.fields if self.schema else [], df)

    def _layout(self, old: list[StructField], df: DataFrame) -> StructType:
        """The read-back schema: known data columns, ``df``'s new data
        columns, then the partition columns."""
        known = {f.name for f in old}
        fields = [f for f in old if f.name not in self.by] + [
            f for f in df.schema.fields if f.name not in self.by and f.name not in known
        ] + [df.schema[c] for c in self.by]
        return StructType([StructField(f.name, f.dataType, True) for f in fields])

    def part(self, *values) -> str:
        """Directory of one partition, values in ``by`` order. Values
        must be non-NULL and path-safe: Spark escapes other characters
        in directory names."""
        return os.path.join(self.path, *(f"{c}={v}" for c, v in zip(self.by, values)))

    def overwrite(self, rewrite: DataFrame, affected: Sequence) -> None:
        """Replace exactly the ``affected`` partitions with ``rewrite``'s
        rows; an affected partition ``rewrite`` has no rows for is
        dropped. ``affected`` holds partition values (tuples when the
        store has several partition columns)."""
        if not affected:
            return
        dirs = [self.part(*(v if isinstance(v, tuple) else (v,))) for v in affected]
        before = [_files(d) for d in dirs]
        (
            rewrite.localCheckpoint()
            .repartition(*self.by)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.by)
            .parquet(self.path)
        )
        for d, files in zip(dirs, before):
            if files is not None and _files(d) == files:
                shutil.rmtree(d)

    def read(self, paths: Sequence[str] | None = None) -> DataFrame:
        """The whole store, or exactly the given partition directories
        or part files."""
        if paths is None:
            return self.spark.read.schema(self.schema).parquet(self.path)
        if not paths:
            return self.spark.createDataFrame([], self.schema)
        return (
            self.spark.read.schema(self.schema)
            .option("basePath", self.path)
            .parquet(*paths)
        )


def _files(d: str) -> frozenset | None:
    return frozenset(os.listdir(d)) if os.path.isdir(d) else None
