"""sources/store.py: one test per store-lifecycle rule."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ai_data_pipeline_spark.sources.store import TempStore


def _cells(spark, n=40, k=4):
    return spark.range(n).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(k)).cast("int").alias("cell")
    )


def _part_files(st, cell):
    return sorted(f for f in os.listdir(st.part(cell)) if f.startswith("part-"))


def _last_plan(spark) -> str:
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    return executions.apply(executions.size() - 1).physicalPlanDescription()


def test_write_pins_partition_count_and_one_file_per_value(spark):
    with TempStore(spark, "test_store_", "cell") as st:
        st.write(_cells(spark))
        assert "REPARTITION_BY_NUM" in _last_plan(spark)
        assert sorted(os.listdir(st.path)) == sorted(
            ["_SUCCESS", "._SUCCESS.crc"] + [f"cell={c}" for c in range(4)]
        )
        for c in range(4):
            assert len(_part_files(st, c)) == 1


def test_overwrite_drops_emptied_partition_and_keeps_untouched_files(spark):
    with TempStore(spark, "test_store_", "cell") as st:
        st.write(_cells(spark))
        untouched = {c: _part_files(st, c) for c in (2, 3)}
        raw = {
            c: open(os.path.join(st.part(c), untouched[c][0]), "rb").read()
            for c in (2, 3)
        }
        # cell 0 loses every row, cell 1 keeps its even keys
        store = st.read()
        st.overwrite(store.filter((F.col("cell") == 1) & (F.col("k") % 2 == 0)), [0, 1])
        assert not os.path.exists(st.part(0))
        assert sorted(r["k"] for r in st.read().filter("cell = 1").collect()) == [
            k for k in range(40) if k % 4 == 1 and k % 2 == 0
        ]
        for c in (2, 3):
            assert _part_files(st, c) == untouched[c]
            assert open(os.path.join(st.part(c), untouched[c][0]), "rb").read() == raw[c]
        assert st.read().count() == 20 + len([k for k in range(40) if k % 4 == 1 and k % 2 == 0])


def test_overwrite_with_no_affected_partition_submits_no_job(spark):
    sc = spark.sparkContext
    with TempStore(spark, "test_store_", "cell") as st:
        try:
            sc.setJobGroup("test_store_write", "control")
            st.write(_cells(spark))
            sc.setJobGroup("test_store_noop", "empty overwrite")
            st.overwrite(st.read(), [])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        assert tracker.getJobIdsForGroup("test_store_write")  # the probe sees jobs
        assert tracker.getJobIdsForGroup("test_store_noop") == []
        assert st.read().count() == 40


def test_rewrite_reading_the_store_overwrites_correctly(spark):
    """The rewrite's lineage scans the very files the overwrite
    replaces (cells 0 and 1 merge into cell 1): the write reads a
    checkpoint of it, never the store."""
    with TempStore(spark, "test_store_", "cell") as st:
        st.write(_cells(spark))
        merged = st.read().filter(F.col("cell") <= 1).withColumn("cell", F.lit(1))
        st.overwrite(merged, [0, 1])
        plan = _last_plan(spark)
        assert "InsertIntoHadoopFsRelationCommand" in plan
        assert "Scan ExistingRDD" in plan and "Scan parquet" not in plan
        assert not os.path.exists(st.part(0))
        got = sorted(r["k"] for r in st.read().filter("cell = 1").collect())
        assert got == [k for k in range(40) if k % 4 <= 1]
        assert st.read().count() == 40


def test_empty_read_keeps_the_written_schema(spark):
    with TempStore(spark, "test_store_", "cell") as st:
        st.write(_cells(spark).filter("k < 0"))
        for df in (st.read([]), st.read()):
            assert df.count() == 0
            assert df.dtypes == [("k", "bigint"), ("cell", "int")]


def test_temp_dir_removed_after_exception(spark):
    with pytest.raises(RuntimeError, match="boom"):
        with TempStore(spark, "test_store_", "cell") as st:
            st.write(_cells(spark))
            root = st.root
            assert os.path.isdir(st.path)
            raise RuntimeError("boom")
    assert not os.path.exists(root)
