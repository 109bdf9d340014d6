"""Per-query costs that must not repeat when the same plans and files
are rebuilt in one process: Janino compiles of generated classes
(session.py sizes Spark's codegen cache) and parquet schema inference
for testdata reads (sources/tables.py::read_testdata memoizes it)."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.plans.queries import t
from spark_cassandra_collabfiltering_spark.sources.tables import read_testdata

from conftest import SF_SMOKE, jobs_fired


def test_rebuilt_plans_reuse_compiled_classes(spark):
    """150 distinct plans (each inlines its own literal, so each is its
    own generated class) compiled twice: the second round finds every
    class in the codegen cache. At the default 100 entries the LRU
    evicts each class before its next use and the second round
    recompiles all of them."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compile_all():
        for i in range(150):
            # a new DataFrame per round, as a rebuilt query is; execute()
            # plans and compiles its whole-stage class and runs no job
            df = spark.range(4).select((F.col("id") * F.lit(1_000_003 + i)).alias("x"))
            df._jdf.queryExecution().executedPlan().execute()

    compile_all()
    before = metric.getCount()
    compile_all()
    assert metric.getCount() - before == 0


def test_second_testdata_read_fires_no_job(spark):
    first = t(spark, SF_SMOKE, "lineitem")
    second, jobs = jobs_fired(spark, "fixed-cost-lineitem", lambda: t(spark, SF_SMOKE, "lineitem"))
    assert jobs == 0
    assert second.schema == first.schema
    assert second.schema == spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").schema


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "x.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_testdata(spark, str(tmp_path), "x").columns == ["a"]
    _, jobs = jobs_fired(spark, "fixed-cost-rewrite", lambda: read_testdata(spark, str(tmp_path), "x"))
    assert jobs == 0  # memoized

    pq.write_table(pa.table({"b": ["u", "v"], "c": [1.5, 2.5]}), path)
    df = read_testdata(spark, str(tmp_path), "x")
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert sorted(tuple(r) for r in df.collect()) == [("u", 1.5), ("v", 2.5)]


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_stays_timestamp_when_memoized(spark, tmp_path, unit):
    """Both on-disk ts flavors t() normalizes: micros (the testdata
    file as shipped) and nanos (read as long under nanosAsLong, which
    is part of the memo key). A fresh copy gives a fresh memo entry."""
    src = f"{SF_SMOKE}/events.parquet"
    if unit == "us":
        shutil.copyfile(src, tmp_path / "events.parquet")
    else:
        table = pq.read_table(src)
        i = table.schema.get_field_index("ts")
        table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("ns")))
        pq.write_table(table, tmp_path / "events.parquet")

    first = t(spark, str(tmp_path), "events")
    second, jobs = jobs_fired(spark, f"fixed-cost-events-{unit}", lambda: t(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert dict(first.dtypes)["ts"] == dict(second.dtypes)["ts"] == "timestamp"
    assert first.select("ts").exceptAll(second.select("ts")).count() == 0
    want = t(spark, SF_SMOKE, "events").select("ts")
    assert second.select("ts").exceptAll(want).count() == 0
