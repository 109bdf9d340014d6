"""Storage-backend contract (VERDICT r1 next-round #7).

1. Conformance suite against ParquetStorage (the live backend).
2. Format-level checks that CassandraStorage issues the exact
   DataSource format + keyspace/table options and TRUNCATE statement
   the spark-cassandra-connector expects (reference parity:
   CollabFilterCassandra8.java:33 scan, CollabFilterCassandraDriver.java:100-103
   write, :71-76 truncate) — no live cluster/jar needed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_cassandra_collabfiltering_spark.sources.tables import (  # noqa: E402
    CassandraStorage,
    ParquetStorage,
    Storage,
)

from conftest import jobs_fired  # noqa: E402


# ---------------------------------------------------------------------------
# 1. conformance: ParquetStorage honors the Storage contract
# ---------------------------------------------------------------------------

def _conformance(storage: Storage, spark, exists) -> None:
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    storage.write(df, "tbl")
    assert sorted(map(tuple, storage.read(spark, "tbl").collect())) == [
        (1, "a"),
        (2, "b"),
    ]
    # every write appends (reference bulk-writes are appends)
    storage.write(spark.createDataFrame([(3, "c")], ["k", "v"]), "tbl")
    assert storage.read(spark, "tbl").count() == 3
    storage.truncate(spark, "tbl")
    assert not exists("tbl")


def test_parquet_storage_conformance(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path / "lake"))
    _conformance(storage, spark, storage.exists)


def _read_jobs(spark, storage, table, group):
    """(storage.read(...), Spark jobs the read fired)."""
    return jobs_fired(spark, group, lambda: storage.read(spark, table))


def test_parquet_storage_reads_back_its_own_writes_without_inference(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path / "lake"))
    kv = spark.createDataFrame([(1, "a")], "k int not null, v string")
    storage.write(kv, "tbl")
    storage.write(kv, "tbl")  # an append of the same schema keeps the record
    df, jobs = _read_jobs(spark, storage, "tbl", "storage-own")
    assert jobs == 0
    assert df.schema == spark.read.parquet(str(tmp_path / "lake" / "tbl")).schema
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (1, "a")]

    # another instance did not write the table: it infers, as before
    df, jobs = _read_jobs(spark, ParquetStorage(str(tmp_path / "lake")), "tbl", "storage-other")
    assert jobs >= 1 and df.schema == spark.read.parquet(str(tmp_path / "lake" / "tbl")).schema


def test_parquet_storage_forgets_schema_on_truncate_and_on_a_new_schema(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path / "lake"))
    path = str(tmp_path / "lake" / "tbl")
    storage.write(spark.createDataFrame([(1, "a")], ["k", "v"]), "tbl")
    storage.truncate(spark, "tbl")
    # someone else writes the table with another schema: read infers it
    spark.createDataFrame([(2.5,)], ["x"]).write.parquet(path)
    df, jobs = _read_jobs(spark, storage, "tbl", "storage-truncated")
    assert jobs >= 1 and df.columns == ["x"]

    storage.truncate(spark, "tbl")
    storage.write(spark.createDataFrame([(1, "a")], ["k", "v"]), "tbl")
    storage.write(spark.createDataFrame([(2, "b", 3)], ["k", "v", "w"]), "tbl")
    _, jobs = _read_jobs(spark, storage, "tbl", "storage-new-schema")
    assert jobs >= 1


# ---------------------------------------------------------------------------
# 2. format-level: CassandraStorage wires the connector DataSource
# ---------------------------------------------------------------------------

class _Recorder:
    """Chainable stub standing in for DataFrameReader/Writer/session."""

    def __init__(self, log: list):
        self.log = log

    def _chain(self, op, *args, **kwargs):
        self.log.append((op, args, kwargs))
        return self

    def format(self, *a, **k):
        return self._chain("format", *a, **k)

    def options(self, *a, **k):
        return self._chain("options", *a, **k)

    def option(self, *a, **k):
        return self._chain("option", *a, **k)

    def mode(self, *a, **k):
        return self._chain("mode", *a, **k)

    def load(self, *a, **k):
        return self._chain("load", *a, **k)

    def save(self, *a, **k):
        return self._chain("save", *a, **k)

    def sql(self, *a, **k):
        return self._chain("sql", *a, **k)

    @property
    def read(self):
        return self

    @property
    def write(self):
        return self


def test_cassandra_read_issues_connector_format_and_options():
    log: list = []
    CassandraStorage(keyspace="employerratings").read(_Recorder(log), "ratings")
    assert ("format", (CassandraStorage.FORMAT,), {}) in log
    assert ("options", (), {"keyspace": "employerratings", "table": "ratings"}) in log
    assert log[-1][0] == "load"


def test_cassandra_write_issues_connector_format_mode_and_save():
    log: list = []
    CassandraStorage(keyspace="employerratings").write(_Recorder(log), "ratings")
    assert ("format", (CassandraStorage.FORMAT,), {}) in log
    assert ("options", (), {"keyspace": "employerratings", "table": "ratings"}) in log
    assert ("mode", ("append",), {}) in log  # reference bulk-save semantics
    assert log[-1][0] == "save"


def test_cassandra_truncate_issues_truncate_ddl():
    log: list = []
    CassandraStorage(keyspace="employerratings").truncate(_Recorder(log), "ratings")
    assert log == [("sql", ("TRUNCATE TABLE employerratings.ratings",), {})]


def test_cluster_conf_preset_shape():
    from spark_cassandra_collabfiltering_spark.session import cluster_conf

    conf = cluster_conf(total_cores=4000, target_partition_mb=256)
    assert conf["spark.sql.shuffle.partitions"] == "8000"
    assert conf["spark.sql.files.maxPartitionBytes"] == "256m"
    # every value must be a string (spark-submit --conf compatible)
    assert all(isinstance(v, str) for v in conf.values())


def test_orc_roundtrip_matches_parquet(spark, tmp_path):
    """Source breadth: the engine's tables survive an ORC round trip
    bit-identically (Spark's built-in ORC source — the other columnar
    lake format users bring), and filters push into the ORC scan the
    same way they do for parquet."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from spark_cassandra_collabfiltering_spark.plans.queries import t

    src = t(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_orc")
    src.write.format("orc").save(path)
    back = spark.read.format("orc").load(path)
    assert back.schema == src.schema
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b
    # predicate pushdown reaches the ORC scan
    q = back.filter(F.col("doc_id") < 100).select("doc_id", "source")
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan, plan


def test_csv_roundtrip_with_quoting(spark, tmp_path):
    """CSV round trip for the documents table: multi-word text with
    commas/newlines survives via quoting + multiLine read — the schema
    and every row must come back identical."""
    from spark_cassandra_collabfiltering_spark.plans.queries import t

    src = t(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_csv")
    src.write.format("csv").option("header", True).option("quoteAll", True).save(
        path
    )
    back = (
        spark.read.format("csv")
        .option("header", True)
        .option("multiLine", True)
        .schema(src.schema)
        .load(path)
    )
    assert sorted(map(tuple, src.collect())) == sorted(map(tuple, back.collect()))
