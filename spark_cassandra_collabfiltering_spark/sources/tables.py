"""S2-S5: table scans, bulk-write sinks, truncate lifecycle (SURVEY §2.1).

The reference's storage layer is Cassandra via the DataStax connector
(scan: CollabFilterCassandra8.java:33; write:
CollabFilterCassandraDriver.java:100-103; truncate: :71-76 with DDL in
src/sql/collab_filter_setup.sql). Storage here is a thin strategy
interface with two backends:

- :class:`ParquetStorage` — the default and the one tests/bench use;
  datasets are directories of parquet under a root path. At 100 TB this
  is the lake layout Spark is optimized for (splittable columnar files,
  partition pruning, vectorized scan).
- :class:`CassandraStorage` — same semantics through the
  spark-cassandra-connector DataSource (format
  ``org.apache.spark.sql.cassandra``). Constructed lazily; the connector
  jar and a live cluster are NOT present in this environment, so the
  class raises a clear error at use, not import.

Both give DataFrames, so every downstream operator is backend-agnostic
and Catalyst pushes filters/pruning into either scan.
"""

from __future__ import annotations

import os
import shutil
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Runtime confs that change the schema Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# (real path, inode, size, mtime_ns, inference confs) -> inferred schema.
# Holds schemas only, never data: a rewritten file gets a new key.
_schemas: dict[tuple, StructType] = {}


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Scan one testdata parquet table.

    Inferring a parquet schema runs a Spark job that reads the footer,
    and every query build re-reads the same few files. So the schema
    inferred for a regular file is kept, keyed on the file's identity
    (real path, inode, size, mtime) and the confs that shape inference,
    and later reads pass it with ``.schema(...)``, which fires no job.
    Directories and missing paths are read as before, unmemoized.
    """
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (
        os.path.realpath(path),
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _schemas[key] = df.schema
    return df


def register_testdata_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table as a temp view so the whole corpus
    is queryable through the SQL entry point (``spark.sql``) — the
    same Catalyst plans as the DataFrame API, pure-SQL surface. The
    events view applies the engine's canonical nanos→micros timestamp
    normalization, so SQL users see the same ``ts`` the DataFrame
    queries do."""
    from spark_cassandra_collabfiltering_spark.plans.queries import t

    for name in TESTDATA_TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TESTDATA_TABLES)


class Storage(ABC):
    """Pluggable table store: full-scan read, bulk append, truncate."""

    @abstractmethod
    def read(self, spark: SparkSession, table: str) -> DataFrame: ...

    @abstractmethod
    def write(self, df: DataFrame, table: str) -> None: ...

    @abstractmethod
    def truncate(self, spark: SparkSession, table: str) -> None: ...


class ParquetStorage(Storage):
    """Parquet-backed tables under ``root`` (one directory per table).

    A table this instance wrote is read back with the schema it wrote:
    inferring it from a footer would run a Spark job to learn what the
    writer already knew. The record holds the schema only, set when a
    write creates the table and kept while later appends write the same
    schema; ``truncate`` and an append of another schema drop it, and a
    table without a record is read with inference, as any parquet
    directory is.
    """

    def __init__(self, root: str):
        self.root = root
        self._schemas: dict[str, StructType] = {}

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        schema = self._schemas.get(table)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self._path(table))

    def write(self, df: DataFrame, table: str) -> None:
        schema = df.schema
        created = not self.exists(table)
        df.write.mode("append").parquet(self._path(table))
        if created or self._schemas.get(table) == schema:
            self._schemas[table] = schema
        else:
            self._schemas.pop(table, None)

    def truncate(self, spark: SparkSession, table: str) -> None:
        # TRUNCATE ks.tbl analog (CollabFilterCassandraDriver.java:82-84):
        # drop the table's files; a subsequent read sees an empty table
        # only after a fresh write, so callers pair truncate with write.
        self._schemas.pop(table, None)
        path = self._path(table)
        if os.path.exists(path):
            shutil.rmtree(path)

    def exists(self, table: str) -> bool:
        return os.path.exists(self._path(table))


class CassandraStorage(Storage):
    """Cassandra tables via the spark-cassandra-connector DataSource.

    Mirrors the reference's keyspace/table addressing
    (RatingDO.java:6-9 constants; scans at CollabFilterCassandra8.java:33).
    Requires the connector package on the Spark classpath, e.g.
    ``spark.jars.packages=com.datastax.spark:spark-cassandra-connector_2.13:3.5.1``
    and ``spark.cassandra.connection.host`` set — neither is available in
    this offline environment, so use ParquetStorage for tests.
    """

    FORMAT = "org.apache.spark.sql.cassandra"

    def __init__(self, keyspace: str = "employerratings"):
        self.keyspace = keyspace

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return (
            spark.read.format(self.FORMAT)
            .options(keyspace=self.keyspace, table=table)
            .load()
        )

    def write(self, df: DataFrame, table: str) -> None:
        (
            df.write.format(self.FORMAT)
            .options(keyspace=self.keyspace, table=table)
            .mode("append")
            .save()
        )

    def truncate(self, spark: SparkSession, table: str) -> None:
        # The reference truncates through a raw CQL session
        # (CollabFilterCassandraDriver.java:71-76). Without a driver-side
        # CQL client in this environment, route DDL through the connector's
        # catalog if configured.
        spark.sql(f"TRUNCATE TABLE {self.keyspace}.{table}")
