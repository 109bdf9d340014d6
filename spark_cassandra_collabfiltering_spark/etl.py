"""ETL: raw CSV → ratings/validation tables (SURVEY §3.1).

Reference pipeline (CollabFilterCassandraDriver.java:86-103): read CSV,
filter lines by "I,"/"V," prefix, parse fields 1-3, attach a timeuuid,
bulk-write each split to its Cassandra table. Types are clean (int
user/product, double rating; SURVEY §1.3). Like the reference, each
split's write is its own job that re-scans the CSV: the CSV is scanned
twice per load. Reading the written tables back infers no schema, so
the two writes are the load's only jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.schemas import (
    TRAINING_TAG,
    VALIDATION_TAG,
)
from spark_cassandra_collabfiltering_spark.sources import Storage, read_ratings_csv

RATINGS_TABLE = "ratings"
VALIDATION_TABLE = "validation"


def tag_filter(df: DataFrame, tag: str) -> DataFrame:
    """P1: the reference's prefix predicate `line.startsWith("I,")`
    (CollabFilterCassandraDriver.java:110-121) as a pushable column
    equality on the schema'd set column."""
    return df.filter(F.col("set") == F.lit(tag))


def to_rating_rows(df: DataFrame) -> DataFrame:
    """P2: parse/cast projection + surrogate id
    (CollabFilterCassandraDriver.java:123-134, RatingDO.java:29-31).

    The CSV reader already cast user/product/rating; here we attach the
    uuid surrogate (F.uuid() ≙ UUIDs.timeBased()) and project to the
    stored-table shape. uuid() is nondeterministic → never part of
    hash-checked outputs.

    Malformed rows (unparseable fields → null under the PERMISSIVE
    reader) are dropped: the stored tables are declared non-null
    (collab_filter_setup.sql:4-5) and ALS rejects null/NaN ratings, so
    nulls must not survive ingest. (The reference would throw
    NumberFormatException mid-job on such a row — dropping is the
    deliberate improvement.)
    """
    df = df.dropna(subset=["user", "product", "rating"])
    return df.select(
        F.uuid().alias("id"),
        F.col("user").cast("int").alias("user"),
        F.col("product").cast("int").alias("product"),
        F.col("rating").cast("double").alias("rating"),
    )


def populate_tables(
    spark: SparkSession, csv_path: str, storage: Storage
) -> tuple[DataFrame, DataFrame]:
    """Split the CSV by tag and persist both tables
    (≙ populateTables, CollabFilterCassandraDriver.java:86-92).

    One reader plan feeds both splits, but each ``storage.write`` is a
    separate job that scans the CSV again, as the reference's two
    ``loadCsvtoTable`` calls do.

    Returns the (training, validation) DataFrames re-read from storage so
    downstream consumers scan the persisted tables exactly like the
    reference scans Cassandra. The re-read is lazy and runs no job:
    :class:`ParquetStorage` reads a table back with the schema it wrote,
    and the Cassandra connector takes the schema from the cluster.
    """
    raw = read_ratings_csv(spark, csv_path)
    for tag, table in ((TRAINING_TAG, RATINGS_TABLE), (VALIDATION_TAG, VALIDATION_TABLE)):
        storage.truncate(spark, table)
        storage.write(to_rating_rows(tag_filter(raw, tag)), table)
    return (
        storage.read(spark, RATINGS_TABLE),
        storage.read(spark, VALIDATION_TABLE),
    )
