"""End-to-end lifecycle (SURVEY §3): the reference driver as a context
manager.

CollabFilterCassandraDriver.java:
- ctor builds conf + context (:25-26,50-54)    → get_spark()
- populateTables (:86-92)                      → etl.populate_tables
- trainAndValidate (:56-69)                    → train → predict →
  results_report (RMSE + report)
- close() truncates (:71-84)                   → __exit__

Fix applied per SURVEY §1.3: the reference scans the validation table
three times (predict input, RMSE join, report map). Here it is scanned
once: ``model.transform`` keeps each row's rating, and the report's one
action over that scored frame collects the report rows with RMSE and
the scored-row count observed on the way (report.py). Nothing is
cached, and RMSE runs no job of its own.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from spark_cassandra_collabfiltering_spark import etl
from spark_cassandra_collabfiltering_spark.ml import collabfilter as cf
from spark_cassandra_collabfiltering_spark.report import results_report
from spark_cassandra_collabfiltering_spark.sources import Storage


@dataclass
class RunResult:
    rmse: float
    report: str
    scored: DataFrame  # lazy: validation rows that ALS scored, with prediction
    scored_rows: int  # how many rows ``scored`` holds (the report's body lines)


class CollabFilterPipeline:
    """``with CollabFilterPipeline(spark, storage) as p: p.run(csv)``."""

    def __init__(self, spark: SparkSession, storage: Storage):
        self.spark = spark
        self.storage = storage

    def run(self, csv_path: str) -> RunResult:
        training, validation = etl.populate_tables(self.spark, csv_path, self.storage)
        model = cf.train(training)
        scored = cf.predict(model, validation.select("user", "product", "rating"))
        rmse, scored_rows, report = results_report(scored)
        return RunResult(rmse=rmse, report=report, scored=scored, scored_rows=scored_rows)

    # -- lifecycle (≙ try-with-resources + truncate-on-close, C3) --
    def __enter__(self) -> "CollabFilterPipeline":
        return self

    def close(self) -> None:
        for table in (etl.RATINGS_TABLE, etl.VALIDATION_TABLE):
            self.storage.truncate(self.spark, table)

    def __exit__(self, *exc) -> None:
        self.close()
