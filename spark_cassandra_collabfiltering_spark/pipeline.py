"""End-to-end lifecycle (SURVEY §3): the reference driver as a context
manager.

CollabFilterCassandraDriver.java:
- ctor builds conf + context (:25-26,50-54)    → get_spark()
- populateTables (:86-92)                      → etl.populate_tables
- trainAndValidate (:56-69)                    → train → predict →
  validate → results_report
- close() truncates (:71-84)                   → __exit__

Fix applied per SURVEY §1.3: the reference scans the validation table
three times (predict input, RMSE join, report map). Here it is scanned
once, by predict: ``model.transform`` keeps each row's rating, and that
scored frame — the one frame .cache()d — feeds both validate and the
report.
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
    scored: DataFrame  # validation rows that ALS scored, with prediction


class CollabFilterPipeline:
    """``with CollabFilterPipeline(spark, storage) as p: p.run(csv)``."""

    def __init__(self, spark: SparkSession, storage: Storage):
        self.spark = spark
        self.storage = storage
        self._scored: DataFrame | None = None

    def run(self, csv_path: str) -> RunResult:
        training, validation = etl.populate_tables(self.spark, csv_path, self.storage)
        model = cf.train(training)
        self._unpersist()
        self._scored = cf.predict(model, validation.select("user", "product", "rating")).cache()
        rmse = cf.validate(self._scored)
        report = results_report(self._scored, rmse)
        return RunResult(rmse=rmse, report=report, scored=self._scored)

    # -- lifecycle (≙ try-with-resources + truncate-on-close, C3) --
    def __enter__(self) -> "CollabFilterPipeline":
        return self

    def _unpersist(self) -> None:
        if self._scored is not None:
            self._scored.unpersist()
            self._scored = None

    def close(self) -> None:
        self._unpersist()
        for table in (etl.RATINGS_TABLE, etl.VALIDATION_TABLE):
            self.storage.truncate(self.spark, table)

    def __exit__(self, *exc) -> None:
        self.close()
