"""The paper path fires only the Spark jobs its output needs.

A load is its two table writes: ``ParquetStorage`` reads back what it
wrote with the schema it wrote, so no footer-inference job runs. The
tail is one action: the report's collect() scores the validation rows
and observes RMSE and the scored-row count on the way (report.py), so
there is no cache build, no separate RMSE job and no distributed sort.
"""

from __future__ import annotations

import math

import pytest

from spark_cassandra_collabfiltering_spark import etl
from spark_cassandra_collabfiltering_spark.fixtures import generate_ratings_rows, write_ratings_csv
from spark_cassandra_collabfiltering_spark.ml import validate
from spark_cassandra_collabfiltering_spark.pipeline import CollabFilterPipeline
from spark_cassandra_collabfiltering_spark.report import REPORT_HEADER
from spark_cassandra_collabfiltering_spark.sources import ParquetStorage

from conftest import jobs_fired

# Jobs in one run() on the fixture: 2 table writes, 5 in the ALS fit
# (rank 6, 20 iterations, one block) and 6 in the report's action
# (its adaptive stages and the collect). The tail used to add a cache
# build, an RMSE aggregate and a range-partitioned sort, and the load
# two schema-inference jobs: 20 in all.
RUN_JOBS = 13


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    return write_ratings_csv(str(tmp_path_factory.mktemp("csv") / "ratings.csv"))


def test_populate_tables_fires_only_the_two_writes(spark, tmp_path, csv_path):
    storage = ParquetStorage(str(tmp_path / "store"))
    (training, validation), jobs = jobs_fired(
        spark, "paper-path-populate", lambda: etl.populate_tables(spark, csv_path, storage)
    )
    assert jobs == 2
    for df, table in ((training, etl.RATINGS_TABLE), (validation, etl.VALIDATION_TABLE)):
        assert df.schema == spark.read.parquet(str(tmp_path / "store" / table)).schema
    assert (training.count(), validation.count()) == (111, 9)


def test_run_fires_at_most_the_needed_jobs(spark, tmp_path, csv_path):
    def run():
        with CollabFilterPipeline(spark, ParquetStorage(str(tmp_path / "store"))) as p:
            return p.run(csv_path)

    result, jobs = jobs_fired(spark, "paper-path-run", run)
    assert jobs <= RUN_JOBS
    assert result.scored_rows == 9
    assert result.report.splitlines()[-1] == "RMSE = 0.39"


def _write_csv(tmp_path, rows):
    path = tmp_path / "ratings.csv"
    path.write_text("\n".join(rows) + "\n")
    return str(path)


def test_scored_rows_counts_only_scorable_pairs(spark, tmp_path):
    """Cold-start validation rows (a user or a product ALS never saw)
    are dropped by the scoring: ``scored_rows`` counts the rest, and the
    report prints one body line per scored row."""
    rows = generate_ratings_rows()
    n_scorable = sum(r.startswith("V,") for r in rows)
    rows += ["V,999,1,5,5,1,0,+,1,,", "V,1,999,1,1,1,0,+,1,,"]
    with CollabFilterPipeline(spark, ParquetStorage(str(tmp_path / "store"))) as p:
        result = p.run(_write_csv(tmp_path, rows))
        standalone = validate(result.scored)
    assert result.scored_rows == n_scorable == 9
    assert len(result.report.splitlines()) == n_scorable + 2  # header + trailer
    assert standalone == pytest.approx(result.rmse, rel=1e-12)


def test_zero_scored_rows(spark, tmp_path):
    """Every validation pair is cold-start: nothing is scored, RMSE is
    NaN (the observed average over no rows is null) and the report is
    the header, an empty body and the NaN trailer."""
    rows = [r for r in generate_ratings_rows() if r.startswith("I,")]
    rows += ["V,999,1,5,5,1,0,+,1,,", "V,1,999,1,1,1,0,+,1,,", "V,998,998,4,5,1,0,+,1,,"]
    with CollabFilterPipeline(spark, ParquetStorage(str(tmp_path / "store"))) as p:
        result = p.run(_write_csv(tmp_path, rows))
        standalone = validate(result.scored)
    assert math.isnan(result.rmse) and math.isnan(standalone)
    assert result.scored_rows == 0
    assert result.report == f"{REPORT_HEADER}\n\nRMSE = NaN"
