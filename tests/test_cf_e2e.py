"""Reference contract e2e (SURVEY §3.3, §5.3-1).

Mirrors CollabFilterTest.java: populate → train → predict → validate,
assert 0.0 <= rmse < 0.5, teardown truncates. The reference runs it
twice (Java7/Java8 differential pair over one spec); here there is one
implementation, so the second run checks determinism instead (seeded
ALS must reproduce the identical RMSE — stronger than the reference's
unseeded threshold-only contract).
"""

from __future__ import annotations

import pytest

from spark_cassandra_collabfiltering_spark import etl
from spark_cassandra_collabfiltering_spark.fixtures import generate_ratings_rows, write_ratings_csv
from spark_cassandra_collabfiltering_spark.pipeline import CollabFilterPipeline
from spark_cassandra_collabfiltering_spark.report import REPORT_HEADER
from spark_cassandra_collabfiltering_spark.sources import ParquetStorage


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    return write_ratings_csv(str(tmp_path_factory.mktemp("csv") / "ratings.csv"))


def run_pipeline(spark, tmp_path, csv_path):
    storage = ParquetStorage(str(tmp_path))
    with CollabFilterPipeline(spark, storage) as p:
        return p.run(csv_path)


def test_rmse_contract(spark, tmp_path, csv_path):
    result = run_pipeline(spark, tmp_path, csv_path)
    # CollabFilterTest.java:36-37
    assert result.rmse < 0.5
    assert result.rmse >= 0.0


def test_report_shape(spark, tmp_path, csv_path):
    result = run_pipeline(spark, tmp_path, csv_path)
    lines = result.report.splitlines()
    assert lines[0] == REPORT_HEADER
    assert lines[-1].startswith("RMSE = ")
    body = lines[1:-1]
    assert len(body) == 9  # 9 validation rows, none dropped (no cold start)
    # rows sorted by (user, product); fields: u \t p \t pred \t\t actual \t flag
    keys = []
    for line in body:
        fields = line.split("\t")
        assert len(fields) == 6 and fields[3] == ""
        assert fields[5] in ("ERR", "OK")
        keys.append((int(fields[0]), int(fields[1])))
    assert keys == sorted(keys)


def test_report_bytes_match_reference_formatting(spark, tmp_path, csv_path):
    """Golden-bytes parity: the distributed report must equal, byte for
    byte, an independent driver-side re-derivation of the reference's
    resultsReport/predictionString semantics
    (CollabFilterCassandra8.java:59-77 + Util.round's
    Math.round(factor*x)/factor half-up) applied to the same
    scored rows — sort on (user, product), 1dp half-up values, the
    double-tab quirk after Predicted, ERR at abs(err) >= 1, trailer
    RMSE at 2dp. The shape test above can't catch a formatting or
    rounding drift; a byte diff does.

    This single golden covers BOTH reference implementations: the
    Java-7 report path (CollabFilterCassandra7.java:98-136) is
    statement-for-statement identical to the Java-8 one
    (CollabFilterCassandra8.java:59-77) — same header/format strings
    incl. the double tab, same Util.round call sites, same
    (user, product) comparator — differing only in closure syntax
    (anonymous classes vs lambdas), verified side-by-side."""
    import math

    def jround(x: float, places: int) -> float:
        factor = 10.0 ** places
        return math.floor(factor * x + 0.5) / factor

    # collect inside the lifecycle: close() truncates the backing
    # tables (S5), after which the lazy frames can't re-scan
    with CollabFilterPipeline(spark, ParquetStorage(str(tmp_path))) as p:
        result = p.run(csv_path)
        scored = sorted(
            (r["user"], r["product"], float(r["prediction"]), float(r["rating"]))
            for r in result.scored.collect()
        )
    body = []
    for u, p, pred, actual in scored:
        flag = "ERR" if abs(actual - pred) >= 1 else "OK"
        body.append(
            f"{u}\t{p}\t{jround(pred, 1)!r}\t\t{jround(actual, 1)!r}\t{flag}"
        )
    expected = (
        "User\tProduct\tPredicted\tActual\tError?\n"
        + "\n".join(body)
        + f"\nRMSE = {jround(result.rmse, 2)!r}"
    )
    assert result.report.encode() == expected.encode()


def test_duplicate_validation_pair_scored_once(spark, tmp_path):
    """A (user, product) pair listed twice in validation, with two
    different ratings, gives two scored rows: every validation row is
    scored once, and the report and RMSE read those rows. Re-joining
    predictions with the actuals on (user, product) would pair 2 copies
    with 2 copies and report 4 rows for the pair."""
    import math

    rows = generate_ratings_rows()
    tag, user, product, rating, *rest = next(r for r in rows if r.startswith("V,")).split(",")
    rows.append(",".join([tag, user, product, str(6 - int(rating)), *rest]))
    path = tmp_path / "ratings.csv"
    path.write_text("\n".join(rows) + "\n")

    n_validation = sum(r.startswith("V,") for r in rows)
    assert n_validation == 10  # the fixture's 9, all scorable, plus the copy

    with CollabFilterPipeline(spark, ParquetStorage(str(tmp_path / "store"))) as p:
        result = p.run(str(path))
        assert len(result.report.splitlines()) == n_validation + 2  # header + trailer
        scored = [(float(r["rating"]), float(r["prediction"])) for r in result.scored.collect()]
    assert len(scored) == n_validation
    expected = math.sqrt(sum((a - p) ** 2 for a, p in scored) / len(scored))
    assert result.rmse == pytest.approx(expected, rel=1e-12)


def test_determinism(spark, tmp_path, csv_path):
    r1 = run_pipeline(spark, tmp_path / "a", csv_path)
    r2 = run_pipeline(spark, tmp_path / "b", csv_path)
    assert r1.rmse == r2.rmse
    assert r1.report == r2.report


def test_truncate_on_close(spark, tmp_path, csv_path):
    storage = ParquetStorage(str(tmp_path / "t"))
    with CollabFilterPipeline(spark, storage) as p:
        p.run(csv_path)
        assert storage.exists(etl.RATINGS_TABLE)
    # close() truncates both tables (CollabFilterCassandraDriver.java:82-84)
    assert not storage.exists(etl.RATINGS_TABLE)
    assert not storage.exists(etl.VALIDATION_TABLE)
