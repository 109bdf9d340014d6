"""Results report (SURVEY §2.6/§2.8 O1, F4, F6, F8).

Reproduces the reference's tab-separated report text exactly
(CollabFilterCassandra8.java:59-77):

    User\tProduct\tPredicted\tActual\tError?
    <user>\t<product>\t<pred 1dp>\t\t<actual 1dp>\t<ERR|OK>
    ...
    RMSE = <2dp>

(the double tab after Predicted is a reference formatting quirk, kept
for golden-text parity). Row order: user asc, product asc, sorted on
the driver after collect(), as the reference does
(CollabFilterCassandra8.java:73). The reference pairs each prediction
with its actual by probing a driver-side HashMap of the validation
rows (J2); here the input is already the scored validation rows
(:func:`ml.collabfilter.predict`), so J2 is folded into J3 and the
report runs no join.

RMSE and the scored-row count ride on the same action as observed
metrics, so scoring the validation rows, computing RMSE and collecting
the report is one Spark action, with no cached frame in between.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.functions.scalar import (
    err_flag,
    round_half_up,
)
from spark_cassandra_collabfiltering_spark.ml.collabfilter import nan_if_null, rmse_column

REPORT_HEADER = "User\tProduct\tPredicted\tActual\tError?"


def report_rows(scored: DataFrame) -> DataFrame:
    """Flagged report rows of the scored validation frame, unsorted.

    Columns: user, product, predicted (1dp), actual (1dp), error_flag.
    """
    return scored.select(
        "user",
        "product",
        round_half_up(F.col("prediction"), 1).alias("predicted"),
        round_half_up(F.col("rating"), 1).alias("actual"),
        err_flag(F.col("rating"), F.col("prediction")).alias("error_flag"),
    )


def _fmt_1dp(x: float) -> str:
    # Java prints doubles like 4.2 / 5.0 (always one decimal for these
    # rounded-to-1dp values); Python repr matches for this domain.
    return repr(round(x, 1))


def results_report(scored: DataFrame) -> tuple[float, int, str]:
    """(RMSE, scored rows, exact report text) ≙ resultsReport
    (CollabFilterCassandra8.java:59-61) plus the RMSE of :45-57.

    One collect() of the report rows, observing :func:`rmse_column` and
    the row count on the way: the report is a small, human-readable
    artifact (driver-bound by design, like the reference's System.out
    sink S6), so the rows are sorted on the driver. A Row is a tuple in
    column order, so the sort is on (user, product, predicted, actual,
    flag): a total order, so a repeated validation pair prints the same
    way on every run.
    """
    observed = Observation()
    rows = sorted(
        report_rows(
            scored.observe(observed, rmse_column().alias("rmse"), F.count(F.lit(1)).alias("rows"))
        ).collect()
    )
    metrics = observed.get
    # No scored rows: rmse is NaN (avg over zero rows) — print NaN
    # instead of raising (the reference crashes on this input: mean()
    # of an empty RDD throws).
    rmse = nan_if_null(metrics["rmse"])
    body = "\n".join(
        f"{r['user']}\t{r['product']}\t{_fmt_1dp(r['predicted'])}\t\t"
        f"{_fmt_1dp(r['actual'])}\t{r['error_flag']}"
        for r in rows
    )
    # Util.round(rmse, 2) prints as a plain double (e.g. 0.43).
    rmse_2dp = "NaN" if math.isnan(rmse) else round(rmse * 100) / 100
    return rmse, metrics["rows"], f"{REPORT_HEADER}\n{body}\nRMSE = {rmse_2dp}"
