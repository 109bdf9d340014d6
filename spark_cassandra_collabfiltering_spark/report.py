"""Results report (SURVEY §2.6/§2.8 O1, F4, F6, F8).

Reproduces the reference's tab-separated report text exactly
(CollabFilterCassandra8.java:59-77):

    User\tProduct\tPredicted\tActual\tError?
    <user>\t<product>\t<pred 1dp>\t\t<actual 1dp>\t<ERR|OK>
    ...
    RMSE = <2dp>

(the double tab after Predicted is a reference formatting quirk, kept
for golden-text parity). Row order: user asc, product asc — done as a
distributed sort (the reference sorts on the driver after collect(),
CollabFilterCassandra8.java:73). The reference pairs each prediction
with its actual by probing a driver-side HashMap of the validation
rows (J2); here the input is already the scored validation rows
(:func:`ml.collabfilter.predict`), so J2 is folded into J3 and the
report runs no join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.functions.scalar import (
    err_flag,
    round_half_up,
)

REPORT_HEADER = "User\tProduct\tPredicted\tActual\tError?"


def report_rows(scored: DataFrame) -> DataFrame:
    """Flagged, sorted report rows of the scored validation frame.

    Columns: user, product, predicted (1dp), actual (1dp), error_flag.
    """
    return scored.select(
        "user",
        "product",
        round_half_up(F.col("prediction"), 1).alias("predicted"),
        round_half_up(F.col("rating"), 1).alias("actual"),
        err_flag(F.col("rating"), F.col("prediction")).alias("error_flag"),
    ).orderBy("user", "product")


def _fmt_1dp(x: float) -> str:
    # Java prints doubles like 4.2 / 5.0 (always one decimal for these
    # rounded-to-1dp values); Python repr matches for this domain.
    return repr(round(x, 1))


def results_report(scored: DataFrame, rmse: float) -> str:
    """Exact report text ≙ resultsReport (CollabFilterCassandra8.java:59-61).

    The only collect() in the engine — the report is a small,
    human-readable artifact (driver-bound by design, like the
    reference's System.out sink S6).
    """
    rows = report_rows(scored).collect()
    body = "\n".join(
        f"{r['user']}\t{r['product']}\t{_fmt_1dp(r['predicted'])}\t\t"
        f"{_fmt_1dp(r['actual'])}\t{r['error_flag']}"
        for r in rows
    )
    # Util.round(rmse, 2) prints as a plain double (e.g. 0.43).
    # No scored rows: rmse is NaN (avg over zero rows) — print NaN
    # instead of raising (the reference crashes on this input: mean()
    # of an empty RDD throws).
    rmse_2dp = "NaN" if math.isnan(rmse) else round(rmse * 100) / 100
    return f"{REPORT_HEADER}\n{body}\nRMSE = {rmse_2dp}"
