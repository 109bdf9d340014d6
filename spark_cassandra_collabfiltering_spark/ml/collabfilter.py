"""M1-M3: collaborative filtering via pyspark.ml ALS (SURVEY §2.11).

The reference trains RDD-based MLlib ALS with rank=6, iterations=20,
lambda=0.01 (CollabFilterCassandra8.java:28-30,35), scores validation
(user, product) pairs with ``model.predict`` (:39-43 — inner-join
semantics on the factor matrices, J3), and computes
RMSE = sqrt(mean((actual-pred)²)) over the inner join of actuals and
predictions on (user, product) (:45-57 — J1/A1-A3). MLlib 1.1's predict
takes bare pairs and drops the rating, hence that second join. Here
``ALSModel.transform`` carries the validation rows' ``rating`` through
J3, so M2 yields one scored frame and M3 (and the report) read it with
no further join.

Differences, deliberate (SURVEY §7.4):
- ``pyspark.ml.recommendation.ALS`` (DataFrame-native; mllib's RDD API is
  gone in Spark 4).
- ``seed`` pinned: MLlib 1.1 ALS was unseeded/nondeterministic — the
  reference copes with a threshold test; we keep the threshold contract
  AND reproducible runs.
- ``coldStartStrategy="drop"`` reproduces predict's inner semantics
  (unknown user/product pairs absent from output, not NaN).
- Block count: MLlib 1.1 auto-configured it (``blocks = -1``);
  ``pyspark.ml`` fixes 10 user and 10 item blocks whatever the input.
  Here the count follows the input's size (:func:`als_blocks`), with a
  ceiling of 10, so a small table is not solved as 10 near-empty tasks
  per stage. The block layout seeds the initial factors, so predictions
  differ from a 10-block fit within the same RMSE contract.
- Duplicate (user, product) validation rows: each row is scored once.
  The reference's J1 pairs k copies with k copies (k×k rows in the
  mean), and its J2 report map throws on the repeated key
  (``Collectors.toMap``). Keys are unique in the reference's data, where
  both paths agree.
"""

from __future__ import annotations

from pyspark.ml.recommendation import ALS, ALSModel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.functions.scalar import squared_error
from spark_cassandra_collabfiltering_spark.operators.width import cpu_spread_width

# CollabFilterCassandra8.java:28-30
ALS_RANK = 6
ALS_ITERATIONS = 20
ALS_LAMBDA = 0.01
ALS_SEED = 42

# pyspark.ml's numUserBlocks/numItemBlocks default: the most blocks any
# input gets.
ALS_MAX_BLOCKS = 10
# Catalyst-estimated input bytes per ALS block. Measured on a 4-core
# host (local[4], rank 6, 20 iterations): a solve stage costs about
# 9 ms per estimated MB of ratings and each task adds about 11 ms of
# fixed CPU, so an 8 MB block carries ~70 ms of solver work per
# half-iteration against that overhead. A 1-block fit of a 12 MB
# (1M-rating) table matched the 10-block fit's wall time (6.3 s) at
# 36% of its CPU; at 0.5 MB one block used 38%.
ALS_BYTES_PER_BLOCK = 8 * 1024 * 1024


def als_blocks(ratings: DataFrame) -> int:
    """User and item block count for an ALS fit over ``ratings``: one
    block per ``ALS_BYTES_PER_BLOCK`` of plan-time size estimate,
    clamped to [1, min(``ALS_MAX_BLOCKS``, defaultParallelism)]. Runs
    no job. Above a join the estimate is far too large, so such inputs
    get the full min(10, defaultParallelism)."""
    return min(ALS_MAX_BLOCKS, cpu_spread_width(ratings, ALS_BYTES_PER_BLOCK))


def train(
    ratings: DataFrame,
    rank: int = ALS_RANK,
    max_iter: int = ALS_ITERATIONS,
    reg_param: float = ALS_LAMBDA,
    seed: int = ALS_SEED,
) -> ALSModel:
    """M1: ALS.train(ratings, 6, 20, 0.01) ≙ CollabFilterCassandra8.java:32-37.

    The input only needs user/product/rating columns (P3's projection is
    just column selection — Catalyst prunes the scan to these columns).
    Explicit feedback (implicitPrefs=False) matches ``ALS.train``.
    The factor DataFrames carry one partition per block, so the block
    count (:func:`als_blocks`) also sets the width of predict's join.
    """
    ratings = ratings.select("user", "product", "rating")
    blocks = als_blocks(ratings)
    als = ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        seed=seed,
        userCol="user",
        itemCol="product",
        ratingCol="rating",
        implicitPrefs=False,
        coldStartStrategy="drop",
        numUserBlocks=blocks,
        numItemBlocks=blocks,
    )
    return als.fit(ratings)


def predict(model: ALSModel, rows: DataFrame) -> DataFrame:
    """M2/J3: score (user, product) rows ≙ model.predict
    (CollabFilterCassandra8.java:39-43).

    Output: the caller's columns plus ``prediction`` (double).
    coldStart="drop" keeps the inner-join-on-factors semantics. A
    ``rating`` column rides through, so :func:`validate` and the report
    read this frame with no join back to the actuals.
    """
    return model.transform(rows).withColumn(
        "prediction", F.col("prediction").cast("double")
    )


def rmse_column() -> Column:
    """M3/A1-A3 as one aggregate column ≙ CollabFilterCassandra8.java:45-57:
    sqrt(avg((rating-prediction)²)) over the scored rows, null when
    there are none. :func:`validate` and the report's observed metrics
    (report.py) both compute RMSE with it."""
    return F.sqrt(F.avg(squared_error(F.col("rating"), F.col("prediction"))))


def nan_if_null(value) -> float:
    """An aggregate's value as a float; null (no rows) becomes NaN."""
    return float("nan") if value is None else float(value)


def validate(scored: DataFrame) -> float:
    """M3/A1-A3: RMSE over the scored rows, as its own job.

    ``scored`` is :func:`predict`'s output over rows that carry
    ``rating``. Cold-start rows are already absent, like the reference's
    inner join J1, so they never poison the mean. One hash-aggregate
    plan (partial per partition + final merge — the DataFrame analog of
    JavaDoubleRDD.mean, :50-54) of :func:`rmse_column`. The pipeline
    does not call it: the report's one action observes the same
    aggregate (report.py). It stands alone for callers that want only
    RMSE, and as the cross-check of the observed value.
    """
    return nan_if_null(scored.agg(rmse_column()).first()[0])


def recommend_top_k(model: ALSModel, k: int = 3) -> DataFrame:
    """Capability-parity plus (SURVEY §2.5): top-k products per user.

    Mirrors MatrixFactorizationModel.recommendProducts (which the
    reference does not call); exposed because it is the natural windowed
    query over predictions. Returns user, product, prediction, rank.
    """
    recs = model.recommendForAllUsers(k)
    return recs.select(
        "user", F.posexplode("recommendations").alias("pos", "rec")
    ).select(
        "user",
        F.col("rec.product").alias("product"),
        F.col("rec.rating").cast("double").alias("prediction"),
        (F.col("pos") + 1).alias("rank"),
    )
