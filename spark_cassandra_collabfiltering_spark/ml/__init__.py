from spark_cassandra_collabfiltering_spark.ml.collabfilter import (
    ALS_LAMBDA,
    ALS_RANK,
    ALS_SEED,
    ALS_ITERATIONS,
    predict,
    recommend_top_k,
    train,
    validate,
)

__all__ = [
    "ALS_RANK",
    "ALS_ITERATIONS",
    "ALS_LAMBDA",
    "ALS_SEED",
    "train",
    "predict",
    "validate",
    "recommend_top_k",
]
