"""The materialize-once discipline (operators/reuse.py): the
reliable_checkpoint option threaded through the r10/r11 checkpoint
call sites (ADVICE r10), and the cf_als randomSplit-determinism
assumption the lazy ratings checkpoint leans on (VERDICT r10 #4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.operators import dedup as dd
from spark_cassandra_collabfiltering_spark.operators.reuse import shared_subtree


def test_reliable_checkpoint_requires_dir(spark, no_checkpoint_dir):
    with pytest.raises(ValueError, match="setCheckpointDir"):
        shared_subtree(spark.range(10), reliable_checkpoint=True)


def test_reliable_checkpoint_matches_local(spark, tmp_path, no_checkpoint_dir):
    docs = spark.createDataFrame(
        [(i, ("abcdefgh" * 4) + str(i % 3) * 5) for i in range(30)],
        ["doc_id", "text"],
    )
    base = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dd.ppjoin_pairs(docs, "doc_id", "text", n=4, threshold=0.4).collect()
    }
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    rel = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dd.ppjoin_pairs(
            docs, "doc_id", "text", n=4, threshold=0.4,
            reliable_checkpoint=True,
        ).collect()
    }
    assert rel == base and base  # same pairs either way, non-empty


def test_cf_als_randomsplit_deterministic(spark, sf_dir):
    """The cf_als ratings checkpoint assumes the seeded per-partition
    randomSplit draws the same rows on every build of the query (the
    split result is part of the declared rows-only output, so a
    layout-dependent drift would be invisible to the oracle). Build
    the ratings → checkpoint → split chain twice from scratch and pin
    the val membership."""
    from spark_cassandra_collabfiltering_spark.plans.queries import ratings_df

    def val_ids():
        ratings = (
            ratings_df(spark, sf_dir)
            .select(
                (F.col("user") % 500).cast("int").alias("user"),
                (F.col("product") % 200).cast("int").alias("product"),
                F.col("rating"),
            )
            .groupBy("user", "product")
            .agg(F.avg("rating").alias("rating"))
        ).localCheckpoint(eager=False)
        _, val = ratings.randomSplit([0.9, 0.1], seed=42)
        return {(r.user, r.product) for r in val.collect()}

    first = val_ids()
    assert first  # the draw must select something at sf0.001
    assert val_ids() == first
