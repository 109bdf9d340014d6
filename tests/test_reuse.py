"""The materialize-once discipline (operators/reuse.py): the one module
that checkpoints, its local-vs-reliable switch on the context's
checkpoint dir, what a lazy checkpoint runs at call time under AQE,
and the cf_als randomSplit-determinism assumption the lazy ratings
checkpoint leans on (VERDICT r10 #4)."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

import spark_cassandra_collabfiltering_spark as pkg
from spark_cassandra_collabfiltering_spark.operators import dedup as dd
from spark_cassandra_collabfiltering_spark.operators.reuse import shared_subtree

GROUP_KEY = "spark.jobGroup.id"


def test_reliable_mode_matches_local(spark, tmp_path, no_checkpoint_dir):
    docs = spark.createDataFrame(
        [(i, ("abcdefgh" * 4) + str(i % 3) * 5) for i in range(30)],
        ["doc_id", "text"],
    )

    def pairs():
        return {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in dd.ppjoin_pairs(docs, "doc_id", "text", n=4, threshold=0.4).collect()
        }

    base = pairs()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    assert pairs() == base and base  # same pairs either way, non-empty


def test_checkpoint_dir_reaches_eager_loop_checkpoints(spark, tmp_path, no_checkpoint_dir):
    """connected_components_bigstar checkpoints its loop state eagerly;
    with a checkpoint dir set those checkpoints land in the dir, and the
    labels match the executor-local run."""
    df = spark.createDataFrame([(1, 2), (2, 3), (10, 11), (11, 12)], ["id_a", "id_b"])

    def labels():
        return {(r.node, r.cluster_id) for r in dd.connected_components_bigstar(df).collect()}

    local = labels()
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    assert labels() == local
    assert {c for _, c in local} == {1, 10}
    assert any(p.name.startswith("part-") for p in ckpt.rglob("*")), list(ckpt.rglob("*"))


def _jobs_at_call(spark, df, group):
    sc = spark.sparkContext
    sc.setLocalProperty(GROUP_KEY, group)
    try:
        shared_subtree(df)
    finally:
        sc.setLocalProperty(GROUP_KEY, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lazy_checkpoint_runs_shuffle_stages_at_call(spark, no_checkpoint_dir):
    """Lazy is not job-free under AQE: the call plans the subtree
    adaptively, which runs every shuffle stage beneath it; a narrow
    subtree waits for the first action."""
    narrow = spark.range(1000).filter(F.col("id") % 7 == 0)
    assert _jobs_at_call(spark, narrow, "test-reuse-narrow") == 0
    grouped = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    assert _jobs_at_call(spark, grouped, "test-reuse-groupby") >= 1


def test_only_reuse_module_checkpoints():
    """Every checkpoint goes through operators/reuse.py, so the
    local-vs-reliable policy lives in one place."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "operators" / "reuse.py"
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    ]
    assert not offenders, offenders


def test_cf_als_randomsplit_deterministic(spark, sf_dir):
    """The cf_als ratings checkpoint assumes the seeded per-partition
    randomSplit draws the same rows on every build of the query (the
    split result is part of the declared rows-only output, so a
    layout-dependent drift would be invisible to the oracle). Build
    the ratings → checkpoint → split chain twice from scratch and pin
    the val membership."""
    from spark_cassandra_collabfiltering_spark.plans.queries import ratings_df

    def val_ids():
        ratings = shared_subtree(
            ratings_df(spark, sf_dir)
            .select(
                (F.col("user") % 500).cast("int").alias("user"),
                (F.col("product") % 200).cast("int").alias("product"),
                F.col("rating"),
            )
            .groupBy("user", "product")
            .agg(F.avg("rating").alias("rating"))
        )
        _, val = ratings.randomSplit([0.9, 0.1], seed=42)
        return {(r.user, r.product) for r in val.collect()}

    first = val_ids()
    assert first  # the draw must select something at sf0.001
    assert val_ids() == first
