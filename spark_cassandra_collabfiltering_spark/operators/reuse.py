"""Materialize-once discipline for multiply-consumed subtrees — the
one place the package checkpoints a DataFrame.

A DataFrame referenced N times is planned N times; ``.cache()`` does
not help under AQE because concurrent leaf query stages race the
cache and all recompute the shared subtree (measured r10 on
dedup_minhash_lsh: 4 duplicate scan+hash stages). A checkpoint
computes the subtree once and hands every consumer the same
materialized partitions.

"Lazy" (``eager=False``) is not job-free: under AQE the call plans
the subtree adaptively, which runs every shuffle stage beneath it
right away (measured on local[4]: a groupBy subtree fires 1 job, an
orderBy 2, a narrow filter 0). Only the final stage waits for the
first action.

The mode follows the deployment, not a per-call option: with no
``SparkContext.setCheckpointDir`` the subtree is a ``localCheckpoint``
— blocks stored UNREPLICATED in executor block managers, so on a real
cluster an executor loss makes the job unrecomputable rather than
slow (VERDICT r10 #4). That is the right default for ephemeral
single-tenant analytics and for local[n], where executor loss means
the app is gone anyway. Once a checkpoint dir is set (HDFS/S3 on a
cluster) every reuse point writes a fault-tolerant ``checkpoint()``
there instead, at the cost of one distributed write each — the rule
Spark's own ALS already applies to ``checkpointInterval``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shared_subtree(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Pin a multiply-consumed subtree so it computes once: a reliable
    ``checkpoint()`` when the context has a checkpoint dir, else a
    ``localCheckpoint()``. ``eager=True`` materializes it now (loop
    state, or a frame about to overwrite its own input)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
