"""Round-2 semantics hardening (VERDICT r1 items 3-5 + ADVICE):

- except_rows must implement SQL EXCEPT (DISTINCT) on MULTISET inputs
  (the r1 exceptAll().distinct() form yielded {x} for A={x,x}, B={x}).
- except_all_rows is the separately-named EXCEPT ALL.
- connected_components: with a checkpoint dir set (reliable
  checkpoints) it must agree with the localCheckpoint run;
  non-convergence within max_iter must raise.
- run_foreach_batch_upsert must NOT swallow a corrupt/unreadable
  existing target by overwriting it with just the current micro-batch.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from spark_cassandra_collabfiltering_spark.operators import dedup as dd  # noqa: E402
from spark_cassandra_collabfiltering_spark.operators import relational as rel  # noqa: E402


def test_except_rows_multiset_inputs(spark):
    # A = {x, x, y}, B = {x}: SQL EXCEPT (distinct semantics) -> {y}
    a = spark.createDataFrame([(1,), (1,), (2,)], ["v"])
    b = spark.createDataFrame([(1,)], ["v"])
    got = sorted(r["v"] for r in rel.except_rows(a, b).collect())
    assert got == [2]


def test_except_all_rows_multiset_inputs(spark):
    # A = {x, x, x, y}, B = {x}: EXCEPT ALL -> {x, x, y}
    a = spark.createDataFrame([(1,), (1,), (1,), (2,)], ["v"])
    b = spark.createDataFrame([(1,)], ["v"])
    got = sorted(r["v"] for r in rel.except_all_rows(a, b).collect())
    assert got == [1, 1, 2]


def _cc_pairs(spark):
    # two components: {1,2,3} (path 1-2-3) and {10,11}
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )


def test_connected_components_reliable_mode_agrees(
    spark, tmp_path, no_checkpoint_dir
):
    local = {
        (r["node"], r["cluster_id"])
        for r in dd.connected_components(_cc_pairs(spark)).collect()
    }
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    reliable = {
        (r["node"], r["cluster_id"])
        for r in dd.connected_components(_cc_pairs(spark)).collect()
    }
    assert local == reliable
    assert {c for _, c in local} == {1, 10}


def test_connected_components_nonconvergence_raises(spark):
    # a 5-node path needs >1 round; max_iter=1 must fail loudly, not
    # return a half-propagated labeling that silently splits clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["id_a", "id_b"]
    )
    # RuntimeError, not assert: must survive `python -O`
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(pairs, max_iter=1)


def test_ann_vectorized_scorer_agrees_with_expression_path(spark):
    from conftest import SF_SMOKE

    from spark_cassandra_collabfiltering_spark.operators import similarity as sim
    from spark_cassandra_collabfiltering_spark.plans.queries import t

    emb = t(spark, SF_SMOKE, "embeddings")
    qs = sim.make_queries(emb, [0, 1, 2, 3, 4])
    expr = sorted(map(tuple, sim.cosine_topk_bruteforce(emb, qs, k=5).collect()))
    vec = sorted(
        map(tuple, sim.cosine_topk_bruteforce_vectorized(emb, qs, k=5).collect())
    )
    assert expr == vec
    assert len(expr) == 25  # 5 queries x k=5


def test_ann_vectorized_empty_query_batch(spark):
    from conftest import SF_SMOKE

    from spark_cassandra_collabfiltering_spark.operators import similarity as sim
    from spark_cassandra_collabfiltering_spark.plans.queries import t

    emb = t(spark, SF_SMOKE, "embeddings")
    qs = sim.make_queries(emb, [])  # no queries: empty result, no crash
    out = sim.cosine_topk_bruteforce_vectorized(emb, qs, k=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "cos", "rank"]


def test_ann_zero_norm_vector_contract(spark):
    """Zero vectors score cos=0.0 (defined contract) in BOTH scorer
    paths — NOT NaN, which would sort above every real score."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from spark_cassandra_collabfiltering_spark.operators import similarity as sim

    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [-1.0, 0.0])]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qs = sim.make_queries(corpus, [0])
    expr = {(r["vec_id"]): r["cos"] for r in
            sim.cosine_topk_bruteforce(corpus, qs, k=4).collect()}
    vec = {(r["vec_id"]): r["cos"] for r in
           sim.cosine_topk_bruteforce_vectorized(corpus, qs, k=4).collect()}
    assert expr == vec
    assert expr[1] == 0.0  # the zero vector
    assert expr[3] == -1.0  # and it outranks genuinely negative scores

    # a zero QUERY through every approximate scorer: the same rule, so
    # no DIVIDE_BY_ZERO under ANSI in the ADC/SQ estimates — every
    # candidate scores 0.0
    rows = [(0, [0.0] * 4)] + [
        (i, [float(i % 5) - 2.0, float(i % 7) - 3.0, float(i % 3) - 1.0, 1.0])
        for i in range(1, 41)
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qs = sim.make_queries(corpus, [0])
    pq = dict(m=2, n_codes=4)
    scorers = {
        "pq": lambda: sim.cosine_topk_pq(corpus, qs, k=3, **pq),
        "pq_rerank": lambda: sim.cosine_topk_pq(corpus, qs, k=3, rerank=10, **pq),
        "sq": lambda: sim.cosine_topk_sq(corpus, qs, k=3),
        "sq_rerank": lambda: sim.cosine_topk_sq(corpus, qs, k=3, rerank=10),
        "opq": lambda: sim.cosine_topk_opq(corpus, qs, k=3, **pq),
        "opq_rerank": lambda: sim.cosine_topk_opq(corpus, qs, k=3, rerank=10, **pq),
        "ivf": lambda: sim.cosine_topk_ivf(corpus, qs, k=3, n_clusters=4, n_probe=4),
        "ivfpq": lambda: sim.cosine_topk_ivfpq(
            corpus, qs, k=3, n_clusters=4, n_probe=4, rerank=10, **pq
        ),
        "pca": lambda: sim.cosine_topk_pca(corpus, qs, k=3, n_components=2, rerank=10),
    }
    # one action over all nine (a collect per scorer doubles the time)
    got = {name: [] for name in scorers}
    arms = [
        run().select(F.lit(n).alias("scorer"), "rank", "cos") for n, run in scorers.items()
    ]
    for r in reduce(DataFrame.unionByName, arms).collect():
        got[r["scorer"]].append((r["rank"], r["cos"]))
    assert {n: sorted(v) for n, v in got.items()} == {
        n: [(1, 0.0), (2, 0.0), (3, 0.0)] for n in scorers
    }


def test_foreach_batch_upsert_corrupt_target_raises(spark, tmp_path):
    from spark_cassandra_collabfiltering_spark.streaming import events as ev

    # existing-but-unreadable target: a directory with a garbage footer
    target = tmp_path / "merged"
    target.mkdir()
    (target / "part-00000.parquet").write_bytes(b"not a parquet file")

    src = tmp_path / "src"
    spark.createDataFrame([(1, 10)], ["user_id", "n_events"]).write.parquet(
        str(src)
    )
    stream = (
        spark.readStream.schema("user_id BIGINT, n_events BIGINT")
        .parquet(str(src))
    )
    with pytest.raises(Exception):
        ev.run_foreach_batch_upsert(stream, str(target), ["user_id"])
    # the corrupt target must still be there, NOT overwritten by the batch
    assert (target / "part-00000.parquet").read_bytes() == b"not a parquet file"


def test_weighted_sample_probability_edges(spark):
    from pyspark.sql import functions as F

    from spark_cassandra_collabfiltering_spark.operators import relational as rel

    df = spark.createDataFrame([(i,) for i in range(100)], "id int")
    assert rel.weighted_sample(df, "id", F.lit(0)).count() == 0
    assert rel.weighted_sample(df, "id", F.lit(1_000_000)).count() == 100
    # monotone: doubling every row's probability can only grow the sample
    small = rel.weighted_sample(df, "id", F.lit(100_000)).count()
    big = rel.weighted_sample(df, "id", F.lit(200_000)).count()
    assert small <= big


def test_weighted_sample_null_probability_drops(spark):
    """NULL prob_e6 == probability 0 by documented contract: rows with a
    NULL score are dropped, others sampled normally."""
    df = spark.createDataFrame(
        [(i, 1_000_000 if i % 2 == 0 else None) for i in range(100)],
        "id int, p int",
    )
    kept = rel.weighted_sample(df, "id", F.col("p"))
    assert sorted(r["id"] for r in kept.collect()) == list(range(0, 100, 2))


def test_range_frame_ties_are_all_in(spark):
    """RANGE frames are defined by the ORDER value: peer rows (equal
    order value) always see each other in the frame, in every copy —
    deterministic without a tiebreaker (unlike ROWS frames, where tied
    rows' cumulative results depend on arrival order)."""
    from spark_cassandra_collabfiltering_spark.operators import windows as win

    rows = [("g", 10, 1.0), ("g", 10, 2.0), ("g", 11, 4.0), ("g", 25, 8.0)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = {
        (r["t"], r["v"]): (r["cnt"], r["s"])
        for r in win.range_frame_agg(
            df, ["k"], "t", 10, [(F.count(F.lit(1)), "cnt"), (F.sum("v"), "s")]
        ).collect()
    }
    # t=10 peers: both rows see BOTH peer rows (cnt=2, sum=3).
    assert out[(10, 1.0)] == (2, 3.0) and out[(10, 2.0)] == (2, 3.0)
    # t=11: frame [1, 11] includes the two t=10 peers and itself.
    assert out[(11, 4.0)] == (3, 7.0)
    # t=25: frame [15, 25] excludes everything earlier.
    assert out[(25, 8.0)] == (1, 8.0)
