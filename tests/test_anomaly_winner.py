"""Planted-fixture pins for the r5-cont4 analytics trio: exact-integer
daily anomaly flags (streaming/events.py daily_anomaly), the dedup
winner policy (operators/dedup.py keep_best_per_cluster), and the
hopping-window assignment arithmetic (ev_hopping_agg builder).
"""

from __future__ import annotations

import datetime as dt
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_cassandra_collabfiltering_spark.operators import dedup as dd  # noqa: E402
from spark_cassandra_collabfiltering_spark.streaming import events as ev  # noqa: E402


def _events(spark, rows):
    return spark.createDataFrame(rows, ["ts", "event_type", "user_id"])


def test_anomaly_flags_planted_spike(spark):
    # 16 flat days of 10 events + one day of 100. Why 16: a single
    # outlier among n samples can reach at most z = sqrt(n-1) of the
    # population std (it inflates the variance it is judged against),
    # so with 9 flat days the spike sits EXACTLY at 3 sigma
    # (dev^2 == 9*var, strict > fails); 16 gives headroom to 4.
    rows = []
    for d in range(16):
        rows += [(dt.datetime(2024, 1, 1 + d, 12, 0, 0), "click", 1)] * 10
    rows += [(dt.datetime(2024, 1, 17, 12, 0, 0), "click", 1)] * 100
    got = ev.daily_anomaly(_events(spark, rows), z=2).collect()
    assert [(r.day, r.x) for r in got] == [("2024-01-17", 100)]
    # integer evidence columns: n=17, s=260, s2=11600
    assert got[0].dev_n == 17 * 100 - 260
    assert got[0].var_nn == 17 * 11600 - 260 * 260
    assert ev.daily_anomaly(_events(spark, rows), z=3).count() == 1


def test_anomaly_flat_series_flags_nothing(spark):
    rows = [
        (dt.datetime(2024, 1, 1 + d, 12, 0, 0), "view", 1)
        for d in range(10)
        for _ in range(5)
    ]
    assert ev.daily_anomaly(_events(spark, rows), z=2).count() == 0


def test_anomaly_types_are_independent(spark):
    # 10 days per type (a single outlier among n days maxes at
    # z = sqrt(n-1); 5 days would cap type b exactly AT 2 sigma)
    rows = []
    for d in range(10):
        rows += [(dt.datetime(2024, 1, 1 + d, 12, 0, 0), "a", 1)] * 10
        rows += [(dt.datetime(2024, 1, 1 + d, 12, 0, 0), "b", 1)] * (
            100 if d == 9 else 10
        )
    got = ev.daily_anomaly(_events(spark, rows), z=2).collect()
    assert [(r.event_type, r.day) for r in got] == [("b", "2024-01-10")]


def _comps(spark, rows):
    return spark.createDataFrame(rows, ["node", "cluster_id"])


def test_keep_best_prefers_longest_then_min_id(spark):
    docs = spark.createDataFrame(
        [
            (1, "short"),
            (2, "the much longer copy of the doc"),
            (3, "the much longer copy of the doc"),  # tie with 2 -> 2 wins
            (7, "solo but clustered"),
            (8, "x"),
        ],
        ["doc_id", "text"],
    )
    comps = _comps(spark, [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)])
    got = {
        r.cluster_id: (r.keep_doc, r.n_members, r.keep_score)
        for r in dd.keep_best_per_cluster(comps, docs).collect()
    }
    assert got[1] == (2, 3, len("the much longer copy of the doc"))
    assert got[7] == (7, 2, len("solo but clustered"))


def test_keep_best_custom_score_column(spark):
    docs = spark.createDataFrame(
        [(1, "aaaa", 5), (2, "b", 9)], ["doc_id", "text", "quality"]
    )
    comps = _comps(spark, [(1, 1), (2, 1)])
    got = dd.keep_best_per_cluster(
        comps, docs, score=F.col("quality").cast("bigint")
    ).collect()[0]
    assert (got.keep_doc, got.keep_score) == (2, 9)


def test_hopping_assigns_each_event_to_two_windows(spark):
    from spark_cassandra_collabfiltering_spark.plans.queries import QUERIES

    # drive the builder's window arithmetic directly on a tiny frame:
    # event at 12:07 -> windows starting 12:00 and 12:05
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 12, 7, 0), "click", 1.0)],
        ["ts", "event_type", "value"],
    )
    out = (
        df.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type"
        )
        .count()
        .select(F.unix_timestamp("win.start").alias("s"))
        .collect()
    )
    starts = sorted(r.s for r in out)
    base = int(dt.datetime(2024, 1, 1, 12, 0, 0).timestamp())
    assert starts == [base, base + 300]
    assert "ev_hopping_agg" in QUERIES


def test_canonicalize_from_clusters_keeps_best_quality_member(spark):
    """The registry's canonicalize step on a hand-built cluster map over
    sf0.001 documents: each cluster keeps its highest-``quality_e6``
    member, ties to the smallest id. Expected values come from the
    text_quality oracle in DuckDB, not from the Spark builder."""
    from conftest import SF_SMOKE

    from spark_cassandra_collabfiltering_spark.plans.oracle import duckdb_conn
    from spark_cassandra_collabfiltering_spark.plans.queries import (
        QUERIES,
        _canonicalize_from_clusters,
    )

    conn = duckdb_conn(SF_SMOKE)
    try:
        quality = dict(
            conn.sql(f"SELECT doc_id, quality_e6 FROM ({QUERIES['text_quality'].oracle})").fetchall()
        )
    finally:
        conn.close()
    members = {
        0: [0, 1, 2],  # best is not the smallest id
        5: [5, 17, 269],  # 17 and 269 tie at the top
        27: [27, 307, 436],  # all three tie
    }
    assert max(quality[n] for n in members[0]) != quality[0]
    assert quality[17] == quality[269] > quality[5]
    assert quality[27] == quality[307] == quality[436]

    clusters = spark.createDataFrame(
        [(n, c) for c, ns in members.items() for n in ns], ["node", "cluster_id"]
    )
    got = {
        r.cluster_id: (r.keep_id, r.keep_score, r.n_members)
        for r in _canonicalize_from_clusters(spark, SF_SMOKE, clusters).collect()
    }
    want = {}
    for c, ns in members.items():
        keep = min(ns, key=lambda n: (-quality[n], n))
        want[c] = (keep, quality[keep], len(ns))
    assert got == want
    assert got[5][0] == 17 and got[27][0] == 27
