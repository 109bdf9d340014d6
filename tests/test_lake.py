"""Lake-layout tests: partition pruning, bucketed co-located joins
(plan-asserted: no exchange), z-order clustering, schema merge."""

from __future__ import annotations

import io
import sys

from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.plans.queries import t as load_table
from spark_cassandra_collabfiltering_spark.sources import lake

from conftest import SF_SMOKE


def _plan_str(df) -> str:
    buf = io.StringIO()
    stdout = sys.stdout
    sys.stdout = buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "orders_by_status")
    orders = load_table(spark, SF_SMOKE, "orders")
    lake.write_partitioned(orders, path, ["o_orderstatus"])
    back = spark.read.parquet(path)
    # correctness: same row count overall and per partition value
    assert back.count() == orders.count()
    want = orders.filter(F.col("o_orderstatus") == "F").count()
    got_df = back.filter(F.col("o_orderstatus") == "F")
    assert got_df.count() == want
    # pruning: the scan should report a partition filter on the column
    plan = _plan_str(got_df)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters", 1)[1][:200]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    lake.write_bucketed_table(
        orders, "orders_b", ["o_orderkey"], 4, ["o_orderkey"],
        path=str(tmp_path / "orders_b"),
    )
    lake.write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "li_b", ["o_orderkey"], 4,
        ["o_orderkey"], path=str(tmp_path / "li_b"),
    )
    # at test scale the planner prefers broadcast (which ignores
    # bucketing); disable it so the co-located sort-merge path shows
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lake.read_table(spark, "orders_b").join(
            lake.read_table(spark, "li_b"), "o_orderkey"
        )
        plan = _plan_str(joined)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it is the same answer as the plain join
        plain = orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS li_b")


def test_bucketed_ratings_prejoin_single_exchange(spark, tmp_path):
    """CF ratings-analog build (FIXTURES §4: join lineitem+orders on
    the order key, aggregate to (user, product, rating)) over tables
    bucketed on the join key: the join itself needs NO exchange, so
    the whole pipeline's only shuffle is the unavoidable key-change
    aggregation. At 100 TB this is the layout that amortizes the
    ratings-build join shuffle into the write — the reference re-joins
    per run (CollabFilterCassandra8.java:33-43); here the layout
    pre-pays it once."""
    import re

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    lake.write_bucketed_table(
        li, "li_r", ["l_orderkey"], 4, ["l_orderkey"],
        path=str(tmp_path / "li_r"),
    )
    lake.write_bucketed_table(
        orders, "ord_r", ["l_orderkey"], 4, ["l_orderkey"],
        path=str(tmp_path / "ord_r"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ratings = (
            lake.read_table(spark, "li_r")
            .join(lake.read_table(spark, "ord_r"), "l_orderkey")
            .groupBy(
                F.col("o_custkey").alias("user"),
                F.col("l_partkey").alias("product"),
            )
            .agg(F.sum("l_quantity").alias("rating"))
        )
        plan = _plan_str(ratings)
        exchanges = re.findall(r"\(\d+\) Exchange", plan)
        assert len(exchanges) == 1, f"want exactly the agg exchange:\n{plan}"
        # the surviving exchange hashes the NEW agg keys (aliasing is
        # resolved below the exchange, so the underlying names show),
        # not the join key
        detail = plan.split("Exchange", 2)[-1][:300]
        assert "o_custkey" in detail and "l_partkey" in detail, detail
        assert "hashpartitioning(l_orderkey" not in plan
        # value parity with the registry's plain ratings build
        from spark_cassandra_collabfiltering_spark.plans.queries import ratings_df

        want = {
            (r["user"], r["product"]): r["rating"]
            for r in ratings_df(spark, SF_SMOKE).collect()
        }
        got = {
            (r["user"], r["product"]): r["rating"] for r in ratings.collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_r")
        spark.sql("DROP TABLE IF EXISTS ord_r")


def test_zorder_layout_clusters_both_dims(spark, tmp_path):
    """txn_compact(zorder_dims=...) must leave every file covering a
    SMALL rectangle of (partkey, suppkey) space: both dims clustered,
    unlike a sort_cols compaction, which clusters only its leading
    column and leaves the other at full span per file. Both layouts
    rewrite the same multi-file appends; spans come from the rewritten
    files' add-file stats."""
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    lo_hi = {
        c: (r["mn"], r["mx"])
        for c, r in (
            (c, li.agg(F.min(c).alias("mn"), F.max(c).alias("mx")).first())
            for c in ("l_partkey", "l_suppkey")
        )
    }
    dims = [
        ("l_partkey", lo_hi["l_partkey"][0], lo_hi["l_partkey"][1]),
        ("l_suppkey", lo_hi["l_suppkey"][0], lo_hi["l_suppkey"][1]),
    ]
    cols = ["l_partkey", "l_suppkey"]

    def compacted(name, **layout):
        root = str(tmp_path / name)
        for part in (0, 1):  # two multi-file appends of disjoint halves
            lake.txn_write(
                li.filter(F.col("l_orderkey") % 2 == part).repartition(4), root
            )
        v = lake.txn_compact(spark, root, n_files=8, stats_cols=cols, **layout)
        return root, lake._replay(root, v)

    zroot, zstate = compacted("zordered", zorder_dims=dims)
    _, sstate = compacted("sorted", sort_cols=["l_partkey"])

    def mean_ranges(state):
        assert len(state.files) >= 4, state.files
        spans = {c: [] for c in cols}
        for f in state.files:
            for c in cols:
                mn, mx = state.stats[f][c]
                spans[c].append(mx - mn)
        return {c: sum(v) / len(v) for c, v in spans.items()}

    full_pk = lo_hi["l_partkey"][1] - lo_hi["l_partkey"][0]
    full_sk = lo_hi["l_suppkey"][1] - lo_hi["l_suppkey"][0]
    z = mean_ranges(zstate)
    s = mean_ranges(sstate)
    # z-order: BOTH dims clustered well below full span per file
    assert z["l_partkey"] < 0.6 * full_pk, z
    assert z["l_suppkey"] < 0.8 * full_sk, z
    # plain sort: leading dim tightly clustered, non-leading dim ~full
    assert s["l_suppkey"] > 0.9 * full_sk, s
    # and z-order's non-leading-dim clustering beats the plain sort's
    assert z["l_suppkey"] < s["l_suppkey"], (z, s)
    # row preservation
    assert lake.txn_read(spark, zroot).count() == li.count()


def test_schema_evolution_merge(spark, tmp_path):
    """mergeSchema contract: a corpus written over time with an added
    column reads back as ONE table — old files NULL-fill the new
    column; a pinned explicit schema also works for either vintage."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, s string").write.parquet(
        path + "/batch=0"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, s string, score double"
    ).write.parquet(path + "/batch=1")
    merged = spark.read.option("mergeSchema", True).parquet(path)
    rows = {r.id: (r.s, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    assert set(merged.columns) == {"id", "s", "score", "batch"}


def test_dynamic_partition_pruning_on_dim_filter(spark, tmp_path):
    """DYNAMIC partition pruning: a fact table partitioned on the join
    key, joined to a dim filtered at runtime — Catalyst must inject a
    dynamicpruning subquery into the fact scan's PartitionFilters so
    only the dim-selected partitions are read (the static pruning test
    above covers literal predicates; THIS is what kills 100 TB scans
    when the filter is only known through a join). Verified both ways:
    the plan carries the dynamicpruning expression, and results match
    the unpartitioned join."""
    path = str(tmp_path / "orders_by_cust_bucket")
    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "cust_bucket", (F.col("o_custkey") % 20).cast("int")
    )
    lake.write_partitioned(orders, path, ["cust_bucket"])
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, SF_SMOKE, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", (F.col("c_custkey") % 20).cast("int").alias("cust_bucket"))
        .limit(5)
    )
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    # broadcast threshold is already default-on; DPP needs the dim side
    # reused as the pruning subquery
    joined = fact.join(dim, ["cust_bucket"]).filter(
        F.col("o_custkey") == F.col("c_custkey")
    )
    plan = _plan_str(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    want = (
        orders.join(dim, ["cust_bucket"])
        .filter(F.col("o_custkey") == F.col("c_custkey"))
        .count()
    )
    assert joined.count() == want
