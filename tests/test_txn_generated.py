"""Generated columns on the transactional lake (the Delta GENERATED
ALWAYS AS shape): declared at table creation as a table property, a
write that omits the column gets it computed from the generation
expression, a write that provides it must match exactly (null-safe) or
the batch is refused before any data lands. The payoff at 100 TB is
``txn_read_pruned_derived``: a predicate on the RAW source column
(the everyday 'filter the event timestamp' query) prunes files through
the GENERATED partition/stats column's commit-embedded ranges — the
monotone-derivation interval [f(lo), f(hi)] — without the caller ever
naming the partition column.

Reference parity note: the reference's CQL schema is static
(src/sql/collab_filter_setup.sql); generated columns are parity-plus
for the lake layer, mirroring Delta's generated-column enforcement and
partition pruning.
"""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.sources import lake

GEN = {"d": "CAST(ts AS DATE)"}


def _events(spark, lo, hi, start="2026-01-01 00:00:00"):
    return spark.range(lo, hi).select(
        F.col("id").alias("eid"),
        (
            F.to_timestamp(F.lit(start))
            + F.make_interval(hours=F.col("id"))
        ).alias("ts"),
        (F.col("id") % 7).alias("v"),
    )


def _table(spark, tmp_path, partitioned=True):
    root = str(tmp_path / "t")
    lake.txn_write(
        _events(spark, 0, 240), root, generated=GEN,
        partition_by=["d"] if partitioned else None,
        stats_cols=["eid"],
    )
    return root


def test_omitted_generated_column_is_computed(spark, tmp_path):
    root = _table(spark, tmp_path)
    got = lake.txn_read(spark, root)
    assert got.columns == ["eid", "ts", "v", "d"]
    assert got.filter(F.col("d") != F.col("ts").cast("date")).count() == 0
    assert lake.txn_generated(root) == GEN
    assert lake.txn_detail(root)["generated"] == GEN


def test_provided_matching_values_accepted(spark, tmp_path):
    root = _table(spark, tmp_path)
    more = _events(spark, 1000, 1005).withColumn(
        "d", F.col("ts").cast("date")
    )
    lake.txn_write(more, root)
    assert lake.txn_read(spark, root).count() == 245


def test_divergent_values_refused_with_no_garbage(spark, tmp_path):
    root = _table(spark, tmp_path)
    v_before = lake.txn_latest_version(root)
    bad = _events(spark, 1000, 1005).withColumn(
        "d", F.lit(datetime.date(1999, 1, 1))
    )
    with pytest.raises(lake.GeneratedColumnViolation, match="generation"):
        lake.txn_write(bad, root)
    assert lake.txn_latest_version(root) == v_before
    # refused BEFORE any data landed: nothing new to vacuum
    assert lake.txn_vacuum(root) == []


def test_generation_map_is_fixed_at_creation(spark, tmp_path):
    root = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="fixed at creation"):
        lake.txn_write(
            _events(spark, 1000, 1005), root,
            generated={"d": "to_date(ts)"},
        )
    # an explicit overwrite MAY redefine (a complete new state)
    lake.txn_write(
        _events(spark, 0, 24), root, mode="overwrite",
        generated={"d": "date_trunc('week', ts)"},
    )
    assert lake.txn_generated(root) == {"d": "date_trunc('week', ts)"}


def test_map_persists_across_plain_overwrite(spark, tmp_path):
    # same table-property posture as CHECK constraints: an overwrite
    # that says nothing about generation keeps the declared map
    root = _table(spark, tmp_path)
    lake.txn_write(_events(spark, 0, 24), root, mode="overwrite")
    assert lake.txn_generated(root) == GEN
    got = lake.txn_read(spark, root)
    assert got.filter(F.col("d") != F.col("ts").cast("date")).count() == 0


def test_merge_computes_and_validates_generated(spark, tmp_path):
    root = _table(spark, tmp_path)
    # source OMITS d -> computed, lands in the right partition
    src = spark.createDataFrame(
        [(0, datetime.datetime(2026, 1, 1, 0, 0), 99)],
        "eid bigint, ts timestamp, v bigint",
    )
    v, rewrote, total = lake.txn_merge(
        spark, root, src, ["eid"], stats_cols=["eid"]
    )
    got = lake.txn_read(spark, root).filter("eid = 0").collect()[0]
    assert got["v"] == 99 and got["d"] == datetime.date(2026, 1, 1)
    # source PROVIDING a divergent value -> refused
    bad = src.withColumn("d", F.lit(datetime.date(1999, 1, 1)))
    with pytest.raises(lake.GeneratedColumnViolation):
        lake.txn_merge(spark, root, bad, ["eid"])


def test_derived_pruning_on_partitioned_table(spark, tmp_path):
    root = _table(spark, tmp_path)  # 240 hourly rows = 10 day-partitions
    df, nread, ntotal = lake.txn_read_pruned_derived(
        spark, root, "ts", "2026-01-03 00:00:00", "2026-01-04 23:59:59"
    )
    assert nread < ntotal  # whole date partitions skipped by log math
    assert df.count() == 48
    days = {r["d"] for r in df.select("d").distinct().collect()}
    assert days == {datetime.date(2026, 1, 3), datetime.date(2026, 1, 4)}
    # the residual source filter is exact at the hour level too
    df2, _, _ = lake.txn_read_pruned_derived(
        spark, root, "ts", "2026-01-03 06:00:00", "2026-01-03 17:59:59"
    )
    assert df2.count() == 12


def test_derived_pruning_via_stats_without_partitioning(spark, tmp_path):
    # the derived interval also prunes through ORDINARY add-file
    # stats on the generated column — partitioning is the special
    # case (singleton stats), not a requirement
    root = str(tmp_path / "t")
    lake.txn_write(
        _events(spark, 0, 240).repartitionByRange(8, "ts"), root,
        generated=GEN, stats_cols=["d", "eid"],
    )
    df, nread, ntotal = lake.txn_read_pruned_derived(
        spark, root, "ts", "2026-01-09 00:00:00", "2026-01-09 23:59:59"
    )
    assert nread < ntotal
    assert df.count() == 24
    with pytest.raises(ValueError, match="must not be None"):
        lake.txn_read_pruned_derived(
            spark, root, "ts", None, "2026-01-09 23:59:59"
        )


def test_derived_pruning_refuses_unrecognized_derivations(spark, tmp_path):
    root = str(tmp_path / "t")
    # hour-of-day is NOT monotone in ts — pruning through it would
    # silently drop matching files, so the whitelist must refuse
    lake.txn_write(
        _events(spark, 0, 48), root,
        generated={"h": "hour(ts)"}, stats_cols=["h"],
    )
    with pytest.raises(ValueError, match="monotone"):
        lake.txn_read_pruned_derived(
            spark, root, "ts", "2026-01-01 00:00:00", "2026-01-01 12:00:00"
        )


def test_rename_drop_guards_for_generated_columns(spark, tmp_path):
    root = _table(spark, tmp_path)
    lake.txn_enable_column_mapping(root)
    with pytest.raises(ValueError, match="generated column"):
        lake.txn_rename_column(root, "d", "day")
    with pytest.raises(ValueError, match="generation"):
        lake.txn_rename_column(root, "ts", "event_ts")
    with pytest.raises(ValueError, match="generation"):
        lake.txn_drop_column(root, "ts")
    # an unrelated column stays renamable
    lake.txn_rename_column(root, "v", "value")
    assert "value" in lake.txn_read(spark, root).columns


def test_clone_and_checkpoint_carry_the_map(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(lake, "CHECKPOINT_EVERY", 2)
    root = _table(spark, tmp_path)
    for lo in (1000, 1010, 1020):
        lake.txn_write(_events(spark, lo, lo + 5), root)
    assert os.path.exists(lake._checkpoint_path(root, 2))
    # a reader starting from the checkpoint still enforces
    with pytest.raises(lake.GeneratedColumnViolation):
        lake.txn_write(
            _events(spark, 2000, 2002).withColumn(
                "d", F.lit(datetime.date(1999, 1, 1))
            ),
            root,
        )
    dst = str(tmp_path / "c")
    lake.txn_clone(root, dst)
    assert lake.txn_generated(dst) == GEN
    with pytest.raises(lake.GeneratedColumnViolation):
        lake.txn_write(
            _events(spark, 2000, 2002).withColumn(
                "d", F.lit(datetime.date(1999, 1, 1))
            ),
            dst,
        )


def test_clone_carries_constraints_too(spark, tmp_path):
    # table properties travel with the clone (constraints previously
    # stayed behind — pinned here alongside the generated map)
    root = _table(spark, tmp_path)
    lake.txn_set_constraint(root, "v_small", "v < 100")
    dst = str(tmp_path / "c")
    lake.txn_clone(root, dst)
    assert lake.txn_constraints(dst) == {"v_small": "v < 100"}
    with pytest.raises(lake.ConstraintViolation):
        lake.txn_write(
            _events(spark, 0, 3).withColumn("v", F.lit(500).cast("bigint")),
            dst,
        )
