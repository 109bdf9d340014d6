"""Metadata-only COUNT(*) on the transactional lake: every commit
records each data file's row count under the reserved ``__nrows__``
stats key (parquet FOOTER metadata — no data pages read at write or
query time), and ``txn_count`` sums live-file counts minus the rows
active deletion vectors hide (read from the metadata-sized sidecars
with pyarrow, no Spark job). The Delta numRecords shape: COUNT(*) on
a 100 TB table is O(files) log arithmetic, exactly equal to what a
scan would return."""

import json
import os

import pytest
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.sources import lake


def _d(spark, lo, hi):
    return spark.range(lo, hi).select("id", (F.col("id") * 2).alias("v"))


def test_count_tracks_appends_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 1000).repartitionByRange(4, "id"), root,
                   stats_cols=["id"])
    assert lake.txn_count(root) == 1000
    lake.txn_write(_d(spark, 2000, 2050), root)
    assert lake.txn_count(root) == 1050
    assert lake.txn_count(root, 0) == 1000  # time travel
    assert lake.txn_detail(root)["num_rows"] == 1050


@pytest.mark.slow
def test_count_subtracts_dv_rows_exactly(spark, tmp_path):
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 1000).repartitionByRange(4, "id"), root,
                   stats_cols=["id"])
    lake.txn_delete_dv(
        spark, root, spark.range(0, 100).select("id"), ["id"]
    )
    assert lake.txn_count(root) == 900
    assert lake.txn_count(root) == lake.txn_read(spark, root).count()
    # repeat tombstones are no-ops; composing DVs stay exact
    lake.txn_delete_dv(
        spark, root, spark.range(50, 150).select("id"), ["id"]
    )
    assert lake.txn_count(root) == 850
    assert lake.txn_count(root) == lake.txn_read(spark, root).count()


def test_count_subtracts_overlapping_dvs_once(spark, tmp_path, monkeypatch):
    # two concurrent DVs on one file compose at commit time, each with
    # positions computed at its own read version, so their sidecars
    # can overlap: the scan hides an overlapping row once, and so must
    # the count
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 10).coalesce(1), root, stats_cols=["id"])
    lake.txn_delete_dv(spark, root, spark.range(3, 4).select("id"), ["id"])
    real = lake.txn_latest_version
    calls = []

    def read_v0_first(r):
        calls.append(r)
        return 0 if len(calls) == 1 else real(r)

    monkeypatch.setattr(lake, "txn_latest_version", read_v0_first)
    v, n, _ = lake.txn_delete_dv(
        spark, root, spark.range(3, 5).select("id"), ["id"]
    )
    monkeypatch.undo()
    assert (v, n) == (2, 2)
    assert lake.txn_read(spark, root).count() == 8
    assert lake.txn_count(root) == 8


def test_count_through_merge_and_compact(spark, tmp_path):
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 1000).repartitionByRange(4, "id"), root,
                   stats_cols=["id"])
    lake.txn_delete_dv(spark, root, spark.range(0, 10).select("id"), ["id"])
    lake.txn_merge(
        spark, root,
        spark.createDataFrame([(5000, 1), (500, -1)], "id long, v long"),
        ["id"], stats_cols=["id"],
    )
    expect = lake.txn_read(spark, root).count()
    assert lake.txn_count(root) == expect == 991
    lake.txn_compact(spark, root, sort_cols=["id"], stats_cols=["id"])
    assert lake.txn_count(root) == expect  # materialization is invisible


def test_count_survives_partial_dv_materialization(spark, tmp_path):
    # the subtle case: a compact rewrites only SOME of a DV's target
    # files (size-filtered OPTIMIZE); the DV survives for the rest and
    # the sidecar still holds rows for the dead files — those must NOT
    # be subtracted twice
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 50).coalesce(1), root, stats_cols=["id"])
    lake.txn_write(_d(spark, 1000, 6000).coalesce(1), root,
                   stats_cols=["id"])
    small = min(lake._replay(root, 1).files, key=os.path.getsize)
    # one DV batch hitting BOTH files
    lake.txn_delete_dv(
        spark, root,
        spark.createDataFrame([(0,), (1,), (1000,), (1001,), (1002,)],
                              "id long"),
        ["id"],
    )
    assert lake.txn_count(root) == 5045
    # compact only the small file (its hidden rows materialize away)
    v = lake.txn_compact(
        spark, root, max_file_bytes=os.path.getsize(small) + 1,
        stats_cols=["id"],
    )
    assert v is not None
    st = lake._replay(root, v)
    assert st.dvs, "DV must survive for the untouched file"
    assert lake.txn_count(root) == 5045
    assert lake.txn_read(spark, root).count() == 5045


def test_count_footer_fallback_for_legacy_commits(spark, tmp_path):
    # commits written before row counts existed carry no __nrows__ —
    # the count degrades to parquet FOOTER reads, never a wrong answer
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 777).repartitionByRange(3, "id"), root,
                   stats_cols=["id"])
    p = os.path.join(root, "_log", f"{0:020d}.json")
    c = json.load(open(p))
    for f in list(c.get("stats", {})):
        c["stats"][f].pop(lake._NROWS_KEY, None)
    json.dump(c, open(p, "w"))
    assert lake.txn_count(root) == 777


def test_count_on_column_mapped_table(spark, tmp_path):
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 123), root, stats_cols=["id"])
    lake.txn_enable_column_mapping(root)
    lake.txn_rename_column(root, "v", "value")
    lake.txn_write(
        spark.range(500, 510).select(
            "id", (F.col("id") * 2).alias("value")
        ),
        root,
    )
    assert lake.txn_count(root) == 133


def test_nrows_key_is_reserved(spark, tmp_path):
    root = str(tmp_path / "t")
    with pytest.raises(ValueError, match="reserved"):
        lake.txn_write(_d(spark, 0, 5), root, stats_cols=[lake._NROWS_KEY])


def test_row_counts_do_not_disturb_pruning(spark, tmp_path):
    # __nrows__ lives inside the same per-file stats dict the pruning
    # paths read — it must be inert there (lookups are by column name)
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 1000).repartitionByRange(4, "id"), root,
                   stats_cols=["id"])
    _, nread, ntotal = lake.txn_read_pruned(spark, root, "id", 0, 100)
    assert nread < ntotal
    v, rewrote, total = lake.txn_merge(
        spark, root,
        spark.createDataFrame([(5,)], "id long"), ["id"],
        when_matched="delete", when_not_matched="ignore",
    )
    assert rewrote < total


def test_history_row_deltas_from_log_arithmetic(spark, tmp_path):
    # DESCRIBE HISTORY row deltas: appends price their files, a DV
    # commit carries the hidden-row count recorded at commit time, a
    # compaction shows added == removed-minus-materialized — all from
    # the log, no scan
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 100).coalesce(2), root, stats_cols=["id"])
    lake.txn_write(_d(spark, 200, 250), root)
    lake.txn_delete_dv(spark, root, spark.range(0, 7).select("id"), ["id"])
    lake.txn_compact(spark, root, sort_cols=["id"], stats_cols=["id"])
    h = {e["version"]: e for e in lake.txn_history(root)}
    assert (h[0]["rows_added"], h[0]["rows_removed"]) == (100, 0)
    assert (h[1]["rows_added"], h[1]["rows_removed"]) == (50, 0)
    assert (h[2]["rows_added"], h[2]["rows_hidden"]) == (0, 7)
    assert (h[3]["rows_added"], h[3]["rows_removed"]) == (143, 150)
