"""Multi-table transactions (r7 continuation): one atomic catalog
commit spanning tables. The contract the single-table log cannot give:
a pipeline publishing "corpus + index + manifest" must never expose a
state where readers see one table's half of the publish without the
others — the catalog's single O_EXCL log entry IS the atomic point,
and a catalog version pins a CONSISTENT cross-table snapshot."""

import os
from decimal import Decimal

import pytest

from spark_cassandra_collabfiltering_spark.sources import lake


def _corpus(spark, lo, hi):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("d"), F.col("id")).alias("text")
    )


def _index(spark, lo, hi):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("bucket")
    )


def _ids(df, col="doc_id"):
    return sorted(r[col] for r in df.collect())


def test_atomic_publish_and_consistent_time_travel(spark, tmp_path):
    cat = str(tmp_path / "cat")
    v0 = lake.txn_multi_write(
        cat, {"corpus": _corpus(spark, 0, 5), "index": _index(spark, 0, 5)}
    )
    v1 = lake.txn_multi_write(
        cat, {"corpus": _corpus(spark, 5, 8), "index": _index(spark, 5, 8)}
    )
    assert (v0, v1) == (0, 1)
    assert txn_tables(cat) == ["corpus", "index"]
    # latest: both tables advanced TOGETHER
    assert _ids(lake.txn_table_read(spark, cat, "corpus")) == list(range(8))
    assert _ids(lake.txn_table_read(spark, cat, "index")) == list(range(8))
    # time travel: version 0 pins BOTH tables' v0 state — never a mix
    assert _ids(lake.txn_table_read(spark, cat, "corpus", 0)) == list(range(5))
    assert _ids(lake.txn_table_read(spark, cat, "index", 0)) == list(range(5))


def txn_tables(cat):
    return lake.txn_catalog_tables(cat)


def test_crash_between_table_writes_publishes_nothing(
    spark, tmp_path, monkeypatch
):
    cat = str(tmp_path / "cat")
    lake.txn_multi_write(
        cat, {"corpus": _corpus(spark, 0, 5), "index": _index(spark, 0, 5)}
    )
    orig = lake._write_data_files
    calls = {"n": 0}

    def die_on_second(df, r, *a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("crash after table 1 of 2")
        return orig(df, r, *a, **k)

    monkeypatch.setattr(lake, "_write_data_files", die_on_second)
    with pytest.raises(RuntimeError):
        lake.txn_multi_write(
            cat,
            {"corpus": _corpus(spark, 5, 9), "index": _index(spark, 5, 9)},
        )
    monkeypatch.setattr(lake, "_write_data_files", orig)
    # NOTHING published: both tables still at the old snapshot
    assert lake.txn_latest_version(cat) == 0
    assert _ids(lake.txn_table_read(spark, cat, "corpus")) == list(range(5))
    # the orphaned first-table files are vacuumable garbage
    removed = lake.txn_multi_vacuum(cat)
    assert removed and all(os.sep + "corpus" + os.sep in p for p in removed)
    assert _ids(lake.txn_table_read(spark, cat, "corpus")) == list(range(5))


def test_overwrite_replaces_one_table_atomically(spark, tmp_path):
    cat = str(tmp_path / "cat")
    lake.txn_multi_write(
        cat, {"corpus": _corpus(spark, 0, 5), "index": _index(spark, 0, 5)}
    )
    lake.txn_multi_write(
        cat,
        {
            "corpus": _corpus(spark, 100, 103),
            "index": (_index(spark, 100, 103), "overwrite"),
        },
    )
    assert _ids(lake.txn_table_read(spark, cat, "corpus")) == [
        *range(5), 100, 101, 102,
    ]
    assert _ids(lake.txn_table_read(spark, cat, "index")) == [100, 101, 102]


def test_append_append_race_rebases_disjoint_and_shared(
    spark, tmp_path, monkeypatch
):
    cat = str(tmp_path / "cat")
    lake.txn_multi_write(cat, {"corpus": _corpus(spark, 0, 3)})
    orig_open = os.open
    stolen = {"done": False}

    def stealing_open(path, flags, *a, **k):
        if "_log" in path and path.endswith("1.json") and not stolen["done"]:
            stolen["done"] = True
            lake.txn_multi_write(
                cat,
                {"corpus": _corpus(spark, 50, 52), "other": _corpus(spark, 0, 1)},
            )
        return orig_open(path, flags, *a, **k)

    monkeypatch.setattr(os, "open", stealing_open)
    v = lake.txn_multi_write(cat, {"corpus": _corpus(spark, 10, 12)})
    monkeypatch.setattr(os, "open", orig_open)
    assert v == 2  # rebased past the winner
    assert _ids(lake.txn_table_read(spark, cat, "corpus")) == [
        0, 1, 2, 10, 11, 50, 51,
    ]


def test_race_against_overwrite_of_shared_table_raises(
    spark, tmp_path, monkeypatch
):
    cat = str(tmp_path / "cat")
    lake.txn_multi_write(cat, {"corpus": _corpus(spark, 0, 3)})
    orig_open = os.open
    stolen = {"done": False}

    def stealing_open(path, flags, *a, **k):
        if "_log" in path and path.endswith("1.json") and not stolen["done"]:
            stolen["done"] = True
            lake.txn_multi_write(
                cat, {"corpus": (_corpus(spark, 90, 91), "overwrite")}
            )
        return orig_open(path, flags, *a, **k)

    monkeypatch.setattr(os, "open", stealing_open)
    with pytest.raises(lake.ConcurrentWriteConflict, match="overwritten"):
        lake.txn_multi_write(cat, {"corpus": _corpus(spark, 10, 12)})
    monkeypatch.setattr(os, "open", orig_open)
    # the winner's overwrite stands untouched
    assert _ids(lake.txn_table_read(spark, cat, "corpus")) == [90]


def test_schema_enforced_per_table(spark, tmp_path):
    cat = str(tmp_path / "cat")
    lake.txn_multi_write(cat, {"corpus": _corpus(spark, 0, 3)})
    bad = spark.range(3).select("id")  # wrong schema for 'corpus'
    with pytest.raises(lake.SchemaMismatch):
        lake.txn_multi_write(cat, {"corpus": bad})
    # fail-fast: the rejected publish left no garbage at all
    assert lake.txn_multi_vacuum(cat) == []
    # overwrite may change a table's schema
    v = lake.txn_multi_write(cat, {"corpus": (bad, "overwrite")})
    assert lake.txn_table_read(spark, cat, "corpus", v).columns == ["id"]


def test_idempotent_txn_replay_is_a_noop(spark, tmp_path):
    cat = str(tmp_path / "cat")
    w = {"corpus": _corpus(spark, 0, 3), "index": _index(spark, 0, 3)}
    v = lake.txn_multi_write(cat, w, txn=("publisher", 7))
    assert v == 0
    assert lake.txn_multi_write(cat, w, txn=("publisher", 7)) is None
    assert lake.txn_latest_version(cat) == 0
    assert lake.txn_multi_history(cat)[0]["txn"] == ("publisher", 7)


def test_table_read_pruned_skips_on_catalog_stats(spark, tmp_path):
    cat = str(tmp_path / "cat")
    for lo in (0, 100, 200):
        lake.txn_multi_write(
            cat,
            {"corpus": _corpus(spark, lo, lo + 5).coalesce(1)},
            stats_cols={"corpus": ["doc_id"]},
        )
    df, nread, ntotal = lake.txn_table_read_pruned(
        spark, cat, "corpus", "doc_id", 100, 104
    )
    assert (nread, ntotal) == (1, 3)
    assert _ids(df) == list(range(100, 105))
    # a Decimal bound is no proof: every file read, rows exact
    df, nread, _ = lake.txn_table_read_pruned(
        spark, cat, "corpus", "doc_id", Decimal(100), Decimal(104)
    )
    assert nread == 3 and _ids(df) == list(range(100, 105))
    # a None bound is an error, with stats and without
    bare = str(tmp_path / "bare")
    lake.txn_multi_write(bare, {"corpus": _corpus(spark, 0, 5)})
    for c in (cat, bare):
        with pytest.raises(ValueError):
            lake.txn_table_read_pruned(spark, c, "corpus", "doc_id", None, 4)


def test_multi_sink_publishes_each_epoch_atomically(spark, tmp_path):
    """foreachBatch fan-out: one micro-batch -> corpus AND index in a
    single catalog commit; a replayed epoch (same app, same epoch id)
    is a no-op."""
    from pyspark.sql import functions as F

    cat = str(tmp_path / "cat")

    def splitter(df):
        return {
            "corpus": df.select("doc_id", "text"),
            "index": df.select("doc_id", (F.col("doc_id") % 7).alias("b")),
        }

    sink = lake.txn_multi_sink(cat, "pub", splitter)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    b1 = spark.createDataFrame([(3, "c")], "doc_id long, text string")
    sink(b0, 0)
    sink(b1, 1)
    sink(b0, 0)  # replay: no-op
    assert lake.txn_latest_version(cat) == 1
    assert _ids(lake.txn_table_read(spark, cat, "corpus")) == [1, 2, 3]
    assert _ids(lake.txn_table_read(spark, cat, "index")) == [1, 2, 3]
    # v0 snapshot is the epoch-0 publish, both tables together
    assert _ids(lake.txn_table_read(spark, cat, "corpus", 0)) == [1, 2]
    assert _ids(lake.txn_table_read(spark, cat, "index", 0)) == [1, 2]


def test_multi_sink_through_a_real_stream(spark, tmp_path):
    from pyspark.sql import functions as F

    cat = str(tmp_path / "cat")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    ).coalesce(1).write.json(src)

    def splitter(df):
        return {
            "corpus": df.select("doc_id", "text"),
            "index": df.select("doc_id", (F.col("doc_id") % 7).alias("b")),
        }

    sdf = spark.readStream.schema("doc_id long, text string").json(src)
    q = (
        sdf.writeStream.foreachBatch(lake.txn_multi_sink(cat, "s", splitter))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _ids(lake.txn_table_read(spark, cat, "corpus")) == [1, 2]
    assert _ids(lake.txn_table_read(spark, cat, "index")) == [1, 2]
    assert lake.txn_multi_history(cat)[0]["txn"] == ("s", 0)


def test_true_thread_race_appends_all_land(spark, tmp_path):
    """Four writers racing real threads on overlapping table sets:
    every append rebases and lands, versions are contiguous, and the
    final state is the union (no lost updates, no torn publishes)."""
    import threading

    cat = str(tmp_path / "cat")
    lake.txn_multi_write(
        cat, {"corpus": _corpus(spark, 0, 1), "index": _index(spark, 0, 1)}
    )
    errs = []

    def work(k):
        try:
            lake.txn_multi_write(
                cat,
                {
                    "corpus": _corpus(spark, 10 * k, 10 * k + 2),
                    "index": _index(spark, 10 * k, 10 * k + 2),
                },
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    ts = [threading.Thread(target=work, args=(k,)) for k in range(1, 5)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert lake.txn_latest_version(cat) == 4  # contiguous, all landed
    want = [0] + [10 * k + j for k in range(1, 5) for j in (0, 1)]
    assert _ids(lake.txn_table_read(spark, cat, "corpus")) == sorted(want)
    assert _ids(lake.txn_table_read(spark, cat, "index")) == sorted(want)
