#!/usr/bin/env python
"""Measured txn-lake write-path scale proof (r7 cont.) — the lake
analog of the skew/bloom proofs: pruning and deletion vectors measured
against the brute-force alternative on the SAME data, one JVM.

Three contrasts on an N-row table laid out as F range-clustered files
(commit-embedded key stats), CDC batch of K keys:

1. MERGE file pruning: txn_merge rewrites only the files whose stats
   admit a source key vs a no-stats table (every file a victim).
   At a million files this gap is the difference between an upsert
   being a maintenance no-op and a table rewrite.
2. Deletion vector vs copy-on-write delete: txn_delete_dv writes a
   (file, pos) sidecar vs txn_merge(when_matched=delete) rewriting the
   victim files.
3. Clustered-read proof: point-range txn_read_pruned opens 1/F files.

Usage: python scripts/lake_merge_proof.py [rows] [files] [keys]
Prints one JSON line; numbers land in SCALING.md.
"""
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from spark_cassandra_collabfiltering_spark.operators.reuse import shared_subtree  # noqa: E402
from spark_cassandra_collabfiltering_spark.session import get_spark  # noqa: E402
from spark_cassandra_collabfiltering_spark.sources import lake  # noqa: E402


def timed(fn):
    t0 = time.monotonic()
    out = fn()
    return time.monotonic() - t0, out


def main():
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    nfiles = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    nkeys = int(sys.argv[3]) if len(sys.argv) > 3 else 500
    spark = get_spark(app_name="lake-merge-proof")
    base = spark.range(rows).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    # CDC batch: keys clustered in ONE file's range (the realistic
    # recent-partition shape) -> pruning should isolate ~1 file
    src = shared_subtree(spark.range(nkeys).select(
        (F.col("id") + rows - rows // nfiles // 2).alias("id"),
        F.lit(-1).cast("bigint").alias("v"),
        F.lit("upd").alias("pad"),
    ), eager=True)
    out = {"rows": rows, "files": nfiles, "keys": nkeys}

    work = tempfile.mkdtemp(prefix="lake_proof_")
    try:
        stats_root = os.path.join(work, "with_stats")
        plain_root = os.path.join(work, "no_stats")
        clustered = base.repartitionByRange(nfiles, "id").sortWithinPartitions("id")
        lake.txn_write(clustered, stats_root, stats_cols=["id"])
        lake.txn_write(clustered, plain_root)  # no add-file stats

        # untimed warm-up: one merge and one DV delete on a one-file
        # table holding the CDC keys' range, so the first timed call
        # does not pay the JVM's class loading, codegen and JIT alone
        warm_root = os.path.join(work, "warm")
        lake.txn_write(
            base.filter(F.col("id") >= rows - rows // nfiles).coalesce(1),
            warm_root, stats_cols=["id"],
        )
        lake.txn_merge(spark, warm_root, src, ["id"], stats_cols=["id"])
        lake.txn_delete_dv(spark, warm_root, src.select("id"), ["id"])

        t_pruned, (v1, rw1, tot1) = timed(
            lambda: lake.txn_merge(spark, stats_root, src, ["id"], stats_cols=["id"])
        )
        t_full, (v2, rw2, tot2) = timed(
            lambda: lake.txn_merge(spark, plain_root, src, ["id"])
        )
        out["merge_pruned_s"] = round(t_pruned, 2)
        out["merge_pruned_files"] = f"{rw1}/{tot1}"
        out["merge_unpruned_s"] = round(t_full, 2)
        out["merge_unpruned_files"] = f"{rw2}/{tot2}"
        out["merge_speedup"] = round(t_full / t_pruned, 2)

        # DV vs CoW delete on fresh identical tables. Tombstones are
        # SCATTERED (one key per file — the GDPR-purge shape): CoW must
        # rewrite every file; the DV writes one metadata-sized sidecar.
        dv_root = os.path.join(work, "dv")
        cow_root = os.path.join(work, "cow")
        lake.txn_write(clustered, dv_root, stats_cols=["id"])
        lake.txn_write(clustered, cow_root, stats_cols=["id"])
        keys = shared_subtree(spark.range(nkeys).select(
            (F.col("id") * (rows // nkeys)).alias("id")
        ), eager=True)
        t_dv, (_, ndel, _) = timed(
            lambda: lake.txn_delete_dv(spark, dv_root, keys, ["id"])
        )
        t_cow, _ = timed(
            lambda: lake.txn_merge(
                spark, cow_root, keys, ["id"],
                when_matched="delete", when_not_matched="ignore",
                stats_cols=["id"],
            )
        )
        out["delete_dv_s"] = round(t_dv, 2)
        out["delete_cow_s"] = round(t_cow, 2)
        out["delete_speedup"] = round(t_cow / t_dv, 2)
        out["dv_rows"] = ndel
        a = lake.txn_read(spark, dv_root).count()
        b = lake.txn_read(spark, cow_root).count()
        assert a == b == rows - ndel, (a, b)

        _, nread, ntotal = lake.txn_read_pruned(
            spark, stats_root, "id", 5, 10, version=0
        )
        out["point_read_files"] = f"{nread}/{ntotal}"

        # 4. Partition-layout read proof (r7 cont.): the same rows
        # written hive-partitioned on a 20-value column vs flat with
        # the values interleaved (id % 20 -> no row-group locality for
        # the flat scan to exploit). Reading ONE partition: exact
        # log-arithmetic pruning vs a full-table scan + filter.
        nparts = 20
        withp = base.withColumn(
            "p", (F.col("id") % nparts).cast("int")
        )
        part_root = os.path.join(work, "parted")
        flat_root = os.path.join(work, "flat")
        lake.txn_write(
            withp.repartitionByRange(nfiles, "p"), part_root,
            partition_by=["p"],
        )
        lake.txn_write(
            withp.repartitionByRange(nfiles, "id"), flat_root
        )

        def read_one_partition():
            df, nr, nt = lake.txn_read_partitioned(
                spark, part_root, {"p": 7}
            )
            return df.count(), nr, nt

        t_part, (c1, nr, nt) = timed(read_one_partition)
        t_flat, c2 = timed(
            lambda: lake.txn_read(spark, flat_root)
            .filter(F.col("p") == 7)
            .count()
        )
        assert c1 == c2, (c1, c2)
        out["partition_read_s"] = round(t_part, 2)
        out["partition_scan_s"] = round(t_flat, 2)
        out["partition_speedup"] = round(t_flat / t_part, 2)
        out["partition_files"] = f"{nr}/{nt}"

        # 5. RLE deletion-vector density proof: a DENSE contiguous
        # tombstone range (drop the oldest 30% — the retention shape)
        # costs one sidecar row per run, not per deleted row.
        rle_root = os.path.join(work, "rle")
        lake.txn_write(clustered, rle_root, stats_cols=["id"])
        dense = shared_subtree(
            spark.range(int(rows * 0.3)).select("id"), eager=True
        )
        t_rle, (vd, ndense, _) = timed(
            lambda: lake.txn_delete_dv(spark, rle_root, dense, ["id"])
        )
        sidecars = [
            p for sf, _t in lake._replay(rle_root, vd).dvs for p in sf
        ]
        side_rows = spark.read.parquet(*sidecars).count()
        side_bytes = sum(os.path.getsize(p) for p in sidecars)
        out["rle_dense_s"] = round(t_rle, 2)
        out["rle_deleted"] = ndense
        out["rle_sidecar_rows"] = side_rows
        out["rle_sidecar_bytes"] = side_bytes
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
