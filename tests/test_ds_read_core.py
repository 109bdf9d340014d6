"""The one read core of the Python table sources (``format("txnlake")``,
``format("deltalog")``, ``format("iceberglog")``).

- Read tasks never touch the table log: every reader fixes its schema
  and per-file facts at planning, so ``read(partition)`` runs with
  the log-replay and metadata functions made to raise, and still
  returns exactly the rows of the function API (DV'd files included
  wherever the reader sees them).
- One per-file Arrow projection: typed nulls and row dropping appear
  in ``sources/*_ds.py`` only inside ``txnlake_ds._project_file``.
"""

from __future__ import annotations

import ast
import collections
import pathlib
import pickle

import pytest
from pyspark.sql import functions as F

import spark_cassandra_collabfiltering_spark as pkg
from spark_cassandra_collabfiltering_spark.sources import delta_interop as di
from spark_cassandra_collabfiltering_spark.sources import iceberg_interop as ice
from spark_cassandra_collabfiltering_spark.sources import lake
from spark_cassandra_collabfiltering_spark.sources.deltalog_ds import (
    DeltaLogDataSource,
)
from spark_cassandra_collabfiltering_spark.sources.iceberg_ds import (
    IcebergLogDataSource,
)
from spark_cassandra_collabfiltering_spark.sources.txnlake_ds import (
    TxnLakeDataSource,
)


def _d(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id",
        (F.col("id") * 2).alias("v"),
        (F.col("id") % 2).cast("int").alias("p"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _no_log(monkeypatch):
    """Make every log-replay and metadata entry point raise."""

    def boom(*_a, **_k):
        raise AssertionError("a read task touched the table log")

    for mod, name in [
        (lake, "_replay"),
        (lake, "_table_schema_json"),
        (lake, "txn_latest_version"),
        (di, "_replay_delta"),
        (ice, "iceberg_spark_schema"),
        (ice, "load_table_metadata"),
    ]:
        monkeypatch.setattr(mod, name, boom)


def _task_rows(reader, parts):
    """What the tasks emit: each partition (and the reader) crosses a
    pickle boundary, as it does on its way to an executor."""
    reader = pickle.loads(pickle.dumps(reader))
    rows = []
    for p in parts:
        for batch in reader.read(pickle.loads(pickle.dumps(p))):
            rows += [tuple(r.values()) for r in batch.to_pylist()]
    return sorted(rows)


def _stream_parts(reader):
    return reader.partitions(reader.initialOffset(), reader.latestOffset())


def test_txnlake_stream_tasks_read_without_the_log(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 12), root, partition_by=["p"],
                   stats_cols=["id"])  # v0
    lake.txn_write(_d(spark, 12, 16), root, stats_cols=["id"])  # v1
    appended = _rows(lake.txn_read(spark, root))
    lake.txn_delete_dv(spark, root, spark.range(0, 3).select("id"),
                       ["id"])  # v2: DVs on both partitions' v0 files
    lake.txn_merge(
        spark, root, spark.createDataFrame([(5, -5, 1)], "id long, v long, p int"),
        ["id"], stats_cols=["id"],
    )  # v3: rewrites a DV'd file (its deletes are masked)
    final = _rows(lake.txn_read(spark, root))

    plain_ds = TxnLakeDataSource({"root": root})
    plain = plain_ds.streamReader(plain_ds.schema())
    plain_parts = plain.partitions({"version": -1}, {"version": 1})
    cdf_ds = TxnLakeDataSource({"root": root, "readchangefeed": "true"})
    cdf = cdf_ds.streamReader(cdf_ds.schema())
    cdf_parts = _stream_parts(cdf)

    _no_log(monkeypatch)
    assert _task_rows(plain, plain_parts) == appended
    fold = collections.Counter()
    for *row, change, _version in _task_rows(cdf, cdf_parts):
        fold[tuple(row)] += 1 if change == "insert" else -1
    assert sorted(fold.elements()) == final
    assert all(n >= 0 for n in fold.values())


def test_delta_tasks_read_without_the_log(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 12), root, partition_by=["p"],
                   stats_cols=["id"])
    lake.txn_write(_d(spark, 12, 16), root, stats_cols=["id"])
    droot = str(tmp_path / "delta")
    di.delta_export(root, droot)
    appended = _rows(di.delta_read(spark, droot))
    lake.txn_delete_dv(spark, root, spark.range(0, 3).select("id"), ["id"])
    dv_root = str(tmp_path / "delta_dv")
    di.delta_export(root, dv_root)
    with_dvs = _rows(di.delta_read(spark, dv_root))
    assert len(with_dvs) == len(appended) - 3

    stream_ds = DeltaLogDataSource({"root": droot})
    stream = stream_ds.streamReader(stream_ds.schema())
    stream_parts = _stream_parts(stream)
    batch_ds = DeltaLogDataSource({"root": dv_root})
    batch = batch_ds.reader(batch_ds.schema())
    batch_parts = batch.partitions()
    assert any(p.dv_desc for p in batch_parts)

    _no_log(monkeypatch)
    assert _task_rows(stream, stream_parts) == appended
    assert _task_rows(batch, batch_parts) == with_dvs


@pytest.mark.parametrize("format_version", [2, 3])
def test_iceberg_tasks_read_without_the_log(
    spark, tmp_path, monkeypatch, format_version
):
    """v2 masks position-delete files, v3 Puffin deletion vectors."""
    root = str(tmp_path / "t")
    lake.txn_write(_d(spark, 0, 30).coalesce(2), root)
    iroot = str(tmp_path / "ice")
    ice.iceberg_export_incremental(root, iroot, format_version)
    lake.txn_write(_d(spark, 30, 40).coalesce(1), root)
    ice.iceberg_export_incremental(root, iroot, format_version)
    appended = _rows(ice.iceberg_read(spark, iroot))
    lake.txn_delete_dv(spark, root, spark.range(0, 9).select("id"), ["id"])
    ice.iceberg_export_incremental(root, iroot, format_version)
    with_deletes = _rows(ice.iceberg_read(spark, iroot))
    assert len(with_deletes) == len(appended) - 9

    ds = IcebergLogDataSource({"root": iroot})
    batch = ds.reader(ds.schema())
    batch_parts = batch.partitions()
    assert any(p.deletes for p in batch_parts)
    stream_ds = IcebergLogDataSource(
        {"root": iroot, "skipchangecommits": "true"}
    )
    stream = stream_ds.streamReader(stream_ds.schema())
    stream_parts = _stream_parts(stream)

    _no_log(monkeypatch)
    assert _task_rows(batch, batch_parts) == with_deletes
    assert _task_rows(stream, stream_parts) == appended


@pytest.mark.parametrize(
    "dead", [[], [0, 3, 3, 9], [-1, 2, 10, 10**6], list(range(10))]
)
def test_project_file_drops_like_the_row_loop(dead):
    """The keep-mask drops what the per-row loop it replaced dropped:
    duplicates once, positions outside [0, n) ignored, order kept;
    constants, cast file columns and typed nulls in schema order."""
    import datetime

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from spark_cassandra_collabfiltering_spark.sources.txnlake_ds import (
        _project_file,
    )

    n = 10
    tbl = pa.table({"phys_v": pa.array(range(n), type=pa.int32())})
    schema = T.StructType([
        T.StructField("d", T.DateType()),
        T.StructField("v", T.LongType()),
        T.StructField("added", T.StringType()),
    ])
    day = datetime.date(2024, 1, 2)
    for positions in (dead, np.asarray(dead, dtype=np.int64)):
        out = pa.Table.from_batches(list(_project_file(
            tbl, positions, schema, ["d", "phys_v", "added"], {"d": day}
        )), schema=pa.schema([("d", pa.date32()), ("v", pa.int64()),
                              ("added", pa.string())]))
        kept = [i for i in range(n) if i not in set(dead)]
        assert out.to_pydict() == {
            "d": [day] * len(kept), "v": kept, "added": [None] * len(kept),
        }


def _is_row_drop_loop(node) -> bool:
    """``[... for i in range(n) if i not in dead]``: a per-row Python
    scan for positions to drop."""
    return (
        isinstance(node, ast.ListComp)
        and any(
            isinstance(g.iter, ast.Call)
            and isinstance(g.iter.func, ast.Name)
            and g.iter.func.id == "range"
            and any(
                isinstance(c, ast.Compare)
                and any(isinstance(op, ast.NotIn) for op in c.ops)
                for c in g.ifs
            )
            for g in node.generators
        )
    )


def _is_pa_nulls(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "nulls"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "pa"
    )


def test_only_the_shared_projection_builds_columns():
    """Typed nulls and row dropping live in txnlake_ds._project_file
    alone, so the three formats share one per-file projection."""
    sources = pathlib.Path(pkg.__file__).parent / "sources"
    offenders = []
    for path in sorted(sources.glob("*_ds.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            and path.name == "txnlake_ds.py"
            and fn.name == "_project_file"
            for n in ast.walk(fn)
        }
        offenders += [
            f"{path.name}:{node.lineno}"
            for node in ast.walk(tree)
            if (_is_pa_nulls(node) or _is_row_drop_loop(node))
            and id(node) not in allowed
        ]
    assert not offenders, offenders
