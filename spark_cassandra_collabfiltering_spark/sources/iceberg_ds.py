"""The Iceberg interop reader as a NATIVE Spark data source (r9):

    spark.dataSource.register(IcebergLogDataSource)
    spark.read.format("iceberglog").option("root", ice_root).load()
    ... .option("snapshot", N)   # time travel (snapshot id)
    spark.readStream.format("iceberglog").option("root", ice_root)

Read-only by design (writing Iceberg trees is iceberg_export's
migration job; this engine's writable table format is the native txn
lake) — the same protocol-adapter shape as ``format("deltalog")``
(sources/deltalog_ds.py): one input partition per live data file,
each decoded EXECUTOR-side via pyarrow with field-id column
resolution computed at plan time (one footer read per file, metadata
only) and its v2 position deletes masked IN the task — every task
reads only the delete files whose sequence number can reach it and
filters to its own manifest path, so no delete positions ever
materialize on the driver. ORC data files scan natively in
delete-free snapshots (name-based resolution — ORC carries no
PARQUET:field_id); equality deletes refuse toward
:func:`iceberg_interop.iceberg_read` (their null-safe anti-join is a
DataFrame shape, not a per-file mask).

The STREAMING source makes a growing Iceberg table a feed: offsets
are snapshot SEQUENCE NUMBERS; a micro-batch (start, end] is the data
files the in-range snapshots ADDED (the IncrementalAppendScan
contract — one partition per appended file). A non-append snapshot
(overwrite/delete churn) raises unless ``skipChangeCommits``, exactly
the posture real engines take when streaming from Iceberg. Composed
with ``writeStream.format("txnlake")`` this is continuous
foreign-Iceberg -> native-lake migration, exactly-once on both ends
(pinned in tests/test_iceberg_ds.py).

All table-state logic lives in sources/iceberg_interop.py (metadata
resolve, manifest decode through the from-scratch Avro reader,
sequence semantics); this module only adapts it to the
DataSourceReader protocol, so the two read surfaces can never
disagree about table state.
"""

from __future__ import annotations

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from spark_cassandra_collabfiltering_spark.sources import iceberg_interop as ice
from spark_cassandra_collabfiltering_spark.sources.txnlake_ds import _project_file


class _IceFilePartition(InputPartition):
    def __init__(self, file, fmt, sig, mf_path, seq, deletes):
        self.file = file        # absolute data-file path
        self.fmt = fmt          # "PARQUET" | "ORC"
        self.sig = sig          # per schema field: physical name | None
        self.mf_path = mf_path  # the manifest's exact path string
        self.seq = seq          # data sequence number
        # [("pos", seq, abs delete path) | ("dv", seq, abs puffin
        #  path, content_offset, content_size), ...]
        self.deletes = deletes


def _sig_for(abs_path: str, fmt: str, cur: dict, schema) -> tuple:
    """Field-id projection signature for one data file (parquet
    footers only; ORC resolves by name)."""
    if fmt == "ORC":
        return tuple(f.name for f in schema.fields)
    fmap = ice._file_field_ids(abs_path)
    if fmap is None:
        return tuple(f.name for f in schema.fields)
    ids = {f["name"]: f.get("id") for f in cur["fields"]}
    return tuple(fmap.get(ids.get(f.name)) for f in schema.fields)


def _ice_file_to_batches(partition, schema: T.StructType):
    """One data file to Arrow batches in current-schema order:
    position deletes dropped (delete files read IN the task, filtered
    to this file's manifest path, applied when delete seq >= data
    seq), each field projected from its field-id-resolved physical
    name, absent fields as typed nulls."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if partition.fmt == "ORC":
        from pyarrow import orc as pa_orc

        tbl = pa_orc.read_table(partition.file)
    else:
        tbl = pq.read_table(partition.file)
    dead = []
    for d in partition.deletes:
        if d[1] < partition.seq:
            continue  # applies only to data with seq <= delete seq
        if d[0] == "dv":
            # v3 deletion vector: a seek-read of one Puffin blob
            from . import puffin

            _, _, dpath, off, size = d
            dead.append(np.asarray(puffin.read_dv_blob(dpath, off, size),
                                   dtype=np.int64))
            continue
        dt = pq.read_table(d[2], columns=["file_path", "pos"])
        mask = pa.compute.equal(dt.column("file_path"),
                                pa.scalar(partition.mf_path))
        dead.append(
            dt.filter(mask).column("pos").cast(pa.int64())
            .to_numpy()
        )
    yield from _project_file(
        tbl, np.concatenate(dead) if dead else (), schema, partition.sig, {}
    )


def _snapshot_partitions(
    root: str, snapshot_id: "int | None", schema: T.StructType
) -> list:
    data, pos_del, eq_del = ice.snapshot_files(root, snapshot_id)
    if eq_del:
        raise ValueError(
            "format('iceberglog') does not apply equality deletes; "
            "use iceberg_read (their null-safe anti-join is a "
            "DataFrame shape, not a per-file mask)"
        )
    if pos_del and any(d.get("_fmt") == "ORC" for d in data):
        raise ValueError(
            "ORC data files are supported only in delete-free "
            "snapshots (no _metadata-free row identity to mask on)"
        )
    cur = ice._current_schema(ice.load_table_metadata(root))
    # delete descriptors: ("pos", seq, abs path) apply to every data
    # file (filtered on the manifest path at read); ("dv", seq, abs,
    # offset, size) attach only to their referenced file
    pos = [
        ("pos", int(d["_seq"]), d["_abs"])
        for d in pos_del if not d.get("_dv")
    ]
    dv_by_ref: dict = {}
    for d in pos_del:
        if d.get("_dv"):
            dv_by_ref.setdefault(d["referenced_data_file"], []).append(
                ("dv", int(d["_seq"]), d["_abs"],
                 int(d["content_offset"]),
                 int(d["content_size_in_bytes"]))
            )
    return [
        _IceFilePartition(
            d["_abs"],
            d.get("_fmt") or "PARQUET",
            _sig_for(d["_abs"], d.get("_fmt") or "PARQUET", cur, schema),
            d["file_path"],
            int(d["_seq"]),
            pos + dv_by_ref.get(d["file_path"], []),
        )
        for d in data
    ]


class IcebergLogReader(DataSourceReader):
    def __init__(
        self, root: str, snapshot_id: "int | None", schema: T.StructType
    ):
        self._root = root
        self._snapshot = snapshot_id
        self._schema = schema

    def partitions(self):
        return _snapshot_partitions(self._root, self._snapshot, self._schema)

    def read(self, partition):
        yield from _ice_file_to_batches(partition, self._schema)


class IcebergLogStreamReader(DataSourceStreamReader):
    """Stream FROM an Iceberg table: offsets are snapshot SEQUENCE
    numbers; each micro-batch reads exactly the files appended by the
    in-range snapshots. Non-append snapshots raise unless
    ``skipChangeCommits``."""

    def __init__(
        self, root: str, skip_change_commits: bool, schema: T.StructType
    ):
        self._root = root
        self._schema = schema
        self._skip = skip_change_commits

    def _snaps(self):
        meta = ice.load_table_metadata(self._root)
        return sorted(
            meta.get("snapshots") or [],
            key=lambda s: int(s.get("sequence-number") or 0),
        )

    def initialOffset(self):
        return {"seq": 0}

    def latestOffset(self):
        snaps = self._snaps()
        return {
            "seq": int(snaps[-1].get("sequence-number") or 0)
            if snaps else 0
        }

    def partitions(self, start, end):
        cur = ice._current_schema(ice.load_table_metadata(self._root))
        parts = []
        for s in self._snaps():
            seq = int(s.get("sequence-number") or 0)
            if not (start["seq"] < seq <= end["seq"]):
                continue
            op = (s.get("summary") or {}).get("operation", "append")
            if op != "append":
                if self._skip:
                    continue
                raise ValueError(
                    f"streaming source hit a {op!r} snapshot "
                    f"{s['snapshot-id']}; this source streams "
                    "APPEND-ONLY Iceberg tables — set skipChangeCommits "
                    "to ignore rewrites"
                )
            for d in ice._added_files(self._root, s):
                fmt = d.get("_fmt") or "PARQUET"
                parts.append(_IceFilePartition(
                    d["_abs"], fmt,
                    _sig_for(d["_abs"], fmt, cur, self._schema),
                    d["file_path"], seq, [],
                ))
        return parts

    def read(self, partition):
        yield from _ice_file_to_batches(partition, self._schema)

    def commit(self, end):
        pass  # offsets are durable in the engine's checkpoint


class IcebergLogDataSource(DataSource):
    """format("iceberglog") — options: root (required), snapshot
    (time travel), skipChangeCommits (streaming). Read-only."""

    @classmethod
    def name(cls):
        return "iceberglog"

    def _root(self) -> str:
        root = self.options.get("root")
        if not root:
            raise ValueError(
                "iceberglog requires .option('root', <path>)"
            )
        return root

    def schema(self):
        return ice.iceberg_spark_schema(self._root())

    def reader(self, schema):
        v = self.options.get("snapshot")
        return IcebergLogReader(
            self._root(), None if v is None else int(v), schema
        )

    def streamReader(self, schema):
        skip = str(
            self.options.get("skipchangecommits", "false")
        ).lower() in ("true", "1")
        return IcebergLogStreamReader(self._root(), skip, schema)

    def writer(self, schema, overwrite):
        raise NotImplementedError(
            "format('iceberglog') is read-only interop; write through "
            "the native txn lake and iceberg_export, or a real "
            "Iceberg writer"
        )
