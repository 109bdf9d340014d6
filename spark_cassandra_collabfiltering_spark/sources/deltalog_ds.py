"""The Delta interop reader as a NATIVE Spark data source (r8):

    spark.dataSource.register(DeltaLogDataSource)
    spark.read.format("deltalog").option("root", delta_root).load()
    ... .option("version", N)  # time travel

Read-only by design (writing Delta logs is delta_export's migration
job; this engine's writable table format is the native txn lake). The
same protocol adapter shape as ``format("txnlake")``
(sources/txnlake_ds.py): one input partition per live add-file, each
read executor-side via pyarrow with its deletion vector resolved and
masked IN the task; hive-stripped partition columns re-attach as
Arrow constants; column mapping's physical->logical rename happens at
batch construction — all through txnlake_ds's one per-file projection
(``_project_file``). ``pushFilters`` prunes the FILE LIST with the
lake's one skip rule (``txnlake_ds._prune_files``) over per-add
[min, max] stats built once at plan time from the adds' embedded
``stats`` plus [v, v] partition-value singletons — log arithmetic,
no footer opened — and returns every filter unhandled so Spark
re-applies them row-exactly above the scan. Pushdown is
SESSION-GATED exactly as in txnlake_ds.py (Spark 4 refuses
pushFilters readers unless ``spark.sql.python.filterPushdown.enabled``):
``DeltaLogDataSource`` returns the reader without pushFilters so a
vanilla session can always load; ``register_deltalog(spark)``
registers ``DeltaLogPushdownDataSource`` where the session allows.

All table-state logic lives in sources/delta_interop.py (log replay,
checkpoint seeding, protocol gate) and sources/delta_dv.py (the
RoaringBitmap codec); this module only adapts them to the
DataSourceReader protocol, so the two read surfaces can never
disagree about table state.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from spark_cassandra_collabfiltering_spark.sources import delta_dv, lake
from spark_cassandra_collabfiltering_spark.sources import delta_interop as di
from spark_cassandra_collabfiltering_spark.sources.txnlake_ds import (
    _project_file,
    _prune_files,
    _register_strongest,
)


class _DeltaFilePartition(InputPartition):
    def __init__(self, root, file, part_vals, dv_desc):
        self.root = root
        self.file = file  # absolute data-file path
        self.part_vals = part_vals  # {partition col: typed value | None}
        self.dv_desc = dv_desc  # deletionVector descriptor or None


def _add_partition(root, schema, part_cols, add) -> _DeltaFilePartition:
    """One add action as an input partition, its partition strings
    typed against the schema."""
    pv = add.get("partitionValues") or {}
    return _DeltaFilePartition(
        root,
        os.path.join(root, unquote(add["path"])),
        {
            f.name: di._typed_part_val(pv.get(f.name), f.dataType)
            for f in schema.fields
            if f.name in part_cols
        },
        add.get("deletionVector"),
    )


def _delta_file_to_batches(partition, schema: T.StructType):
    """One add-file to Arrow batches in logical-schema order: the
    Roaring DV's positions dropped, partition columns as constants,
    then each field's physical-name file column."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(partition.file)
    dead = (
        delta_dv.resolve_descriptor(partition.root, partition.dv_desc)
        if partition.dv_desc
        else ()
    )
    phys = [
        (f.metadata or {}).get(di._PHYS_KEY, f.name) for f in schema.fields
    ]
    yield from _project_file(tbl, dead, schema, phys, partition.part_vals)


class DeltaLogReader(DataSourceReader):
    def __init__(self, root: str, version: "int | None"):
        state, _v = di._replay_delta(root, version)
        self._schema = T.StructType.fromJson(
            json.loads(state.meta["schemaString"])
        )
        part_cols = list(state.meta.get("partitionColumns") or ())
        self._mapping = {
            f.name: (f.metadata or {}).get(di._PHYS_KEY, f.name)
            for f in self._schema.fields
        }
        # per add: its input partition and its [min, max] stats, keyed
        # the way _prune_files looks them up (the physical name);
        # partition values are exact [v, v] singletons
        self._parts: dict = {}
        self._stats: dict = {}
        for _, a in sorted(state.adds.items()):
            part = _add_partition(root, self._schema, part_cols, a)
            st = json.loads(a["stats"]) if a.get("stats") else {}
            lo = st.get("minValues") or {}
            hi = st.get("maxValues") or {}
            stats = {
                c: [lake._stat_val(lo[c]), lake._stat_val(hi[c])]
                for c in lo.keys() & hi.keys()
            }
            for c, v in part.part_vals.items():
                stats[self._mapping.get(c, c)] = [lake._stat_val(v)] * 2
            self._parts[part.file] = part
            self._stats[part.file] = stats
        self._files = list(self._parts)

    def partitions(self):
        return [self._parts[f] for f in self._files]

    def read(self, partition):
        yield from _delta_file_to_batches(partition, self._schema)


class DeltaLogPushdownReader(DeltaLogReader):
    """DeltaLogReader + Catalyst ``pushFilters`` file pruning — a
    subclass because Spark 4 refuses pushFilters readers in sessions
    where ``spark.sql.python.filterPushdown.enabled`` is false (the
    same session-gating as sources/txnlake_ds.py); selected by
    registering :class:`DeltaLogPushdownDataSource`
    (:func:`register_deltalog`)."""

    def pushFilters(self, filters):
        self._files = _prune_files(
            self._files, self._stats, self._mapping, filters
        )
        # file pruning never proves row truth: Spark re-applies all
        return filters


class DeltaLogStreamReader(DataSourceStreamReader):
    """Stream FROM a Delta table (the delta-as-a-streaming-source
    contract): offsets are log versions; micro-batch (start, end] =
    the data files the gap commits ADDED with ``dataChange: true``,
    one input partition per file, decoded executor-side. A commit
    that REWRITES data (removes with dataChange, or an add carrying a
    deletion vector) raises unless ``skipChangeCommits`` — exactly
    Delta's documented semantics; compaction commits (dataChange
    false) skip silently."""

    def __init__(
        self,
        root: str,
        skip_change_commits: bool,
        schema: "T.StructType | None" = None,
    ):
        self._root = root
        self._skip = skip_change_commits
        # fixed once at planning: read tasks never replay the log
        state, _ = di._replay_delta(root, None)
        self._schema = schema or T.StructType.fromJson(
            json.loads(state.meta["schemaString"])
        )
        self._part_cols = list(state.meta.get("partitionColumns") or ())

    def initialOffset(self):
        return {"version": -1}

    def latestOffset(self):
        latest = di.delta_latest_version(self._root)
        return {"version": latest if latest is not None else -1}

    def _actions(self, v: int) -> list:
        p = di._commit_path(self._root, v)
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"Delta commit v{v} missing (log truncated); restart "
                "the stream from a newer offset"
            )
        out = []
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out

    def _parts_for(self, v: int) -> list:
        acts = self._actions(v)
        adds = [a["add"] for a in acts if a.get("add")]
        removes = [a["remove"] for a in acts if a.get("remove")]
        changing = any(r.get("dataChange", True) for r in removes) or any(
            a.get("deletionVector") for a in adds
        )
        if changing:
            if self._skip:
                return []
            raise ValueError(
                f"streaming source hit a data-changing rewrite at "
                f"v{v}; this source streams APPEND-ONLY Delta tables "
                "— set skipChangeCommits to ignore rewrites"
            )
        # a data-changing add carries no DV here (that raised above)
        return [
            _add_partition(self._root, self._schema, self._part_cols, a)
            for a in adds
            if a.get("dataChange", True)
        ]

    def partitions(self, start, end):
        parts = []
        for v in range(start["version"] + 1, end["version"] + 1):
            parts += self._parts_for(v)
        return parts

    def read(self, partition):
        yield from _delta_file_to_batches(partition, self._schema)

    def commit(self, end):
        pass  # offsets are durable in the engine's checkpoint


class DeltaLogDataSource(DataSource):
    """format("deltalog") — options: root (required), version (time
    travel). Read-only."""

    @classmethod
    def name(cls):
        return "deltalog"

    def _root(self) -> str:
        root = self.options.get("root")
        if not root:
            raise ValueError("deltalog requires .option('root', <path>)")
        return root

    def schema(self):
        v = self.options.get("version")
        state, _ = di._replay_delta(
            self._root(), None if v is None else int(v)
        )
        return T.StructType.fromJson(json.loads(state.meta["schemaString"]))

    _reader = DeltaLogReader  # see register_deltalog

    def reader(self, schema):
        v = self.options.get("version")
        return self._reader(self._root(), None if v is None else int(v))

    def streamReader(self, schema):
        skip = str(
            self.options.get("skipchangecommits", "false")
        ).lower() in ("true", "1")
        return DeltaLogStreamReader(self._root(), skip, schema)

    def writer(self, schema, overwrite):
        raise NotImplementedError(
            "format('deltalog') is read-only interop; write through the "
            "native txn lake and delta_export, or a real Delta writer"
        )


class DeltaLogPushdownDataSource(DeltaLogDataSource):
    """format("deltalog") with the pushdown reader — register only
    where the session conf allows (use :func:`register_deltalog`)."""

    _reader = DeltaLogPushdownReader


def register_deltalog(spark) -> bool:
    """Register ``format("deltalog")`` with the strongest reader the
    session permits — same contract as
    :func:`~spark_cassandra_collabfiltering_spark.sources.txnlake_ds.register_txnlake`:
    enable ``spark.sql.python.filterPushdown.enabled`` at runtime and
    register the pushdown variant iff it took effect, else the
    portable variant (identical answers, no plan-time pruning).
    Returns True when pushdown is active."""
    return _register_strongest(
        spark, DeltaLogDataSource, DeltaLogPushdownDataSource
    )
