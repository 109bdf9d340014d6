"""The transactional lake as a NATIVE Spark data source (r7 cont.):

    spark.dataSource.register(TxnLakeDataSource)
    spark.read.format("txnlake").option("root", root).load()
    spark.readStream.format("txnlake").option("root", root).load()
    df.write.format("txnlake").option("root", root).mode("append").save()

Built on Spark 4's Python DataSource API (pyspark.sql.datasource) so
the lake composes with the whole reader/writer surface instead of only
the ``lake.txn_*`` function API:

- **Batch read**: one input partition per live data file, each read
  executor-side via pyarrow (Arrow RecordBatches — no row-at-a-time
  Python). Deletion vectors are applied per file from the RLE
  sidecars; hive-stripped partition columns re-attach as Arrow
  constant arrays; files written before a schema evolution surface
  the added columns as nulls. That per-file projection,
  :func:`_project_file`, is shared with ``format("deltalog")`` and
  ``format("iceberglog")``; each format supplies only its deleted
  positions, its constants and each field's physical name.
- **Filter pushdown** (``pushFilters``): equality/range/In/IsNull
  filters reaching the source prune the FILE LIST through the same
  commit-embedded stats the function API uses (partition values are
  [v, v] singletons there, so partition pruning falls out). Every
  filter is returned as unhandled — file-level pruning never proves
  row-level truth, so Spark re-applies them above the scan; the
  pushdown's value is skipping whole files at plan time. Pushdown is
  SESSION-GATED: Spark 4 refuses any reader overriding pushFilters
  unless ``spark.sql.python.filterPushdown.enabled`` is true, so
  ``TxnLakeDataSource`` returns readers without it (portable to any
  session) and ``register_txnlake(spark)`` registers
  ``TxnLakePushdownDataSource`` instead where the session allows —
  the registration is the one place the reader is chosen. Answers
  never depend on the choice, only plan-time pruning does.
- **Streaming read**: offsets are LOG VERSIONS; each micro-batch's
  partitions are the data files the gap commits appended, read
  executor-side (a distributed DataSourceStreamReader, not the
  Simple variant) under the schema Spark passed to ``streamReader``
  — tasks never replay the log. Non-append commits raise unless
  ``skipChangeCommits`` is set — the Delta streaming-source contract.
- **Write**: the DataSourceWriter protocol maps 1:1 onto the lake's
  optimistic commit: tasks write parquet files under a fresh
  ``_data/<uuid>/`` and return their paths (+ per-file min/max for
  ``stats_cols`` computed from the Arrow table in-task), the driver's
  ``commit`` races the single log-entry create with the same rebase
  rules as ``txn_write``. Aborted jobs leave only invisible,
  vacuumable garbage. (Partitioned layouts still write through
  ``lake.txn_write(partition_by=...)``; the data source enforces the
  spec rather than silently flattening a partitioned table.)

Everything stateful lives in the log; the data source is a thin
protocol adapter over the same replay/commit functions, so the two
surfaces can never disagree about table state.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from spark_cassandra_collabfiltering_spark.sources import lake


def _arrow_type(dt):
    import pyarrow as pa

    mapping = {
        T.ByteType: pa.int8(),
        T.ShortType: pa.int16(),
        T.IntegerType: pa.int32(),
        T.LongType: pa.int64(),
        T.FloatType: pa.float32(),
        T.DoubleType: pa.float64(),
        T.StringType: pa.string(),
        T.BooleanType: pa.bool_(),
        T.DateType: pa.date32(),
        T.BinaryType: pa.binary(),
    }
    for k, v in mapping.items():
        if isinstance(dt, k):
            return v
    return None  # let pyarrow's native file type stand


class _FilePartition(InputPartition):
    def __init__(self, file, part_vals, dv_sidecars, take_sidecars=None,
                 extra=None):
        self.file = file
        # {spec col: hive string | None}, one key per spec column
        self.part_vals = part_vals
        self.dv_sidecars = dv_sidecars  # positions to EXCLUDE (masks)
        # positions to EMIT (change-feed delete rows); None = all-kept
        self.take_sidecars = take_sidecars
        self.extra = extra or {}  # {col: python value} constant columns


def _part_vals(state, f: str) -> dict:
    """File ``f``'s hive partition strings under ``state``'s spec: one
    key per spec column, None where the log records no value."""
    if state is None:
        return {}
    return {**dict.fromkeys(state.spec), **(state.parts.get(f) or {})}


def _project_file(tbl, dead, schema: T.StructType, phys: list, consts: dict):
    """The per-file read core of every Python table source: drop the
    ``dead`` row positions from one file's pyarrow table (positions
    outside [0, n) are ignored, row order is kept), then yield Arrow
    batches in ``schema`` order. Each field is its ``consts`` value, or
    the file column named ``phys[i]`` cast to the field's Arrow type,
    or typed nulls when the file lacks it (a pre-evolution file, a
    dropped-and-re-added column). The formats differ only in where
    ``dead``, ``phys`` and ``consts`` come from."""
    import numpy as np
    import pyarrow as pa

    if len(dead):
        # a vectorized keep-mask: no per-row Python on DV'd files
        dead = np.asarray(dead, dtype=np.int64)
        keep = np.ones(tbl.num_rows, dtype=bool)
        keep[dead[(dead >= 0) & (dead < tbl.num_rows)]] = False
        tbl = tbl.filter(pa.array(keep))
    n = tbl.num_rows
    arrays = []
    for f, p in zip(schema.fields, phys):
        at = _arrow_type(f.dataType)
        if f.name in consts:
            arrays.append(pa.array([consts[f.name]] * n, type=at))
        elif p is not None and p in tbl.column_names:
            col = tbl.column(p)
            if at is not None and col.type != at:
                col = col.cast(at)
            arrays.append(col)
        else:
            arrays.append(pa.nulls(n, type=at))
    yield from pa.table(arrays, names=schema.fieldNames()).to_batches()


def _file_to_batches(partition: "_FilePartition", schema: T.StructType):
    """One data file to Arrow batches in table-schema order: RLE DV
    positions dropped, ``extra`` constants first, then the file's own
    column (under column mapping the file carries the cm_phys name),
    then hive-stripped partition values."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(partition.file)
    none = np.empty(0, dtype=np.int64)

    def positions(sidecars):
        return lake._dv_positions([(sidecars, [partition.file])]).get(
            partition.file, none
        )

    dead = positions(partition.dv_sidecars)
    if partition.take_sidecars is not None:
        # change-feed delete rows: EMIT exactly these positions (minus
        # positions an earlier DV already hid)
        take = np.setdiff1d(positions(partition.take_sidecars), dead)
        tbl = tbl.take(pa.array(take[take < tbl.num_rows]))
        dead = none
    phys = [(f.metadata or {}).get("cm_phys", f.name) for f in schema.fields]
    consts = dict(partition.extra)
    for f, p in zip(schema.fields, phys):
        if (f.name not in consts and p not in tbl.column_names
                and p in partition.part_vals):
            consts[f.name] = lake._py_part_val(
                partition.part_vals[p], f.dataType
            )
    yield from _project_file(tbl, dead, schema, phys, consts)


def _prunable_bound(filters) -> dict:
    """Reduce pushed filters to per-column [lo, hi] bounds (In becomes
    min..max — file-granular, so the row filter above stays exact)."""
    bounds: dict = {}

    def tighten(col, lo, hi):
        c = bounds.setdefault(col, [None, None])
        if lo is not None and (c[0] is None or lo > c[0]):
            c[0] = lo
        if hi is not None and (c[1] is None or hi < c[1]):
            c[1] = hi

    for f in filters:
        col = f.attribute[-1] if isinstance(f.attribute, tuple) else f.attribute
        if isinstance(f, EqualTo):
            tighten(col, f.value, f.value)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            tighten(col, f.value, None)
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            tighten(col, None, f.value)
        elif isinstance(f, In) and f.values:
            vals = [v for v in f.values if v is not None]
            if vals:
                tighten(col, min(vals), max(vals))
    return bounds


def _prune_files(files, stats, mapping, filters):
    """File-level pruning through commit-embedded [min, max] stats,
    under the lake's one skip-only-on-proof rule
    (lake._files_in_range). Shared by the single-table and catalog
    pushdown readers."""
    bounds = _prunable_bound(filters)
    return lake._files_in_range(
        files, stats, {mapping.get(c, c): b for c, b in bounds.items()}
    )


class TxnLakeReader(DataSourceReader):
    """The SAFE reader: no ``pushFilters`` override, loadable from ANY
    session. Spark 4 hard-fails any reader that overrides pushFilters
    while ``spark.sql.python.filterPushdown.enabled`` is false (the
    default in a vanilla session), so pushdown lives in the
    :class:`TxnLakePushdownReader` subclass and is selected only when
    the session permits it — answers are identical either way (every
    filter is re-applied row-level above the scan); pushdown only
    adds plan-time file pruning."""

    def __init__(self, root: str, version: "int | None"):
        self._version = lake._resolve_version(root, version)
        self._state = lake._replay(root, self._version)
        tj = lake._table_schema_json(root, self._version)
        # column mapping is handled natively: the schema's cm_phys
        # field metadata drives the physical->logical rename in
        # _file_to_batches, and pushed filters translate to physical
        # names before consulting the (physically-keyed) stats
        self._mapping = lake._cm_mapping(tj) or {}
        self._schema = T.StructType.fromJson(json.loads(tj))
        self._files = list(self._state.files)

    def partitions(self):
        dv_map: dict = {}  # target file -> ALL sidecars that hit it
        for sf, tg in self._state.dvs:
            for t in tg:
                dv_map.setdefault(t, []).extend(sf)
        return [
            _FilePartition(
                f, _part_vals(self._state, f), dv_map.get(f, [])
            )
            for f in self._files
        ]

    def read(self, partition):
        yield from _file_to_batches(partition, self._schema)


class TxnLakePushdownReader(TxnLakeReader):
    """TxnLakeReader + Catalyst ``pushFilters`` file pruning. Kept as
    a SUBCLASS because Spark 4 raises [DATA_SOURCE_PUSHDOWN_DISABLED]
    for any reader overriding pushFilters in a session where
    ``spark.sql.python.filterPushdown.enabled`` is false — the base
    reader must stay loadable from a vanilla session. Selected by
    registering :class:`TxnLakePushdownDataSource`
    (:func:`register_txnlake`)."""

    def pushFilters(self, filters):
        self._files = _prune_files(
            self._files, self._state.stats, self._mapping, filters
        )
        # file-level pruning never proves row-level truth: hand every
        # filter back so Spark re-applies them above the scan
        return filters


class TxnCatalogReader(DataSourceReader):
    """Batch reader for ONE table of a multi-table catalog
    (txn_multi_write): .option("table", name) selects it, and
    .option("version", N) pins the CONSISTENT cross-table catalog
    snapshot — reading corpus and index with the same version option
    can never mix publishes. Same per-file Arrow partitions and
    pushed-filter file pruning as the single-table reader; catalogs
    carry no DVs or partition layouts by design, so the scan is the
    plain fast path."""

    def __init__(self, cat_root: str, table: str, version: "int | None"):
        v = lake._resolve_version(cat_root, version)
        state, _ = lake._cat_replay(cat_root, v)
        t = state.get(table)
        if t is None or not t["files"]:
            raise ValueError(f"table {table!r} is empty at version {v}")
        self._files = list(t["files"])
        self._stats = dict(t["stats"])
        self._schema = T.StructType.fromJson(json.loads(t["schema"]))

    def partitions(self):
        return [_FilePartition(f, {}, []) for f in self._files]

    def read(self, partition):
        yield from _file_to_batches(partition, self._schema)


class TxnCatalogPushdownReader(TxnCatalogReader):
    """TxnCatalogReader + ``pushFilters`` — same subclass split as
    :class:`TxnLakePushdownReader` (Spark 4 refuses pushFilters
    readers when the session conf is off)."""

    def pushFilters(self, filters):
        self._files = _prune_files(self._files, self._stats, {}, filters)
        return filters


def _cdf_schema(base: T.StructType) -> T.StructType:
    return T.StructType(
        list(base.fields)
        + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_version", T.LongType(), False),
        ]
    )


class TxnLakeStreamReader(DataSourceStreamReader):
    """Offsets are log versions: {"version": N} = everything up to and
    including commit N has been emitted. Default mode streams
    APPEND-ONLY tables: micro-batch (start, end] = the files appended
    by the gap commits, one input partition per file, read
    executor-side; non-append commits raise unless skipChangeCommits.

    ``readChangeFeed`` mode streams ROW-LEVEL CHANGES instead (output
    = table schema + _change_type + _commit_version): appends emit
    inserts, DV commits emit the newly-hidden rows as deletes,
    overwrites emit the prior snapshot as deletes plus the new files
    as inserts, compaction emits nothing — all per-file parallel.
    MERGE commits emit UNCANCELLED churn (every removed-file row as a
    delete + every added-file row as an insert at the same version):
    unlike the batch txn_changes, rewritten-but-identical rows are NOT
    cancelled via exceptAll — cancellation needs a cross-file set
    difference (a shuffle), which a per-partition source cannot run.
    Folding consumers (IVM, replicas: apply deletes then inserts per
    version) reach the identical end state; churn-COUNTING consumers
    should use the batch txn_changes."""

    def __init__(
        self, root: str, skip_change_commits: bool, cdf: bool,
        schema: T.StructType,
    ):
        self._root = root
        self._skip = skip_change_commits
        self._cdf = cdf
        self._schema = schema  # already carries the CDF columns

    def initialOffset(self):
        return {"version": -1}

    def latestOffset(self):
        latest = lake.txn_latest_version(self._root)
        return {"version": latest if latest is not None else -1}

    def _parts_for(self, v: int) -> list:
        lake._check_horizon(self._root, v)
        c = lake._read_commit(self._root, v)
        st = lake._replay(self._root, v)
        if not self._cdf:
            if c["op"] == "append":
                return [
                    _FilePartition(f, _part_vals(st, f), [])
                    for f in c["files"]
                ]
            if self._skip or c["op"] in ("dv", "meta"):
                # dv commits add no rows; meta commits (constraints,
                # column mapping DDL) change no rows at all; with
                # skipChangeCommits rewrites are silently skipped
                # (Delta's contract)
                return []
            raise ValueError(
                f"streaming source hit a {c['op']} commit at v{v}; "
                "this source streams APPEND-ONLY tables — set "
                "skipChangeCommits to ignore rewrites, or "
                "readChangeFeed to stream the churn itself"
            )
        # --- change-feed mode ---
        if c["op"] == "compact":
            return []
        prev = lake._replay(self._root, v - 1) if v > 0 else None

        def masks(state, f):
            return [
                p
                for sf, tg in (state.dvs if state else [])
                if f in tg
                for p in sf
            ]

        def ins(f, state):
            return _FilePartition(
                f, _part_vals(state, f), [],
                extra={"_change_type": "insert", "_commit_version": v},
            )

        def dele(f, state):
            return _FilePartition(
                f, _part_vals(state, f), masks(state, f),
                extra={"_change_type": "delete", "_commit_version": v},
            )

        parts: list = []
        if c["op"] == "append":
            parts += [ins(f, st) for f in c["files"]]
        elif c["op"] == "overwrite":
            parts += [dele(f, prev) for f in (prev.files if prev else [])]
            parts += [ins(f, st) for f in c["files"]]
        elif c["op"] == "merge":
            parts += [dele(f, prev) for f in c.get("removes", [])]
            parts += [ins(f, st) for f in c["files"]]
        elif c["op"] == "dv":
            for f in c["dv_for"]:
                parts.append(
                    _FilePartition(
                        f,
                        _part_vals(prev, f),
                        masks(prev, f),  # minus earlier-DV rows
                        take_sidecars=c["files"],
                        extra={
                            "_change_type": "delete",
                            "_commit_version": v,
                        },
                    )
                )
        return parts

    def partitions(self, start, end):
        parts = []
        for v in range(start["version"] + 1, end["version"] + 1):
            parts += self._parts_for(v)
        return parts

    def read(self, partition):
        yield from _file_to_batches(partition, self._schema)

    def commit(self, end):
        pass  # offsets are durable in the engine's checkpoint


class _TaskFiles(WriterCommitMessage):
    def __init__(self, files, stats):
        self.files = files
        self.stats = stats


def _map_sig(table_json, names):
    """Per written column: the PHYSICAL name the table schema binds it
    to (the logical name itself when mapping is off), or None when the
    column is absent from the schema. This is exactly the part of the
    table state that decides whether already-written task files still
    mean what the commit schema will say — captured at writer init and
    re-verified against the tip at commit time (the wm_cell contract
    txn_write has; ADVICE r7 #1)."""
    if table_json is None:
        return {c: None for c in names}
    fields = {
        f.name: f
        for f in T.StructType.fromJson(json.loads(table_json)).fields
    }
    return {
        c: (
            (fields[c].metadata or {}).get("cm_phys", c)
            if c in fields
            else None
        )
        for c in names
    }


def _verify_write_mapping(root, tip, schema, sig0):
    """Raise ConcurrentWriteConflict when a schema change landed
    between writer init and commit that remaps (or adds/removes) any
    written column — committing anyway would bind the already-written
    physical columns to the wrong logical names and every later read
    would project typed NULLs (silent data loss)."""
    tj = lake._table_schema_json(root, tip) if tip is not None else None
    names = [f.name for f in schema.fields]
    sig = _map_sig(tj, names)
    for c in names:
        if sig[c] != sig0[c]:
            raise lake.ConcurrentWriteConflict(
                f"concurrent schema change remapped column {c!r} "
                f"(physical {sig0[c]!r} -> {sig[c]!r}) between writer "
                "init and commit; the written files no longer match "
                "the table mapping"
            )


class TxnLakeWriter(DataSourceArrowWriter):
    def __init__(
        self,
        root: str,
        schema: T.StructType,
        overwrite: bool,
        stats_cols: list,
    ):
        self._root = root
        self._schema = schema
        self._mode = "overwrite" if overwrite else "append"
        self._stats_cols = stats_cols
        import uuid

        self._data_dir = os.path.join(root, "_data", uuid.uuid4().hex)
        os.makedirs(lake._log_dir(root), exist_ok=True)
        # read_version is noted commit-side (the commit loop reloads);
        # fail fast on spec/schema here, before executors do work
        read_v = lake.txn_latest_version(root)
        tj0 = (
            lake._table_schema_json(root, read_v)
            if read_v is not None
            else None
        )
        # tasks rename batches with the POST-commit mapping: an
        # overwrite that ADDS a column to a mapped table must write it
        # under the same fresh physical name the commit schema will
        # record, or every later read projects typed NULL (ADVICE r7
        # #1). Computed ONCE here so task files and commit schema can
        # never disagree; _map_sig + commit-time re-verify guard the
        # init->commit window against concurrent renames.
        if overwrite and lake._cm_mapping(tj0):
            self._commit_schema_json = lake._cm_overwrite_schema(tj0, schema)
            self._wmap = lake._cm_mapping(self._commit_schema_json) or {}
        else:
            self._commit_schema_json = None
            self._wmap = lake._cm_mapping(tj0) or {}
        self._sig0 = _map_sig(tj0, [f.name for f in schema.fields])
        if read_v is not None:
            state = lake._replay(root, read_v)
            if state.spec and self._mode == "append":
                raise ValueError(
                    "the txnlake data source writes flat layouts; this "
                    f"table is partitioned by {state.spec} — append "
                    "through lake.txn_write(partition_by=...) instead"
                )
            if state.constraints:
                # the writer cannot evaluate SQL CHECK expressions on
                # its Arrow task batches; refuse rather than bypass
                raise ValueError(
                    "this table has CHECK constraints "
                    f"{sorted(state.constraints)}; write through "
                    "lake.txn_write, which enforces them"
                )
            if self._mode == "append":
                lake._check_schema(
                    lake._table_schema_json(root, read_v), schema, False
                )

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches:
            return _TaskFiles([], {})
        tbl = pa.Table.from_batches(batches)
        wmap = getattr(self, "_wmap", {})
        if wmap:
            # mapped table: task batches arrive under LOGICAL names,
            # files must carry the stable PHYSICAL names
            tbl = tbl.rename_columns(
                [wmap.get(c, c) for c in tbl.column_names]
            )
        os.makedirs(self._data_dir, exist_ok=True)
        path = os.path.join(
            self._data_dir, f"part-{uuid.uuid4().hex}.parquet"
        )
        pq.write_table(tbl, path)
        stats = {}
        for c in self._stats_cols:
            c = wmap.get(c, c)  # add-file stats are physically keyed
            if c in tbl.column_names and tbl.num_rows:
                import pyarrow.compute as pc

                col = tbl.column(c)
                stats[c] = [
                    lake._stat_val(pc.min(col).as_py()),
                    lake._stat_val(pc.max(col).as_py()),
                ]
        return _TaskFiles([path], {path: stats} if stats else {})

    def commit(self, messages):
        files = sorted(f for m in messages for f in m.files)
        stats: dict = {}
        for m in messages:
            stats.update(m.stats)

        def schema_fn(tip):
            # the tip may have moved since writer init (the task files
            # are already on disk): refuse to bind them to a mapping
            # the tip no longer agrees with
            _verify_write_mapping(self._root, tip, self._schema, self._sig0)
            if self._mode == "overwrite":
                if self._commit_schema_json is not None:
                    # mapped overwrite: the schema the tasks actually
                    # wrote under (existing columns keep their physical
                    # names, added columns carry the fresh names the
                    # files hold) — verified above against the tip
                    return self._commit_schema_json
                tj = lake._table_schema_json(self._root, tip)
                if lake._cm_mapping(tj):
                    raise lake.ConcurrentWriteConflict(
                        "column mapping was enabled concurrently with "
                        "this overwrite; the written files carry plain "
                        "logical names"
                    )
                return self._schema.json()
            return lake._check_schema(
                lake._table_schema_json(self._root, tip),
                self._schema,
                False,
            )

        v = lake._txn_commit(
            self._root,
            self._mode,
            files,
            [],
            lake.txn_latest_version(self._root),
            None,
            stats or None,
            schema_fn,
            spec=[],
        )
        return v

    def abort(self, messages):
        pass  # uncommitted files are invisible; txn_vacuum reclaims


class TxnLakeStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("txnlake")`` — exactly-once by
    construction: each micro-batch commits with the idempotent txn key
    (txnApp option, batchId), so a batch replayed after a lost commit
    outcome (sink failure, driver restart from checkpoint) is a no-op
    instead of a duplicate append — the same (app, epoch) contract as
    lake.txn_stream_sink, carried natively through the engine's sink
    API instead of foreachBatch."""

    def __init__(self, root: str, schema: T.StructType, app: str):
        self._root = root
        self._schema = schema
        self._app = app
        import uuid

        self._data_dir = os.path.join(root, "_data", uuid.uuid4().hex)
        os.makedirs(lake._log_dir(root), exist_ok=True)
        read_v = lake.txn_latest_version(root)
        tj0 = (
            lake._table_schema_json(root, read_v)
            if read_v is not None
            else None
        )
        self._wmap = lake._cm_mapping(tj0) or {}
        self._sig0 = _map_sig(tj0, [f.name for f in schema.fields])
        if read_v is not None:
            state = lake._replay(root, read_v)
            if state.spec:
                raise ValueError(
                    "the txnlake stream writer writes flat layouts; "
                    f"this table is partitioned by {state.spec} — use "
                    "foreachBatch(lake.txn_cdc_sink/txn_stream_sink) "
                    "with lake.txn_write(partition_by=...) instead"
                )
            if state.constraints:
                raise ValueError(
                    "this table has CHECK constraints "
                    f"{sorted(state.constraints)}; sink through "
                    "foreachBatch(lake.txn_stream_sink), which routes "
                    "writes via the enforcing lake.txn_write"
                )
            lake._check_schema(
                lake._table_schema_json(root, read_v), schema, False
            )

    # tasks write exactly like the batch writer: parquet under the
    # pre-commit data dir, paths in the commit message
    write = TxnLakeWriter.write
    _stats_cols: list = []

    def commit(self, messages, batchId):
        read_v = lake.txn_latest_version(self._root)
        if read_v is not None and lake._txn_seen(
            self._root, read_v, self._app, int(batchId)
        ):
            return  # replayed batch: already committed; the fresh
            # task files are invisible garbage (txn_vacuum reclaims)
        files = sorted(f for m in messages if m is not None for f in m.files)

        def schema_fn(tip):
            # same init->commit remap guard as the batch writer: the
            # micro-batch's files were renamed with the init mapping
            _verify_write_mapping(self._root, tip, self._schema, self._sig0)
            return lake._check_schema(
                lake._table_schema_json(self._root, tip),
                self._schema,
                False,
            )

        lake._txn_commit(
            self._root,
            "append",
            files,
            [],
            lake.txn_latest_version(self._root),
            (self._app, int(batchId)),
            None,
            schema_fn,
            spec=[],
        )

    def abort(self, messages, batchId):
        pass  # uncommitted files are invisible; txn_vacuum reclaims


class TxnLakeDataSource(DataSource):
    """format("txnlake") — options: root (required), version (batch
    time travel), stats_cols (write: comma-separated add-file stats
    columns), skipChangeCommits (stream: skip rewrite commits)."""

    @classmethod
    def name(cls):
        return "txnlake"

    def _root(self) -> str:
        root = self.options.get("root")
        if not root:
            raise ValueError("txnlake requires .option('root', <path>)")
        return root

    def schema(self):
        root = self._root()
        v = lake._resolve_version(root, self._version())
        table = self.options.get("table")
        if table is not None:  # multi-table catalog member
            state, _ = lake._cat_replay(root, v)
            t = state.get(table)
            if t is None or t["schema"] is None:
                raise ValueError(f"table {table!r} unknown at version {v}")
            return T.StructType.fromJson(json.loads(t["schema"]))
        base = T.StructType.fromJson(
            json.loads(lake._table_schema_json(root, v))
        )
        if self._flag("readchangefeed"):
            return _cdf_schema(base)
        return base

    def _flag(self, key: str) -> bool:
        return str(self.options.get(key, "false")).lower() in ("true", "1")

    # (single-table, catalog) readers. Spark 4 only accepts pushFilters
    # readers when the session conf allows it, so the PORTABLE default
    # is the pushdown-free pair; register_txnlake() picks the class
    _readers = (TxnLakeReader, TxnCatalogReader)

    def _version(self) -> "int | None":
        v = self.options.get("version")
        return None if v is None else int(v)

    def reader(self, schema):
        v = self._version()
        table = self.options.get("table")
        lake_reader, cat_reader = self._readers
        if table is not None:
            return cat_reader(self._root(), table, v)
        return lake_reader(self._root(), v)

    def streamReader(self, schema):
        return TxnLakeStreamReader(
            self._root(),
            self._flag("skipchangecommits"),
            self._flag("readchangefeed"),
            schema,
        )

    def writer(self, schema, overwrite):
        cols = [
            c
            for c in self.options.get("stats_cols", "").split(",")
            if c.strip()
        ]
        return TxnLakeWriter(self._root(), schema, overwrite, cols)

    def streamWriter(self, schema, overwrite):
        if overwrite:
            raise ValueError(
                "txnlake stream writer is append-only (outputMode "
                "append); use foreachBatch + txn_cdc_sink for upserts"
            )
        app = self.options.get("txnapp", "txnlake_stream")
        return TxnLakeStreamWriter(self._root(), schema, app)


class TxnLakePushdownDataSource(TxnLakeDataSource):
    """Same ``format("txnlake")`` but reads use the pushdown readers.
    Register only in sessions where
    ``spark.sql.python.filterPushdown.enabled`` is true — use
    :func:`register_txnlake`, which matches the registration to the
    session."""

    _readers = (TxnLakePushdownReader, TxnCatalogPushdownReader)


_PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"


def _register_strongest(spark, portable, pushdown) -> bool:
    """Enable ``spark.sql.python.filterPushdown.enabled`` at runtime,
    then register ``pushdown`` iff it took effect, else ``portable``.
    Returns True when pushdown is active."""
    try:
        spark.conf.set(_PUSHDOWN_CONF, "true")
    except Exception:
        pass  # static/locked conf: fall through to read the value
    try:
        enabled = str(spark.conf.get(_PUSHDOWN_CONF)).lower() == "true"
    except Exception:
        enabled = False
    spark.dataSource.register(pushdown if enabled else portable)
    return enabled


def register_txnlake(spark) -> bool:
    """Register ``format("txnlake")`` with the strongest reader the
    SESSION permits. Spark 4 raises [DATA_SOURCE_PUSHDOWN_DISABLED]
    at plan time for any reader overriding pushFilters while
    ``spark.sql.python.filterPushdown.enabled`` is false, and that
    conf is a session default the lake must not assume (a vanilla
    session leaves it off). This enables the runtime conf, then
    registers the pushdown variant iff it took effect; otherwise the
    portable variant (identical answers, no plan-time file pruning).
    Returns True when pushdown is active. Plain
    ``spark.dataSource.register(TxnLakeDataSource)`` remains valid in
    ANY session."""
    return _register_strongest(
        spark, TxnLakeDataSource, TxnLakePushdownDataSource
    )
