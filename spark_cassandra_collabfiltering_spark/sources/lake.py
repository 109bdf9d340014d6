"""Lake layouts beyond the plain parquet directory: partitioned
datasets, bucketed tables, the z-order clustering key, and the
``txn_*`` transaction log (the repo's one versioned table format).

Scale rationale (the 100 TB story):

- **Partitioned writes** (`partitionBy`) give partition PRUNING: a
  filter on the partition column skips whole directories at plan time.
  The right partition key is low-cardinality and filter-aligned (dates,
  regions) — never a high-cardinality id (millions of tiny files).
- **Bucketed tables** (`bucketBy` + `saveAsTable`) pre-shuffle the data
  ONCE at write time: two tables bucketed on the same key into the same
  bucket count join with NO exchange on either side — the shuffle is
  amortized into the layout. This is the batch analog of co-located
  storage; `assert_no_shuffle_join` in tests proves the plan.
- **Z-order** (`zorder_key`) interleaves several dimensions into one
  sort key, so per-file min/max stats prune on any of them;
  ``txn_compact(zorder_dims=...)`` lays a table out on it.
- **The transaction log** (`txn_*`): atomic commits, time travel,
  compaction, stats pruning, change feed, vacuum (see its section).
"""

from __future__ import annotations

import os
import typing

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Write a parquet dataset partitioned by ``partition_cols``
    (hive-style key=value directories; filters on those columns prune
    at the source)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sort-within-bucket) table
    in the session catalog. Joins/aggregations on ``bucket_cols``
    between tables with identical bucketing need no shuffle; with
    ``sort_cols`` the sort side of a sort-merge join is free too.
    ``path`` makes it an external table at that location (the session
    warehouse dir is a static conf, fixed at JVM start)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def zorder_key(
    dims: list[tuple["str | F.Column", int, int]], bits: int = 8
) -> "F.Column":
    """Z-order (Morton) clustering key over D dimensions — the
    multi-column data-skipping layout Delta/Iceberg expose as
    ``OPTIMIZE ... ZORDER BY``: sort-by-zkey places rows so that EVERY
    dimension's values are locally clustered within a file, so parquet
    min/max footer stats prune files for filters on ANY of the
    dimensions (a plain sort clusters only its leading column).

    Each dim is (column, lo, hi): the value is range-bucketed into
    ``2^bits`` buckets with pure INTEGER arithmetic
    (clamp((v - lo) * 2^bits / (hi - lo + 1))) and the bucket bits are
    interleaved bucket-major (bit i of dim d lands at position
    i*D + d). All shifts/masks are JVM built-ins (whole-stage
    codegen'd, no shuffle, no UDF) and integer-exact — identical in
    any engine, so layouts are reproducible and oracle-checkable.
    Rows outside [lo, hi] clamp to the edge buckets (the standard
    z-order contract for stragglers).
    """
    from pyspark.sql import functions as F  # local: keep module import light

    n = 1 << bits
    d_count = len(dims)
    key = F.lit(0).cast("bigint")
    for d, (col, lo, hi) in enumerate(dims):
        c = F.col(col) if isinstance(col, str) else col
        span = int(hi) - int(lo) + 1
        # exact integer division (a - a%b)/b: the final double division
        # is of an exact multiple, so no float-floor boundary flip even
        # for spans near 2^31 (plain floor(a/b) can round across an
        # integer when 1/span is below one ulp of the quotient)
        scaled = (c.cast("bigint") - F.lit(int(lo))) * F.lit(n)
        bucket = ((scaled - scaled % F.lit(span)) / F.lit(span)).cast("bigint")
        bucket = F.least(F.lit(n - 1).cast("bigint"), F.greatest(F.lit(0).cast("bigint"), bucket))
        for i in range(bits):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1).cast("bigint"))
            key = key + F.shiftleft(bit, i * d_count + d)
    return key


# ---------------------------------------------------------------------------
# Transaction log with optimistic concurrency. The protocol is the
# Delta/Iceberg commit shape re-expressed over the one primitive
# every object store and POSIX FS gives you: atomic create-if-absent
# (O_CREAT|O_EXCL here; a conditional PUT on S3/GCS).
#
# Layout:
#   root/_log/<version 20-digit>.json   one IMMUTABLE commit per version
#   root/_data/<uuid>/part-*.parquet    data files, written before commit
#
# The log is the source of truth (no mutable manifest): version N is
# committed iff its log file exists; the table state is the replay of
# actions 0..N (append adds files, overwrite resets the file set).
# Writers never mutate data files, so an uncommitted write is invisible
# garbage, and readers pinned to version V are immune to later commits.
#
# Writer protocol (optimistic concurrency):
#   1. note the latest committed version R
#   2. write data files under a fresh _data/<uuid>/ (cannot conflict)
#   3. _publish _log/<R+1>.json (the one O_EXCL create in the package)
#   4. if it returns False somebody else won R+1: reload the log, apply
#      the CONFLICT RULES, and either retry at the new tip or raise —
#      at most COMMIT_RETRIES attempts, a fixed bound no caller sets
#
# Conflict rules (the Delta semantics, at FILE granularity):
#   - append  vs committed append     -> rebase, retry (disjoint files)
#   - append  vs committed compact    -> rebase, retry (the compact
#                                        rewrote files the append never
#                                        touched)
#   - compact vs committed append     -> rebase, retry (same reason)
#   - compact vs committed compact    -> rebase iff the two rewrote
#                                        DISJOINT file sets, else raise
#   - anything vs committed overwrite -> raise (the state you read is
#                                        gone)
#   - overwrite vs committed anything -> raise (you replaced a state
#                                        that no longer exists)
#
# Idempotent transactions: a commit may carry (txn_app, txn_run); a
# writer replaying the same (app, run) becomes a no-op — the
# exactly-once contract a streaming foreachBatch sink needs across
# restarts (batch id = run id). See txn_stream_sink.
#
# Checkpoints (the O(N)-replay fix, Delta's _last_checkpoint shape):
# every CHECKPOINT_EVERY commits the committing writer also writes
# _log/_checkpoint.<version>.json holding the fully-replayed state at
# that version (file list + seen txns). It is a DERIVABLE CACHE, not
# state: written to a temp name then os.replace'd (atomic), and any
# reader that misses it just replays more commits. State load is then
# O(CHECKPOINT_EVERY), not O(versions) — at one commit a minute a
# year-old table has ~500k commits, and a cold read must not scan
# them all.
# ---------------------------------------------------------------------------

CHECKPOINT_EVERY = 10

# Log protocol version (the Delta reader/writer-version shape): every
# commit records the protocol it was written under; a reader seeing a
# NEWER protocol than it supports must refuse loudly rather than
# misread state written under rules it does not know (the alternative
# — silently ignoring unknown commit fields — corrupts replay).
# History: 1 = everything through r7 (append/overwrite/compact/merge/
# dv/meta, partitions, RLE DVs, constraints). Commits WITHOUT a
# protocol field are protocol 1 (pre-versioning logs stay readable).
# 2 = schema-indirection features a plain first-footer scan would
# MISREAD, either of:
#   - column mapping (Delta "name" mode): data files carry STABLE
#     physical column names recorded as ``cm_phys`` field metadata in
#     the commit schema; readers must rename physical -> logical.
#   - materialized row ids: compact/merge on a row-tracked table
#     writes the internal ``__row_id`` column into rewritten files;
#     readers must strip it (a protocol-1 reader would surface it as
#     a user column).
# Only commits that carry either feature stamp 2 — plain tables keep
# writing protocol 1 logs, so a protocol-1 reader refuses exactly the
# logs it would misread and no others (the Delta reader-version bump).
# Checkpoints stamp the same protocol as the state they summarize, so
# an old reader starting from a checkpoint refuses there instead of
# silently replaying state written under rules it does not know.
PROTOCOL_VERSION = 1
CM_PROTOCOL = 2
ROWID_PROTOCOL = 2
MAX_READER_PROTOCOL = 2


class UnsupportedProtocol(RuntimeError):
    """The log contains commits written under a newer protocol than
    this reader supports — upgrade before reading."""


class ConcurrentWriteConflict(RuntimeError):
    """Raised when an optimistic commit cannot be rebased (overwrite
    involved on either side)."""


class SchemaMismatch(ValueError):
    """Raised when an append's schema diverges from the table schema
    and merge_schema was not requested (enforcement-by-default — the
    failure mode this prevents is a silent half-columned table that
    reads differently depending on which file Spark samples first)."""


class ConstraintViolation(ValueError):
    """Raised when a write's rows violate a table CHECK constraint —
    the write-boundary data-quality gate (bad rows never reach the
    table, instead of being discovered by a downstream scan)."""


class GeneratedColumnViolation(ValueError):
    """Raised when a write provides a generated column whose values
    disagree with the table's generation expression (the Delta
    invariant: a caller may omit the column — it is computed — or
    supply values that match EXACTLY; silently accepting divergent
    values would break derived-pruning proofs)."""


def _log_dir(root: str) -> str:
    return os.path.join(root, "_log")


def _committed_versions(root: str) -> list[int]:
    d = _log_dir(root)
    if not os.path.isdir(d):
        return []
    vs = sorted(
        int(f[:-5])
        for f in os.listdir(d)
        if f.endswith(".json") and not f.startswith("_")
    )
    # the log must be contiguous from 0 — O_EXCL at R+1 guarantees it
    assert vs == list(range(len(vs))), f"gapped log: {vs}"
    return vs


def _commit_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:020d}.json")


def _read_commit(root: str, version: int) -> dict:
    import json

    with open(_commit_path(root, version)) as fh:
        c = json.load(fh)
    if c.get("protocol", 1) > MAX_READER_PROTOCOL:
        raise UnsupportedProtocol(
            f"commit v{version} was written under protocol "
            f"{c['protocol']}; this reader supports <= {MAX_READER_PROTOCOL}"
        )
    return c


def txn_latest_version(root: str) -> int | None:
    """The latest committed version, or None when ``root`` has no log
    yet (what table creators and stream cursors need; everything else
    reads through _latest / _resolve_version)."""
    vs = _committed_versions(root)
    return vs[-1] if vs else None


# ---------------------------------------------------------------------------
# Log access: which version a call reads (_latest, _resolve_version),
# how a commit file lands (_publish), and how often a commit loop tries
# (COMMIT_RETRIES). Every txn_* reader, writer, data-source reader and
# exporter goes through these, so a bad version fails one way.
# ---------------------------------------------------------------------------

COMMIT_RETRIES = 20  # attempts per commit loop: first try + rebases


def _latest(root: str) -> int:
    """The latest committed version of an existing table or catalog."""
    latest = txn_latest_version(root)
    if latest is None:
        raise FileNotFoundError(f"no committed versions under {root}")
    return latest


def _horizon_path(root: str) -> str:
    return os.path.join(_log_dir(root), "_vacuum_horizon.json")


def _vacuum_horizon(root: str) -> int:
    """The retention horizon: versions BELOW it were vacuumed away and
    must refuse loudly instead of erroring on missing files. 0 = full
    history intact."""
    import json

    p = _horizon_path(root)
    if not os.path.exists(p):
        return 0
    with open(p) as fh:
        return json.load(fh)["version"]


def _check_horizon(root: str, version: int) -> None:
    h = _vacuum_horizon(root)
    if version < h:
        raise ValueError(
            f"version {version} is below the vacuum horizon {h}: its "
            "data files were reclaimed by txn_vacuum_retain and time "
            "travel there is gone (the log itself is kept for lineage)"
        )


def _resolve_version(root: str, version: "int | None") -> int:
    """The version a read pins: the latest when ``version`` is None.
    A version outside [0, latest] raises ValueError, and so does one
    below the vacuum horizon. Lists the log; never replays it."""
    latest = _latest(root)
    if version is None:
        return latest
    if not 0 <= version <= latest:
        raise ValueError(f"version {version} not in [0, {latest}]")
    _check_horizon(root, version)
    return version


def _publish(root: str, version: int, commit: dict) -> bool:
    """Create _log/<version>.json with create-if-absent semantics and
    fsync it before returning True; False when another writer already
    holds ``version`` (nothing is written then)."""
    import json

    try:
        fd = os.open(
            _commit_path(root, version), os.O_CREAT | os.O_EXCL | os.O_WRONLY
        )
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as fh:
        json.dump(commit, fh)
        fh.flush()
        os.fsync(fh.fileno())
    return True


def _apply_commit(files: list[str], c: dict) -> list[str]:
    if c["op"] == "overwrite":
        return list(c["files"])
    if c["op"] in ("compact", "merge"):
        rm = set(c["removes"])
        return [f for f in files if f not in rm] + list(c["files"])
    if c["op"] in ("dv", "meta"):
        return files  # sidecars-only / metadata-only: data files stay
    return files + list(c["files"])


def _checkpoint_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"_checkpoint.{version:020d}.json")


def _latest_checkpoint(root: str, at_or_below: int) -> "dict | None":
    """Newest checkpoint with version <= at_or_below, or None. A missing
    or torn checkpoint is never an error — replay covers for it."""
    import json

    d = _log_dir(root)
    if not os.path.isdir(d):
        return None
    best = None
    for f in os.listdir(d):
        if f.startswith("_checkpoint.") and f.endswith(".json"):
            v = int(f[len("_checkpoint."):-5])
            if v <= at_or_below and (best is None or v > best):
                best = v
    if best is None:
        return None
    try:
        with open(_checkpoint_path(root, best)) as fh:
            cp = json.load(fh)
    except (OSError, ValueError):  # torn/garbage cache: ignore it
        return None
    if cp.get("version") != best:
        return None
    if cp.get("protocol", 1) > MAX_READER_PROTOCOL:
        raise UnsupportedProtocol(
            f"checkpoint at v{best} summarizes state written under "
            f"protocol {cp['protocol']}; this reader supports <= "
            f"{MAX_READER_PROTOCOL}"
        )
    return cp


class _TableState(typing.NamedTuple):
    files: list
    txns: set
    stats: dict  # live file -> {col: [min, max]}
    file_schemas: dict  # live file -> schema json it was written under
    dvs: list  # active deletion vectors: [(sidecar_files, target_files)]
    parts: dict  # live file -> {partition col: hive string value | None}
    spec: list  # table partition spec (column names), [] = unpartitioned
    constraints: dict  # CHECK constraints: {name: sql expr}
    generated: dict  # generated columns: {col: generation sql expr}
    row_tracking: bool  # stable row ids enabled
    row_bases: dict  # live file -> first row id (fresh-id files)
    row_hwm: int  # row-id high-water mark (never reused, monotone)


class _ReplayCursor:
    """Incremental replay: apply commits ONE at a time and snapshot
    the state after any of them. ``_replay(root, v)`` is the one-shot
    wrapper; whole-history walkers (delta_export's history mode) hold
    a cursor instead, turning an O(V^2) re-replay-per-version loop
    into a single O(V) pass. The application logic lives here ONCE —
    the wrapper and the cursor can never disagree."""

    def __init__(self, root: str, start_version: int = -1):
        """Seed from the newest checkpoint at or below
        ``start_version`` (pass -1 for a from-empty walk)."""
        self.files: list[str] = []
        self.txns: set[tuple] = set()
        self.stats: dict = {}
        self.fschema: dict = {}
        self.dvs: list = []
        self.parts: dict = {}
        self.spec: list = []
        self.constraints: dict = {}
        self.generated: dict = {}
        self.row_tracking = False
        self.row_bases: dict = {}
        self.row_hwm = 0
        self._root = root
        self.next_version = 0
        cp = (
            _latest_checkpoint(root, start_version)
            if start_version >= 0
            else None
        )
        if cp is not None:
            self.files = list(cp["files"])
            self.txns = {tuple(t) for t in cp["txns"]}
            self.stats = dict(cp.get("stats", {}))
            self.fschema = dict(cp.get("file_schemas", {}))
            self.dvs = [tuple(d) for d in cp.get("dvs", [])]
            self.parts = dict(cp.get("parts", {}))
            self.spec = list(cp.get("spec", []))
            self.constraints = dict(cp.get("constraints", {}))
            self.generated = dict(cp.get("generated", {}))
            self.row_tracking = bool(cp.get("row_tracking", False))
            self.row_bases = dict(cp.get("row_bases", {}))
            self.row_hwm = int(cp.get("row_hwm", 0))
            self.next_version = cp["version"] + 1

    def apply(self, c: dict) -> None:
        """Apply one commit dict (the next version's)."""
        self.files = _apply_commit(self.files, c)
        self.stats.update(c.get("stats", {}))
        self.parts.update(c.get("partitions", {}))
        if "partition_by" in c:
            self.spec = list(c["partition_by"])
        if "constraints" in c:  # meta commits carry the FULL map
            self.constraints = dict(c["constraints"])
        if "generated" in c:  # creation/overwrite carries the FULL map
            self.generated = dict(c["generated"])
        if "row_tracking" in c:
            self.row_tracking = bool(c["row_tracking"])
        if "row_bases" in c:
            self.row_bases.update(c["row_bases"])
        if "row_hwm" in c:  # allocators stamp the new high-water mark
            self.row_hwm = max(self.row_hwm, int(c["row_hwm"]))
        if c["op"] == "overwrite":
            # an overwrite (incl. RESTORE) defines a COMPLETE state:
            # prior DVs belong to the replaced history, and must not
            # re-attach just because a restore reuses file paths
            self.dvs = []
        if c["op"] == "dv":
            self.dvs.append((list(c["files"]), list(c["dv_for"])))
        if "schema" in c:
            for f in c["files"]:
                self.fschema[f] = c["schema"]
        if "txn_app" in c:
            self.txns.add((c["txn_app"], c["txn_run"]))
        self.next_version += 1

    def advance_to(self, version: int) -> None:
        while self.next_version <= version:
            self.apply(_read_commit(self._root, self.next_version))

    def state(self) -> _TableState:
        """A live-filtered snapshot of the current state (does not
        mutate the cursor — keep advancing after)."""
        live = set(self.files)
        # a DV whose every target was rewritten (compact/merge/
        # overwrite) is inert — its positions reference dead files
        dvs = [
            (sf, [t for t in tg if t in live])
            for sf, tg in self.dvs
            if set(tg) & live
        ]
        return _TableState(
            list(self.files),
            set(self.txns),
            {f: s for f, s in self.stats.items() if f in live},
            {f: s for f, s in self.fschema.items() if f in live},
            dvs,
            {f: p for f, p in self.parts.items() if f in live},
            list(self.spec),
            dict(self.constraints),
            dict(self.generated),
            self.row_tracking,
            {f: b for f, b in self.row_bases.items() if f in live},
            self.row_hwm,
        )


def _replay(root: str, version: int) -> _TableState:
    """State at ``version``: live file list, seen (app, run) txns,
    per-file min/max stats, the schema each live file was written
    under (drives the read-side mergeSchema decision), the active
    deletion vectors, and the partition layout (spec + per-file
    partition values). Starts from the newest checkpoint at or below
    ``version``."""
    cur = _ReplayCursor(root, start_version=version)
    cur.advance_to(version)
    return cur.state()


def _txn_state(root: str, version: int) -> list[str]:
    return _replay(root, version)[0]


def _txn_seen(root: str, latest: int, app: str, run: int) -> bool:
    return (app, run) in _replay(root, latest)[1]


def _maybe_checkpoint(root: str, version: int) -> None:
    """Best-effort checkpoint after a commit at a multiple of
    CHECKPOINT_EVERY. Atomic via temp + rename; failure is harmless
    (readers replay)."""
    import json
    import uuid

    if version == 0 or version % CHECKPOINT_EVERY != 0:
        return
    st = _replay(root, version)
    # the checkpoint carries the protocol of the state it summarizes:
    # a row-tracked state may hold materialized-__row_id files (even
    # without mapping), and an old reader starting HERE would never
    # see the protocol-2 commit that wrote them
    proto = max(
        _commit_protocol(_table_schema_json(root, version)),
        ROWID_PROTOCOL if st.row_tracking else PROTOCOL_VERSION,
    )
    tmp = _checkpoint_path(root, version) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(
            {"version": version, "protocol": proto,
             "files": st.files,
             "txns": sorted(list(t) for t in st.txns), "stats": st.stats,
             "file_schemas": st.file_schemas,
             "dvs": [list(d) for d in st.dvs],
             "parts": st.parts, "spec": st.spec,
             "constraints": st.constraints,
             "generated": st.generated,
             "row_tracking": st.row_tracking,
             "row_bases": st.row_bases,
             "row_hwm": st.row_hwm},
            fh,
        )
    os.replace(tmp, _checkpoint_path(root, version))


def _write_data_files(
    df: DataFrame,
    root: str,
    bloom_cols: "list[str] | None" = None,
    partition_by: "list[str] | None" = None,
) -> list[str]:
    """Write ``df`` under a fresh _data/<uuid>/ — data files first, so
    that without a log entry they are invisible garbage, never a torn
    table state. ``bloom_cols`` embeds parquet FOOTER bloom filters
    for those columns: the layer BELOW add-file stats — min/max skip
    whole files, the footer bloom then kills point lookups inside the
    files that survive (a needle key in a 100 TB table touches the
    bloom'd row groups only). Readers need no cooperation; the parquet
    reader consults blooms under the pushed filter automatically.
    ``partition_by`` lays the files out hive-style
    (``col=value/part-*.parquet``); partition columns are stripped
    from the data files (the standard hive contract) and recovered
    from the recorded per-file partition values at read time."""
    import uuid

    data_dir = os.path.join(root, "_data", uuid.uuid4().hex)
    w = df.write.mode("error")
    for c in bloom_cols or ():
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(data_dir)
    out = []
    for dirpath, _dirs, fnames in os.walk(data_dir):
        out += [
            os.path.join(dirpath, f)
            for f in fnames
            if f.endswith(".parquet")
        ]
    # Spark tasks with no rows still emit empty part files; committing
    # them bloats the log and every replayed file list with entries
    # that can never matter — drop them here (footer read only), so a
    # commit's file list is exactly its data
    kept = []
    for f in sorted(out):
        try:
            import pyarrow.parquet as pq

            empty = pq.ParquetFile(f).metadata.num_rows == 0
        except Exception:
            empty = False  # unreadable -> keep; readers will surface it
        if empty:
            os.remove(f)
        else:
            kept.append(f)
    return kept


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# partition columns must be types whose hive path encoding round-trips
# exactly (the same restriction real table formats apply in spirit:
# a partition value IS an equality proof, so lossy encodings are out)
_PART_OK_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType,
    T.BooleanType, T.DateType,
)


def _parse_part_vals(files: list[str], spec: list[str]) -> dict:
    """Per-file partition values parsed back out of the hive-style
    ``col=value`` path segments Spark wrote — {file: {col: str | None}}.
    Values stay in their URL-decoded STRING form (the authoritative
    layout record); typing happens against the table schema at use."""
    from urllib.parse import unquote

    out: dict[str, dict] = {}
    for f in files:
        vals: dict[str, "str | None"] = {}
        for seg in f.split(os.sep):
            if "=" not in seg:
                continue
            k, _, v = seg.partition("=")
            if k in spec:
                vals[k] = None if v == _HIVE_NULL else unquote(v)
        missing = [c for c in spec if c not in vals]
        assert not missing, f"file {f} lacks partition segments {missing}"
        out[f] = vals
    return out


_URI_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "/;:@&=+$,-_.!~*'()"
)


def _uri_path(path: str) -> str:
    """A filesystem path in the exact form Spark's ``_metadata.
    file_path`` / ``input_file_name`` report it (scheme stripped):
    the JVM percent-encodes ASCII outside the RFC 2396 path set
    (space, %, #, ?, |, `, [, ]...) but keeps ``;`` and non-ASCII
    literal — verified empirically against partition directories
    carrying every such character. Joining log paths (raw os.walk
    strings) against scan-side paths MUST go through this, or files
    under ``col=a b/`` silently stop matching their recorded
    partition values and stats."""
    return "".join(
        c if (ord(c) > 127 or c in _URI_SAFE) else f"%{ord(c):02X}"
        for c in path
    )


def _py_part_val(sval: "str | None", dtype):
    """A hive partition string back to the python value of its table
    type (int/long/short/byte, string, boolean, date). Write-time
    validation (_check_partition_spec) guarantees the type is one of
    these."""
    import datetime

    if sval is None:
        return None
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(sval)
    if isinstance(dtype, T.BooleanType):
        return sval.lower() == "true"
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(sval)
    return sval


def _part_stats(parts: dict, spec: list[str], types: dict) -> dict:
    """Exact [v, v] singleton stats from partition values, typed per
    the table schema then canonicalized like any add-file stat. Folding
    these into the commit's stats dict is what makes EVERY existing
    pruning path (range reads, merge victim pruning, DV pruning,
    serializable conflict checks) partition-aware with no extra code:
    a partition value is just a maximally-tight min==max range."""
    out: dict[str, dict] = {}
    for f, vals in parts.items():
        st = {}
        for c in spec:
            v = _stat_val(_py_part_val(vals[c], types[c]))
            st[c] = [v, v]
        out[f] = st
    return out


def _stat_val(v):
    """Canonicalize a min/max stat (or a pruning bound) to a JSON-safe,
    ORDER-PRESERVING value: dates/timestamps become ISO strings (ISO
    sorts chronologically, including the no-microseconds short form by
    prefix order), JSON primitives pass through, and anything else
    (Decimal, bytes, structs) becomes None — no proof, never pruned
    (the skip-only-on-proof contract, same as an all-null chunk)."""
    import datetime
    import math

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        # Spark sorts NaN greatest, so ONE NaN row poisons max(); a
        # NaN bound compares False against everything in Python and
        # would WRONGLY prune a file that also holds in-range rows
        return None
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return None


def _files_in_range(files: list, stats: dict, bounds: dict) -> list:
    """The file-skip rule of every txn_* range read: keep each of
    ``files`` unless its commit-embedded [min, max] for some column of
    ``bounds`` ({stats column: (lo, hi)}) PROVABLY misses that range.
    Skip only on proof: a file with no stats for the column, or a None
    min/max (all-null chunk, NaN), is kept, and a bound that
    _stat_val turns into None (absent, NaN, Decimal) leaves that side
    unbounded."""
    canon = {c: (_stat_val(lo), _stat_val(hi)) for c, (lo, hi) in bounds.items()}
    keep = []
    for f in files:
        st = stats.get(f, {})
        for c, (lo, hi) in canon.items():
            mn, mx = st.get(c) or (None, None)
            if mn is None or mx is None:
                continue
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                break
        else:
            keep.append(f)
    return keep


def _require_range(lo, hi) -> None:
    """A range read needs both bounds: ``col >= NULL`` is never true,
    so a None bound would return a silent empty result."""
    if lo is None or hi is None:
        raise ValueError(f"range bounds must not be None, got {lo!r}..{hi!r}")


def _pruned_read(read, files: list, keep: list, residual) -> tuple:
    """The tail of every pruned read: ``read(paths) -> DataFrame`` over
    the surviving ``keep`` files (over all ``files`` filtered to
    nothing when none survive, so the empty result keeps the table
    schema), the ``residual`` row filter on top, and
    (df, files_read, files_total)."""
    from pyspark.sql import functions as F

    df = read(keep) if keep else read(files).filter(F.lit(False))
    return df.filter(residual), len(keep), len(files)


def _collect_file_stats(
    spark: SparkSession, files: list[str], stats_cols: list[str]
) -> dict:
    """Per-file min/max for ``stats_cols`` over freshly-written data
    files, keyed by FULL path (txn data dirs are uuid-fresh, so
    basenames like part-00000 repeat across commits). One columnar
    scan reading only ``stats_cols`` — the add-file stats a commit
    embeds so readers skip files without opening them (the Delta
    add-file / Iceberg manifest-stats shape)."""
    from pyspark.sql import functions as F

    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    rows = (
        spark.read.parquet(*files)
        .groupBy(
            F.regexp_replace(F.input_file_name(), "^file:(//)?", "").alias("_f")
        )
        .agg(*aggs)
        .collect()
    )
    # input_file_name reports URI-encoded paths; commit file lists are
    # raw filesystem strings — translate back so stats keys match
    dec = {_uri_path(f): f for f in files}
    return {
        dec.get(r["_f"], r["_f"]): {
            c: [_stat_val(r[f"min_{c}"]), _stat_val(r[f"max_{c}"])]
            for c in stats_cols
        }
        for r in rows
    }


def _table_schema_json(root: str, version: "int | None") -> "str | None":
    """The table schema recorded at ``version`` (every commit stores the
    post-commit table schema). None for an empty table or a legacy log
    written before schemas were recorded."""
    if version is None:
        return None
    return _read_commit(root, version).get("schema")


def _check_schema(
    table_json: "str | None",
    df_schema: T.StructType,
    merge: bool,
    fresh: "dict | None" = None,
) -> str:
    """Enforcement-by-default: an append must match the table schema
    (name -> type, order- and nullability-insensitive). With
    ``merge`` new columns are allowed (schema evolution); a TYPE
    change never is. Returns the post-commit table schema json.
    ``fresh`` memoizes the physical names assigned to evolved columns
    under column mapping, so a commit rebase re-running this check
    keeps the names its data files were already written with."""
    import json

    if table_json is None:
        return df_schema.json()
    table = T.StructType.fromJson(json.loads(table_json))
    have = {f.name: f.dataType for f in table.fields}
    new = {f.name: f.dataType for f in df_schema.fields}
    changed = sorted(
        n for n, t in new.items() if n in have and have[n] != t
    )
    if changed:
        raise SchemaMismatch(
            f"column type changed for {changed}; type changes require "
            "an explicit overwrite"
        )
    added = sorted(set(new) - set(have))
    missing = sorted(set(have) - set(new))
    if (added or missing) and not merge:
        raise SchemaMismatch(
            f"append schema diverges from table (new columns {added}, "
            f"absent columns {missing}); pass merge_schema=True to evolve"
        )
    if not added:
        return table_json
    mapped = _cm_mapping(table_json) is not None
    evolved = T.StructType(
        list(table.fields)
        + [
            # under column mapping an added field is born with a fresh
            # physical name — never one a dropped column used to own
            T.StructField(
                n,
                new[n],
                nullable=True,
                metadata=(
                    {
                        "cm_phys": (
                            fresh if fresh is not None else {}
                        ).setdefault(n, _cm_fresh_phys())
                    }
                    if mapped
                    else None
                ),
            )
            for n in added
        ]
    )
    return evolved.json()


def _txn_commit(
    root: str,
    op: str,
    files: list[str],
    removes: list[str],
    read_v: "int | None",
    txn: "tuple[str, int] | None",
    stats: "dict | None" = None,
    schema_fn=None,
    extra_conflict=None,
    parts: "dict | None" = None,
    spec: "list | None" = None,
    extra_commit: "dict | None" = None,
    min_protocol: int = PROTOCOL_VERSION,
) -> "int | None":
    """The optimistic commit loop shared by write, compact and merge:
    try to _publish version R+1; on loss, apply the
    file-granularity conflict rules against the gap commits and rebase
    or raise. ``schema_fn(tip)`` computes the post-commit table schema
    against the CURRENT tip — re-run after every rebase, so a schema
    check races correctly against a concurrent evolution.
    ``extra_conflict(won_commit)`` (optional) returns a reason string
    when a gap commit invalidates this one under a stricter isolation
    level (merge's serializable mode) — evaluated per gap commit on
    every rebase."""
    attempt_v = (read_v if read_v is not None else -1) + 1
    schema_json = schema_fn(read_v) if schema_fn is not None else None
    for _ in range(COMMIT_RETRIES):
        commit = {
            "version": attempt_v,
            "op": op,
            "files": files,
            "read_version": read_v,
            # min_protocol lets ops whose FILES need a newer reader
            # (materialized __row_id) stamp it even when the schema
            # alone would not
            "protocol": max(_commit_protocol(schema_json), min_protocol),
        }
        if schema_json is not None:
            commit["schema"] = schema_json
        if op in ("compact", "merge"):
            commit["removes"] = removes
        elif op == "dv":
            commit["dv_for"] = removes  # touched, not removed
        if stats is not None:
            commit["stats"] = stats
        if parts is not None:
            commit["partitions"] = parts
        if spec is not None:
            # recorded even when [] — an overwrite/RESTORE may reset a
            # partitioned table to an unpartitioned state
            commit["partition_by"] = list(spec)
        if extra_commit:
            # a CALLABLE recomputes per rebase attempt against the tip
            # it actually lands on (row-id base allocation must not
            # overlap a gap commit's ranges)
            tip = attempt_v - 1 if attempt_v > 0 else None
            extra = extra_commit(tip) if callable(extra_commit) else extra_commit
            if extra:
                commit.update(extra)
        if txn is not None:
            commit["txn_app"], commit["txn_run"] = txn[0], txn[1]
        if _publish(root, attempt_v, commit):
            _maybe_checkpoint(root, attempt_v)
            return attempt_v
        # lost the race: reload, check conflict rules, rebase
        new_latest = txn_latest_version(root)
        assert new_latest is not None and new_latest >= attempt_v
        if txn is not None and _txn_seen(root, new_latest, *txn):
            return None  # our own replay won via another writer
        if op == "overwrite":
            raise ConcurrentWriteConflict(
                f"overwrite lost the race at v{attempt_v}: the state "
                "it replaces no longer exists"
            )
        for v in range(attempt_v, new_latest + 1):
            won = _read_commit(root, v)
            if won["op"] == "overwrite":
                raise ConcurrentWriteConflict(
                    f"{op} rebased across an overwrite at v{v}"
                )
            # compact/merge REWRITE files; dv pins ROW POSITIONS in
            # files. Any two of them touching the same file conflict
            # (a rewrite invalidates positions; a position set
            # invalidates a rewrite computed without it) — EXCEPT
            # dv+dv on one file, which compose (both anti-joins
            # apply independently).
            _touch_ops = ("compact", "merge", "dv")
            won_touch = set(won.get("removes", ())) | set(
                won.get("dv_for", ())
            )
            if (
                op in _touch_ops
                and won["op"] in _touch_ops
                and not (op == "dv" and won["op"] == "dv")
                and won_touch & set(removes)
            ):
                raise ConcurrentWriteConflict(
                    f"concurrent {won['op']} at v{v} touched an "
                    "overlapping file set"
                )
            if extra_conflict is not None and (
                why := extra_conflict(won)
            ):
                raise ConcurrentWriteConflict(
                    f"{op} invalidated by concurrent "
                    f"{won['op']} at v{v}: {why}"
                )
        if schema_fn is not None:
            schema_json = schema_fn(new_latest)
        attempt_v = new_latest + 1
    raise ConcurrentWriteConflict(f"gave up after {COMMIT_RETRIES} retries")


def _resolve_spec(
    df_schema: T.StructType,
    partition_by: "list[str] | None",
    table_spec: list,
    table_exists: bool,
    mode: str,
    mapping: "dict | None" = None,
) -> list:
    """The PHYSICAL partition spec this write commits under.
    ``partition_by`` arrives in logical names and is validated against
    the dataframe schema (columns must exist, with hive-round-trippable
    types); omitted, the write INHERITS the table's spec (appends keep
    the layout) — table_spec is already physical. The spec is a table
    property fixed at creation — an append may not change it; an
    overwrite (a complete new state) may. Under column mapping the
    layout is keyed by physical names, which is what makes RENAMING a
    partition column metadata-only."""
    if partition_by is None:
        return list(table_spec)
    have = {f.name: f.dataType for f in df_schema.fields}
    missing = [c for c in partition_by if c not in have]
    if missing:
        raise ValueError(f"partition columns not in dataframe: {missing}")
    bad = [
        c for c in partition_by
        if not isinstance(have[c], _PART_OK_TYPES)
    ]
    if bad:
        raise ValueError(
            f"unsupported partition column types for {bad}: partition "
            "values must round-trip exactly through hive paths "
            "(int/long/short/byte, string, boolean, date)"
        )
    phys = [_cm_phys(mapping, c) for c in partition_by]
    if mode == "append" and table_exists and phys != list(table_spec):
        raise ValueError(
            f"append partition_by {list(partition_by)} differs from the "
            f"table spec {list(table_spec)}; changing the layout takes "
            "an explicit overwrite"
        )
    return phys


# reserved per-file stats key carrying the file's ROW COUNT (the Delta
# add-file numRecords shape). Never a column name; pruning code looks
# stats up by real column names only, so the key is inert there.
_NROWS_KEY = "__nrows__"


def _file_row_counts(files: list) -> dict:
    """Per-file row counts from parquet FOOTERS (pyarrow metadata read
    — no data pages touched). Recorded in every commit so COUNT(*) is
    log arithmetic at any table size; a file whose footer cannot be
    read degrades to no-proof (absent key), never a wrong count."""
    import pyarrow.parquet as pq

    out = {}
    for f in files:
        try:
            out[f] = pq.ParquetFile(f).metadata.num_rows
        except Exception:
            pass
    return out


def _spec_stats(
    spark: SparkSession,
    files: list,
    stats_cols: "list[str] | None",
    spec: list,
    parts: "dict | None",
    types: dict,
) -> "dict | None":
    """Commit stats = physically-scanned min/max for the non-partition
    stats columns, merged with exact [v, v] partition-value singletons
    for every spec column (partition columns are stripped from the
    data files, so they are never physically scanned — and never need
    to be: the path value is an exact proof), plus the per-file row
    count under the reserved _NROWS_KEY (footer metadata only)."""
    if _NROWS_KEY in (stats_cols or ()):
        raise ValueError(f"{_NROWS_KEY} is a reserved stats key")
    phys = [c for c in (stats_cols or []) if c not in spec]
    stats = _collect_file_stats(spark, files, phys) if phys and files else None
    nrows = _file_row_counts(files)
    merged: dict = {}
    for f in files:
        entry = {}
        if f in nrows:
            entry[_NROWS_KEY] = nrows[f]
        if stats and f in stats:
            entry.update(stats[f])
        if entry:
            merged[f] = entry
    if spec:
        ps = _part_stats(parts or {}, spec, types)
        merged = {
            f: {**ps.get(f, {}), **merged.get(f, {})}
            for f in set(ps) | set(merged)
        }
    return merged or None


def _enforce_constraints(df: DataFrame, constraints: dict) -> None:
    """CHECK semantics (SQL standard / Delta): a row violates only
    when the expression is FALSE — NULL passes. One short-circuiting
    job per constrained write, run BEFORE any data lands, so a
    rejected batch leaves zero garbage."""
    from pyspark.sql import functions as F

    for name, expr in sorted(constraints.items()):
        bad = df.filter(~F.coalesce(F.expr(expr), F.lit(True)))
        if not bad.isEmpty():
            raise ConstraintViolation(
                f"rows violate CHECK constraint {name!r}: {expr}"
            )


def _apply_generated(df: DataFrame, generated: dict) -> DataFrame:
    """Generated-column enforcement (the Delta GENERATED ALWAYS AS
    shape): a write that OMITS a generated column gets it computed
    from the table's generation expression; a write that PROVIDES it
    must match the expression exactly (null-safe) or the batch is
    refused — divergent values would silently break derived-pruning
    proofs. One short-circuiting job per provided generated column,
    before any data lands."""
    from pyspark.sql import functions as F

    for col, expr in sorted(generated.items()):
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
        else:
            bad = df.filter(~F.col(col).eqNullSafe(F.expr(expr)))
            if not bad.isEmpty():
                raise GeneratedColumnViolation(
                    f"column {col!r} does not match its generation "
                    f"expression: {expr}"
                )
    return df


def txn_generated(root: str) -> dict:
    """The active generated-column map ({col: generation sql expr})."""
    return dict(_replay(root, _latest(root)).generated)


# ---------------------------------------------------------------------------
# Row tracking (the Delta row-tracking shape): once enabled, every row
# owns a STABLE 64-bit id. Fresh rows derive ids lazily at read time —
# id = file's commit-reserved base + row_index, so appends pay NOTHING
# extra at write — while rewrites (compact, merge survivors) carry the
# ids along as a materialized __row_id column in the rewritten files,
# so an id survives any number of OPTIMIZE/MERGE cycles. The base
# allocator stamps a monotone high-water mark per commit (recomputed
# on every rebase attempt, so racing appends never overlap ranges) and
# ids are never reused. Consumers: CDC update pairing (match delete
# and insert rows of one logical update), incremental feature
# recompute, row-level debugging.
# ---------------------------------------------------------------------------

ROW_ID_COL = "__row_id"


def _row_alloc_ranges(
    files: list, nrows: dict, base: int
) -> "tuple[dict, int]":
    """Reserve one contiguous id range per data file starting at
    ``base``. A file whose recorded count is missing (footer was
    unreadable at stats time) falls back to reading the footer HERE;
    a genuinely uncountable file FAILS the commit — a zero-length
    range would make the next file's base overlap it and derived ids
    (base + row_index) would collide across files, violating the
    never-reused/unique id contract (same degradation posture as
    txn_count: never a wrong answer)."""
    rb = {}
    for f in files:
        n = nrows.get(f) or 0
        if n <= 0:
            try:
                import pyarrow.parquet as pq

                n = pq.ParquetFile(f).metadata.num_rows
            except Exception as exc:
                raise RuntimeError(
                    f"cannot reserve a row-id range: the row count of "
                    f"{f} is unobtainable ({exc})"
                ) from exc
        rb[f] = base
        base += int(n)
    return rb, base


def _row_alloc(root: str, files: list, nrows: dict):
    """extra_commit callable reserving a row-id range per data file
    (recomputed per rebase attempt against the actual tip)."""

    def alloc(tip):
        if tip is None:
            return None
        st = _replay(root, tip)
        if not st.row_tracking:
            return None
        rb, hwm = _row_alloc_ranges(files, nrows, st.row_hwm)
        return {"row_bases": rb, "row_hwm": hwm}

    return alloc


def txn_enable_row_tracking(root: str) -> int:
    """Enable row tracking: a metadata commit that reserves id ranges
    for every EXISTING live file (backfill by footer row counts), so
    the whole table has stable ids from this version on. Idempotent."""
    read_v = _latest(root)
    if _replay(root, read_v).row_tracking:
        return read_v

    def extra(tip):
        st = _replay(root, tip) if tip is not None else None
        if st is None:
            return {"row_tracking": True, "row_bases": {}, "row_hwm": 0}
        if st.row_tracking:  # concurrent enable won: carry it forward
            return {"row_tracking": True}
        base = st.row_hwm
        rb = {}
        for f in st.files:
            n = st.stats.get(f, {}).get(_NROWS_KEY)
            if n is None:
                import pyarrow.parquet as pq

                n = pq.ParquetFile(f).metadata.num_rows
            rb[f] = base
            base += int(n)
        return {"row_tracking": True, "row_bases": rb, "row_hwm": base}

    return _txn_commit(
        root, "meta", [], [], read_v, None, None,
        lambda tip: _table_schema_json(root, tip),
        _meta_conflict, extra_commit=extra,
    )


def txn_read_with_ids(
    spark: SparkSession, root: str, version: "int | None" = None
) -> DataFrame:
    """The table plus its stable ``_row_id`` column. Fresh-id files
    derive ids as base + row position (zero storage); rewritten files
    carry them materialized; deletion vectors drop ids with their
    rows. Requires row tracking."""
    version = _resolve_version(root, version)
    state = _replay(root, version)
    if not state.row_tracking:
        raise ValueError(
            "row tracking is not enabled; run txn_enable_row_tracking "
            "first"
        )
    if not state.files:
        raise ValueError(f"version {version} is an empty table state")
    return _read_files(spark, root, version, state.files, with_ids=True)


def txn_set_constraint(
    root: str, name: str, expr: str
) -> int:
    """ADD/replace a table CHECK constraint as a METADATA-ONLY commit
    (op="meta", the Delta ALTER TABLE ADD CONSTRAINT shape): every
    subsequent txn_write/txn_merge validates its rows against the
    constraint BEFORE writing (SQL CHECK semantics: NULL passes) and
    raises :class:`ConstraintViolation` instead of landing bad data.
    EXISTING rows are not re-validated (add constraints before data,
    or validate with stats_expectations first). Enforcement races
    resolve by commit order: a write that read the table before the
    constraint committed may still land unvalidated — the constraint
    governs writes that BEGIN after it. Meta commits add no files, so
    concurrent appends/compacts rebase past them freely."""
    os.makedirs(_log_dir(root), exist_ok=True)
    read_v = txn_latest_version(root)
    cons = dict(_replay(root, read_v).constraints) if read_v is not None else {}
    cons[name] = expr
    v = _txn_commit(
        root, "meta", [], [], read_v, None, None,
        (lambda tip: _table_schema_json(root, tip))
        if read_v is not None
        else None,
        _meta_conflict,
        extra_commit={"constraints": cons},
    )
    return v


def _meta_conflict(won: dict) -> "str | None":
    # meta commits carry the FULL constraints map; rebasing one past a
    # concurrent constraint change would silently drop the other edit
    return (
        "concurrent constraint change" if "constraints" in won else None
    )


def txn_drop_constraint(root: str, name: str) -> int:
    """DROP a CHECK constraint (metadata-only commit). Unknown names
    raise (a typo must not silently leave the constraint active)."""
    read_v = _latest(root)
    cons = dict(_replay(root, read_v).constraints)
    if name not in cons:
        raise ValueError(f"no CHECK constraint named {name!r}")
    del cons[name]
    return _txn_commit(
        root, "meta", [], [], read_v, None, None,
        lambda tip: _table_schema_json(root, tip),
        _meta_conflict,
        extra_commit={"constraints": cons},
    )


def txn_constraints(root: str) -> dict:
    """The active CHECK constraints ({name: sql expr})."""
    return dict(_replay(root, _latest(root)).constraints)


# ---------------------------------------------------------------------------
# Column mapping (the Delta "name"-mode shape). Once ENABLED on a
# table, every column owns a STABLE physical name: data files are
# written under physical names, reads rename physical -> logical, and
# the logical name lives only in the commit schema — so RENAME and
# DROP COLUMN become metadata-only commits (zero data rewritten at any
# table size), and a column re-added after a drop gets a FRESH
# physical name, so rows written under the dropped column can never
# resurrect through old parquet footers. Enabling is itself
# metadata-only: existing columns adopt their current name as the
# physical name (the Delta upgrade semantics), so files already on
# disk stay valid. Mapping bumps the commit protocol to CM_PROTOCOL —
# a reader that does not understand the rename step must refuse the
# log rather than surface physical column names.
#
# The mapping is stored per-field as ``cm_phys`` in the StructField
# metadata of the commit's schema json — carried by every subsequent
# commit (schema_fn forwards it), checkpoint-free, and replayable.
# ---------------------------------------------------------------------------


def _cm_mapping(table_json: "str | None") -> "dict | None":
    """{logical -> physical} when column mapping is enabled at this
    schema, else None. All-or-nothing by construction: enable stamps
    every field, evolution stamps every added field."""
    import json

    if table_json is None:
        return None
    fields = T.StructType.fromJson(json.loads(table_json)).fields
    m = {
        f.name: f.metadata["cm_phys"]
        for f in fields
        if f.metadata and "cm_phys" in f.metadata
    }
    return m or None


def _cm_phys(mapping: "dict | None", name: str) -> str:
    return mapping.get(name, name) if mapping else name


def _cm_cols(mapping: "dict | None", cols):
    """Translate a list of logical column names to physical (identity
    when mapping is off or cols is None)."""
    if cols is None or not mapping:
        return cols
    return [_cm_phys(mapping, c) for c in cols]


def _cm_fresh_phys() -> str:
    """A globally-unique physical name (the Delta col-<uuid> shape).
    Uniqueness is what makes dropped-column ids unreusable without
    tracking a max-column-id: a re-added logical name can never
    collide with the physical column its predecessor left in old
    files."""
    import uuid

    return "col-" + uuid.uuid4().hex[:12]


def _cm_to_physical(df: DataFrame, mapping: "dict | None") -> DataFrame:
    """Rename a logical dataframe to physical column names just before
    its files are written. Identity when mapping is off."""
    from pyspark.sql import functions as F

    if not mapping:
        return df
    return df.select(
        *[F.col(c).alias(_cm_phys(mapping, c)) for c in df.columns]
    )


def _cm_physical_json(schema_json: str) -> str:
    """The schema as data files physically carry it: physical names,
    metadata stripped, nullability normalized. This is the layout
    identity a RENAME does not change — the read path compares
    physical projections so a renamed table never pays mergeSchema
    footer reads for files whose bytes are untouched."""
    import json

    s = T.StructType.fromJson(json.loads(schema_json))
    return T.StructType(
        [
            T.StructField(
                (f.metadata or {}).get("cm_phys", f.name), f.dataType, True
            )
            for f in s.fields
        ]
    ).json()


def _cm_rename_scan(
    df: DataFrame, table_json: str, extra: "list | None" = None
) -> DataFrame:
    """Project a physical scan to the logical schema: each field reads
    its physical column, aliased to the logical name; a physical
    column the scan lacks (file written before the column existed)
    surfaces as typed NULL — the same evolution contract the unmapped
    path gets from mergeSchema. Also prunes dropped physical columns,
    because only live schema fields are selected."""
    import json

    from pyspark.sql import functions as F

    schema = T.StructType.fromJson(json.loads(table_json))
    have = set(df.columns)
    sel = []
    for f in schema.fields:
        p = (f.metadata or {}).get("cm_phys", f.name)
        sel.append(
            # the cast is a Catalyst no-op unless the file was written
            # before a type widening — then it upcasts losslessly
            F.col(p).cast(f.dataType).alias(f.name)
            if p in have
            else F.lit(None).cast(f.dataType).alias(f.name)
        )
    for c in extra or ():  # row-tracking temps ride through the rename
        if c in have:
            sel.append(F.col(c))
    return df.select(*sel)


def _cm_overwrite_schema(table_json: str, df_schema: T.StructType) -> str:
    """The post-commit schema for an OVERWRITE of a mapped table:
    logical names matching the current schema keep their physical
    name (history stays joinable across the overwrite), new logical
    names get fresh physical names. Mapping survives an overwrite —
    disabling it would silently downgrade the table protocol."""
    import json

    old = {
        f.name: (f.metadata or {}).get("cm_phys")
        for f in T.StructType.fromJson(json.loads(table_json)).fields
    }
    return T.StructType(
        [
            T.StructField(
                f.name,
                f.dataType,
                True,
                {"cm_phys": old.get(f.name) or _cm_fresh_phys()},
            )
            for f in df_schema.fields
        ]
    ).json()


# ---------------------------------------------------------------------------
# Type widening (the Delta type-widening shape): ALTER COLUMN TYPE to a
# strictly wider type as a METADATA-ONLY commit. Files written before
# the widen keep their narrow physical type; reads group files by their
# recorded write schema, scan each group under its own types, CAST to
# the table type and union — no byte rewritten, values exact by
# construction (the whitelist admits only lossless upcasts). Appends
# and merge sources arriving with the old narrow type are auto-upcast.
# Compaction converges storage to the wide type as a side effect.
# ---------------------------------------------------------------------------

_WIDENABLE = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"), ("integer", "double"),
    ("float", "double"),
}

_WIDEN_TARGETS = {
    "short": T.ShortType(), "integer": T.IntegerType(),
    "int": T.IntegerType(), "long": T.LongType(),
    "bigint": T.LongType(), "double": T.DoubleType(),
}


def _widen_ok(frm: T.DataType, to: T.DataType) -> bool:
    return (frm.typeName(), to.typeName()) in _WIDENABLE


def _auto_upcast(df: DataFrame, table_json: "str | None") -> DataFrame:
    """Cast dataframe columns whose type is a WIDENABLE narrow version
    of the table type (a writer still producing int after the table
    widened to long keeps working — the Delta implicit-upcast
    contract). Anything else is left for _check_schema to judge."""
    import json

    from pyspark.sql import functions as F

    if table_json is None:
        return df
    types = {
        f.name: f.dataType
        for f in T.StructType.fromJson(json.loads(table_json)).fields
    }
    sel, changed = [], False
    for f in df.schema.fields:
        tt = types.get(f.name)
        if tt is not None and f.dataType != tt and _widen_ok(f.dataType, tt):
            sel.append(F.col(f.name).cast(tt).alias(f.name))
            changed = True
        else:
            sel.append(F.col(f.name))
    return df.select(*sel) if changed else df


def txn_widen_column(
    root: str, col: str, new_type
) -> int:
    """ALTER COLUMN TYPE to a strictly WIDER type, metadata-only (zero
    bytes rewritten at any table size). Only lossless upcasts are
    admitted (byte->short->int->long, int->double, float->double) —
    anything else would silently corrupt values and is refused.
    Partition columns are refused (the hive layout's parse contract is
    fixed at write); columns referenced by CHECK constraints or
    generation expressions are refused conservatively. Old files keep
    their narrow physical type; reads cast per schema-group, appends
    with the narrow type auto-upcast, compaction converges storage."""
    import json

    if isinstance(new_type, str):
        nt = _WIDEN_TARGETS.get(new_type.lower())
        if nt is None:
            raise ValueError(
                f"unknown widen target {new_type!r} "
                f"(one of {sorted(_WIDEN_TARGETS)})"
            )
    else:
        nt = new_type
    read_v = _latest(root)

    def schema_fn(tip):
        tj = _table_schema_json(root, tip)
        if tj is None:
            raise ValueError("table has no recorded schema")
        s = T.StructType.fromJson(json.loads(tj))
        names = [f.name for f in s.fields]
        if col not in names:
            raise ValueError(f"no column {col!r} (have {names})")
        old = next(f.dataType for f in s.fields if f.name == col)
        if old == nt:
            return tj  # idempotent
        if not _widen_ok(old, nt):
            raise ValueError(
                f"cannot widen {col!r} from {old.simpleString()} to "
                f"{nt.simpleString()}: only lossless upcasts are "
                "metadata-only (anything else takes an explicit "
                "overwrite)"
            )
        st = _replay(root, tip)
        mapping = _cm_mapping(tj)
        if _cm_phys(mapping, col) in set(st.spec):
            raise ValueError(
                f"column {col!r} is a partition column; the hive "
                "layout's value encoding is fixed at write"
            )
        if col in st.generated:
            raise ValueError(f"column {col!r} is a generated column")
        _cm_guard_refs(
            col,
            {
                **st.constraints,
                **{f"generated({k})": e for k, e in st.generated.items()},
            },
        )
        return T.StructType(
            [
                T.StructField(
                    f.name,
                    nt if f.name == col else f.dataType,
                    True,
                    dict(f.metadata or {}),
                )
                for f in s.fields
            ]
        ).json()

    return _txn_commit(
        root, "meta", [], [], read_v, None, None, schema_fn,
        _meta_conflict,
    )


def _schema_groups(state: "_TableState", files: list) -> "list[list]":
    """``files`` split into per-write-schema groups when their
    physical TYPES conflict (a post-widening mixture breaks a single
    mergeSchema scan outright); one group when uniform or differing
    only in column sets (plain evolution — mergeSchema handles that).
    Raw scanners (DV position finding, CDF pre-images) scan each group
    separately and union."""
    import json

    by: dict = {}
    for f in files:
        by.setdefault(state.file_schemas.get(f), []).append(f)
    if len(by) <= 1:
        return [list(files)]
    seen: dict = {}
    conflict = False
    for sjson in by:
        if sjson is None:
            continue
        s = T.StructType.fromJson(json.loads(sjson))
        for fld in s.fields:
            k = (fld.metadata or {}).get("cm_phys", fld.name)
            if k in seen and seen[k] != fld.dataType:
                conflict = True
            seen[k] = fld.dataType
    if not conflict:
        return [list(files)]
    return [sorted(g) for _, g in sorted(by.items(), key=str)]


def _commit_protocol(schema_json: "str | None") -> int:
    """The protocol a commit must stamp: CM_PROTOCOL once its schema
    carries column mapping (readers below that would surface physical
    names), the base protocol otherwise."""
    return CM_PROTOCOL if _cm_mapping(schema_json) else PROTOCOL_VERSION


def _cm_guard_refs(name: str, constraints: dict, spec_phys: "set | None" = None,
                   mapping: "dict | None" = None) -> None:
    """Refuse a rename/drop of a column a CHECK constraint references
    (the stored expression text would silently stop matching rows) —
    conservative word-boundary match, case-insensitive like Spark
    identifier resolution. ``spec_phys`` additionally refuses DROP of
    a partition column (the layout physically depends on it)."""
    import re

    pat = re.compile(rf"(?i)(?<![A-Za-z0-9_`]){re.escape(name)}(?![A-Za-z0-9_])")
    hit = sorted(n for n, e in constraints.items() if pat.search(e))
    if hit:
        raise ValueError(
            f"column {name!r} is referenced by constraint / generation "
            f"expression(s) {hit}; drop those first"
        )
    if spec_phys is not None and _cm_phys(mapping, name) in spec_phys:
        raise ValueError(
            f"column {name!r} is a partition column; repartition with an "
            "explicit overwrite before dropping it"
        )


def txn_column_mapping(root: str) -> "dict | None":
    """The active {logical -> physical} column mapping, or None when
    mapping was never enabled."""
    return _cm_mapping(_table_schema_json(root, _latest(root)))


def txn_enable_column_mapping(root: str) -> int:
    """Enable column mapping (ALTER TABLE ... SET columnMapping.mode =
    'name'): a metadata-only commit that stamps every current field's
    physical name = its current logical name, so every file already on
    disk remains valid unread. From this commit on, renames and drops
    are metadata-only and the log stamps protocol CM_PROTOCOL.
    Idempotent: enabling an already-mapped table returns the current
    version without committing."""
    import json

    read_v = _latest(root)
    if _cm_mapping(_table_schema_json(root, read_v)):
        return read_v

    def schema_fn(tip):
        tj = _table_schema_json(root, tip)
        if tj is None:
            raise ValueError("table has no recorded schema; write once first")
        if _cm_mapping(tj):
            return tj  # concurrent enable won: idempotent
        s = T.StructType.fromJson(json.loads(tj))
        return T.StructType(
            [
                T.StructField(f.name, f.dataType, True, {"cm_phys": f.name})
                for f in s.fields
            ]
        ).json()

    return _txn_commit(
        root, "meta", [], [], read_v, None, None, schema_fn,
        _meta_conflict,
    )


def txn_rename_column(
    root: str, old: str, new: str
) -> int:
    """RENAME COLUMN as a metadata-only commit: the field keeps its
    physical name (zero bytes rewritten, history and time travel
    intact), only the logical name in the schema changes. Requires
    column mapping. Rebases re-apply the edit against the tip schema,
    so a rename races correctly with concurrent evolution; renaming a
    column a CHECK constraint references is refused. Partition columns
    MAY be renamed — the layout is keyed by physical name."""
    import json

    read_v = _latest(root)

    def schema_fn(tip):
        tj = _table_schema_json(root, tip)
        if not _cm_mapping(tj):
            raise ValueError(
                "column mapping is not enabled; run "
                "txn_enable_column_mapping first (renames without mapping "
                "would require rewriting every data file)"
            )
        s = T.StructType.fromJson(json.loads(tj))
        names = [f.name for f in s.fields]
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        st = _replay(root, tip)
        if old in st.generated:
            raise ValueError(
                f"column {old!r} is a generated column; redefine the "
                "table with an explicit overwrite first"
            )
        _cm_guard_refs(
            old,
            {
                **st.constraints,
                **{f"generated({k})": e for k, e in st.generated.items()},
            },
        )
        return T.StructType(
            [
                T.StructField(
                    new if f.name == old else f.name,
                    f.dataType,
                    True,
                    dict(f.metadata or {}),
                )
                for f in s.fields
            ]
        ).json()

    return _txn_commit(
        root, "meta", [], [], read_v, None, None, schema_fn,
        _meta_conflict,
    )


def txn_drop_column(root: str, name: str) -> int:
    """DROP COLUMN as a metadata-only commit: the field leaves the
    schema; its physical column stays in old files but no read selects
    it, and a later re-add of the same logical name receives a FRESH
    physical name — dropped data never resurrects (the Delta drop
    contract). Requires column mapping; dropping a partition column,
    a constrained column, or the last column is refused."""
    import json

    read_v = _latest(root)

    def schema_fn(tip):
        tj = _table_schema_json(root, tip)
        mapping = _cm_mapping(tj)
        if not mapping:
            raise ValueError(
                "column mapping is not enabled; run "
                "txn_enable_column_mapping first"
            )
        s = T.StructType.fromJson(json.loads(tj))
        names = [f.name for f in s.fields]
        if name not in names:
            raise ValueError(f"no column {name!r} (have {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the last column")
        st = _replay(root, tip)
        if name in st.generated:
            raise ValueError(
                f"column {name!r} is a generated column; redefine the "
                "table with an explicit overwrite first"
            )
        _cm_guard_refs(
            name,
            {
                **st.constraints,
                **{f"generated({k})": e for k, e in st.generated.items()},
            },
            set(st.spec),
            mapping,
        )
        return T.StructType(
            [f for f in s.fields if f.name != name]
        ).json()

    return _txn_commit(
        root, "meta", [], [], read_v, None, None, schema_fn,
        _meta_conflict,
    )


def txn_write(
    df: DataFrame,
    root: str,
    mode: str = "append",
    txn: "tuple[str, int] | None" = None,
    stats_cols: "list[str] | None" = None,
    merge_schema: bool = False,
    bloom_cols: "list[str] | None" = None,
    partition_by: "list[str] | None" = None,
    generated: "dict | None" = None,
) -> int | None:
    """Commit ``df`` to the transactional table at ``root`` with
    optimistic concurrency. Returns the committed version, or None if
    ``txn`` (app_id, run_id) was already committed (idempotent replay).
    ``stats_cols`` embeds per-file min/max for those columns in the
    commit (add-file stats), enabling txn_read_pruned data skipping.
    ``partition_by`` lays data files out hive-style (``col=value/``
    directories) and records exact per-file partition values in the
    commit; those values double as singleton add-file stats, so every
    pruning path (range reads, merge victim pruning, DV candidate
    pruning, serializable conflicts) skips foreign partitions with no
    file opened. The spec is a table property: appends inherit it when
    ``partition_by`` is omitted and may never change it; an overwrite
    may. Appends enforce the table schema (raising
    :class:`SchemaMismatch` on divergence); ``merge_schema=True``
    permits ADDING nullable columns (evolution) — never a type change.
    The schema check runs against the tip a rebase actually lands on,
    so it races correctly with a concurrent evolution. Raises
    :class:`ConcurrentWriteConflict` when the commit cannot be rebased
    under the conflict rules above."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if ROW_ID_COL in df.columns:
        raise ValueError(f"{ROW_ID_COL} is a reserved column name")
    os.makedirs(_log_dir(root), exist_ok=True)
    read_v = txn_latest_version(root)
    if txn is not None and read_v is not None and _txn_seen(
        root, read_v, txn[0], txn[1]
    ):
        return None
    table_state = _replay(root, read_v) if read_v is not None else None
    if generated is not None and read_v is not None and mode == "append":
        raise ValueError(
            "generation expressions are a table property fixed at "
            "creation; redefining them takes an explicit overwrite"
        )
    # the active map: declared now (creation/overwrite), else inherited
    # — it PERSISTS across overwrites unless explicitly redefined, the
    # same table-property posture as CHECK constraints
    gen = (
        dict(generated)
        if generated is not None
        else (dict(table_state.generated) if table_state else {})
    )
    if gen:
        # compute absent / validate provided generated columns BEFORE
        # spec resolution (the generated column is often the partition
        # column) and before constraints see the rows
        df = _apply_generated(df, gen)
    if read_v is not None and mode == "append":
        # writers still producing a pre-widening narrow type keep
        # working: lossless upcast to the table type (Delta implicit
        # cast); anything else _check_schema refuses as before
        df = _auto_upcast(df, _table_schema_json(root, read_v))
    mapping0 = (
        _cm_mapping(_table_schema_json(root, read_v))
        if read_v is not None
        else None
    )
    spec = _resolve_spec(
        df.schema, partition_by,
        table_state.spec if table_state else [],
        read_v is not None, mode, mapping0,
    )
    if table_state and table_state.constraints:
        # CHECK constraints gate BOTH modes (a table property, like
        # the spec); runs before any data lands — on the LOGICAL rows
        _enforce_constraints(df, table_state.constraints)

    # under column mapping, evolved columns need physical names that
    # are STABLE across commit rebases (the files are written once);
    # `fresh` memoizes them, `wm_cell` pins the mapping the files were
    # actually written under so a rebase can verify it still holds
    fresh: dict = {}
    wm_cell: list = []

    def schema_fn(tip):
        # re-check the spec against the tip a rebase lands on: a
        # concurrent creator may have fixed a different table spec
        # between our empty-table read and the commit (the files are
        # ALREADY laid out, so inheriting the tip's spec would claim
        # a layout they don't have)
        if tip is not None and tip != read_v:
            tip_spec = _replay(root, tip).spec
            if mode == "append" and list(spec) != list(tip_spec):
                raise ValueError(
                    f"append partition layout {list(spec)} differs from "
                    f"the table spec {list(tip_spec)}; changing the "
                    "layout takes an explicit overwrite"
                )
        tj = _table_schema_json(root, tip) if tip is not None else None
        if mode == "overwrite":
            out = (
                _cm_overwrite_schema(tj, df.schema)
                if _cm_mapping(tj)
                else df.schema.json()
            )
        else:
            out = _check_schema(tj, df.schema, merge_schema, fresh)
        # a rebase must not land files under a mapping the tip no
        # longer agrees with (a gap drop+re-add or concurrent
        # evolution would silently NULL the written column)
        m_out = _cm_mapping(out)
        if wm_cell:
            wm = wm_cell[0]
            for c in df.columns:
                if (m_out or {}).get(c, c) != (wm or {}).get(c, c):
                    raise ConcurrentWriteConflict(
                        f"concurrent schema change remapped column {c!r}; "
                        "the written files no longer match the table "
                        "mapping"
                    )
        else:
            wm_cell.append(m_out)
        return out

    schema_fn(read_v)  # fail fast BEFORE paying for the data write
    write_mapping = wm_cell[0]
    dfp = _cm_to_physical(df, write_mapping)
    files = _write_data_files(
        dfp, root, _cm_cols(write_mapping, bloom_cols), spec or None
    )
    parts = _parse_part_vals(files, spec) if spec else None
    types = {f.name: f.dataType for f in dfp.schema.fields}
    stats = _spec_stats(
        df.sparkSession, files, _cm_cols(write_mapping, stats_cols),
        spec, parts, types,
    )
    nrows = {
        f: (stats or {}).get(f, {}).get(_NROWS_KEY, 0) for f in files
    }
    alloc = _row_alloc(root, files, nrows)
    gen_extra = {"generated": gen} if generated is not None else {}

    def extra(tip):
        out = dict(gen_extra)
        a = alloc(tip)
        if a:
            out.update(a)
        return out or None

    return _txn_commit(
        root, mode, files, [], read_v, txn, stats, schema_fn,
        parts=parts, spec=spec, extra_commit=extra,
    )


def txn_compact(
    spark: SparkSession,
    root: str,
    max_file_bytes: "int | None" = None,
    stats_cols: "list[str] | None" = None,
    sort_cols: "list[str] | None" = None,
    n_files: int = 1,
    zorder_dims: "list[tuple] | None" = None,
) -> "int | None":
    """Rewrite the current version's small files into one coalesced set
    and commit it as op="compact" (Delta OPTIMIZE semantics). The commit
    carries the exact ``removes`` set, so it conflicts ONLY with a
    concurrent compact/overwrite/dv touching the same files — concurrent
    appends rebase straight past it (file-granularity conflicts, the
    property that lets maintenance run continuously under live ingest
    at cluster scale). ``sort_cols`` clusters the rewrite
    (OPTIMIZE ... ZORDER's single-dimension analog; ``zorder_dims``,
    a list of zorder_key (column, lo, hi) dims, is the multi-column
    interleave): a range repartition
    into ``n_files`` files plus a within-partition sort, so the
    rewritten files carry DISJOINT min/max stats on the sort key —
    after many interleaved appends this is what restores
    txn_read_pruned/txn_merge pruning to skip-almost-everything.
    Returns the committed version, or None when there is nothing to
    compact (0 or 1 qualifying file)."""
    read_v = txn_latest_version(root)
    if read_v is None:
        return None
    full = _replay(root, read_v)
    state = full.files
    if max_file_bytes is None:
        victims = list(state)
    else:
        victims = [f for f in state if os.path.getsize(f) < max_file_bytes]
    dv_targets = {t for _, tg in full.dvs for t in tg}
    if len(victims) < 2 and not (set(victims) & dv_targets):
        # nothing to coalesce AND nothing to materialize: a single
        # file carrying an active deletion vector IS worth compacting
        # (the rewrite erases the DV-hidden rows and drops the sidecar)
        return None
    # read victims under the TABLE schema (mergeSchema handles files
    # written before an evolution), so the rewritten files are uniform
    # — note this also MATERIALIZES column mapping state: the rewrite
    # reads logical rows (dropped columns pruned) and lands them back
    # under the current physical names
    rt = full.row_tracking
    rows = _read_files(spark, root, read_v, victims, with_ids=rt)
    if rt:
        # materialize the stable ids INTO the rewritten files — the
        # property that makes a row id survive any number of
        # OPTIMIZE/MERGE cycles
        rows = rows.withColumnRenamed("_row_id", ROW_ID_COL)
    mapping = _cm_mapping(_table_schema_json(root, read_v))
    inv = {p: l for l, p in mapping.items()} if mapping else {}
    # On a partitioned table, clustering happens WITHIN each hive
    # partition: leading the range exchange and the sort with the spec
    # columns keeps each task on (mostly) one partition's contiguous
    # key range, so every col=value/ directory's rewritten files carry
    # near-disjoint min/max on the cluster key — without this, a
    # global range on the key alone scatters every task across every
    # partition dir and the per-dir stats overlap completely.
    lead = [inv.get(c, c) for c in full.spec]  # sort on the LOGICAL rows
    if zorder_dims:
        # OPTIMIZE ... ZORDER: cluster on the Morton interleave of
        # several dims so min/max stats prune on ANY of them (a plain
        # sort clusters only its leading column); the key is transient
        zk = zorder_key(zorder_dims)
        rows = (
            rows.withColumn("_zk", zk)
            .repartitionByRange(n_files, *lead, "_zk")
            .sortWithinPartitions(*lead, "_zk")
            .drop("_zk")
        )
    elif sort_cols:
        rows = rows.repartitionByRange(
            n_files, *lead, *sort_cols
        ).sortWithinPartitions(*lead, *sort_cols)
    else:
        rows = rows.coalesce(n_files)
    rows_phys = _cm_to_physical(rows, mapping)
    files = _write_data_files(rows_phys, root, partition_by=full.spec or None)
    parts = _parse_part_vals(files, full.spec) if full.spec else None
    types = {f.name: f.dataType for f in rows_phys.schema.fields}
    stats = _spec_stats(
        spark, files, _cm_cols(mapping, stats_cols), full.spec, parts, types
    )
    return _txn_commit(
        root, "compact", files, sorted(victims), read_v, None,
        stats, lambda tip: _table_schema_json(root, tip),
        parts=parts, spec=full.spec,
        extra_commit=_row_alloc(
            root, files,
            {f: (stats or {}).get(f, {}).get(_NROWS_KEY, 0) for f in files},
        ),
        # rewritten files carry materialized __row_id: a protocol-1
        # reader's plain scan would surface it as a user column
        min_protocol=ROWID_PROTOCOL if rt else PROTOCOL_VERSION,
    )


def _ranges_disjoint(a: "list | None", b: "tuple | None") -> bool:
    """True only when [a_min, a_max] and [b_min, b_max] PROVABLY miss
    each other. Any None endpoint (all-null chunk, absent stats) is
    no-proof -> False."""
    if a is None or b is None:
        return False
    amn, amx = a
    bmn, bmx = b
    if amn is None or amx is None or bmn is None or bmx is None:
        return False
    return amx < bmn or bmx < amn


def _merge_prunable(file_stats: dict, src_rng: dict) -> bool:
    """A file needs rewriting unless SOME key column proves it holds no
    source key: its recorded [min, max] is disjoint from the source's.
    Skip-only-on-proof, same contract as txn_read_pruned."""
    return any(
        _ranges_disjoint(file_stats.get(c), src_rng[c]) for c in src_rng
    )


def _rng_may_contain(rng: "list | None", val) -> bool:
    """False only when the recorded [min, max] PROVES ``val`` absent.
    ``val`` is canonicalized like the stats were (dates -> ISO), so
    comparisons are like-for-like."""
    if rng is None:
        return True
    mn, mx = rng
    val = _stat_val(val)
    if mn is None or mx is None or val is None:
        return True
    return mn <= val <= mx


def _merge_prunable_keys(file_stats: dict, keys: list, key_cols: list) -> bool:
    """Exact per-key pruning for a small (collected) source key set: the
    file survives pruning only if NO source key fits inside its ranges
    on every key column. Far sharper than the single-range proof for
    sparse CDC batches (keys {0, 9, 205} must not drag in a [100, 109]
    file just because the overall range spans it)."""
    return not any(
        all(_rng_may_contain(file_stats.get(c), k[c]) for c in key_cols)
        for k in keys
    )


# a CDC batch at or below this many distinct keys is pruned per-key
# (one bounded driver-side collect); larger sources use the range proof
MERGE_PRUNE_MAX_KEYS = 1024


def _prune_victims(
    state: "_TableState", src_rng: dict, key_rows: "list | None",
    key_cols: list,
) -> list:
    """Files that may hold a source key: exact per-key proof when the
    key set was collected, the single-range proof otherwise."""
    if key_rows is not None:
        return [
            f for f in state.files
            if not _merge_prunable_keys(
                state.stats.get(f, {}), key_rows, key_cols
            )
        ]
    return [
        f for f in state.files
        if not _merge_prunable(state.stats.get(f, {}), src_rng)
    ]


def txn_merge(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key_cols: "list[str]",
    when_matched: str = "update",
    when_not_matched: str = "insert",
    stats_cols: "list[str] | None" = None,
    serializable: bool = False,
    txn: "tuple[str, int] | None" = None,
) -> "tuple[int | None, int, int]":
    """Copy-on-write MERGE INTO (the Delta MERGE shape): target rows
    whose key matches a ``source`` row are updated (replaced by the
    source row) or deleted per ``when_matched``; source rows matching
    nothing are inserted or ignored per ``when_not_matched``. Only
    files that can contain a matching key are rewritten — commit-
    embedded add-file stats prove the rest untouched, so a CDC batch
    against a million-file table rewrites a handful of files instead
    of the table (the property that makes upsert viable at 100 TB).
    Returns (version, files_rewritten, files_total); version is None
    for a provable no-op (empty source, or nothing matched under
    update+ignore).

    Concurrency is the default Delta posture (WriteSerializable):
    concurrent appends rebase past a merge — if one lands a matching
    key in the gap, the table afterwards holds both rows, exactly as
    Delta documents. ``serializable=True`` upgrades the check: any gap
    commit adding files whose key stats OVERLAP the source key range
    (or carry no stats — no proof) raises
    :class:`ConcurrentWriteConflict` instead.

    ``when_matched="delete"`` with ``when_not_matched="ignore"``
    accepts a keys-only source (a tombstone feed); every other mode
    inserts/updates full rows, so the source must match the table
    schema exactly (merge never evolves schema — evolve with an
    explicit ``txn_write(..., merge_schema=True)`` first)."""
    from pyspark.sql import functions as F

    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete: {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(
            f"when_not_matched must be insert|ignore: {when_not_matched!r}"
        )
    keys_only = when_matched == "delete" and when_not_matched == "ignore"
    if ROW_ID_COL in source.columns:
        raise ValueError(f"{ROW_ID_COL} is a reserved column name")

    read_v = txn_latest_version(root)
    if (
        txn is not None
        and read_v is not None
        and _txn_seen(root, read_v, txn[0], txn[1])
    ):
        return None, 0, 0  # idempotent replay: this batch already landed
    if read_v is None:
        # empty table: merge degenerates to insert-all (or a no-op)
        if when_not_matched == "ignore":
            return None, 0, 0
        return txn_write(source, root, stats_cols=stats_cols, txn=txn), 0, 0

    table_json = _table_schema_json(root, read_v)
    state = _replay(root, read_v)
    if not keys_only:
        if state.generated:
            # omitted generated columns are computed, provided ones
            # validated — same write-boundary contract as txn_write
            source = _apply_generated(source, state.generated)
        source = _auto_upcast(source, table_json)
        _check_schema(table_json, source.schema, merge=False)

    # one bounded agg: source key ranges (pruning proof + serializable
    # conflict predicate) and, for update, the no-duplicate-keys check
    # MERGE semantics require (two source rows updating one target row
    # is ambiguous — Delta raises here too)
    aggs = [F.count(F.lit(1)).alias("_n")]
    if when_matched == "update":
        aggs.append(F.count_distinct(*[F.col(c) for c in key_cols]).alias("_d"))
    for c in key_cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    head = source.agg(*aggs).collect()[0]
    if head["_n"] == 0:
        return None, 0, 0
    if when_matched == "update" and head["_d"] != head["_n"]:
        raise ValueError(
            "source has duplicate keys: MERGE update is ambiguous "
            f"({head['_n']} rows, {head['_d']} distinct keys)"
        )
    src_rng = {
        c: (_stat_val(head[f"_mn_{c}"]), _stat_val(head[f"_mx_{c}"]))
        for c in key_cols
    }

    if state.constraints and not keys_only:
        # validate the NEW rows (source) before any rewrite happens;
        # survivors were validated by the write that landed them
        _enforce_constraints(source, state.constraints)
    # add-file stats are keyed by PHYSICAL column name; translate the
    # pruning proofs (the source itself stays logical throughout)
    mapping = _cm_mapping(table_json)
    pkey_cols = _cm_cols(mapping, key_cols)
    psrc_rng = {_cm_phys(mapping, c): src_rng[c] for c in src_rng}
    key_rows = (
        [
            {_cm_phys(mapping, c): r[c] for c in key_cols}
            for r in source.select(*key_cols).distinct().collect()
        ]
        if head["_n"] <= MERGE_PRUNE_MAX_KEYS
        else None
    )
    victims = _prune_victims(state, psrc_rng, key_rows, pkey_cols)
    src_keys = F.broadcast(source.select(*key_cols).distinct())

    rt = state.row_tracking
    if victims:
        tgt = _read_files(spark, root, read_v, victims, with_ids=rt)
        if rt:
            # survivors carry their ids into the rewrite; updated and
            # inserted rows arrive id-less and draw fresh ones from
            # the commit's reserved base
            tgt = tgt.withColumnRenamed("_row_id", ROW_ID_COL)
        survivors = tgt.join(src_keys, key_cols, "left_anti")
        if when_matched == "update":
            if when_not_matched == "insert":
                new_rows = survivors.unionByName(source, rt)
            else:  # update only the matched keys
                matched = source.join(
                    tgt.select(*key_cols).distinct(), key_cols, "left_semi"
                )
                new_rows = survivors.unionByName(matched, rt)
        else:  # delete
            new_rows = survivors
            if when_not_matched == "insert":
                inserts = source.join(
                    tgt.select(*key_cols).distinct(), key_cols, "left_anti"
                )
                new_rows = new_rows.unionByName(inserts, rt)
    else:
        if when_not_matched == "ignore":
            return None, 0, len(state.files)  # provable no-op
        new_rows = source  # nothing can match: pure insert

    if not keys_only and table_json is not None:
        import json as _json

        order = [
            f.name
            for f in T.StructType.fromJson(_json.loads(table_json)).fields
        ]
        if rt and ROW_ID_COL in new_rows.columns:
            order = order + [ROW_ID_COL]
        new_rows = new_rows.select(*order)
    new_phys = _cm_to_physical(new_rows, mapping)
    files = _write_data_files(new_phys, root, partition_by=state.spec or None)
    parts = _parse_part_vals(files, state.spec) if state.spec else None
    types = {f.name: f.dataType for f in new_phys.schema.fields}
    stats = _spec_stats(
        spark, files, _cm_cols(mapping, stats_cols), state.spec, parts, types
    )

    extra = None
    if serializable:
        def extra(won: dict) -> "str | None":
            # compact rewrites rows that already existed at our read
            # snapshot — it can never introduce a matching key; only
            # commits that ADD rows (append, another merge's
            # updates/inserts) can invalidate the snapshot
            if won["op"] == "compact":
                return None
            for f, fs in won.get("stats", {}).items():
                if f not in won.get("files", ()):
                    continue
                hit = (
                    not _merge_prunable_keys(fs, key_rows, pkey_cols)
                    if key_rows is not None
                    else all(
                        not _ranges_disjoint(fs.get(c), psrc_rng[c])
                        for c in psrc_rng
                    )
                )
                if hit:
                    return f"added file {f} may hold a merged key"
            for f in won.get("files", ()):
                if f not in won.get("stats", {}):
                    return f"added file {f} carries no key stats (no proof)"
            return None

    v = _txn_commit(
        root, "merge", files, sorted(victims), read_v, txn,
        stats, lambda tip: _table_schema_json(root, tip), extra,
        parts=parts, spec=state.spec,
        extra_commit=_row_alloc(
            root, files,
            {f: (stats or {}).get(f, {}).get(_NROWS_KEY, 0) for f in files},
        ),
        # survivors carry materialized __row_id in the rewritten files
        min_protocol=ROWID_PROTOCOL if rt else PROTOCOL_VERSION,
    )
    return v, len(victims), len(state.files)


def txn_cdc_sink(
    root: str,
    app: str,
    key_cols: "list[str]",
    when_matched: str = "update",
    when_not_matched: str = "insert",
    stats_cols: "list[str] | None" = None,
):
    """An exactly-once CDC-apply sink: each micro-batch is MERGEd into
    the transactional table, keyed as idempotent transaction
    (app, epoch_id) — a batch whose commit outcome was lost and is
    replayed by the engine becomes a no-op instead of a double-apply
    (double-applying an upsert is harmless for idempotent updates but
    NOT for aggregated CDC deltas; the txn marker makes it safe
    unconditionally). The streaming half of the Delta
    MERGE-in-foreachBatch pattern:
    ``changes.writeStream.foreachBatch(txn_cdc_sink(root, "cdc", ["id"]))``.

    Batches should carry the LAST change per key (dedupe upstream with
    a window over the CDC sequence column) — merge rejects ambiguous
    duplicate update keys by design."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        txn_merge(
            batch_df.sparkSession,
            root,
            batch_df,
            key_cols,
            when_matched=when_matched,
            when_not_matched=when_not_matched,
            stats_cols=stats_cols,
            txn=(app, int(epoch_id)),
        )

    return _sink


def txn_purge_sink(root: str, app: str, key_cols: "list[str]"):
    """An exactly-once streaming PURGE sink: each micro-batch of
    tombstone keys lands as a deletion vector keyed on (app, epoch) —
    the right-to-be-forgotten feed applied continuously without
    rewriting a file, replay-safe across restarts. (txn_vacuum after a
    later compaction is the physical-erasure step; the DV makes the
    rows unreadable immediately.)
    ``keys.writeStream.foreachBatch(txn_purge_sink(root, "gdpr", ["id"]))``"""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        txn_delete_dv(
            batch_df.sparkSession, root, batch_df, key_cols,
            txn=(app, int(epoch_id)),
        )

    return _sink


def txn_delete_dv(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    key_cols: "list[str]",
    txn: "tuple[str, int] | None" = None,
) -> "tuple[int | None, int, int]":
    """Delete by key WITHOUT rewriting data files: record the matching
    row positions as a deletion-vector sidecar (parquet of
    (file, pos)) and commit op="dv". Reads at or after this version
    anti-join the positions out; the data files themselves are
    untouched, so a bounded tombstone batch against a 100 TB table
    costs one pruned scan of the candidate files plus a metadata-sized
    sidecar write — not a copy-on-write rewrite (``txn_merge`` with
    when_matched="delete" is the rewrite path; this is the Delta
    deletion-vectors shape). ``txn_compact`` materializes DVs away:
    it reads through them, so the rewritten files simply lack the
    deleted rows and the replayed state drops the inert sidecars.

    A DV conflicts with a concurrent compact/merge touching the same
    files (a rewrite invalidates row positions — and a rewrite computed
    without the DV would resurrect the rows); concurrent DVs on the
    same file compose and never conflict. Appends rebase past freely.

    Returns (version, rows_deleted, candidate_files). version is None
    when no row matched (nothing committed; sidecar garbage is
    vacuumable) or when ``txn`` was already committed."""
    from pyspark.sql import functions as F

    read_v = txn_latest_version(root)
    if read_v is None:
        return None, 0, 0
    if txn is not None and _txn_seen(root, read_v, txn[0], txn[1]):
        return None, 0, 0

    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in key_cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    head = keys.agg(*aggs).collect()[0]
    if head["_n"] == 0:
        return None, 0, 0
    src_rng = {
        c: (_stat_val(head[f"_mn_{c}"]), _stat_val(head[f"_mx_{c}"]))
        for c in key_cols
    }
    state = _replay(root, read_v)
    table_json = _table_schema_json(root, read_v)
    mapping = _cm_mapping(table_json)
    pkey_cols = _cm_cols(mapping, key_cols)
    psrc_rng = {_cm_phys(mapping, c): src_rng[c] for c in src_rng}
    key_rows = (
        [
            {_cm_phys(mapping, c): r[c] for c in key_cols}
            for r in keys.select(*key_cols).distinct().collect()
        ]
        if head["_n"] <= MERGE_PRUNE_MAX_KEYS
        else None
    )
    victims = _prune_victims(state, psrc_rng, key_rows, pkey_cols)
    if not victims:
        return None, 0, 0

    # positions come off the RAW victim scan (_metadata is only
    # addressable there, and the scan carries PHYSICAL column names —
    # aliased back to logical so the tombstone semi-join lines up);
    # positions an EARLIER DV already hides are excluded, so a repeat
    # tombstone is an honest no-op (no redundant sidecar, no phantom
    # rows_deleted) and n_deleted counts rows that actually left the
    # table at this commit. On a partitioned table the scan lacks the
    # partition columns (hive strips them); keys on those columns
    # resolve through the broadcast per-file value map.
    import json as _json

    ktypes = {
        f.name: f.dataType
        for f in T.StructType.fromJson(_json.loads(table_json)).fields
    }
    base = None
    # post-widening mixtures break one mergeSchema scan; per-group
    # scans cast the key columns to the table type and union
    for gfiles in _schema_groups(state, victims):
        scan = spark.read.option("mergeSchema", "true").parquet(*gfiles)
        part = scan.select(
            _strip_file_uri(F.col("_metadata.file_path")).alias("file"),
            F.col("_metadata.row_index").alias("pos"),
            *[
                F.col(p).cast(ktypes[c]).alias(c)
                for c, p in zip(key_cols, pkey_cols)
                if p not in state.spec
            ],
        )
        base = part if base is None else base.unionByName(part)
    if state.spec:
        pmap = _part_map_df(
            spark, state, victims, table_json
        ).withColumnRenamed("_pfile", "file")
        for c, p in zip(key_cols, pkey_cols):
            if p in state.spec and p != c:
                pmap = pmap.withColumnRenamed(p, c)
        base = base.join(F.broadcast(pmap), "file")
    hits = (
        base.join(
            F.broadcast(keys.select(*key_cols).distinct()),
            key_cols,
            "left_semi",
        )
        .select("file", "pos")
    )
    prior = [
        p for sf, tg in state.dvs if set(tg) & set(victims) for p in sf
    ]
    if prior:
        olddv = _read_dv(spark, prior).select("file", "pos")
        hits = hits.join(olddv, ["file", "pos"], "left_anti")
    sidecars = _write_data_files(_rle_runs(hits), root)
    n_deleted = (
        (
            spark.read.parquet(*sidecars)
            .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n"))
            .collect()[0]["n"]
        )
        if sidecars
        else 0
    )
    if n_deleted == 0:
        return None, 0, len(victims)  # orphan sidecars: vacuumable
    v = _txn_commit(
        root, "dv", sidecars, sorted(victims), read_v, txn,
        None, lambda tip: _table_schema_json(root, tip),
        extra_commit={"dv_rows": int(n_deleted)},
    )
    return v, n_deleted, len(victims)


def txn_count(root: str, version: "int | None" = None) -> int:
    """COUNT(*) without a table scan (the Delta numRecords shape):
    live-file row counts come from the commits' reserved per-file
    _NROWS_KEY stats (footer fallback for files committed before row
    counts were recorded — still a metadata read, no data pages), and
    deletion-vector-hidden rows are subtracted by decoding the ACTIVE
    sidecars (metadata-sized parquet, pyarrow, no Spark job; a row two
    overlapping DVs both hide is subtracted once). At 100 TB a
    COUNT(*) is O(files) log arithmetic instead of a scan — and it is
    exactly what a scan would return, DVs included."""
    import pyarrow.parquet as pq

    version = _resolve_version(root, version)
    state = _replay(root, version)
    total = 0
    for f in state.files:
        n = state.stats.get(f, {}).get(_NROWS_KEY)
        if n is None:
            n = pq.ParquetFile(f).metadata.num_rows  # footer, not data
        total += n
    return total - sum(len(p) for p in _dv_positions(state.dvs).values())


def txn_detail(root: str) -> dict:
    """DESCRIBE DETAIL: one dict summarizing the table at its latest
    version — version, file/byte counts, partition spec, schema field
    names, active DV count, constraints, protocol. Pure log+stat
    arithmetic plus one os.path.getsize pass over live files."""
    import json

    latest = _latest(root)
    st = _replay(root, latest)
    schema_json = _table_schema_json(root, latest)
    fields = (
        [f.name for f in T.StructType.fromJson(json.loads(schema_json)).fields]
        if schema_json
        else []
    )
    return {
        "version": latest,
        "num_files": len(st.files),
        "num_rows": txn_count(root, latest),
        "size_bytes": sum(
            os.path.getsize(f) for f in st.files if os.path.exists(f)
        ),
        "partition_by": list(st.spec),
        "columns": fields,
        "num_active_dvs": len(st.dvs),
        "constraints": dict(st.constraints),
        "generated": dict(st.generated),
        "column_mapping": _cm_mapping(schema_json),
        "row_tracking": st.row_tracking,
        "protocol": max(
            (_read_commit(root, v).get("protocol", 1) for v in range(latest + 1)),
            default=1,
        ),
    }


def txn_history(root: str) -> list[dict]:
    """Commit metadata, newest first (the DESCRIBE HISTORY shape) —
    including row deltas from pure log arithmetic: ``rows_added`` /
    ``rows_removed`` sum the reserved per-file row counts of each
    commit's added/removed files (None when a file predates row-count
    recording — never a guess), and dv commits carry ``rows_hidden``
    (the count recorded at commit time). A compaction shows
    added == removed; an audit of table growth needs no scan."""
    latest = _latest(root)
    # one ascending pass accumulates every file's recorded row count,
    # so a remove at v can be priced from the commit that added it
    nrows: dict = {}
    commits = []
    for v in range(latest + 1):
        c = _read_commit(root, v)
        for f, st in (c.get("stats") or {}).items():
            if _NROWS_KEY in st:
                nrows[f] = st[_NROWS_KEY]
        commits.append(c)

    def total(files):
        got = [nrows.get(f) for f in files]
        return None if any(g is None for g in got) else sum(got)

    out = []
    for v in range(latest, -1, -1):
        c = commits[v]
        out.append(
            {
                "version": v,
                "op": c["op"],
                "n_files": len(c["files"]),
                "n_removes": len(c.get("removes", [])),
                "n_dv_targets": len(c.get("dv_for", [])),
                "rows_added": (
                    0 if c["op"] == "dv" else total(c["files"])
                ),
                "rows_removed": total(c.get("removes", [])),
                "rows_hidden": c.get("dv_rows"),
                "read_version": c["read_version"],
                "txn": (
                    (c["txn_app"], c["txn_run"]) if "txn_app" in c else None
                ),
            }
        )
    return out


def txn_stream_sink(root: str, app: str):
    """An exactly-once foreachBatch sink over the transaction log:
    ``df.writeStream.foreachBatch(txn_stream_sink(root, "my-query"))``.
    Spark replays a batch whose commit outcome was lost (sink failure,
    driver restart from checkpoint); keying the idempotent transaction
    on (app, epoch_id) makes the replay a no-op instead of a duplicate
    append — the missing half of end-to-end exactly-once that the
    engine's checkpointing alone cannot give a non-transactional sink."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        txn_write(batch_df, root, txn=(app, int(epoch_id)))

    return _sink


def _strip_file_uri(col):
    from pyspark.sql import functions as F

    return F.regexp_replace(col, "^file:(//)?", "")


def _read_dv(spark: SparkSession, sidecars: list) -> DataFrame:
    """Normalize deletion-vector sidecars to (file, pos) rows. Current
    sidecars are RUN-LENGTH encoded — (file, start, n) covers positions
    [start, start+n) — so a dense tombstone batch (drop 90% of a file)
    costs one row per run, not per row; runs are capped at
    _DV_MAX_RUN at write so the expansion array stays bounded. Legacy
    (file, pos) sidecars read through unchanged (mixed lists of both
    shapes normalize correctly via mergeSchema)."""
    from pyspark.sql import functions as F

    raw = spark.read.option("mergeSchema", "true").parquet(*sidecars)
    cols = set(raw.columns)
    parts = []
    if "pos" in cols:
        parts.append(
            raw.filter(F.col("pos").isNotNull()).select("file", "pos")
        )
    if "start" in cols:
        runs = raw.filter(F.col("start").isNotNull())
        parts.append(
            runs.select(
                "file",
                F.explode(
                    F.sequence(
                        F.col("start"), F.col("start") + F.col("n") - 1
                    )
                ).alias("pos"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _dv_positions(dvs: list) -> dict:
    """The one Python decoder of deletion-vector sidecars (``_read_dv``
    is its Spark twin): ``{raw data-file path: its deleted row
    positions}`` as sorted, unique int64 numpy arrays over ``dvs``,
    (sidecar paths, target files) pairs in the ``_TableState.dvs``
    shape. A sidecar row counts only for a file its pair targets, and
    a position two overlapping DVs both record counts once, as the
    scan's anti-join drops it once. RLE (file, start, n) runs expand
    and legacy (file, pos) rows read with numpy, no per-row Python.
    Files with no deleted row are absent."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def ints(col):
        return pc.fill_null(col, 0).to_numpy().astype(np.int64)

    chunks: dict = {}
    for sidecars, targets in dvs:
        enc = pa.array([_uri_path(t) for t in targets], type=pa.string())
        for sc in sidecars:
            tbl = pq.read_table(sc)
            # index of each row's file in ``targets``, -1 for others
            which = ints(pc.fill_null(
                pc.index_in(tbl["file"], value_set=enc), -1
            ))
            for col in ("start", "pos"):
                if col not in tbl.column_names:
                    continue
                rows = (which >= 0) & pc.is_valid(tbl[col]).to_numpy()
                first = ints(tbl[col])[rows]
                n = (
                    ints(tbl["n"])[rows] if col == "start"
                    else np.ones(len(first), dtype=np.int64)
                )
                # run r covers [first[r], first[r] + n[r])
                pos = np.arange(n.sum(), dtype=np.int64) + np.repeat(
                    first - (np.cumsum(n) - n), n
                )
                owner = np.repeat(which[rows], n)
                per_file = np.split(
                    pos[np.argsort(owner, kind="stable")],
                    np.cumsum(np.bincount(owner, minlength=len(targets))),
                )
                for t, part in zip(targets, per_file):
                    if len(part):
                        chunks.setdefault(t, []).append(part)
    return {t: np.unique(np.concatenate(c)) for t, c in chunks.items()}


_DV_MAX_RUN = 65536  # cap per sidecar row so sequence() arrays stay bounded


def _rle_runs(hits: DataFrame) -> DataFrame:
    """Compress (file, pos) hit rows into (file, start, n) runs: the
    classic gaps-and-islands grouping (pos - row_number is constant
    within a consecutive run), then long runs split at _DV_MAX_RUN.
    One partitioned window + one agg — the window is per-FILE, never
    global."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("file").orderBy("pos")
    runs = (
        hits.withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy("file", "_grp")
        .agg(F.min("pos").alias("start"), F.count("*").alias("n"))
    )
    chunk = (
        runs.select(
            "file",
            F.posexplode(
                F.sequence(
                    F.lit(0),
                    ((F.col("n") - 1) / _DV_MAX_RUN).cast("bigint"),
                )
            ).alias("_i", "_z"),
            "start",
            "n",
        )
        .select(
            "file",
            (F.col("start") + F.col("_i") * _DV_MAX_RUN).alias("start"),
            F.least(
                F.lit(_DV_MAX_RUN).cast("bigint"),
                F.col("n") - F.col("_i") * _DV_MAX_RUN,
            ).alias("n"),
        )
    )
    return chunk


def _apply_dvs(
    spark: SparkSession, df: DataFrame, dvs: list, files: list
) -> DataFrame:
    """Anti-join out deletion-vector row positions. ``df`` must be the
    raw scan of ``files`` (no projection yet — _metadata is only
    addressable on the scan). Sidecars whose targets are disjoint from
    this read are skipped; positions for files outside the read never
    match, so over-wide sidecars are harmless."""
    from pyspark.sql import functions as F

    fset = set(files)
    sidecars = [
        p for sf, tg in dvs if set(tg) & fset for p in sf
    ]
    if not sidecars:
        return df
    dv = _read_dv(spark, sidecars).select(
        F.col("file").alias("_dv_file"), F.col("pos").alias("_dv_pos")
    )
    cols = df.columns
    return (
        df.withColumn(
            "_dv_file", _strip_file_uri(F.col("_metadata.file_path"))
        )
        .withColumn("_dv_pos", F.col("_metadata.row_index"))
        .join(dv, ["_dv_file", "_dv_pos"], "left_anti")
        .select(*cols)
    )


def _attach_row_ids(
    spark: SparkSession, df: DataFrame, state: "_TableState", files: list
) -> DataFrame:
    """Turn the scan temps (_pfile, _idx) plus any materialized
    __row_id column into the logical ``_row_id``: materialized wins
    (rewritten files), else the file's commit-reserved base + row
    position. One broadcast map of O(files) rows."""
    from pyspark.sql import functions as F

    rows_b = [
        (_uri_path(f), int(state.row_bases[f]))
        for f in files
        if f in state.row_bases
    ]
    if rows_b:
        bmap = spark.createDataFrame(
            rows_b,
            T.StructType(
                [
                    T.StructField("_bfile", T.StringType(), False),
                    T.StructField("_bbase", T.LongType(), False),
                ]
            ),
        )
        df = df.join(
            F.broadcast(bmap), df["_pfile"] == bmap["_bfile"], "left"
        ).drop("_bfile")
    else:
        df = df.withColumn("_bbase", F.lit(None).cast("long"))
    mat = (
        F.col(ROW_ID_COL).cast("long")
        if ROW_ID_COL in df.columns
        else F.lit(None).cast("long")
    )
    df = df.withColumn(
        "_row_id", F.coalesce(mat, F.col("_bbase") + F.col("_idx"))
    )
    drops = [
        c
        for c in ("_pfile", "_idx", "_bbase", ROW_ID_COL)
        if c in df.columns
    ]
    return df.drop(*drops)


def _part_map_df(
    spark: SparkSession, state: "_TableState", files: list, table_json: str
) -> DataFrame:
    """The (file -> typed partition values) map as a tiny DataFrame
    keyed ``_pfile`` — broadcast-joined onto scans to re-attach the
    partition columns hive layouts strip from data files. O(files)
    rows, never row-scaled. Columns come out under their PHYSICAL
    names (the spec's vocabulary) — the scan they join onto is
    physical; the logical rename happens once at the end of
    _read_files."""
    import json

    schema = T.StructType.fromJson(json.loads(table_json))
    types = {
        (f.metadata or {}).get("cm_phys", f.name): f.dataType
        for f in schema.fields
    }
    fields = [T.StructField("_pfile", T.StringType(), False)] + [
        T.StructField(c, types[c], True) for c in state.spec
    ]
    rows = [
        tuple(
            [_uri_path(f)]  # scan-side paths arrive URI-encoded
            + [
                _py_part_val((state.parts.get(f) or {}).get(c), types[c])
                for c in state.spec
            ]
        )
        for f in files
    ]
    return spark.createDataFrame(rows, T.StructType(fields))


# partition-value groups up to this many attach values as LITERAL
# columns on per-group scans (no join, whole-stage codegen'd constants
# — an equality partition read is a pure scan); beyond it, one
# broadcast map join covers arbitrary cardinality
_PART_ATTACH_UNION_MAX = 64


def _read_files(
    spark: SparkSession, root: str, version: int, files: list,
    as_schema: "str | None" = None,
    with_ids: bool = False,
) -> DataFrame:
    """Scan ``files`` under the table schema recorded at ``version``,
    with that version's deletion vectors anti-joined out and (for a
    partitioned table) the partition columns re-attached from the
    log's recorded per-file values — as per-group literal columns when
    the read touches few partitions (the common pruned case: zero join
    cost), else via one broadcast map join. The expensive schema path
    — mergeSchema (a footer read per file) plus a column-aligning
    select — is paid ONLY when the log proves the live files span more
    than one write schema; a never-evolved table stays a plain
    first-footer scan. Under column mapping the comparison runs on
    PHYSICAL projections, so a metadata-only rename never starts
    charging footer reads for untouched files. ``as_schema`` overrides
    the schema the result is presented under (txn_changes reads
    historical snapshots under the range-end schema: physical names
    are stable, so the override is just a different logical rename)."""
    import json

    from pyspark.sql import functions as F

    state = _replay(root, version)
    table_json = _table_schema_json(root, version)
    eff_json = as_schema or table_json
    mapping = _cm_mapping(eff_json)
    distinct = {state.file_schemas.get(f) for f in files}

    # type widening: when live files span DIFFERENT physical types for
    # one column (files written before/after txn_widen_column),
    # mergeSchema would fail outright — instead scan per schema-group
    # under each group's own types, CAST to the table type and union.
    def _phys_types(sjson):
        if sjson is None:
            return None
        s = T.StructType.fromJson(json.loads(sjson))
        return {
            (f.metadata or {}).get("cm_phys", f.name): f.dataType
            for f in s.fields
        }

    base_types = _phys_types(table_json) or {}
    tmix = False
    for sjson in distinct:
        pt = _phys_types(sjson)
        if pt is None:
            continue
        if any(
            k in base_types and base_types[k] != dt for k, dt in pt.items()
        ):
            tmix = True
            break
    if tmix and table_json is not None:
        by_schema: dict = {}
        for f in files:
            by_schema.setdefault(state.file_schemas.get(f), []).append(f)
        out = None
        for sjson, gfiles in sorted(by_schema.items(), key=str):
            scan = spark.read.option("mergeSchema", "true").parquet(*gfiles)
            if state.spec or with_ids:
                scan = scan.withColumn(
                    "_pfile", _strip_file_uri(F.col("_metadata.file_path"))
                )
            if with_ids:
                scan = scan.withColumn(
                    "_idx", F.col("_metadata.row_index")
                )
            scan = _apply_dvs(spark, scan, state.dvs, gfiles)
            if state.spec:
                pmap = _part_map_df(spark, state, gfiles, table_json)
                keep_p = (
                    scan.join(F.broadcast(pmap), "_pfile")
                    if with_ids
                    else scan.join(F.broadcast(pmap), "_pfile").drop("_pfile")
                )
                scan = keep_p
            scan = _cm_rename_scan(
                scan, eff_json,
                extra=[
                    c
                    for c in ("_pfile", "_idx", ROW_ID_COL)
                    if with_ids and c in scan.columns
                ],
            )
            out = (
                scan
                if out is None
                else out.unionByName(scan, allowMissingColumns=True)
            )
        if with_ids:
            out = _attach_row_ids(spark, out, state, files)
        return out
    if table_json is not None and _cm_mapping(table_json):
        tphys = _cm_physical_json(table_json)
        dphys = {
            None if s is None else _cm_physical_json(s) for s in distinct
        }
        merge = not (dphys <= {tphys})
    else:
        merge = not (table_json is None or distinct <= {table_json})
    if with_ids:
        merge = True  # materialized __row_id lives only in SOME files
    reader = spark.read.option("mergeSchema", "true") if merge else spark.read

    if state.spec:
        types = {
            (f.metadata or {}).get("cm_phys", f.name): f.dataType
            for f in T.StructType.fromJson(json.loads(table_json)).fields
        }
        groups: dict[tuple, list] = {}
        for f in files:
            vals = state.parts.get(f) or {}
            groups.setdefault(
                tuple(vals.get(c) for c in state.spec), []
            ).append(f)
        if len(groups) <= _PART_ATTACH_UNION_MAX:
            df = None
            for key, gfiles in sorted(groups.items(), key=str):
                scan = reader.parquet(*gfiles)
                if with_ids:
                    scan = scan.withColumn(
                        "_pfile",
                        _strip_file_uri(F.col("_metadata.file_path")),
                    ).withColumn("_idx", F.col("_metadata.row_index"))
                scan = _apply_dvs(spark, scan, state.dvs, gfiles)
                for c, sval in zip(state.spec, key):
                    scan = scan.withColumn(
                        c,
                        F.lit(_py_part_val(sval, types[c])).cast(types[c]),
                    )
                df = (
                    scan
                    if df is None
                    else df.unionByName(scan, allowMissingColumns=True)
                )
        else:
            df = reader.parquet(*files).withColumn(
                "_pfile", _strip_file_uri(F.col("_metadata.file_path"))
            )
            if with_ids:
                df = df.withColumn("_idx", F.col("_metadata.row_index"))
            df = _apply_dvs(spark, df, state.dvs, files)
            pmap = _part_map_df(spark, state, files, table_json)
            joined = df.join(F.broadcast(pmap), "_pfile")
            df = joined if with_ids else joined.drop("_pfile")
    else:
        df = reader.parquet(*files)
        if with_ids:
            df = df.withColumn(
                "_pfile", _strip_file_uri(F.col("_metadata.file_path"))
            ).withColumn("_idx", F.col("_metadata.row_index"))
        df = _apply_dvs(spark, df, state.dvs, files)
    if with_ids:
        df = _attach_row_ids(spark, df, state, files)
        return _cm_rename_scan(df, eff_json, extra=["_row_id"])
    if eff_json is not None and (mapping or as_schema):
        # physical -> logical rename (and dropped-column pruning);
        # subsumes the aligning select below
        df = _cm_rename_scan(df, eff_json)
    elif table_json is not None and (merge or state.spec):
        schema = T.StructType.fromJson(json.loads(table_json))
        df = df.select(*[f.name for f in schema.fields])
    elif ROW_ID_COL in df.columns:
        # a materialized-id file's footer won the plain scan: the
        # physical id column is internal, never a table column
        df = df.drop(ROW_ID_COL)
    return df


def txn_read(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read the transactional table at its latest committed version or
    a pinned historical one (time travel by log replay). Files written
    before a schema evolution surface the added columns as NULL, and
    every read presents the version's recorded table schema."""
    version = _resolve_version(root, version)
    files = _txn_state(root, version)
    if not files:
        raise ValueError(f"version {version} is an empty table state")
    return _read_files(spark, root, version, files)


def txn_read_pruned(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    version: "int | None" = None,
) -> "tuple[DataFrame, int, int]":
    """Range read with commit-embedded data skipping: files whose
    [min, max] for ``col`` provably misses [lo, hi] are never opened —
    pure log arithmetic, no parquet footer reads (the skip at millions
    of files is the LISTING, which is what add-file stats remove).
    Skip-only-on-proof (_files_in_range): a live file with no recorded
    stats, or a NULL min/max (all-null chunk), is always scanned. The
    residual filter on the caller's own bounds is still pushed to the
    parquet reader for row-group pruning inside survivors. A None bound
    raises ValueError. Returns (df, files_read, files_total)."""
    from pyspark.sql import functions as F

    _require_range(lo, hi)
    version = _resolve_version(root, version)
    files, _, stats = _replay(root, version)[:3]
    # stats are keyed by PHYSICAL column name; the caller speaks logical
    pcol = _cm_phys(_cm_mapping(_table_schema_json(root, version)), col)
    keep = _files_in_range(files, stats, {pcol: (lo, hi)})
    return _pruned_read(
        lambda fs: _read_files(spark, root, version, fs),
        files, keep, F.col(col).between(lo, hi),
    )


# generation expressions a derived-range read recognizes as MONOTONE
# in their source column — the property that makes [f(lo), f(hi)] a
# sound pruning interval for a source-range predicate. Deliberately a
# whitelist: pruning through a non-monotone derivation (hash, month
# number without year) would silently drop matching files.
_MONOTONE_GEN_PATTERNS = (
    r"CAST\s*\(\s*{c}\s+AS\s+DATE\s*\)",
    r"to_date\s*\(\s*{c}\s*\)",
    r"date_trunc\s*\(\s*'[A-Za-z]+'\s*,\s*{c}\s*\)",
    r"CAST\s*\(\s*{c}\s+AS\s+TIMESTAMP\s*\)",
)


def txn_read_pruned_derived(
    spark: SparkSession,
    root: str,
    src_col: str,
    lo,
    hi,
    version: "int | None" = None,
) -> "tuple[DataFrame, int, int]":
    """Range read on a RAW column pruned through a GENERATED column
    (the Delta generated-column partition-pruning shape): for a table
    whose partition/stats column is GENERATED ALWAYS AS a monotone
    derivation of ``src_col`` (CAST AS DATE / to_date / date_trunc),
    a predicate ``src_col BETWEEN lo AND hi`` prunes files with the
    DERIVED interval [f(lo), f(hi)] against the generated column's
    commit-embedded stats — so the everyday query pattern 'filter the
    raw event timestamp' skips whole date partitions without the
    caller ever naming the partition column. Pure log arithmetic, no
    footer opened; the exact source-range filter is still applied to
    survivors. A None bound raises ValueError. Returns (df, files_read,
    files_total)."""
    import json
    import re

    from pyspark.sql import functions as F

    _require_range(lo, hi)
    version = _resolve_version(root, version)
    state = _replay(root, version)
    table_json = _table_schema_json(root, version)
    mapping = _cm_mapping(table_json)
    cand = None
    for g, expr in sorted(state.generated.items()):
        for p in _MONOTONE_GEN_PATTERNS:
            if re.fullmatch(
                r"\s*" + p.format(c=re.escape(src_col)) + r"\s*",
                expr,
                re.IGNORECASE,
            ):
                cand = (g, expr)
                break
        if cand:
            break
    if cand is None:
        raise ValueError(
            f"no generated column is a recognized monotone derivation "
            f"of {src_col!r} (generated map: {state.generated})"
        )
    g, expr = cand
    # evaluate the derivation on the two bounds IN-ENGINE — the same
    # expression the writes used, so the interval is exact by
    # construction (no python reimplementation to drift)
    src_type = next(
        f.dataType
        for f in T.StructType.fromJson(json.loads(table_json)).fields
        if f.name == src_col
    )
    bounds = (
        spark.createDataFrame([(str(lo),), (str(hi),)], "b string")
        .select(F.col("b").cast(src_type).alias(src_col))
        .select(F.col(src_col), F.expr(expr).alias("_g"))
        .collect()
    )
    tlo, thi = bounds[0][src_col], bounds[1][src_col]
    if tlo is None or thi is None:
        raise ValueError(
            f"bounds {lo!r}..{hi!r} do not cast to {src_type.simpleString()}"
        )
    gvals = [r["_g"] for r in bounds]
    keep = _files_in_range(
        state.files, state.stats,
        {_cm_phys(mapping, g): (min(gvals), max(gvals))},
    )
    return _pruned_read(
        lambda fs: _read_files(spark, root, version, fs),
        state.files, keep, F.col(src_col).between(tlo, thi),
    )


def txn_read_partitioned(
    spark: SparkSession,
    root: str,
    filters: dict,
    version: "int | None" = None,
) -> "tuple[DataFrame, int, int]":
    """Partition-pruned read: keep only the files whose recorded
    partition values EQUAL every ``{col: value}`` filter — an exact
    proof (partition pruning), not a min/max may-contain one, resolved
    entirely from the log (no file opened, no directory listed). A
    ``None`` filter value selects the null partition. Non-partition
    columns are rejected (use txn_read_pruned's stats ranges there;
    note partition columns work THERE too — their values double as
    singleton stats). Returns (df, files_read, files_total)."""
    from pyspark.sql import functions as F

    version = _resolve_version(root, version)
    state = _replay(root, version)
    import json

    table_json = _table_schema_json(root, version)
    mapping = _cm_mapping(table_json)
    # the spec (and per-file values) live under PHYSICAL names; the
    # caller filters by logical name
    pfilters = {_cm_phys(mapping, c): v for c, v in filters.items()}
    bad = sorted(
        c
        for c in filters
        if _cm_phys(mapping, c) not in set(state.spec)
        # under mapping the filter must also be a LIVE logical column —
        # a renamed partition column's OLD name must not keep working
        # just because it equals the physical name
        or (mapping is not None and c not in mapping)
    )
    if bad:
        raise ValueError(
            f"not partition columns of this table: {bad} (spec={state.spec})"
        )
    types = {
        (f.metadata or {}).get("cm_phys", f.name): f.dataType
        for f in T.StructType.fromJson(json.loads(table_json)).fields
    }
    keep = [
        f
        for f in state.files
        if all(
            _py_part_val((state.parts.get(f) or {}).get(c), types[c]) == v
            for c, v in pfilters.items()
        )
    ]
    residual = F.lit(True)  # defensive: prunes to a no-op
    for c, v in filters.items():
        residual = residual & (
            F.col(c).isNull() if v is None else F.col(c) == F.lit(v)
        )
    return _pruned_read(
        lambda fs: _read_files(spark, root, version, fs),
        state.files, keep, residual,
    )


def txn_changes(
    spark: SparkSession,
    root: str,
    v_from: int,
    v_to: "int | None" = None,
) -> DataFrame:
    """Row-level change feed for versions ``v_from..v_to`` (inclusive),
    derived purely from the transaction log — no change data is stored
    at write time (the readChangeFeed shape, reconstructed). Output =
    the v_to table schema plus ``_change_type`` ('insert' | 'delete')
    and ``_commit_version``. An update surfaces as a delete of the
    pre-image plus an insert of the post-image at the same version —
    the log records files, not keys, so pairing them back into
    update_pre/update_post is the consumer's key-aware join.

    Per-op derivation: append -> added files are inserts. overwrite ->
    the prior snapshot deletes, the new files insert. merge -> removed
    files AT v-1 ``exceptAll`` added files (and vice versa), so
    rewritten-but-identical rows cancel and only true churn surfaces.
    dv -> the sidecar positions' rows, minus rows an earlier DV already
    hid. compact -> no logical change, nothing emitted. Downstream
    incremental consumers (IVM, replication, index maintenance) read
    this instead of rescanning the table: cost scales with the CHANGED
    files, never the table."""
    import json

    from pyspark.sql import functions as F

    latest = _latest(root)
    if v_to is None:
        v_to = latest
    if not 0 <= v_from <= v_to <= latest:
        raise ValueError(f"bad version range [{v_from}, {v_to}] vs {latest}")
    _check_horizon(root, v_from)
    tj_to = _table_schema_json(root, v_to)
    table = T.StructType.fromJson(json.loads(tj_to))
    names = [f.name for f in table.fields]
    types = {f.name: f.dataType for f in table.fields}
    # under column mapping every snapshot is read under the RANGE-END
    # schema (physical names are stable, so an override is just a
    # different logical rename) — changes across a rename come out in
    # the rename's current vocabulary instead of NULLing out
    ov = tj_to if _cm_mapping(tj_to) else None

    def align(df: DataFrame) -> DataFrame:
        return df.select(
            *[
                F.col(n) if n in df.columns
                else F.lit(None).cast(types[n]).alias(n)
                for n in names
            ]
        )

    def tag(df: DataFrame, kind: str, v: int) -> DataFrame:
        return df.withColumn("_change_type", F.lit(kind)).withColumn(
            "_commit_version", F.lit(v).cast("bigint")
        )

    parts: list[DataFrame] = []
    for v in range(v_from, v_to + 1):
        c = _read_commit(root, v)
        if c["op"] == "compact":
            continue
        if c["op"] == "append":
            if c["files"]:
                parts.append(tag(align(_read_files(spark, root, v, c["files"], as_schema=ov)), "insert", v))
        elif c["op"] == "overwrite":
            prev = _txn_state(root, v - 1) if v > 0 else []
            if prev:
                parts.append(tag(align(_read_files(spark, root, v - 1, prev, as_schema=ov)), "delete", v))
            if c["files"]:
                parts.append(tag(align(_read_files(spark, root, v, c["files"], as_schema=ov)), "insert", v))
        elif c["op"] == "merge":
            old = (
                align(_read_files(spark, root, v - 1, c["removes"], as_schema=ov))
                if c["removes"]
                else spark.createDataFrame([], table)
            )
            new = (
                align(_read_files(spark, root, v, c["files"], as_schema=ov))
                if c["files"]
                else spark.createDataFrame([], table)
            )
            parts.append(tag(old.exceptAll(new), "delete", v))
            parts.append(tag(new.exceptAll(old), "insert", v))
        elif c["op"] == "dv":
            st_v = _replay(root, v)
            newdv = _read_dv(spark, c["files"]).select(
                F.col("file").alias("_dv_file"), F.col("pos").alias("_dv_pos")
            )
            prior = [
                p
                for sf, tg in _replay(root, v - 1).dvs
                if set(tg) & set(c["dv_for"])
                for p in sf
            ]
            # per-write-schema scan groups: a DV whose targets span a
            # type widening cannot be read in one mergeSchema scan
            for gfiles in _schema_groups(st_v, c["dv_for"]):
                scan = (
                    spark.read.option("mergeSchema", "true")
                    .parquet(*gfiles)
                    .withColumn(
                        "_dv_file",
                        _strip_file_uri(F.col("_metadata.file_path")),
                    )
                    .withColumn("_dv_pos", F.col("_metadata.row_index"))
                )
                hit = scan.join(newdv, ["_dv_file", "_dv_pos"], "left_semi")
                if prior:
                    olddv = _read_dv(spark, prior).select(
                        F.col("file").alias("_dv_file"),
                        F.col("pos").alias("_dv_pos"),
                    )
                    hit = hit.join(
                        olddv, ["_dv_file", "_dv_pos"], "left_anti"
                    )
                if st_v.spec:
                    pmap = _part_map_df(
                        spark, st_v, gfiles, _table_schema_json(root, v)
                    ).withColumnRenamed("_pfile", "_dv_file")
                    hit = hit.join(F.broadcast(pmap), "_dv_file")
                # _cm_rename_scan is the generic projector: mapped
                # tables rename physical->logical, widened histories
                # cast to the range-end types, plain tables no-op
                parts.append(
                    tag(align(_cm_rename_scan(hit, tj_to)), "delete", v)
                )
    if not parts:
        empty = spark.createDataFrame([], table)
        return tag(empty, "insert", v_from).filter(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def txn_read_incremental(
    spark: SparkSession, root: str, last_version: "int | None"
) -> "tuple[DataFrame | None, int]":
    """Streaming-source semantics over the transactional table (the
    'stream FROM a Delta table' shape, polled): return the row-level
    changes SINCE ``last_version`` (exclusive) plus the new cursor to
    persist. None df when nothing committed since. The consumer folds
    inserts/deletes (or ignores deletes for append-only topologies) and
    stores the cursor transactionally with its own output — pair with
    txn_write(txn=...) for end-to-end exactly-once across the hop.
    Each poll reads only the files the gap commits touched, so a
    minute-cadence consumer of a 100 TB table pays per-commit cost,
    never a table scan."""
    latest = txn_latest_version(root)
    if latest is None or (last_version is not None and latest <= last_version):
        return None, latest if latest is not None else -1
    v_from = 0 if last_version is None else last_version + 1
    return txn_changes(spark, root, v_from, latest), latest


def txn_restore(root: str, version: int) -> int:
    """RESTORE TABLE to a historical version: commits the old file
    list (and its schema) as a NEW overwrite — history is append-only,
    nothing is deleted, and the restore itself is time-travelable.
    A target version with ACTIVE deletion vectors is refused: an
    overwrite clears DV lineage (and must — restores reuse file paths,
    so a later DV would otherwise re-attach), which would resurrect
    the DV-hidden rows; compact first to materialize the DVs, then
    restore to the post-compaction version. Raises on an invalid
    version; optimistic-commit rules apply (an overwrite that loses
    its race raises, like any overwrite)."""
    latest = _latest(root)
    version = _resolve_version(root, version)
    files = _txn_state(root, version)
    # an overwrite drops DV lineage; fold the restored version's DVs in
    # by keeping them as a dv commit right after would — simpler and
    # exact: refuse files-only restore when DVs were active, and point
    # the caller at the copy-on-write path
    old = _replay(root, version)
    if old.dvs:
        raise ValueError(
            "restore target has active deletion vectors; materialize "
            "first (txn_compact at that version's state) or restore to "
            "a post-compaction version"
        )
    # re-embed the restored files' stats, partition values AND row-id
    # bases: replay accumulates them across history, but a checkpoint
    # between the files' death and this restore stores only live-file
    # maps — the restore commit is the proof carrier either way
    # (baseless restored files would otherwise read NULL _row_id,
    # silently breaking stable-id consumers like CDC update pairing)
    def extra(tip):
        st = _replay(root, tip) if tip is not None else None
        now_tracking = st.row_tracking if st is not None else False
        if old.row_tracking:
            # files absent from old.row_bases carry materialized ids
            rb = {f: old.row_bases[f] for f in files if f in old.row_bases}
            return {
                "row_bases": rb,
                "row_hwm": max(old.row_hwm, st.row_hwm if st else 0),
            }
        if now_tracking:
            # restoring to a PRE-tracking version of a tracked table:
            # those files never had ids — allocate fresh, never-reused
            # ranges (the enable-time backfill contract)
            rb, hwm = _row_alloc_ranges(
                list(files),
                {
                    f: old.stats.get(f, {}).get(_NROWS_KEY, 0)
                    for f in files
                },
                st.row_hwm,
            )
            return {"row_bases": rb, "row_hwm": hwm}
        return None

    def schema_fn(tip):
        tj_old = _table_schema_json(root, version)
        tj_now = _table_schema_json(root, tip) if tip is not None else None
        if (
            tj_old is not None
            and not _cm_mapping(tj_old)
            and _cm_mapping(tj_now)
        ):
            # restoring to a PRE-mapping version of a mapped table
            # must not downgrade the table protocol (readers that
            # replayed mapped commits would misproject, and CDF under
            # the range-end schema would NULL-fill the mapped history):
            # stamp enable-time physical names — exact, because the
            # restored files were written pre-mapping and carry their
            # logical names physically (the r7 ROADMAP corner)
            import json as _json

            s = T.StructType.fromJson(_json.loads(tj_old))
            return T.StructType(
                [
                    T.StructField(
                        f.name, f.dataType, True, {"cm_phys": f.name}
                    )
                    for f in s.fields
                ]
            ).json()
        return tj_old

    return _txn_commit(
        root, "overwrite", list(files), [], latest, None,
        old.stats or None, schema_fn,
        parts=old.parts if old.spec else None, spec=old.spec,
        extra_commit=extra,
        # restored files may carry materialized __row_id (post-compact
        # states of a tracked table)
        min_protocol=ROWID_PROTOCOL if old.row_tracking else PROTOCOL_VERSION,
    )


def txn_clone(src_root: str, dst_root: str) -> int:
    """SHALLOW CLONE: start a new transactional table whose v0
    references the source's CURRENT data files without copying a byte
    — experiments and what-if writes diverge from the clone point with
    zero storage cost. The clone carries the source's schema, add-file
    stats and active deletion vectors (sidecars referenced in place).
    CAVEAT (same as Delta shallow clones): vacuuming the SOURCE can
    delete files the clone references — clones are for short-lived
    branches, deep-copy (txn_write of a txn_read) for archival."""
    latest = _latest(src_root)
    if txn_latest_version(dst_root) is not None:
        raise FileExistsError(f"{dst_root} already has a transaction log")
    state = _replay(src_root, latest)
    os.makedirs(_log_dir(dst_root), exist_ok=True)
    schema0 = _table_schema_json(src_root, latest)
    commit = {
        "version": 0,
        "op": "overwrite",
        "files": list(state.files),
        "read_version": None,
        "stats": dict(state.stats),
        "protocol": _commit_protocol(schema0),
    }
    if state.spec:
        commit["partition_by"] = list(state.spec)
        commit["partitions"] = dict(state.parts)
    if state.constraints:  # table properties travel with the clone
        commit["constraints"] = dict(state.constraints)
    if state.generated:
        commit["generated"] = dict(state.generated)
    if state.row_tracking:
        commit["row_tracking"] = True
        commit["row_bases"] = dict(state.row_bases)
        commit["row_hwm"] = state.row_hwm
    commits = [commit] + [  # carry active DVs as commits
        {
            "version": v,
            "op": "dv",
            "files": list(sidecars),
            "dv_for": list(targets),
            "read_version": v - 1,
            "protocol": _commit_protocol(schema0),
        }
        for v, (sidecars, targets) in enumerate(state.dvs, start=1)
    ]
    for v, c in enumerate(commits):
        if schema0 is not None:
            c["schema"] = schema0
        if not _publish(dst_root, v, c):
            raise FileExistsError(f"{dst_root} already has version {v}")
    return len(commits) - 1


def txn_vacuum_retain(root: str, keep_from: int) -> list[str]:
    """VACUUM with a retention horizon (the Delta VACUUM ... RETAIN
    shape): reclaim the data files referenced ONLY by versions below
    ``keep_from``. Without this, a long-lived table's storage grows
    forever — every compaction and merge keeps its pre-images alive
    for time travel. The horizon marker is persisted FIRST (atomic
    rename), so a crash mid-delete leaves readers refusing loudly
    rather than tripping over missing files; then everything a
    version >= keep_from can need stays: its live files, its active
    DV sidecars, and the pre-image files its commit's removes/dv_for
    reference (so txn_changes(keep_from, ...) still reconstructs the
    boundary commit's churn). Time travel, CDF and restore below the
    horizon refuse with a clear error. The log is never touched —
    lineage and txn_history survive. Monotone: a smaller keep_from
    than the current horizon is clamped up. Returns deleted paths.

    Note the boundary nuance: a horizon placed EXACTLY on a
    compact/merge keeps that commit's pre-images, and one placed
    exactly on an OVERWRITE keeps the v-1 live state it replaced
    (txn_changes needs both); to reclaim a rewrite's or overwrite's
    pre-images, place the horizon one version past it."""
    import json
    import uuid

    latest = _latest(root)
    if not 0 <= keep_from <= latest:
        raise ValueError(f"keep_from {keep_from} not in [0, {latest}]")
    keep_from = max(keep_from, _vacuum_horizon(root))
    tmp = _horizon_path(root) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"version": keep_from}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _horizon_path(root))

    keep: set[str] = set()
    for v in range(keep_from, latest + 1):
        st = _replay(root, v)
        keep.update(st.files)
        for sidecars, _tg in st.dvs:
            keep.update(sidecars)
        c = _read_commit(root, v)
        keep.update(c.get("removes", ()))
        keep.update(c.get("dv_for", ()))
        if c["op"] == "dv":
            keep.update(c["files"])
        if v == keep_from and v > 0 and c["op"] == "overwrite":
            # an overwrite records no removes — its pre-image is the
            # ENTIRE v-1 live state (plus the DV sidecars needed to
            # read it), which txn_changes(keep_from, ...) replays as
            # that commit's delete rows; overwrites above the boundary
            # are covered by the v-1 iteration's own keep.update
            prev = _replay(root, v - 1)
            keep.update(prev.files)
            for sidecars, _tg in prev.dvs:
                keep.update(sidecars)
    removed = []
    data_root = os.path.join(root, "_data")
    if os.path.isdir(data_root):
        for dirpath, _dirs, fnames in os.walk(data_root):
            for f in sorted(fnames):
                p = os.path.join(dirpath, f)
                if f.endswith(".parquet") and p not in keep:
                    os.remove(p)
                    removed.append(p)
    return removed


def txn_vacuum(root: str) -> list[str]:
    """Delete data files no committed version references (aborted or
    pre-commit writer garbage). Never touches the log. Composes with
    txn_vacuum_retain: every version's state still pins files here
    (below-horizon files retain already deleted are simply absent),
    so this never removes the boundary pre-images retain kept."""
    latest = txn_latest_version(root)
    live: set[str] = set()
    if latest is not None:
        # historical overwrites keep their files readable via time
        # travel, so every version's files are live by construction;
        # dv sidecars are live through the commit that recorded them
        live = {f for v in range(latest + 1) for f in _txn_state(root, v)}
        for v in range(latest + 1):
            c = _read_commit(root, v)
            if c["op"] == "dv":
                live.update(c["files"])
    removed = []
    data_root = os.path.join(root, "_data")
    if os.path.isdir(data_root):
        # walk: partitioned writes nest col=value/ dirs under the uuid
        for dirpath, _dirs, fnames in os.walk(data_root):
            for f in sorted(fnames):
                p = os.path.join(dirpath, f)
                if f.endswith(".parquet") and p not in live:
                    os.remove(p)
                    removed.append(p)
    return removed


# ---------------------------------------------------------------------------
# Multi-table transactions (r7 continuation) — one atomic commit spanning
# several tables. The single-table log makes each TABLE a serializable
# history, but a pipeline step that must publish "corpus shards + index
# + manifest" as one unit cannot get cross-table atomicity from N
# independent logs (a crash between commits leaves a half-published
# state readers can see). The catalog layer moves the atomic point UP:
# one shared log whose commits carry a per-table action map, over the
# same create-if-absent primitive.
#
# Layout:
#   cat_root/_log/<v 20d>.json        one IMMUTABLE commit per version
#   cat_root/_data/<table>/<uuid>/    data files, written before commit
#
# A catalog VERSION is a consistent cross-table snapshot: reading table
# A and table B "at v12" can never mix A's v12 with B's v11 — the
# reproducible-training contract ("this model saw corpus v12 with index
# v12") the single-table layer cannot give.
#
# Scope (lean by design): atomic multi-table APPEND / OVERWRITE with
# schema enforcement, per-table add-file stats + pruned reads,
# idempotent writer transactions, time travel and vacuum. Row-level
# surgery (merge, deletion vectors, partition layouts, evolution)
# stays on single-table roots where those histories already compose;
# a workload needing both keeps per-table roots for surgery and a
# catalog for the atomic publish step (txn_clone is the zero-copy
# bridge). Conflict rules per gap commit, per SHARED table: append vs
# append rebases (disjoint files by construction); anything involving
# an overwrite of a shared table raises. Commits touching disjoint
# table sets always rebase past each other.
# ---------------------------------------------------------------------------


def _cat_replay(cat_root: str, version: int) -> "tuple[dict, set]":
    """Catalog state at ``version``: {table: {"files": [...], "schema":
    json, "stats": {file: {col: [mn, mx]}}}} plus the seen (app, run)
    txn set. O(versions) replay — catalogs gate PUBLISH steps (tens a
    day), not row traffic; the single-table checkpoint pattern drops in
    if a deployment ever runs minute-cadence catalog commits."""
    state: dict = {}
    txns: set = set()
    for v in range(version + 1):
        c = _read_commit(cat_root, v)
        for name, act in c["tables"].items():
            t = state.setdefault(
                name, {"files": [], "schema": None, "stats": {}}
            )
            if act["op"] == "overwrite":
                t["files"] = list(act["files"])
                t["stats"] = dict(act.get("stats", {}))
            else:
                t["files"] = t["files"] + list(act["files"])
                t["stats"].update(act.get("stats", {}))
            t["schema"] = act.get("schema", t["schema"])
        if "txn_app" in c:
            txns.add((c["txn_app"], c["txn_run"]))
    return state, txns


def txn_multi_write(
    cat_root: str,
    writes: dict,
    stats_cols: "dict[str, list[str]] | None" = None,
    txn: "tuple[str, int] | None" = None,
) -> "int | None":
    """Commit several tables ATOMICALLY as one catalog version.
    ``writes`` maps table name -> DataFrame (append) or
    (DataFrame, "append"|"overwrite"). All data files for every table
    are written BEFORE the single _publish of the log entry, so a crash
    anywhere leaves only invisible garbage — no reader can ever see
    table A's half of the publish without table B's. ``stats_cols``
    (per table) embeds add-file min/max for txn_table_read_pruned.
    Returns the catalog version, or None on an idempotent ``txn``
    replay. Raises :class:`SchemaMismatch` when an append diverges
    from a table's schema, :class:`ConcurrentWriteConflict` when a
    lost race cannot be rebased (an overwrite of a table a gap commit
    also touched, in either direction)."""
    norm: dict[str, tuple] = {}
    for name, w in writes.items():
        df, mode = w if isinstance(w, tuple) else (w, "append")
        if mode not in ("append", "overwrite"):
            raise ValueError(f"{name}: mode must be append|overwrite")
        norm[name] = (df, mode)
    if not norm:
        raise ValueError("empty writes")
    os.makedirs(_log_dir(cat_root), exist_ok=True)
    read_v = txn_latest_version(cat_root)
    state, txns = (
        _cat_replay(cat_root, read_v) if read_v is not None else ({}, set())
    )
    if txn is not None and tuple(txn) in txns:
        return None

    def check_schemas(st: dict) -> dict:
        out = {}
        for name, (df, mode) in norm.items():
            if mode == "overwrite":
                out[name] = df.schema.json()
            else:
                out[name] = _check_schema(
                    (st.get(name) or {}).get("schema"), df.schema, False
                )
        return out

    schemas = check_schemas(state)  # fail fast BEFORE the data writes
    actions = {}
    for name, (df, mode) in norm.items():
        files = _write_data_files(df, os.path.join(cat_root, "_data", name))
        act = {"op": mode, "files": files, "schema": schemas[name]}
        cols = (stats_cols or {}).get(name)
        if cols and files:
            act["stats"] = _collect_file_stats(df.sparkSession, files, cols)
        actions[name] = act

    attempt_v = (read_v if read_v is not None else -1) + 1
    for _ in range(COMMIT_RETRIES):
        commit = {
            "version": attempt_v,
            "op": "multi",
            "tables": actions,
            "read_version": read_v,
            "protocol": PROTOCOL_VERSION,
        }
        if txn is not None:
            commit["txn_app"], commit["txn_run"] = txn[0], txn[1]
        if _publish(cat_root, attempt_v, commit):
            return attempt_v
        new_latest = txn_latest_version(cat_root)
        assert new_latest is not None and new_latest >= attempt_v
        new_state, new_txns = _cat_replay(cat_root, new_latest)
        if txn is not None and tuple(txn) in new_txns:
            return None
        for v in range(attempt_v, new_latest + 1):
            won = _read_commit(cat_root, v)
            shared = set(won["tables"]) & set(actions)
            for name in sorted(shared):
                if (
                    won["tables"][name]["op"] == "overwrite"
                    or actions[name]["op"] == "overwrite"
                ):
                    raise ConcurrentWriteConflict(
                        f"multi-table commit conflicts at v{v}: "
                        f"table {name!r} overwritten concurrently"
                    )
        # every shared table is append-vs-append: rebase, re-checking
        # the schemas against the tip (cheap, and exact either way)
        for name, sj in check_schemas(new_state).items():
            actions[name]["schema"] = sj
        attempt_v = new_latest + 1
    raise ConcurrentWriteConflict(f"gave up after {COMMIT_RETRIES} retries")


def txn_multi_sink(cat_root: str, app: str, splitter):
    """An exactly-once MULTI-TABLE streaming sink: each micro-batch is
    split into per-table frames by ``splitter(batch_df) -> {table:
    DataFrame}`` and published as ONE atomic catalog commit keyed
    (app, epoch_id) — the fan-out half of the publish contract: a
    stream feeding both a corpus table and its index can never land
    one without the other, and a replayed epoch is a no-op.
    ``stream.writeStream.foreachBatch(txn_multi_sink(cat, "pub", f))``.
    """

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        writes = splitter(batch_df)
        if writes:
            txn_multi_write(cat_root, writes, txn=(app, int(epoch_id)))

    return _sink


def txn_catalog_tables(cat_root: str, version: "int | None" = None) -> list:
    """Table names present in the catalog at ``version`` (default
    latest), sorted."""
    version = _resolve_version(cat_root, version)
    state, _ = _cat_replay(cat_root, version)
    return sorted(n for n, t in state.items() if t["files"])


def txn_table_read(
    spark: SparkSession,
    cat_root: str,
    table: str,
    version: "int | None" = None,
) -> DataFrame:
    """Read one table of the catalog at a (cross-table consistent)
    catalog version — default latest, or any pinned historical one."""
    version = _resolve_version(cat_root, version)
    state, _ = _cat_replay(cat_root, version)
    t = state.get(table)
    if t is None or not t["files"]:
        raise ValueError(f"table {table!r} is empty at version {version}")
    return spark.read.parquet(*t["files"])


def txn_table_read_pruned(
    spark: SparkSession,
    cat_root: str,
    table: str,
    col: str,
    lo,
    hi,
    version: "int | None" = None,
) -> "tuple[DataFrame, int, int]":
    """Range read over one catalog table with commit-embedded data
    skipping — same skip-only-on-proof contract as the single-table
    txn_read_pruned (_files_in_range); a None bound raises ValueError.
    Returns (df, files_read, files_total)."""
    from pyspark.sql import functions as F

    _require_range(lo, hi)
    version = _resolve_version(cat_root, version)
    state, _ = _cat_replay(cat_root, version)
    t = state.get(table)
    if t is None or not t["files"]:
        raise ValueError(f"table {table!r} is empty at version {version}")
    keep = _files_in_range(t["files"], t["stats"], {col: (lo, hi)})
    return _pruned_read(
        lambda fs: spark.read.parquet(*fs),
        t["files"], keep, F.col(col).between(lo, hi),
    )


def txn_multi_history(cat_root: str) -> list:
    """Catalog commit metadata, newest first: which tables each
    version touched and how."""
    out = []
    for v in range(_latest(cat_root), -1, -1):
        c = _read_commit(cat_root, v)
        out.append(
            {
                "version": v,
                "tables": {
                    n: {"op": a["op"], "n_files": len(a["files"])}
                    for n, a in c["tables"].items()
                },
                "read_version": c["read_version"],
                "txn": (
                    (c["txn_app"], c["txn_run"]) if "txn_app" in c else None
                ),
            }
        )
    return out


def txn_multi_vacuum(cat_root: str) -> list:
    """Delete catalog data files no committed version references
    (aborted multi-table publishes — the half-written garbage the
    atomic commit makes invisible). Never touches the log."""
    latest = txn_latest_version(cat_root)
    live: set = set()
    if latest is not None:
        for v in range(latest + 1):
            for act in _read_commit(cat_root, v)["tables"].values():
                live.update(act["files"])
    removed = []
    data_root = os.path.join(cat_root, "_data")
    if os.path.isdir(data_root):
        for dirpath, _dirs, fnames in os.walk(data_root):
            for f in sorted(fnames):
                p = os.path.join(dirpath, f)
                if f.endswith(".parquet") and p not in live:
                    os.remove(p)
                    removed.append(p)
    return removed
