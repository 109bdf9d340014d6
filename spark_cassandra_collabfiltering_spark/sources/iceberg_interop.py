"""Read-only Apache Iceberg interop (r8): replay a real Iceberg table's
metadata tree — built from the public Iceberg table spec (v1/v2) on
top of this repo's own from-scratch Avro reader (sources/
avro_source.py), with no Iceberg jar or library:

    metadata/v<N>.metadata.json   (or 00000-<uuid>.metadata.json +
                                   version-hint.text)
        -> current / pinned snapshot
        -> manifest LIST (an Avro container: one row per manifest)
        -> manifest FILES (Avro: one row per data/delete file entry)
        -> live parquet data files (+ v2 POSITION delete files)

- :func:`iceberg_read` — the table at the current or a pinned
  snapshot: resolve the live data-file set through the manifest tree
  (entries with status DELETED drop out; sequence numbers inherit
  from the manifest list per the v2 rule), scan the parquet, then
  anti-join out v2 POSITION deletes ((file_path, pos), applying to
  data files with seq <= the delete's) and v2 EQUALITY deletes
  (content=2, the Flink CDC shape: null-safe equality on the file's
  ``equality_ids`` column set, applying strictly below the delete's
  seq). Iceberg data files CARRY their partition columns (unlike hive
  layouts), so nothing is re-attached; partition pruning value lives
  in the manifest stats, which :func:`iceberg_read`'s caller gets for
  free from parquet pushdown on the scan.
- :func:`iceberg_appends` (r9) — incremental APPEND scan: the rows
  added by snapshots after a given snapshot id (refuses across
  non-append churn, the IncrementalAppendScan contract) — the read
  twin of the incremental export.
- :func:`iceberg_count` — metadata-only COUNT(*) from the manifest
  entries' ``record_count`` minus position-delete counts (refuses
  under equality deletes — predicate counts are not row counts).
- :func:`iceberg_export` — the fixture generator / migration path OUT
  of the native txn lake, at format-version 2 or 3: the table's first
  snapshot. :func:`iceberg_export_incremental` (r9) — CONTINUOUS
  export: one appended snapshot per new txn commit, exactly-once on
  the snapshot summary's ``txnlake-export-version`` stamp; carried
  files enter fresh manifests as EXISTING entries keeping their
  original sequence numbers, so the exported history time-travels.
  Refuses to adopt unstamped tables and to append across a schema or
  partition-spec change. Both write every snapshot through ONE
  writer, :func:`_write_snapshot`, and every table-metadata version
  through ONE publisher, :func:`_publish_metadata`. The writer is
  spec-faithful: manifests and the manifest list go through the
  repo's own Avro ENCODER with field-id annotations on every manifest
  field, the required ``partition`` struct (field-id 102), data and
  delete files in SEPARATE manifests, the required container metadata
  keys (schema / partition-spec / format-version / content), and
  TABLE-RELATIVE paths so the export survives a directory move. Data
  files are copied (hive-partitioned tables re-materialized with their
  partition column restored, since Iceberg files must contain every
  column); the lake's active deletion vectors, decoded by
  ``lake._dv_positions``, become v2 position-delete parquet files or
  v3 deletion-vector Puffin blobs.

Format-version 3 (r10): deletion vectors — ``deletion-vector-v1``
Puffin blobs (sources/puffin.py, sharing delta_dv's roaring codec) —
both read (driver-side metadata-sized decode into the same anti-join
shape) and written (a format-version 3 export emits one Puffin file
per snapshot with per-file blobs, manifest entries carrying
referenced_data_file/content_offset/content_size_in_bytes, spec
field ids 143-145), row-lineage bookkeeping (first-row-id /
next-row-id), and ``initial-default`` column values (absent columns
surface the declared default instead of NULL; non-primitive defaults
refuse). v3 tables carrying position-delete FILES refuse per the spec.

Refusal posture (never misread): format-version > 3, Avro data files,
ORC data files in snapshots that carry deletes (ORC scans expose no
``_metadata.row_index`` for position deletes to key on — delete-free
ORC tables read natively with name-based resolution, r9), and
non-identity partition transforms in the EXPORT direction all raise
with a clear message.
Field-id-based column resolution is honored for name-stable histories
(this exporter's own output and any table never renamed); a FOREIGN
table whose current schema names diverge from its parquet footers
surfaces those columns as typed NULL — the documented gap a full
field-id reader would close (parquet field-id matching needs a footer
pass per file; the repo's column-mapping machinery shows the shape).

Scale posture: the metadata tree is the scalable part of Iceberg by
design — manifests are read driver-side (they are metadata, bytes
proportional to file COUNT not data), the data scan is one parquet
read of exactly the live files, and deletes anti-join as broadcast
position sets. A 100 TB table's snapshot resolve is O(manifest bytes).

No reference counterpart (ratings CSV is the reference's only file
source, CollabFilterCassandraDriver.java:95-96); this is the
storage-interop surface a user migrating FROM Iceberg needs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import avro_source as av
from . import lake

# manifest-entry status codes (spec)
_ST_EXISTING, _ST_ADDED, _ST_DELETED = 0, 1, 2
# data_file content codes (spec v2)
_C_DATA, _C_POS_DELETES, _C_EQ_DELETES = 0, 1, 2


def _export_rel(snap_id: int, idx: int, txn_file: str) -> str:
    """Exported data-file name: embeds md5(full txn path)[:10] so the
    incremental exporter can diff later txn versions against what is
    already exported by SOURCE PATH, not bare basename (r9 ADVICE:
    lake.py documents that data-file basenames repeat across commits —
    a basename key would silently carry a colliding new file as
    EXISTING, pointing at a different file's rows). Same scheme as
    delta_interop._export_file."""
    import hashlib

    digest = hashlib.md5(txn_file.encode()).hexdigest()[:10]
    return (
        f"data/s{snap_id}-{idx:05d}-{digest}-"
        f"{os.path.basename(txn_file)}"
    )


def _src_digest(rel: str) -> "str | None":
    """Recover the source-path digest from an exported rel path; None
    for pre-digest exports (those files are then re-materialized under
    fresh names — correct, merely unshared — instead of being carried
    on an unsafe basename match)."""
    import re

    m = re.match(r"^s\d+-\d{5}-([0-9a-f]{10})-", os.path.basename(rel))
    return m.group(1) if m else None


# ---------------------------------------------------------------------------
# metadata resolution
# ---------------------------------------------------------------------------


def _meta_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _latest_metadata_path(root: str) -> str:
    """version-hint.text when present (the HadoopCatalog convention),
    else the highest v<N>.metadata.json / lexically-last
    <seq>-<uuid>.metadata.json."""
    d = _meta_dir(root)
    hint = os.path.join(d, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        p = os.path.join(d, f"v{v}.metadata.json")
        if os.path.exists(p):
            return p
    cands = sorted(
        f for f in os.listdir(d) if f.endswith(".metadata.json")
    )
    if not cands:
        raise FileNotFoundError(f"no *.metadata.json under {d}")

    def key(f):
        stem = f[: -len(".metadata.json")]
        if stem.startswith("v") and stem[1:].isdigit():
            return (int(stem[1:]), f)
        return (10**12, f)  # uuid-style names sort after, lexically

    return os.path.join(d, max(cands, key=key))


def load_table_metadata(root: str) -> dict:
    with open(_latest_metadata_path(root)) as fh:
        meta = json.load(fh)
    fv = int(meta.get("format-version", 1))
    if fv > 3:
        raise lake.UnsupportedProtocol(
            f"Iceberg format-version {fv} > 3 is not supported"
        )
    return meta


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s
        return meta["schemas"][-1]
    return meta["schema"]  # v1 single-schema form


_ICE_PRIM = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
}


def _ice_type(t) -> T.DataType:
    if isinstance(t, str):
        if t in _ICE_PRIM:
            return _ICE_PRIM[t]
        if t.startswith("decimal("):
            p, s = t[len("decimal("):-1].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed["):
            return T.BinaryType()
        raise ValueError(f"unsupported Iceberg type {t!r}")
    tt = t.get("type")
    if tt == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"], _ice_type(f["type"]), not f.get("required")
                )
                for f in t["fields"]
            ]
        )
    if tt == "list":
        return T.ArrayType(
            _ice_type(t["element"]), not t.get("element-required")
        )
    if tt == "map":
        return T.MapType(
            _ice_type(t["key"]),
            _ice_type(t["value"]),
            not t.get("value-required"),
        )
    raise ValueError(f"unsupported Iceberg type {t!r}")


def iceberg_spark_schema(root: str) -> T.StructType:
    meta = load_table_metadata(root)
    s = _current_schema(meta)
    return T.StructType(
        [
            T.StructField(
                f["name"], _ice_type(f["type"]), not f.get("required")
            )
            for f in s["fields"]
        ]
    )


def _pick_snapshot(meta: dict, snapshot_id: "int | None") -> dict:
    snaps = meta.get("snapshots") or []
    if not snaps:
        raise ValueError("table has no snapshots")
    if snapshot_id is None:
        sid = meta.get("current-snapshot-id")
        if sid in (None, -1):
            return snaps[-1]
        snapshot_id = sid
    for s in snaps:
        if int(s["snapshot-id"]) == int(snapshot_id):
            return s
    raise ValueError(f"snapshot {snapshot_id} not in table metadata")


def _resolve_path(root: str, p: str) -> str:
    """Manifest/data paths may be absolute, file:-prefixed, or
    table-relative."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    if os.path.isabs(p):
        return p
    return os.path.join(root, p)


def _read_avro_rows(path: str) -> list:
    with open(path, "rb") as fh:
        blob = fh.read()
    rows = list(av.parse_avro_bytes(blob, file=path))
    bad = [r for r in rows if r.get("corrupt_reason")]
    if bad:
        raise ValueError(
            f"corrupt Iceberg manifest {path}: {bad[0]['corrupt_reason']}"
        )
    return rows


def snapshot_files(
    root: str, snapshot_id: "int | None" = None
) -> "tuple[list[dict], list[dict], list[dict]]":
    """(live data files, live position-delete files, live
    equality-delete files) for the snapshot — each entry the
    manifest's data_file record plus the resolved absolute path under
    '_abs' and its DATA SEQUENCE NUMBER under '_seq' (the entry's own
    field, inheriting the manifest's sequence_number when null — the
    spec's v2 inheritance rule; v1 tables have no sequence numbers and
    read as 0)."""
    meta = load_table_metadata(root)
    fv = int(meta.get("format-version", 1))
    snap = _pick_snapshot(meta, snapshot_id)
    mlist = _read_avro_rows(_resolve_path(root, snap["manifest-list"]))
    data, pos_deletes, eq_deletes = [], [], []
    for m in mlist:
        m_seq = int(m.get("sequence_number") or 0)
        entries = _read_avro_rows(_resolve_path(root, m["manifest_path"]))
        for e in entries:
            if int(e.get("status") or 0) == _ST_DELETED:
                continue
            df_ = e["data_file"]
            content = int(df_.get("content") or 0)
            fmt = (df_.get("file_format") or "PARQUET").upper()
            is_dv = (
                content == _C_POS_DELETES
                and df_.get("referenced_data_file") is not None
            )
            if is_dv:
                # v3 deletion vector: a Puffin blob addressed by
                # (content_offset, content_size_in_bytes)
                if fmt != "PUFFIN":
                    raise ValueError(
                        "deletion vector "
                        f"{df_['file_path']} has format {fmt}, "
                        "expected PUFFIN"
                    )
                if (
                    df_.get("content_offset") is None
                    or df_.get("content_size_in_bytes") is None
                ):
                    raise ValueError(
                        f"deletion vector {df_['file_path']} lacks "
                        "content_offset/content_size_in_bytes"
                    )
            elif fmt == "ORC" and content == _C_DATA:
                pass  # ORC data files scan natively (delete-free only)
            elif fmt != "PARQUET":
                raise ValueError(
                    f"unsupported Iceberg data-file format {fmt}"
                )
            if fv >= 3 and content == _C_POS_DELETES and not is_dv:
                # the v3 spec forbids position-delete FILES: they must
                # have been rewritten as deletion vectors at upgrade
                raise lake.UnsupportedProtocol(
                    f"v3 table carries position-delete file "
                    f"{df_['file_path']}; v3 requires deletion vectors"
                )
            df_ = dict(df_)
            df_["_fmt"] = fmt
            df_["_dv"] = is_dv
            df_["_abs"] = _resolve_path(root, df_["file_path"])
            seq = e.get("sequence_number")
            df_["_seq"] = m_seq if seq is None else int(seq)
            if content == _C_DATA:
                data.append(df_)
            elif content == _C_POS_DELETES:
                pos_deletes.append(df_)
            elif content == _C_EQ_DELETES:
                if not df_.get("equality_ids"):
                    raise ValueError(
                        "equality-delete file "
                        f"{df_['file_path']} lacks equality_ids"
                    )
                eq_deletes.append(df_)
            else:
                raise lake.UnsupportedProtocol(
                    f"unknown Iceberg data_file content {content}"
                )
    return data, pos_deletes, eq_deletes


def _file_field_ids(path: str) -> "dict[int, str] | None":
    """{field_id: physical column name} from one parquet footer's
    PARQUET:field_id metadata, or None when the file carries no ids
    (then name-based resolution is all there is). Footer-only read —
    metadata bytes, no data pages."""
    import pyarrow.parquet as pq

    sch = pq.read_schema(path)
    out = {}
    for f in sch:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is None:
            return None
        out[int(fid)] = f.name
    return out or None


def _initial_defaults(cur: dict) -> dict:
    """{field name: JSON default} for v3 ``initial-default`` fields —
    the value rows written BEFORE the column existed must surface
    (instead of NULL). Primitive single-value JSON serializations only
    (number / string / boolean, incl. the date/timestamp/decimal
    string forms, which ``lit().cast()`` parses); a non-primitive or
    binary default refuses loudly rather than misreading."""
    out = {}
    for f in cur.get("fields", []):
        d = f.get("initial-default")
        if d is None:
            continue
        t = f["type"]
        ok = isinstance(t, str) and (
            t in ("boolean", "int", "long", "float", "double", "date",
                  "timestamp", "timestamptz", "string")
            or t.startswith("decimal(")
        )
        if not ok:
            raise lake.UnsupportedProtocol(
                f"initial-default on field {f['name']!r} of type "
                f"{t!r} is not supported"
            )
        out[f["name"]] = d
    return out


def _absent_col(f, defaults: dict):
    """The column an absent field surfaces as: its v3 initial-default
    when declared, else typed NULL."""
    from pyspark.sql import functions as F

    d = defaults.get(f.name)
    return (
        F.lit(d) if d is not None else F.lit(None)
    ).cast(f.dataType).alias(f.name)


def _orc_scan(spark, schema, files: list, defaults: "dict | None" = None):
    """Scan ORC data files under the current schema, NAME-based
    resolution (ORC footers carry no PARQUET:field_id; absent columns
    surface as their initial-default, else typed NULL). ORC has no
    ``_metadata.row_index``, so this path exists only for delete-free
    snapshots — the caller refuses otherwise."""
    from pyspark.sql import functions as F

    s = spark.read.option("mergeSchema", "true").orc(*files)
    have = set(s.columns)
    return s.select(*[
        (F.col(f.name).cast(f.dataType).alias(f.name) if f.name in have
         else _absent_col(f, defaults or {}))
        for f in schema.fields
    ])


def _scan_with_formats(spark, cur, schema, data, need_meta: bool):
    """Dispatch data files by recorded format: parquet through the
    field-id grouped scan, ORC through the name-based scan (refused
    when deletes are in play — no row_index to key them on)."""
    orc = [d for d in data if d.get("_fmt") == "ORC"]
    parq = [d for d in data if d.get("_fmt") != "ORC"]
    if orc and need_meta:
        raise ValueError(
            "ORC data files are supported only in delete-free "
            "snapshots (ORC scans expose no _metadata.row_index for "
            "position deletes to key on)"
        )
    scan = (
        _grouped_scan(spark, cur, schema, parq, need_meta)
        if parq else None
    )
    if orc:
        oscan = _orc_scan(
            spark, schema, [d["_abs"] for d in orc],
            defaults=_initial_defaults(cur),
        )
        scan = oscan if scan is None else scan.unionByName(oscan)
    return scan


def _grouped_scan(spark, cur, schema, data, need_meta: bool):
    """Scan data files under the current schema with FIELD-ID column
    resolution: group files by their id->name footer signature, scan
    each group under its own projection (absent ids surface as typed
    NULL), union. ``need_meta`` adds the (_ice_file, _ice_pos)
    columns the delete anti-joins key on."""
    from pyspark.sql import functions as F

    ids = {f["name"]: f.get("id") for f in cur["fields"]}
    defaults = _initial_defaults(cur)
    groups: dict[tuple, list] = {}
    for d in data:
        fmap = _file_field_ids(d["_abs"])
        if fmap is None:
            sig = tuple(f.name for f in schema.fields)  # name-based
        else:
            sig = tuple(
                fmap.get(ids.get(f.name)) for f in schema.fields
            )
        groups.setdefault(sig, []).append(d["_abs"])

    scan = None
    for sig, files in sorted(groups.items(), key=str):
        s = spark.read.option("mergeSchema", "true").parquet(*files)
        have = set(s.columns)
        sel = []
        for f, phys in zip(schema.fields, sig):
            if phys is not None and phys in have:
                sel.append(F.col(phys).cast(f.dataType).alias(f.name))
            else:
                sel.append(_absent_col(f, defaults))
        if need_meta:
            sel.append(
                lake._strip_file_uri(F.col("_metadata.file_path")).alias(
                    "_ice_file"
                )
            )
            sel.append(F.col("_metadata.row_index").alias("_ice_pos"))
        part = s.select(*sel)
        scan = part if scan is None else scan.unionByName(part)
    return scan


def iceberg_appends(
    spark: SparkSession,
    root: str,
    from_snapshot_id: int,
    to_snapshot_id: "int | None" = None,
) -> DataFrame:
    """Incremental APPEND scan (the Iceberg IncrementalAppendScan
    shape, r9 — the read twin of :func:`iceberg_export_incremental`):
    the rows appended by snapshots AFTER ``from_snapshot_id`` up to
    ``to_snapshot_id`` (default: current), i.e. the data files whose
    manifest entries are status ADDED by an in-range snapshot, read
    under the current schema with field-id resolution. Any in-range
    snapshot whose summary operation is not ``append`` refuses loudly
    (overwrite/delete churn is not expressible as an append stream —
    the same contract real Iceberg's incremental scan enforces; use a
    full read or CDC instead). Driver work is metadata-sized."""
    meta = load_table_metadata(root)
    snaps = sorted(
        meta.get("snapshots") or [],
        key=lambda s: int(s.get("sequence-number") or 0),
    )
    ids_in_order = [int(s["snapshot-id"]) for s in snaps]
    if from_snapshot_id not in ids_in_order:
        raise ValueError(f"unknown from snapshot {from_snapshot_id}")
    to_id = (
        int(meta["current-snapshot-id"])
        if to_snapshot_id is None else int(to_snapshot_id)
    )
    if to_id not in ids_in_order:
        raise ValueError(f"unknown to snapshot {to_id}")
    lo = ids_in_order.index(from_snapshot_id)
    hi = ids_in_order.index(to_id)
    if hi < lo:
        raise ValueError("to snapshot precedes from snapshot")
    in_range = snaps[lo + 1 : hi + 1]

    cur = _current_schema(meta)
    schema = iceberg_spark_schema(root)
    data = []
    for s in in_range:
        op = (s.get("summary") or {}).get("operation", "append")
        if op != "append":
            raise ValueError(
                f"snapshot {s['snapshot-id']} is {op!r}, not append; "
                "an incremental append scan cannot express its churn"
            )
        data += _added_files(root, s)
    if not data:
        return spark.createDataFrame([], schema)
    return _scan_with_formats(spark, cur, schema, data, need_meta=False)


def _added_files(root: str, snap: dict) -> list:
    """The data_file records a snapshot ADDED (status 1, its own
    snapshot_id), each with the resolved absolute path under '_abs'
    and its format under '_fmt' — metadata-sized driver work."""
    sid = int(snap["snapshot-id"])
    out = []
    for m in _read_avro_rows(_resolve_path(root, snap["manifest-list"])):
        if int(m.get("content") or 0) != 0:
            continue
        if int(m.get("added_snapshot_id") or -1) != sid:
            continue  # carried manifest: nothing added by sid
        for e in _read_avro_rows(
            _resolve_path(root, m["manifest_path"])
        ):
            if (
                int(e.get("status") or 0) == _ST_ADDED
                and int(e.get("snapshot_id") or -1) == sid
            ):
                df_ = dict(e["data_file"])
                df_["_abs"] = _resolve_path(root, df_["file_path"])
                df_["_fmt"] = (
                    df_.get("file_format") or "PARQUET"
                ).upper()
                out.append(df_)
    return out


def iceberg_read(
    spark: SparkSession,
    root: str,
    snapshot_id: "int | None" = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """The Iceberg table at the current (or pinned) snapshot. Column
    resolution is FIELD-ID based per the spec: each data file's
    parquet footer maps its PARQUET:field_id metadata to the current
    schema's field ids, so a foreign table whose columns were RENAMED
    (ids stable, names changed) still reads the right bytes — files
    are grouped by their id->name signature and each group scans
    under its own projection (one footer read per file, metadata
    only; files without recorded ids fall back to name resolution).

    Delete semantics (v2, sequence-number aware):

    - POSITION deletes (content=1) anti-join out by (file_path, pos),
      matching the manifest's recorded path string exactly per the
      spec, and apply only to data files whose data sequence number
      is <= the delete's. Delete rows are read EXECUTOR-side (no
      driver materialization — positions scale with deleted rows,
      not metadata; ADVICE r8).
    - EQUALITY deletes (content=2, the Flink CDC shape) anti-join on
      the delete file's ``equality_ids`` column set with NULL-SAFE
      equality, applying only to data files whose sequence number is
      STRICTLY below the delete's (a writer's own-commit inserts
      survive its deletes — the spec rule). Delete columns resolve by
      field id through the delete file's own footer.

    Driver-side work stays metadata-sized throughout: one (path, seq)
    row per live file feeds a broadcast map; all row-scale work is
    distributed joins.

    ``with_row_ids`` (r10, v3 row lineage) appends a ``_row_id``
    column: the data file's explicit ``first_row_id`` plus the row's
    position in the file — STABLE across snapshots, because carried
    EXISTING entries keep their assigned first_row_id and deleted
    rows' ids are never reissued. Files without an explicit
    first_row_id refuse (the spec's inheritance chain exists for
    writers mid-commit; a committed v3 manifest this exporter writes
    always records the assigned value)."""
    from pyspark.sql import functions as F

    data, pos_del, eq_del = snapshot_files(root, snapshot_id)
    meta = load_table_metadata(root)
    cur = _current_schema(meta)
    schema = iceberg_spark_schema(root)
    id_to_field = {
        f.get("id"): sf for f, sf in zip(cur["fields"], schema.fields)
    }
    if with_row_ids:
        if int(meta.get("format-version", 1)) < 3:
            raise lake.UnsupportedProtocol(
                "row lineage (_row_id) is a v3 feature"
            )
        missing = [
            d["file_path"] for d in data
            if d.get("first_row_id") is None
        ]
        if missing:
            raise lake.UnsupportedProtocol(
                f"data files without explicit first_row_id: {missing}"
            )
    out_schema = schema
    if with_row_ids:
        out_schema = T.StructType(
            list(schema.fields)
            + [T.StructField("_row_id", T.LongType(), False)]
        )
    if not data:
        return spark.createDataFrame([], out_schema)
    need_meta = bool(pos_del or eq_del) or with_row_ids
    scan = _scan_with_formats(spark, cur, schema, data, need_meta)
    if not need_meta:
        return scan

    # per-file (scan path form, manifest path string, data seq) —
    # one row per LIVE FILE (metadata-sized), broadcast onto the scan
    seq_df = spark.createDataFrame(
        [
            (
                lake._uri_path(d["_abs"]), d["file_path"],
                int(d["_seq"]),
                int(d["first_row_id"]) if with_row_ids else 0,
            )
            for d in data
        ],
        T.StructType([
            T.StructField("_ice_file", T.StringType(), False),
            T.StructField("_ice_mf_path", T.StringType(), False),
            T.StructField("_ice_seq", T.LongType(), False),
            T.StructField("_ice_first_row", T.LongType(), False),
        ]),
    )
    scan = scan.join(F.broadcast(seq_df), "_ice_file", "left")
    if with_row_ids:
        scan = scan.withColumn(
            "_row_id", F.col("_ice_first_row") + F.col("_ice_pos")
        )

    if pos_del:
        # the spec matches position deletes on the manifest's EXACT
        # path string, so no path normalization is needed — group
        # delete files by sequence number and union (executor reads);
        # v3 deletion vectors decode driver-side (metadata-sized
        # Puffin blobs) into the same (path, pos, seq) shape
        from . import puffin

        by_seq: dict[int, list] = {}
        dv_rows = []
        for d in pos_del:
            if d.get("_dv"):
                dv_rows += [
                    (d["referenced_data_file"], int(p), int(d["_seq"]))
                    for p in puffin.read_dv_blob(
                        d["_abs"],
                        int(d["content_offset"]),
                        int(d["content_size_in_bytes"]),
                    )
                ]
            else:
                by_seq.setdefault(int(d["_seq"]), []).append(d["_abs"])
        pdf = None
        for dseq, files in sorted(by_seq.items()):
            one = spark.read.parquet(*files).select(
                F.col("file_path").alias("_ice_mf_path"),
                F.col("pos").alias("_ice_pos"),
                F.lit(dseq).alias("_del_seq"),
            )
            pdf = one if pdf is None else pdf.unionByName(one)
        if dv_rows:
            one = spark.createDataFrame(
                dv_rows,
                T.StructType([
                    T.StructField("_ice_mf_path", T.StringType(), False),
                    T.StructField("_ice_pos", T.LongType(), False),
                    T.StructField("_del_seq", T.LongType(), False),
                ]),
            )
            pdf = one if pdf is None else pdf.unionByName(one)
        if pdf is not None:  # all-empty DVs leave nothing to apply
            cond = (
                (scan["_ice_mf_path"] == pdf["_ice_mf_path"])
                & (scan["_ice_pos"] == pdf["_ice_pos"])
                & (scan["_ice_seq"] <= pdf["_del_seq"])
            )
            scan = scan.join(F.broadcast(pdf), cond, "left_anti")

    # equality deletes grouped by (id set, seq): one null-safe
    # broadcast anti-join per group
    eq_groups: dict[tuple, list] = {}
    for d in eq_del:
        key = (tuple(int(i) for i in d["equality_ids"]), int(d["_seq"]))
        eq_groups.setdefault(key, []).append(d["_abs"])
    for (eq_ids, dseq), files in sorted(eq_groups.items()):
        missing = [i for i in eq_ids if i not in id_to_field]
        if missing:
            raise lake.UnsupportedProtocol(
                f"equality delete references unknown field ids {missing}"
            )
        # resolve each id's physical column name PER DELETE FILE and
        # scan per distinct signature (r9 ADVICE: a rename mid-history
        # makes footers disagree within one (ids, seq) group; resolving
        # from files[0] alone reads NULL from the renamed files and the
        # eqNullSafe anti-join then silently deletes NULL-keyed rows)
        by_sig: dict = {}
        for f in files:
            fmap = _file_field_ids(f) or {}
            sig = tuple(
                fmap.get(i, id_to_field[i].name) for i in eq_ids
            )
            by_sig.setdefault(sig, []).append(f)
        deldf = None
        for sig, grp in sorted(by_sig.items()):
            sel = [
                F.col(phys)
                .cast(id_to_field[i].dataType)
                .alias(f"_eq_{id_to_field[i].name}")
                for i, phys in zip(eq_ids, sig)
            ]
            one = spark.read.parquet(*grp).select(*sel)
            deldf = one if deldf is None else deldf.unionByName(one)
        deldf = deldf.distinct()
        cond = F.lit(dseq) > scan["_ice_seq"]
        for i in eq_ids:
            n = id_to_field[i].name
            cond = cond & scan[n].eqNullSafe(deldf[f"_eq_{n}"])
        scan = scan.join(F.broadcast(deldf), cond, "left_anti")

    return scan.drop(
        "_ice_file", "_ice_pos", "_ice_mf_path", "_ice_seq",
        "_ice_first_row",
    )


def iceberg_import(
    spark: SparkSession,
    ice_root: str,
    txn_root: str,
    stats_cols: "list[str] | None" = None,
    partition_by: "list[str] | None" = None,
) -> int:
    """Migration IN: materialize a foreign Iceberg table's current
    snapshot as a native txn-lake table (rows via iceberg_read —
    position deletes applied, columns resolved by field id).
    ``partition_by`` optionally re-lays the data hive-style; Iceberg's
    own partition spec is transform-based metadata, so the caller
    picks the target layout explicitly. Returns the committed
    version."""
    return lake.txn_write(
        iceberg_read(spark, ice_root),
        txn_root,
        stats_cols=stats_cols,
        partition_by=partition_by,
    )


def iceberg_count(root: str, snapshot_id: "int | None" = None) -> int:
    """Metadata-only COUNT(*): manifest record_count sums minus
    position-delete record counts (refuses on a missing count — never
    a wrong answer). Equality deletes refuse: their record_count
    counts delete PREDICATES, not matched rows, so no metadata-only
    answer exists — use iceberg_read(...).count()."""
    data, deletes, eq_deletes = snapshot_files(root, snapshot_id)
    if eq_deletes:
        raise lake.UnsupportedProtocol(
            "metadata-only COUNT(*) is impossible under equality "
            "deletes (predicate counts, not row counts); scan instead"
        )
    n = 0
    for d in data:
        rc = d.get("record_count")
        if rc is None:
            raise ValueError(
                f"data file {d['file_path']} lacks record_count"
            )
        n += int(rc)
    for d in deletes:
        rc = d.get("record_count")
        if rc is None:
            raise ValueError(
                f"delete file {d['file_path']} lacks record_count"
            )
        n -= int(rc)
    return n


# ---------------------------------------------------------------------------
# maintenance: snapshot expiry + orphan-file removal (r10) — the two
# table-maintenance ops a CONTINUOUSLY-exported tree needs (one
# appended snapshot per txn commit grows metadata and dead files
# without bound). Built to the semantics of Iceberg's own
# expire_snapshots / remove_orphan_files procedures.
# ---------------------------------------------------------------------------


def _snapshot_refs(root: str, snap: dict) -> "set[str]":
    """Every absolute path one snapshot pins: its manifest list, the
    manifests that list names, and every file_path any entry mentions
    (DELETED entries included — their bytes must survive while any
    retained snapshot's manifest still references them)."""
    refs = set()
    ml = _resolve_path(root, snap["manifest-list"])
    refs.add(ml)
    for m in _read_avro_rows(ml):
        mp = _resolve_path(root, m["manifest_path"])
        refs.add(mp)
        for e in _read_avro_rows(mp):
            refs.add(_resolve_path(root, e["data_file"]["file_path"]))
    return refs


def iceberg_expire_snapshots(root: str, keep_last: int = 1) -> dict:
    """Expire all but the newest ``keep_last`` snapshots (sequence
    order; the current snapshot is always retained): drop them from
    the metadata's snapshot list and log, then delete every file only
    the expired snapshots referenced — manifest lists, manifests, and
    data/delete/Puffin files a retained snapshot does not also pin
    (files carried forward as EXISTING entries survive by
    construction). Publishes a NEW metadata version (readers pinned
    to an expired snapshot id fail loudly afterwards, the Iceberg
    contract). Returns ``{"expired": [ids], "deleted_files": n}``.

    Scale posture: pure metadata arithmetic — O(manifest bytes) reads
    and unlink calls, no data scan; on a 100 TB tree this is the op
    that keeps snapshot resolution O(live manifests) forever."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    meta = load_table_metadata(root)
    snaps = sorted(
        meta.get("snapshots") or [],
        key=lambda s: int(s.get("sequence-number") or 0),
    )
    if len(snaps) <= keep_last:
        return {"expired": [], "deleted_files": 0}
    expired, retained = snaps[:-keep_last], snaps[-keep_last:]
    cur = meta.get("current-snapshot-id")
    if cur is not None and cur not in {
        int(s["snapshot-id"]) for s in retained
    }:
        raise ValueError(
            "current snapshot would be expired; raise keep_last"
        )
    keep_refs = set()
    for s in retained:
        keep_refs |= _snapshot_refs(root, s)
    dead = set()
    for s in expired:
        dead |= _snapshot_refs(root, s) - keep_refs
    expired_ids = {int(s["snapshot-id"]) for s in expired}
    meta["snapshots"] = [
        s for s in meta["snapshots"]
        if int(s["snapshot-id"]) not in expired_ids
    ]
    meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log") or []
        if int(e["snapshot-id"]) not in expired_ids
    ]
    deleted = 0
    for p in sorted(dead):
        if os.path.exists(p):
            os.remove(p)
            deleted += 1
    _publish_metadata(root, meta)
    return {"expired": sorted(expired_ids), "deleted_files": deleted}


def iceberg_remove_orphans(root: str, dry_run: bool = False) -> list:
    """Delete (or with ``dry_run`` just report) files under data/ and
    metadata/ that NO snapshot in the current metadata references —
    the debris of crashed exports and external copies. Table metadata
    jsons and the version hint are never candidates. Returns the
    sorted relative paths removed. Caveat (same as Iceberg's own
    procedure): do not run concurrently with an in-flight writer —
    its not-yet-committed files look orphaned; the txnlake exporters
    commit metadata LAST, so a completed drain is always safe."""
    meta = load_table_metadata(root)
    refs = set()
    for s in meta.get("snapshots") or []:
        refs |= _snapshot_refs(root, s)
    out = []
    for sub in ("data", "metadata"):
        base = os.path.join(root, sub)
        if not os.path.isdir(base):
            continue
        for dirpath, _dirs, files in os.walk(base):
            for f in files:
                p = os.path.join(dirpath, f)
                if sub == "metadata" and (
                    f.endswith(".metadata.json")
                    or f == "version-hint.text"
                ):
                    continue
                if p not in refs:
                    out.append(os.path.relpath(p, root))
                    if not dry_run:
                        os.remove(p)
    return sorted(out)


def _publish_metadata(root: str, meta: dict) -> None:
    """The one table-metadata write: publish ``meta`` as the next
    ``vN.metadata.json`` and point ``version-hint.text`` at it (the
    HadoopCatalog commit shape). A table with no metadata yet gets
    v1; otherwise the current file joins ``metadata-log`` first, as
    the spec asks of every new metadata file."""
    try:
        cur = os.path.basename(_latest_metadata_path(root))
    except FileNotFoundError:
        cur = None
    v = 0
    if cur is not None:
        meta.setdefault("metadata-log", []).append(
            {"timestamp-ms": 0, "metadata-file": f"metadata/{cur}"}
        )
        stem = cur.split(".")[0].lstrip("v")
        v = int(stem) if stem.isdigit() else 0
    with open(
        os.path.join(_meta_dir(root), f"v{v + 1}.metadata.json"), "w"
    ) as fh:
        json.dump(meta, fh, sort_keys=True)
    with open(
        os.path.join(_meta_dir(root), "version-hint.text"), "w"
    ) as fh:
        fh.write(str(v + 1))


# ---------------------------------------------------------------------------
# exporter: native txn lake -> Iceberg (fixture generator + migration)
# ---------------------------------------------------------------------------


def _spark_to_ice(dt: T.DataType) -> str:
    m = {
        T.BooleanType: "boolean", T.IntegerType: "int",
        T.ShortType: "int", T.ByteType: "int",
        T.LongType: "long", T.FloatType: "float",
        T.DoubleType: "double", T.DateType: "date",
        T.TimestampType: "timestamptz", T.StringType: "string",
        T.BinaryType: "binary",
    }
    for k, v in m.items():
        if isinstance(dt, k):
            return v
    raise ValueError(f"no Iceberg mapping for Spark type {dt}")


# The spec's v2 manifest_entry schema with the REQUIRED parts real
# readers depend on (ADVICE r8): every field carries its spec
# ``field-id`` (Java Iceberg and pyiceberg resolve manifest columns by
# id, not name), data_file includes the ``partition`` struct (id 102 —
# empty for an unpartitioned spec, but the field itself is required),
# and equality_ids (id 135) is present so delete manifests round-trip.
def _manifest_entry_schema(
    partition_fields: "list[dict] | None" = None, v3: bool = False
):
    part_struct = {
        "type": "record",
        "name": "r102",
        "fields": list(partition_fields or []),
    }
    dv_fields = [
        # v3 row lineage (142) + deletion-vector reference (143-145)
        {"name": "first_row_id", "field-id": 142,
         "type": ["null", "long"], "default": None},
        {"name": "referenced_data_file", "field-id": 143,
         "type": ["null", "string"], "default": None},
        {"name": "content_offset", "field-id": 144,
         "type": ["null", "long"], "default": None},
        {"name": "content_size_in_bytes", "field-id": 145,
         "type": ["null", "long"], "default": None},
    ] if v3 else []
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "field-id": 4},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string",
                     "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition", "type": part_struct,
                     "field-id": 102},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    {"name": "equality_ids", "field-id": 135,
                     "type": ["null", {
                         "type": "array", "items": "int",
                         "element-id": 136,
                     }]},
                ] + dv_fields,
            }},
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _materialize_data_file(
    src: str, schema, mapping: dict, parts: dict, ice_root: str, rel: str
) -> "tuple[int, int]":
    """Rewrite ONE txn-lake parquet under the current LOGICAL schema
    at ``ice_root/rel`` — hive partition columns restored (Iceberg
    data files must contain every column), pre-evolution files filled
    with typed nulls, column-mapped physical names translated, and
    ``PARQUET:field_id`` stamped per column (ids = schema order, the
    same ids the metadata json records) so readers resolve columns by
    ID across any later rename. Returns (row_count, size_bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .txnlake_ds import _arrow_type

    tbl = pq.read_table(src)
    cols, names = [], []
    for fld in schema.fields:
        at = _arrow_type(fld.dataType)
        phys = mapping.get(fld.name, fld.name) if mapping else fld.name
        pv = parts or {}
        if phys in tbl.column_names:
            col = tbl.column(phys)
            if at is not None and col.type != at:
                col = col.cast(at)
            cols.append(col)
        elif fld.name in pv or phys in pv:
            sval = pv.get(phys, pv.get(fld.name))
            v = lake._py_part_val(sval, fld.dataType)
            cols.append(pa.array([v] * tbl.num_rows, type=at))
        else:  # pre-evolution file: typed nulls
            cols.append(pa.nulls(tbl.num_rows, type=at))
        names.append(fld.name)
    out_tbl = pa.table(cols, names=names)
    out_tbl = out_tbl.cast(pa.schema([
        pa.field(
            n, out_tbl.schema.field(k).type,
            metadata={b"PARQUET:field_id": str(k + 1).encode()},
        )
        for k, n in enumerate(names)
    ]))
    dst = os.path.join(ice_root, rel)
    pq.write_table(out_tbl, dst)
    return out_tbl.num_rows, os.path.getsize(dst)


def _part_avro_type(dt):
    """Avro type of one identity-partition value (the lake validates
    partition columns to these at write time)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    return "string"


def _partition_export_shape(schema, spec_cols: list):
    """(avro partition-struct fields, iceberg spec fields json) for an
    identity partition spec over ``spec_cols`` — field-ids 1000+ per
    the spec's partition-field numbering, source-id = the schema
    field's id."""
    by_name = {f.name: f for f in schema.fields}
    ids = {f.name: i + 1 for i, f in enumerate(schema.fields)}
    pfields = [
        {"name": c,
         "type": ["null", _part_avro_type(by_name[c].dataType)],
         "field-id": 1000 + i, "default": None}
        for i, c in enumerate(spec_cols)
    ]
    spec_json = [
        {"name": c, "transform": "identity",
         "source-id": ids[c], "field-id": 1000 + i}
        for i, c in enumerate(spec_cols)
    ]
    return pfields, spec_json


def _entry_partition(st, f: str, schema, mapping: dict,
                     spec_cols: list) -> dict:
    """One data file's typed identity-partition tuple from the lake's
    recorded hive values (logical names; column mapping translated)."""
    by_name = {fl.name: fl for fl in schema.fields}
    pv = st.parts.get(f) or {}
    out = {}
    for c in spec_cols:
        phys = mapping.get(c, c) if mapping else c
        out[c] = lake._py_part_val(
            pv.get(phys, pv.get(c)), by_name[c].dataType
        )
    return out


def _ice_schema_json_str(schema) -> str:
    """The Iceberg schema json the metadata and manifest headers
    share (ids = schema order, matching the stamped field ids)."""
    return json.dumps(
        {
            "schema-id": 0,
            "type": "struct",
            "fields": [
                {
                    "id": i + 1,
                    "name": f.name,
                    "required": False,
                    "type": _spark_to_ice(f.dataType),
                }
                for i, f in enumerate(schema.fields)
            ],
        },
        sort_keys=True,
    )


def _write_v3_dvs(
    ice_root: str, rel: str, dv_map: "dict[str, list[int]]",
    snap_id: int, seq: int, spec_cols: list,
) -> list:
    """Write ONE Puffin file of deletion-vector-v1 blobs (one per
    referenced data file) and return the v3 manifest delete entries
    addressing it by (content_offset, content_size_in_bytes)."""
    from . import puffin

    dst = os.path.join(ice_root, rel)
    blob_meta = puffin.write_puffin_dvs(dst, dv_map, snap_id, seq)
    size = os.path.getsize(dst)
    out = []
    for ref in sorted(blob_meta):
        off, blen, card = blob_meta[ref]
        out.append({
            "status": _ST_ADDED, "snapshot_id": snap_id,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": _C_POS_DELETES, "file_path": rel,
                "file_format": "PUFFIN",
                "partition": {c: None for c in spec_cols},
                "record_count": card,
                "file_size_in_bytes": size,
                "equality_ids": None,
                "referenced_data_file": ref,
                "content_offset": off,
                "content_size_in_bytes": blen,
            },
        })
    return out


def _write_v2_deletes(
    ice_root: str, dvs: list, snap_id: int, seq: int, spec_cols: list
) -> list:
    """Write one v2 position-delete parquet file per (referenced data
    file, deleted positions) pair of ``dvs`` and return their manifest
    delete entries (global deletes: unbound partition tuple)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = []
    for j, (ref, positions) in enumerate(dvs):
        rel = f"data/s{snap_id}-{j:05d}-deletes.parquet"
        dst = os.path.join(ice_root, rel)
        pq.write_table(
            pa.table({
                "file_path": pa.array(
                    [ref] * len(positions), type=pa.string()
                ),
                "pos": pa.array(positions, type=pa.int64()),
            }),
            dst,
        )
        out.append({
            "status": _ST_ADDED, "snapshot_id": snap_id,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": _C_POS_DELETES, "file_path": rel,
                "file_format": "PARQUET",
                "partition": {c: None for c in spec_cols},
                "record_count": len(positions),
                "file_size_in_bytes": os.path.getsize(dst),
                "equality_ids": None,
            },
        })
    return out


def _norm_v3_entries(entries: list, v3: bool) -> list:
    """v3 manifests carry the DV reference fields on EVERY data_file
    record (null for plain data files) — the Avro record encoder
    requires each schema field present."""
    if not v3:
        return entries
    for e in entries:
        for k in ("first_row_id", "referenced_data_file",
                  "content_offset", "content_size_in_bytes"):
            e["data_file"].setdefault(k, None)
    return entries


def _write_snapshot(
    ice_root: str, meta: dict, st, version: int, tj: str, by_src: dict
) -> dict:
    """Write ONE Iceberg snapshot of the txn state ``st`` (txn version
    ``version``, table schema json ``tj``) on top of the table metadata
    ``meta`` and publish it; the full export is this on an empty
    ``meta``, the incremental drain this once per txn commit.

    ``by_src`` holds the current snapshot's live data entries keyed by
    source-path digest (see :func:`_export_rel`; empty for a full
    export). A live txn file found there is carried as an EXISTING
    entry keeping its snapshot/sequence numbers (the spec's
    explicit-sequence rule for non-inherited entries); any other
    re-materializes under the logical schema as an ADDED entry. The
    active DVs land as ADDED delete files at this snapshot's own
    sequence number — v2 position-delete parquet files, or (v3) one
    Puffin file of deletion-vector blobs — since a delete applies to
    data with data-seq <= delete-seq, and the current sequence
    dominates every carried file. Removed txn files simply leave the
    new manifest; their exported parquet stays for older snapshots.
    Data and delete files live in SEPARATE manifests, each container
    carrying the schema / partition-spec / format-version / content
    keys real readers require. The table's first snapshot names its
    manifests ``manifest-00000-data`` / ``manifest-00001-deletes``,
    later ones ``manifest-s<id>-data`` / ``-deletes``. Returns the new
    snapshot's live data entries keyed like ``by_src``."""
    import hashlib

    schema = T.StructType.fromJson(json.loads(tj))
    mapping = lake._cm_mapping(tj) or {}
    fv = int(meta["format-version"])
    v3 = fv >= 3
    spec_cols = [f["name"] for f in meta["partition-specs"][0]["fields"]]
    pfields, spec_json = _partition_export_shape(schema, spec_cols)
    snap_id = int(meta.get("current-snapshot-id") or 0) + 1
    seq = int(meta.get("last-sequence-number") or 0) + 1
    # v3 row lineage: fresh files claim ids from the table's
    # high-water mark; carried entries KEEP their first_row_id
    first_row_id = frid = int(meta.get("next-row-id") or 0)

    entries, live, target = [], {}, {}
    for i, f in enumerate(sorted(st.files)):
        digest = hashlib.md5(f.encode()).hexdigest()[:10]
        prior = by_src.get(digest)
        if prior is not None:
            e = {
                "status": _ST_EXISTING,
                "snapshot_id": prior["snapshot_id"],
                "sequence_number": prior["sequence_number"],
                "file_sequence_number": prior["file_sequence_number"],
                "data_file": dict(prior["data_file"]),
            }
        else:
            rel = _export_rel(snap_id, i, f)
            nrows, size = _materialize_data_file(
                f, schema, mapping, st.parts.get(f) or {}, ice_root, rel
            )
            e = {
                "status": _ST_ADDED, "snapshot_id": snap_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": _C_DATA, "file_path": rel,
                    "file_format": "PARQUET",
                    "partition": _entry_partition(
                        st, f, schema, mapping, spec_cols
                    ),
                    "record_count": nrows,
                    "file_size_in_bytes": size,
                    "equality_ids": None,
                },
            }
            if v3:
                e["data_file"]["first_row_id"] = frid
                frid += nrows
        entries.append(e)
        live[digest] = e
        target[f] = e["data_file"]["file_path"]

    # (exported data-file path, deleted positions), in txn-path order
    dvpos = lake._dv_positions(st.dvs)
    dvs = [(target[f], dvpos[f]) for f in sorted(dvpos)]
    if v3:
        deletes = _write_v3_dvs(
            ice_root, f"data/s{snap_id}-dvs.puffin", dict(dvs),
            snap_id, seq, spec_cols,
        ) if dvs else []
    else:
        deletes = _write_v2_deletes(ice_root, dvs, snap_id, seq, spec_cols)

    entry_schema = _manifest_entry_schema(pfields or None, v3=v3)
    first = not meta["snapshots"]

    def manifest(kind: str, content: int, rows: list) -> dict:
        # first snapshot: manifest-00000-data / manifest-00001-deletes
        # (their index in the list, which equals ``content``)
        rel = (
            f"metadata/manifest-{content:05d}-{kind}.avro" if first
            else f"metadata/manifest-s{snap_id:05d}-{kind}.avro"
        )
        path = os.path.join(ice_root, rel)
        av.write_avro(
            _norm_v3_entries(rows, v3), entry_schema, path,
            extra_meta={
                "schema": _ice_schema_json_str(schema),
                "schema-id": "0",
                "partition-spec": json.dumps(spec_json),
                "partition-spec-id": "0",
                "format-version": str(fv),
                "content": kind,
            },
        )

        def tally(status):
            hit = [e for e in rows if e["status"] == status]
            return len(hit), sum(e["data_file"]["record_count"] for e in hit)

        n_add, r_add = tally(_ST_ADDED)
        n_old, r_old = tally(_ST_EXISTING)
        return {
            "manifest_path": rel,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": min(
                (int(e["sequence_number"]) for e in rows), default=seq
            ),
            "added_snapshot_id": snap_id,
            "added_files_count": n_add,
            "existing_files_count": n_old,
            "deleted_files_count": 0,
            "added_rows_count": r_add,
            "existing_rows_count": r_old,
            "deleted_rows_count": 0,
        }

    manifests = [manifest("data", 0, entries)]
    if deletes:
        manifests.append(manifest("deletes", 1, deletes))
    mlist_rel = f"metadata/snap-{snap_id}-manifest-list.avro"
    av.write_avro(
        manifests, _MANIFEST_LIST_SCHEMA,
        os.path.join(ice_root, mlist_rel),
        extra_meta={"format-version": str(fv)},
    )

    # advisory operation label: files dropped or rows newly hidden
    # -> overwrite/delete; pure file additions -> append
    n_added = manifests[0]["added_files_count"]
    if len(by_src) > manifests[0]["existing_files_count"]:
        op = "overwrite"
    elif deletes and not n_added:
        op = "delete"
    else:
        op = "append"
    snap = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": 0,
        "manifest-list": mlist_rel,
        "schema-id": 0,
        # the exported txn version rides in the summary (a string map
        # per spec — the role Delta's txn action plays): the drain
        # reads its high-water mark back from the table it wrote
        "summary": {
            "operation": op, "txnlake-export-version": str(version),
        },
    }
    if v3:
        # this snapshot's fresh rows claimed [first_row_id, frid)
        snap["first-row-id"] = first_row_id
        meta["next-row-id"] = frid
    meta["snapshots"].append(snap)
    meta["snapshot-log"].append({"snapshot-id": snap_id, "timestamp-ms": 0})
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    _publish_metadata(ice_root, meta)
    return live


def iceberg_export(
    txn_root: str, ice_root: str, format_version: int = 2
) -> int:
    """Export the native txn lake's CURRENT state as a new Iceberg table
    at ``format_version`` 2 or 3, in one snapshot (the first snapshot
    :func:`_write_snapshot` writes): data files copied (hive-partitioned
    tables re-materialized with the partition column restored —
    Iceberg data files must contain every column), active RLE deletion
    vectors converted to v2 position-delete parquet files or v3
    deletion-vector Puffin blobs, manifests and the manifest list
    written through the repo's own Avro encoder, and v1.metadata.json
    + version-hint.text published. Returns the snapshot id.
    Unconverged type widening refuses (compact first), as does a
    destination that already holds Iceberg metadata; column-mapped
    tables export under their LOGICAL names (a rename history
    collapses to the current vocabulary)."""
    if format_version not in (2, 3):
        raise ValueError(
            f"format_version must be 2 or 3, got {format_version}"
        )
    latest = lake._latest(txn_root)
    st = lake._replay(txn_root, latest)
    tj = lake._table_schema_json(txn_root, latest)
    if tj is None:
        raise ValueError("table has no recorded schema")
    if os.path.isdir(_meta_dir(ice_root)) and os.listdir(_meta_dir(ice_root)):
        raise FileExistsError(f"{ice_root} already has Iceberg metadata")
    # unconverged widening: same guard as the Delta exporter
    from .delta_interop import _export_guards

    _export_guards(txn_root, latest, history=False)

    os.makedirs(_meta_dir(ice_root), exist_ok=True)
    os.makedirs(os.path.join(ice_root, "data"), exist_ok=True)
    # identity partition spec (r9): the manifest entries carry each
    # file's TYPED partition tuple and the metadata records the spec,
    # so a foreign reader can partition-prune from the manifests alone
    schema = T.StructType.fromJson(json.loads(tj))
    _, spec_json = _partition_export_shape(schema, st.spec)
    ice_fields = json.loads(_ice_schema_json_str(schema))["fields"]
    meta = {
        "format-version": format_version,
        "table-uuid": "00000000-0000-0000-0000-000000000001",
        "location": ice_root,
        "last-updated-ms": 0,
        "last-column-id": len(ice_fields),
        "schemas": [
            {"schema-id": 0, "type": "struct", "fields": ice_fields}
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_json}],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(st.spec),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    _write_snapshot(ice_root, meta, st, latest, tj, {})
    return meta["current-snapshot-id"]


def iceberg_export_incremental(
    txn_root: str, ice_root: str, format_version: int = 2
) -> int:
    """CONTINUOUS export to a foreign Iceberg consumer, exactly once
    (r9 — the Iceberg mirror of delta_export_incremental): the first
    call full-exports the current state (:func:`iceberg_export`);
    every later call appends ONE Iceberg snapshot per new txn commit
    through the same snapshot writer (:func:`_write_snapshot`), in the
    TABLE's format version. The high-water mark rides in each
    snapshot's ``summary`` map (``txnlake-export-version``), so a
    crashed or repeated drain reads its position back from the table
    it wrote and lands nothing twice. Exported data files embed their
    source file's path digest, so the diff against already-exported
    state is pure name arithmetic — no side-channel mapping to lose.

    Refusals (never misexport): a foreign table without the summary
    stamp cannot be adopted; a schema or partition-spec change since
    the last exported version refuses with instructions to start a
    fresh full export (carried files materialized under an older
    schema would otherwise silently miss columns); the usual
    unconverged-widening guard runs per call. Returns the current
    snapshot id; a no-new-commits call is a no-op returning it
    unchanged."""
    from .delta_interop import _export_guards

    latest = lake._latest(txn_root)
    d = _meta_dir(ice_root)
    if not (os.path.isdir(d) and os.listdir(d)):
        return iceberg_export(
            txn_root, ice_root, format_version=format_version
        )

    meta = load_table_metadata(ice_root)
    snap = _pick_snapshot(meta, None)
    stamp = (snap.get("summary") or {}).get("txnlake-export-version")
    if stamp is None:
        raise ValueError(
            f"{ice_root} is not a txnlake export (no "
            "txnlake-export-version in the current snapshot summary); "
            "incremental export cannot adopt a foreign Iceberg table"
        )
    done = int(stamp)
    if done >= latest:
        return int(snap["snapshot-id"])

    tj = lake._table_schema_json(txn_root, latest)
    if tj != lake._table_schema_json(txn_root, done):
        raise ValueError(
            "table schema changed since the last exported version "
            f"({done}); start a fresh full export — carried files "
            "were materialized under the old schema"
        )
    _export_guards(txn_root, latest, history=False)

    # the partition spec must be stable across the appended range —
    # the exported metadata records ONE spec-id 0 (same refusal class
    # as the schema change above)
    exported_spec = [
        f["name"]
        for f in (meta.get("partition-specs") or [{}])[0].get("fields", [])
    ]
    spec_cols = list(lake._replay(txn_root, latest).spec)
    if spec_cols != exported_spec:
        raise ValueError(
            f"partition spec changed since the last export "
            f"({exported_spec} -> {spec_cols}); start a fresh full "
            "export"
        )

    # live data entries of the CURRENT snapshot, keyed by the SOURCE
    # PATH digest embedded in the exported name (never the bare
    # basename — see _export_rel); pre-digest entries key as None and
    # are dropped, so their files re-materialize instead of mis-carrying
    by_src: dict = {}
    for m in _read_avro_rows(_resolve_path(ice_root, snap["manifest-list"])):
        if int(m.get("content") or 0) != 0:
            continue
        for e in _read_avro_rows(
            _resolve_path(ice_root, m["manifest_path"])
        ):
            if int(e.get("status") or 0) == _ST_DELETED:
                continue
            dg = _src_digest(e["data_file"]["file_path"])
            if dg is not None:
                by_src[dg] = e

    # one cursor for the whole drain: each version advances O(1)
    # commits instead of replaying the full history (the same
    # O(V^2) -> O(V) move delta_export makes via _ReplayCursor)
    cursor = lake._ReplayCursor(txn_root, start_version=done)
    for v in range(done + 1, latest + 1):
        cursor.advance_to(v)
        by_src = _write_snapshot(
            ice_root, meta, cursor.state(), v, tj, by_src
        )
    return int(meta["current-snapshot-id"])
