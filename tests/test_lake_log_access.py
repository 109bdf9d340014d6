"""The transactional lake's one log-access layer (sources/lake.py):
``_latest`` / ``_resolve_version`` decide which version a call reads,
``_publish`` is the one create-if-absent commit write, and
``COMMIT_RETRIES`` bounds both commit loops. Every entry point that
takes a version rejects one outside [0, latest] the same way, metadata
getters on a root with no log raise instead of returning an empty
value, and the retry bound is reachable."""

from __future__ import annotations

import ast
import datetime
import pathlib

import pytest
from pyspark.sql import functions as F

import spark_cassandra_collabfiltering_spark as pkg
from spark_cassandra_collabfiltering_spark.sources import lake
from spark_cassandra_collabfiltering_spark.sources.txnlake_ds import (
    TxnLakeDataSource,
)

DAY = datetime.date(2026, 1, 1)


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    """A 2-version table (v0 partitioned write with a generated column,
    v1 row tracking on) and a 2-version catalog."""
    spark.dataSource.register(TxnLakeDataSource)
    base = tmp_path_factory.mktemp("log_access")
    root = str(base / "t")
    events = spark.range(0, 48).select(
        "id",
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(hours=F.col("id"))
        ).alias("ts"),
    )
    lake.txn_write(
        events, root, generated={"d": "CAST(ts AS DATE)"},
        partition_by=["d"], stats_cols=["id"],
    )
    lake.txn_enable_row_tracking(root)
    cat = str(base / "cat")
    for lo in (0, 5):
        lake.txn_multi_write(
            cat, {"corpus": spark.range(lo, lo + 5).withColumnRenamed("id", "doc_id")},
            stats_cols={"corpus": ["doc_id"]},
        )
    return root, cat


def _ds(spark, root, v, table=None):
    r = spark.read.format("txnlake").option("root", root).option("version", v)
    if table is not None:
        r = r.option("table", table)
    return r.load()


ENTRY_POINTS = {
    "txn_read": lambda s, t, c, v: lake.txn_read(s, t, version=v),
    "txn_read_with_ids": lambda s, t, c, v: lake.txn_read_with_ids(s, t, version=v),
    "txn_read_pruned": lambda s, t, c, v: lake.txn_read_pruned(s, t, "id", 0, 5, version=v),
    "txn_read_pruned_derived": lambda s, t, c, v: lake.txn_read_pruned_derived(
        s, t, "ts", "2026-01-01 00:00:00", "2026-01-01 05:00:00", version=v
    ),
    "txn_read_partitioned": lambda s, t, c, v: lake.txn_read_partitioned(s, t, {"d": DAY}, version=v),
    "txn_count": lambda s, t, c, v: lake.txn_count(t, v),
    "txn_restore": lambda s, t, c, v: lake.txn_restore(t, v),
    "txn_table_read": lambda s, t, c, v: lake.txn_table_read(s, c, "corpus", version=v),
    "txn_table_read_pruned": lambda s, t, c, v: lake.txn_table_read_pruned(
        s, c, "corpus", "doc_id", 0, 5, version=v
    ),
    "txn_catalog_tables": lambda s, t, c, v: lake.txn_catalog_tables(c, v),
    "format_txnlake": lambda s, t, c, v: _ds(s, t, v),
    "format_txnlake_table": lambda s, t, c, v: _ds(s, c, v, table="corpus"),
}


@pytest.mark.parametrize("bad", ["below", "above"])
@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
def test_bad_version_fails_one_way(spark, roots, entry, bad):
    root, cat = roots
    assert lake.txn_latest_version(root) == lake.txn_latest_version(cat) == 1
    v = -1 if bad == "below" else 2
    call = ENTRY_POINTS[entry]
    if entry.startswith("format_"):
        # the data source raises in its Python worker; Spark re-raises
        # it wrapped, with the Python exception type in the message
        with pytest.raises(Exception, match=r"ValueError: version -?\d not in \[0, 1\]"):
            call(spark, root, cat, v)
    else:
        with pytest.raises(ValueError, match=r"not in \[0, 1\]"):
            call(spark, root, cat, v)
    assert lake.txn_latest_version(root) == 1  # txn_restore committed nothing


@pytest.mark.parametrize(
    "getter",
    [
        lake.txn_generated, lake.txn_constraints, lake.txn_column_mapping,
        lake.txn_history, lake.txn_multi_history,
    ],
)
def test_metadata_getters_refuse_a_root_without_a_log(tmp_path, getter):
    (tmp_path / "typo").mkdir()
    with pytest.raises(FileNotFoundError, match="no committed versions under"):
        getter(str(tmp_path / "typo"))


def _lose_one_race(monkeypatch, winner):
    """Make the next data write of the writer under test run ``winner``
    first, so the writer's first publish finds its version taken."""
    orig = lake._write_data_files

    def hijack(df, r, *a, **k):
        files = orig(df, r, *a, **k)
        if not getattr(hijack, "done", False):
            hijack.done = True
            winner()
        return files

    monkeypatch.setattr(lake, "_write_data_files", hijack)


def test_retry_bound_reached_by_single_table_write(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    lake.txn_write(spark.range(0, 5), root)
    winner = spark.range(100, 105)
    monkeypatch.setattr(lake, "COMMIT_RETRIES", 1)
    _lose_one_race(monkeypatch, lambda: lake.txn_write(winner, root))
    with pytest.raises(lake.ConcurrentWriteConflict, match="gave up after 1 retries"):
        lake.txn_write(spark.range(200, 205), root)
    assert lake.txn_latest_version(root) == 1
    assert sorted(r.id for r in lake.txn_read(spark, root).collect()) == (
        list(range(0, 5)) + list(range(100, 105))
    )


def test_retry_bound_reached_by_catalog_write(spark, tmp_path, monkeypatch):
    cat = str(tmp_path / "cat")
    lake.txn_multi_write(cat, {"a": spark.range(0, 5)})
    monkeypatch.setattr(lake, "COMMIT_RETRIES", 1)
    _lose_one_race(
        monkeypatch, lambda: lake.txn_multi_write(cat, {"a": spark.range(100, 105)})
    )
    with pytest.raises(lake.ConcurrentWriteConflict, match="gave up after 1 retries"):
        lake.txn_multi_write(cat, {"a": spark.range(200, 205)})
    assert lake.txn_latest_version(cat) == 1
    got = lake.txn_table_read(spark, cat, "a").collect()
    assert sorted(r.id for r in got) == list(range(0, 5)) + list(range(100, 105))


def _functions(tree):
    return [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]


def _outside(tree, owner, hit):
    """Line numbers of nodes matching ``hit`` outside function ``owner``."""
    inside = {
        id(n)
        for f in _functions(tree)
        if f.name == owner
        for n in ast.walk(f)
    }
    return [n.lineno for n in ast.walk(tree) if hit(n) and id(n) not in inside]


_WRITE_MODES = {"w", "wb", "a", "ab", "x", "xb", "w+", "r+"}


def _opens_for_writing(fn):
    """Whether function ``fn`` calls ``open`` with a writing mode."""
    for n in ast.walk(fn):
        if isinstance(n, ast.Call) and getattr(n.func, "id", None) == "open":
            modes = n.args[1:2] + [k.value for k in n.keywords if k.arg == "mode"]
            if any(isinstance(m, ast.Constant) and m.value in _WRITE_MODES for m in modes):
                return True
    return False


def _strings(fn):
    """Every string literal in ``fn``, f-string pieces included."""
    return [n.value for n in ast.walk(fn) if isinstance(n, ast.Constant) and isinstance(n.value, str)]


def _keys_read(fn):
    """String keys ``fn`` reads: ``x["k"]``, ``x.get("k")``, ``"k" in x``."""
    keys = set()
    for n in ast.walk(fn):
        if isinstance(n, ast.Subscript) and isinstance(n.slice, ast.Constant):
            keys.add(n.slice.value)
        elif isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "get" and n.args:
            if isinstance(n.args[0], ast.Constant):
                keys.add(n.args[0].value)
        elif isinstance(n, ast.Compare) and isinstance(n.left, ast.Constant):
            if any(isinstance(op, (ast.In, ast.NotIn)) for op in n.ops):
                keys.add(n.left.value)
    return keys


def test_log_decisions_live_in_one_place():
    """One O_EXCL open (_publish), one no-log error (_latest), no
    per-call retry knob anywhere in the package, one Iceberg metadata
    write (iceberg_interop._publish_metadata), and one decoder of the
    lake's deletion-vector sidecars (lake.py: no other module reads an
    RLE ``start`` column or a legacy ``(file, pos)`` pair)."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted((root / "sources").glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(root)
        for f in _functions(tree):
            if (
                path.name == "iceberg_interop.py"
                and f.name != "_publish_metadata"
                and _opens_for_writing(f)
                and any("version-hint.text" in t or ".metadata.json" in t for t in _strings(f))
            ):
                offenders.append(f"{rel}:{f.lineno} {f.name} writes Iceberg metadata")
            keys = _keys_read(f)
            if path.name != "lake.py" and ("start" in keys or {"file", "pos"} <= keys):
                offenders.append(f"{rel}:{f.lineno} {f.name} decodes DV sidecars")
        offenders += [
            f"{rel}:{ln} O_EXCL"
            for ln in _outside(
                tree, "_publish",
                lambda n: isinstance(n, ast.Attribute) and n.attr == "O_EXCL",
            )
        ]
        offenders += [
            f"{rel}:{ln} no-log error"
            for ln in _outside(
                tree, "_latest",
                lambda n: isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and "no committed versions under" in n.value,
            )
        ]
    for path in sorted(root.rglob("*.py")):
        for f in _functions(ast.parse(path.read_text(), str(path))):
            a = f.args
            names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
            if "max_retries" in names:
                offenders.append(f"{path.relative_to(root)}:{f.lineno} max_retries")
    assert not offenders, offenders
