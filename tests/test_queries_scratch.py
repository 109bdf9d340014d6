"""Registry builders that write files (lake tables, Avro/ORC/proto/Iceberg
inputs) put them under one process-scoped root that is removed at exit
(plans/queries.py::scratch_dir), instead of leaving one temp dir per
build behind."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import textwrap

from spark_cassandra_collabfiltering_spark.plans import queries

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_only_scratch_dir_makes_temp_dirs():
    path = pathlib.Path(queries.__file__)
    tree = ast.parse(path.read_text(), str(path))
    inside = {
        id(node)
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef) and fn.name == "scratch_dir"
        for node in ast.walk(fn)
    }
    offenders = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mkdtemp"
        and id(node) not in inside
    ]
    assert not offenders, offenders


def test_scratch_dirs_share_one_root_removed_at_exit(tmp_path):
    script = textwrap.dedent(
        """
        import os, sys
        sys.path.insert(0, sys.argv[1])
        from spark_cassandra_collabfiltering_spark.plans.queries import scratch_dir

        a, b = scratch_dir("txn_ds_q_"), scratch_dir("iceberg_q_")
        root = os.path.dirname(a)
        assert a != b and os.path.dirname(b) == root, (a, b)
        assert os.path.basename(a).startswith("txn_ds_q_")
        open(os.path.join(a, "f"), "w").close()
        print(root)
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", script, str(REPO)],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    )
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("queries_scratch_")
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
