"""The shared ANN core of operators/similarity.py: every per-query
top-k goes through windows.top_k_per_group, every k-means fit is the
driver-side NumPy trainer over one training-sample collect, and the
IVF+PQ builder reads the corpus dimension once."""

from __future__ import annotations

import ast
import pathlib

import spark_cassandra_collabfiltering_spark as pkg
from spark_cassandra_collabfiltering_spark.operators import similarity as sim

from conftest import SF_SMOKE

# the one sample helper, plus the two collects that are not training
# rows: the vectorized scorer's bounded query batch and the pruned IVF
# probe's cluster ids
COLLECT_ALLOWED = {
    "_training_matrix",
    "cosine_topk_bruteforce_vectorized",
    "cosine_topk_ivf_pruned",
}


def test_similarity_keeps_one_core():
    path = pathlib.Path(pkg.__file__).parent / "operators" / "similarity.py"
    tree = ast.parse(path.read_text(), str(path))
    offenders = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "pyspark.ml.clustering"
        ):
            offenders.append(f"import pyspark.ml.clustering:{node.lineno}")
        if isinstance(node, ast.Import) and any(
            a.name.startswith("pyspark.ml.clustering") for a in node.names
        ):
            offenders.append(f"import pyspark.ml.clustering:{node.lineno}")
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name == "row_number":
                offenders.append(f"row_number:{node.lineno}")
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef) and fn.name not in COLLECT_ALLOWED:
            offenders += [
                f"{fn.name} collects:{node.lineno}"
                for node in ast.walk(fn)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"
            ]
    assert not offenders, offenders


def test_ivfpq_probes_the_dimension_once(spark, monkeypatch):
    from spark_cassandra_collabfiltering_spark.plans.queries import t

    calls = []
    probe = sim._probe_dim

    def counting(corpus, vec_col):
        calls.append(vec_col)
        return probe(corpus, vec_col)

    monkeypatch.setattr(sim, "_probe_dim", counting)
    emb = t(spark, SF_SMOKE, "embeddings")
    sim.cosine_topk_ivfpq(
        emb, sim.make_queries(emb, [0, 1, 2, 3, 4]), k=5, n_clusters=8,
        n_probe=4, m=8, n_codes=16, rerank=50, seed=42, train_fraction=0.25,
    )
    assert calls == ["embedding"]
