"""Similarity search over embedding columns (driver-mandated extension).

The embeddings table is (vec_id bigint, embedding array<float>, label).
Every ``cosine_topk_*`` scorer takes a bounded query batch
(query_id, query_vec), broadcasts it, and returns (query_id, vec_id,
cos, rank): the corpus never shuffles, and each query keeps its k best
rows by rounded score, ties to the lower id (:func:`_top_k`, over
``windows.top_k_per_group``). The eight families differ only in how
they pick and score candidates:

- brute force: every corpus row, by the expression fold or by the
  NumPy GEMM scorer — the exact baseline;
- sign-LSH: rows in the query's sign bucket (multi-probe adds the
  buckets one bit flip away);
- IVF: members of the query's nearest k-means clusters
  (:func:`_probes`);
- PQ: ADC over per-subspace codes (:func:`_adc_tables`); OPQ is PQ
  after an orthonormal rotation;
- SQ8: a separable fold over 8-bit per-dimension codes;
- IVF+PQ: ADC over residual codes inside the probed clusters;
- PCA: brute force in a reduced basis.

The approximate families can shortlist R candidates per query and
score them exactly against the raw vectors (:func:`_exact_rerank`).
Trained indexes fit on the driver: one key-sorted training matrix
(:func:`_training_matrix`) and one seeded k-means (:func:`_kmeans_np`);
the full corpus is then encoded map-only against literal codebooks.

Row-path math is built-in higher-order functions (zip_with/aggregate)
in double precision — no UDFs. NumPy runs in the row path only in the
vectorized brute-force scorer and the large-d rotation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.operators.windows import top_k_per_group


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential left-fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with a defined zero-vector contract: a zero
    vector has no direction, so cos = 0.0 (Spark's raw double division
    would emit NaN, which sorts ABOVE every real score in a descending
    window — a zero vector would win every top-k)."""
    return _ratio(dot(a, b), norm(a) * norm(b))


def _ratio(num: Column, den: Column) -> Column:
    """num / den, 0.0 where den is 0 — the zero-vector rule of
    :func:`cosine`, shared by the ADC and SQ cosine estimates (under
    ANSI mode a bare division by zero raises DIVIDE_BY_ZERO)."""
    return F.when(den == 0.0, F.lit(0.0)).otherwise(num / den)


def _cos(vec_col: str, places: int) -> Column:
    """Exact query-to-row cosine rounded to ``places``, as ``cos``."""
    return F.round(cosine(F.col("query_vec"), F.col(vec_col)), places).alias("cos")


def _top_k(
    scored: DataFrame,
    k: int,
    id_col: str,
    score_col: str = "cos",
    rank_col: str = "rank",
) -> DataFrame:
    """Each query's ``k`` best rows by ``score_col`` (desc, ties to the
    lower id); a query never matches its own id."""
    return top_k_per_group(
        scored.filter(F.col("query_id") != F.col(id_col)),
        ["query_id"],
        [F.col(score_col).desc(), F.col(id_col).asc()],
        k,
        rank_col,
    )


def _exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    scored: DataFrame,
    k: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
    places: int,
    score_col: str = "cos",
) -> DataFrame:
    """The top k of the candidate scores ``scored`` — or, with
    ``rerank=R``, the second stage of the shortlisting scorers: score
    each query's top R ids EXACTLY against the raw vectors and keep the
    top k of those. The shortlist (n_queries·R ids) and the query batch
    are broadcast into the corpus scan, so the corpus never
    shuffles."""
    if rerank is None:
        return _top_k(scored, k, id_col, score_col)
    shortlist = _top_k(scored, rerank, id_col, score_col, "r")
    exact = (
        corpus.join(F.broadcast(shortlist.select("query_id", id_col)), id_col)
        .join(F.broadcast(queries), "query_id")
        .select("query_id", id_col, _cos(vec_col, places))
    )
    return _top_k(exact, k, id_col)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries`` (query_id, query_vec) is broadcast — the corpus-side
    plan is scan → per-row score → per-query top-k window. Cosine is
    rounded to ``places`` before ranking so ordering is stable across
    engines/runs (ties broken by corpus id).
    Output: query_id, vec_id, cos, rank.
    """
    scored = corpus.join(F.broadcast(queries)).select(
        "query_id", id_col, _cos(vec_col, places)
    )
    return _top_k(scored, k, id_col)


def cosine_topk_bruteforce_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
) -> DataFrame:
    """Exact top-k by cosine — BLAS path. Same contract and output
    schema as :func:`cosine_topk_bruteforce` (query_id, vec_id, cos,
    rank); only the scorer differs: the bounded query batch is pulled
    to the driver as a NumPy matrix and captured in a ``mapInPandas``
    closure (broadcast with the serialized task), and each Arrow batch
    of corpus rows is scored as ONE (batch × d)·(d × q) GEMM instead of
    per-row ``aggregate``/``zip_with`` expression evaluation.

    Plan shape is unchanged — scan → map-only score → per-query top-k
    window — so the 100 TB story (corpus never shuffles, no all-pairs)
    is identical; this swaps interpreted O(d)-per-row expression work
    for vectorized BLAS. Scores are rounded to ``places`` before
    ranking, which absorbs the summation-order difference between the
    expression left-fold and NumPy's pairwise/BLAS accumulation
    (<1 ulp), so both paths emit identical rows.
    """
    import numpy as np
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    qrows = queries.select("query_id", "query_vec").collect()  # bounded batch
    if not qrows:
        # np.linalg.norm(axis=1) crashes on an empty 1-D array; zero
        # queries legitimately means zero result rows. The id column
        # keeps the CORPUS's type so the empty frame's schema matches
        # the non-empty path for any id type, not just bigint.
        return corpus.sparkSession.createDataFrame(
            [], f"query_id bigint, {id_col} {id_type}, cos double, rank int"
        )
    q_ids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    q_mat = np.array([r["query_vec"] for r in qrows], dtype=np.float64)  # (q, d)
    q_norm = np.linalg.norm(q_mat, axis=1, keepdims=True)
    # Zero-norm guard: divide by 1 so a zero vector scores cos = 0.0,
    # matching the expression path's defined zero-vector contract.
    q_unit = q_mat / np.where(q_norm == 0.0, 1.0, q_norm)

    out_schema = f"query_id bigint, {id_col} {id_type}, cos double"

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy()  # corpus id dtype passes through
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)  # (b, d)
            c_norm = np.linalg.norm(c_mat, axis=1, keepdims=True)
            cos = (c_mat / np.where(c_norm == 0.0, 1.0, c_norm)) @ q_unit.T  # (b, q)
            b, q = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids[np.newaxis, :], b, axis=0).ravel(),
                    id_col: np.repeat(c_ids, q),
                    "cos": np.round(cos.ravel(), places),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    return _top_k(scored, k, id_col)


def make_queries(corpus: DataFrame, query_ids: list[int], id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Pull a bounded query batch out of the corpus by id."""
    return corpus.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """LSH bucket id from the sign pattern of the first ``bits`` dims:
    bucket = Σ (vec[i] > 0) << i. Unrolled to a static expression
    (``bits`` is small and known at plan time) — pure integer math,
    portable across engines."""
    terms = [
        F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        for i in range(bits)
    ]
    out = terms[0]
    for term in terms[1:]:
        out = out + term
    return out


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    multi_probe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
) -> DataFrame:
    """Approximate top-k: score only corpus rows in the query's sign
    bucket. Same output shape as the brute-force path (rank within
    bucket); recall < 1 by design — the scale/recall dial is ``bits``
    plus ``multi_probe``: probe the buckets at Hamming distance 1 in
    the first ``multi_probe`` bit positions too (near-misses on a
    single sign are the dominant recall loss). Probing multiplies only
    the broadcast QUERY side — corpus work stays per-bucket — and each
    (query, corpus) pair still matches at most once (a corpus row has
    one bucket; the probe set is distinct buckets).
    """
    cb = corpus.withColumn("bucket", sign_bucket(F.col(vec_col), bits))
    qb = queries.withColumn("bucket", sign_bucket(F.col("query_vec"), bits))
    if multi_probe:
        flips = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("bigint"))
            for i in range(min(multi_probe, bits))
        ]
        qb = qb.select(
            "query_id", "query_vec", F.explode(F.array(*flips)).alias("bucket")
        )
    scored = cb.join(F.broadcast(qb), "bucket").select(
        "query_id", id_col, _cos(vec_col, places)
    )
    return _top_k(scored, k, id_col)


def _training_sample(
    df: DataFrame, key_col: str, train_fraction: float | None
) -> DataFrame:
    """Deterministic ~train_fraction sample for index TRAINING (the
    k-means fits); the full corpus is still transformed/encoded. This
    is the 100 TB contract: codebooks/centroids only need to see a
    representative sample (FAISS trains on ~1e5-1e6 vectors regardless
    of corpus size), so the iterative multi-pass fit runs over a bounded
    slice while encode/assign stays one map-only pass over everything.
    Keyed md5-bucket filter (operators/relational.hash_bucket) — a pure
    function of the row, so the training set is stable across runs,
    engines, and partitionings, keeping seeded k-means deterministic.
    """
    if train_fraction is None or train_fraction >= 1.0:
        return df
    if not 0.0 < train_fraction < 1.0:
        raise ValueError(f"train_fraction must be in (0, 1], got {train_fraction}")
    from spark_cassandra_collabfiltering_spark.operators.relational import hash_bucket

    return df.filter(
        hash_bucket(F.col(key_col), 1000) < int(round(train_fraction * 1000))
    )


def _training_matrix(
    corpus: DataFrame, id_col: str, vec_col: str, train_fraction: float | None
):
    """The driver-side training matrix (n, d) of every trained index
    (IVF, PQ, OPQ, PCA): the :func:`_training_sample` rows (the whole
    corpus for ``train_fraction=None``), collected unsorted (no
    shuffle) and sorted by key on the driver so partition order can't
    leak into the seeded trainers."""
    import numpy as np

    sample = _training_sample(corpus, id_col, train_fraction)
    rows = sorted(sample.select(id_col, vec_col).collect(), key=lambda r: r[0])
    if not rows:
        raise ValueError("training sample is empty — raise train_fraction")
    return np.array([list(r[1]) for r in rows], dtype=np.float64)


def _kmeans_np(X, k: int, seed: int, max_iter: int = 20):
    """Seeded Lloyd's k-means on a driver-side sample (NumPy) — every
    k-means fit of the module. The sample is bounded by design
    (FAISS-style: codebooks/centroids are trained on ~1e5-1e6 vectors
    regardless of corpus size, so a distributed iterative fit is all
    scheduling overhead and no compute).
    kmeans++ init from a seeded RNG; an empty cluster is reseeded to
    the point farthest from its centroid. Deterministic given
    (X, k, seed) — callers sort the sample by key before building X so
    partition order can't leak in.
    """
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    n = X.shape[0]
    rng = np.random.RandomState(seed)
    centers = [X[rng.randint(n)]]
    for _ in range(1, min(k, n)):
        d2 = ((X[:, None, :] - np.array(centers)[None, :, :]) ** 2).sum(-1).min(1)
        tot = d2.sum()
        if tot == 0.0:
            centers.append(X[rng.randint(n)])
        else:
            # kmeans++: draw proportional to squared distance
            idx = int(np.searchsorted(np.cumsum(d2 / tot), rng.rand()))
            centers.append(X[min(idx, n - 1)])
    C = np.array(centers, dtype=np.float64)
    if len(C) < k:  # fewer sample points than codes: repeat (harmless)
        C = np.vstack([C, C[rng.randint(len(C), size=k - len(C))]])
    for _ in range(max_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        new_c = C.copy()
        for c in range(k):
            members = X[assign == c]
            if len(members):
                new_c[c] = members.mean(0)
            else:
                new_c[c] = X[int(d2.min(1).argmax())]
        if np.allclose(new_c, C, atol=1e-12):
            C = new_c
            break
        C = new_c
    return [[float(x) for x in row] for row in C]


def _lit_matrix(rows: list[list[float]]) -> Column:
    """A nested array<array<double>> literal built as ONE parsed SQL
    expression. Building the same matrix from nested F.array(F.lit(..))
    calls costs one py4j round-trip per element — measured ~2 s of
    driver time for a 256×8 codebook, repeated per plan build — while
    parsing a single expr string is milliseconds for the same literal
    tree (values bit-identical: repr() round-trips doubles exactly and
    Spark's `<repr>D` literal parses scientific notation). Finite
    values only (codebooks/rotations never hold NaN/Inf)."""
    body = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in r) + ")" for r in rows
    )
    return F.expr(f"array({body})")


def _nearest_code(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid (squared Euclidean) as a pure
    JVM-side expression over a literal codebook — the map-only encode/
    assign of every trained index. Replaces a chain of
    pyspark.ml model transforms with ONE select; ties (measure-zero on
    real data) resolve to the lowest code via array_position."""
    cb = _lit_matrix(centroids)
    d2 = F.transform(
        cb,
        lambda c: F.aggregate(
            F.zip_with(c, vec, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return (F.array_position(d2, F.array_min(d2)) - 1).cast("int")


def _probe_dim(corpus: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first corpus row, with a clear
    contract on the degenerate cases (``.first()`` on an empty frame
    returns None and a bare ``len(None[0])`` is an opaque TypeError)."""
    row = corpus.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot derive embedding dim: corpus is empty or first '{vec_col}' is NULL"
        )
    return len(row[0])


def ivf_index(
    corpus: DataFrame,
    n_clusters: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
):
    """IVF (inverted-file) index: k-means centroids + cluster-assigned
    corpus. Returns (assigned_corpus, centroids_df).

    Seeded NumPy Lloyd's runs on the driver over
    :func:`_training_matrix`: the deterministic keyed sample for a
    ``train_fraction`` (bounded by design — see
    :func:`_training_sample`), the whole corpus for None. That is the
    100 TB shape (FAISS trains coarse quantizers on a driver-scale
    sample; a distributed fit over ~1e5 sampled rows is scheduling
    overhead, not compute). Assignment of the FULL corpus is one
    map-only expression pass over a literal centroid matrix; the
    assigned table is then written partitioned by cluster so probes
    prune partitions.
    """
    centers = _kmeans_np(
        _training_matrix(corpus, id_col, vec_col, train_fraction), n_clusters, seed=seed
    )
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_code(F.col(vec_col).cast("array<double>"), centers).alias("cluster"),
    )
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        "cluster int, centroid array<double>",
    )
    return assigned, centroids


def _probes(
    queries: DataFrame, centroids: DataFrame, n_probe: int, places: int
) -> DataFrame:
    """Each query's ``n_probe`` nearest centroids by rounded cosine,
    ties to the lower cluster: (query_id, query_vec, cluster, c_cos,
    qc_dot, p) with qc_dot = <q, centroid> for the IVF+PQ score. A
    broadcast cross of the bounded query batch and the centroid
    table."""
    ranked = queries.join(F.broadcast(centroids)).select(
        "query_id",
        "query_vec",
        "cluster",
        F.round(cosine(F.col("query_vec"), F.col("centroid")), places).alias("c_cos"),
        dot(F.col("query_vec"), F.col("centroid")).alias("qc_dot"),
    )
    return top_k_per_group(
        ranked, ["query_id"], [F.col("c_cos").desc(), F.col("cluster").asc()],
        n_probe, "p",
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
    train_fraction: float | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``n_probe`` nearest
    centroids and scores only those clusters' members — corpus work
    drops to ~n_probe/n_clusters of brute force. Probing is a broadcast
    cross of (queries × centroids), ranked per query; scoring joins on
    the cluster key. Rows-only correctness check (k-means is iterative,
    not SQL-expressible).
    """
    assigned, centroids = ivf_index(
        corpus, n_clusters=n_clusters, seed=seed, id_col=id_col, vec_col=vec_col,
        train_fraction=train_fraction,
    )
    probes = _probes(queries, centroids, n_probe, places).select(
        "query_id", "query_vec", "cluster"
    )
    scored = assigned.join(F.broadcast(probes), "cluster").select(
        "query_id", id_col, _cos(vec_col, places)
    )
    return _top_k(scored, k, id_col)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_clusters: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index as a lake layout: the cluster-assigned
    corpus written PARTITIONED BY cluster (one directory per inverted
    list) plus the centroid table. This is the 100 TB serving shape:
    a probe only opens the directories of its probed clusters —
    partition pruning at plan time — instead of scanning the corpus.
    """
    assigned, centroids = ivf_index(
        corpus, n_clusters=n_clusters, seed=seed, id_col=id_col, vec_col=vec_col
    )
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{path}/corpus"
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def cosine_topk_ivf_pruned(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
) -> DataFrame:
    """IVF top-k served from a :func:`write_ivf_index` layout.

    Probe ranking is identical to :func:`cosine_topk_ivf`; the probed
    cluster ids (≤ n_queries × n_probe small integers — an index
    lookup, not a data collect) become a literal IN filter on the
    partition column, so the corpus scan reads ONLY the probed
    clusters' directories (``PartitionFilters`` in the plan, asserted
    in tests). Scoring inside the pruned scan matches the in-memory
    path row-for-row.
    """
    probes = _probes(
        queries, spark.read.parquet(f"{path}/centroids"), n_probe, places
    ).select("query_id", "query_vec", "cluster")
    probed_clusters = [r["cluster"] for r in probes.select("cluster").distinct().collect()]
    corpus = spark.read.parquet(f"{path}/corpus").filter(
        F.col("cluster").isin(probed_clusters)
    )
    scored = corpus.join(F.broadcast(probes), "cluster").select(
        "query_id", id_col, _cos(vec_col, places)
    )
    return _top_k(scored, k, id_col)


def near_dup_pairs_cosine(
    corpus: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup #5): self-join
    within sign-LSH buckets, keep pairs with cosine ≥ threshold.
    Bucketing bounds the quadratic blowup; exact scoring inside the
    bucket means no false positives (recall traded via ``bits``)."""
    b = corpus.select(
        F.col(id_col), F.col(vec_col), sign_bucket(F.col(vec_col), bits).alias("bucket")
    )
    left = b.select(
        F.col("bucket"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
    )
    right = b.select(
        F.col("bucket"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("vec_a"), F.col("vec_b")), places).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.97,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
    train_fraction: float | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means cluster the embedding space, compare
    pairs WITHIN each cluster only, and prune every doc whose cosine
    to a lower-id doc in the same cluster is ≥ threshold. Output:
    (id, cluster, keep) for every corpus row — the keep=true slice is
    the semantically deduplicated corpus.

    Clustering reuses :func:`ivf_index` (same sampled-training
    contract — seeded NumPy Lloyd's on a deterministic keyed sample,
    map-only full-corpus assignment over literal centroids), so the
    whole operator is deterministic given (corpus, seed) and the only
    shuffles are the k-means assignment groupBy and the within-cluster
    self-join on the small integer cluster key.

    Scale: the self-join is quadratic per cluster — exactly the paper's
    design point: n_clusters grows with the corpus so the expected
    cluster stays bounded (they use 50k clusters for LAION), turning
    all-pairs O(N²) into O(N²/k). A skewed hot cluster is the same
    density problem as a hot LSH bucket; compose with the cap/star
    safeguard of dedup.lsh_candidate_pairs if assignments crowd.

    Keep rule: a doc is pruned iff some LOWER-ID same-cluster doc is
    within the threshold ball. Deterministic and single-pass (one
    semi-join), at the cost of chain effects (a~b, b~c, a≁c prunes
    both b and c). For one-representative-per-component semantics,
    feed the dup pairs to dedup.connected_components instead and keep
    label==node rows.
    """
    assigned, _ = ivf_index(
        corpus, n_clusters=n_clusters, seed=seed, id_col=id_col,
        vec_col=vec_col, train_fraction=train_fraction,
    )
    a = assigned.select(
        "cluster", F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a")
    )
    b = assigned.select(
        "cluster", F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b")
    )
    dup_pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), places).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    pruned = (
        dup_pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_pruned", F.lit(1))
    )
    # one left join (pruned is tiny relative to the corpus → broadcast)
    return assigned.join(pruned, id_col, "left").select(
        F.col(id_col), F.col("cluster"), F.col("_pruned").isNull().alias("keep")
    )


def pq_index(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
    d: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
):
    """Product-quantization index (Jégou et al. 2011): split each
    d-dim vector into ``m`` contiguous subspaces and k-means each
    subspace to ``n_codes`` centroids. Returns (codes, codebook):

    - codes: (id, codes array<int> of length m) — the compressed
      corpus. At d=64 float32 → m=8 single-byte codes this is ~32x
      smaller than the raw vectors, which is what makes a 100 TB
      corpus scorable from memory.
    - codebook: (subspace, code, centroid array<double>) — m·n_codes
      rows, always broadcastable.

    Training collects :func:`_training_matrix` ONCE (the keyed sample
    for a ``train_fraction``, the whole corpus for None) and fits all
    m codebooks with seeded NumPy Lloyd's on the driver — the FAISS
    shape, and the 100 TB default. Encoding the FULL
    corpus is a single map-only select: per subspace, a JVM expression
    argmin over the literal codebook (:func:`_nearest_code`) — no
    model-transform chain, no Python in the row path. Deterministic
    under ``seed``. Pass ``d`` when the caller already knows the
    dimensionality to skip the first-row probe job. Pass ``codebooks``
    (m lists of n_codes centroids, e.g. from :func:`opq_train`) to
    skip training entirely and only encode.
    """
    if d is None:
        d = _probe_dim(corpus, vec_col)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub_d = d // m
    if codebooks is None:
        X = _training_matrix(corpus, id_col, vec_col, train_fraction)
        codebooks = [
            _kmeans_np(X[:, s * sub_d : (s + 1) * sub_d], n_codes, seed=seed + s)
            for s in range(m)
        ]
    elif len(codebooks) != m:
        raise ValueError(f"expected {m} codebooks, got {len(codebooks)}")
    vec = F.col(vec_col)
    codes = corpus.select(
        F.col(id_col),
        F.array(
            *[
                _nearest_code(
                    F.slice(vec, s * sub_d + 1, sub_d).cast("array<double>"), codebooks[s]
                )
                for s in range(m)
            ]
        ).alias("codes"),
    )
    codebook = corpus.sparkSession.createDataFrame(
        [(s, i, c) for s in range(m) for i, c in enumerate(codebooks[s])],
        "subspace int, code int, centroid array<double>",
    )
    return codes, codebook


def _adc_tables(queries: DataFrame, codebook: DataFrame) -> DataFrame:
    """PQ asymmetric-distance (ADC) lookup tables, built ONCE per query
    (queries x codebook — broadcast-small): (query_id, lut, cn2) with
    lut[s][c] = <query_sub_s, centroid_s,c> and cn2[s][c] =
    ‖centroid_s,c‖², folded to per-subspace arrays, then per-query
    matrices. A sub-vector is as long as its centroid."""

    def by(key: str, val: str) -> Column:
        return F.transform(
            F.array_sort(F.collect_list(F.struct(key, val))), lambda e: e[val]
        )

    sub_d = F.size("centroid")
    return (
        queries.join(F.broadcast(codebook))
        .select(
            "query_id",
            "subspace",
            "code",
            dot(
                F.slice(F.col("query_vec"), F.col("subspace") * sub_d + 1, sub_d),
                F.col("centroid"),
            ).alias("part"),
            dot(F.col("centroid"), F.col("centroid")).alias("cnorm2"),
        )
        .groupBy("query_id", "subspace")
        .agg(by("code", "part").alias("lut_s"), by("code", "cnorm2").alias("norm_s"))
        .groupBy("query_id")
        .agg(by("subspace", "lut_s").alias("lut"), by("subspace", "norm_s").alias("cn2"))
    )


def _adc_sum(table: str, m: int) -> Column:
    """Σ_s table[s][codes[s]] — a row-local fold over the m codes."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc + F.col(table)[s][F.col("codes")[s]],
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
    train_fraction: float | None = None,
    d: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance computation (ADC).

    Per query, a lookup table LUT[s][c] = <query_sub_s, centroid_s,c>
    is built ONCE (queries x codebook — broadcast-small), folded into
    an array<array<double>> column on the query row, and the corpus
    scan scores each compressed row as a row-local fold over its m
    codes: approx_dot = sum_s LUT[s][codes[s]]. Norms reconstruct the
    same way from per-centroid norms. After the broadcast join the
    plan is identical in shape to brute force — scan, per-row
    expression, per-query top-k window — but touches only the 32x
    smaller codes column.

    ``rerank=R`` adds the standard second stage: the ADC pass only
    shortlists R candidates per query, which are then scored EXACTLY
    against the raw vectors (a broadcast of n_queries·R ids into the
    corpus scan) before the final top-k. Compression error then only
    costs recall when a true neighbor misses the shortlist, so small R
    (a few·k) recovers near-exact results while the full corpus is
    still only ever read as codes. Rows-only correctness (k-means
    inside); recall pinned vs brute force in tests.
    """
    codes, codebook = pq_index(
        corpus, m=m, n_codes=n_codes, seed=seed, id_col=id_col, vec_col=vec_col,
        train_fraction=train_fraction, d=d, codebooks=codebooks,
    )
    q = queries.join(_adc_tables(queries, codebook), "query_id").select(
        "query_id", norm(F.col("query_vec")).alias("qnorm"), "lut", "cn2"
    )
    approx_cos = _ratio(
        _adc_sum("lut", m), F.col("qnorm") * F.sqrt(_adc_sum("cn2", m))
    )
    scored = codes.join(F.broadcast(q)).select(
        "query_id", id_col, F.round(approx_cos, places).alias("cos")
    )
    return _exact_rerank(corpus, queries, scored, k, rerank, id_col, vec_col, places)


def _lit_vec(vals: list[float]) -> Column:
    """1-D array<double> literal as ONE parsed expression (see
    :func:`_lit_matrix` for why not per-element F.lit)."""
    return F.expr("array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")")


def sq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
    d: int | None = None,
):
    """Scalar-quantization (SQ8) index: each dimension is affinely
    mapped to an 8-bit code against per-dim (lo, hi) bounds —
    code_j = clamp(round((x_j - lo_j) / step_j), 0, 255) with
    step_j = (hi_j - lo_j)/255. The FAISS SQ8 shape: 4x compression
    with NO codebook lookup at scoring time, the cheapest rung of the
    compression ladder below PQ's ~32x.

    Returns (codes, lo, hi, step):

    - codes: (id, codes array<int> length d, anorm2 double) — anorm2
      is the DEQUANTIZED vector's squared norm, computed once at
      encode time (it is query-independent) so scoring never
      reconstructs it per query.
    - lo/hi/step: per-dim bounds + quantization step as plain lists
      (driver-scale: 3·d doubles), embedded as one-parse literals.

    Training = per-dim min/max — which, unlike the PQ/IVF k-means
    fits, needs NO driver-side data at all: both the exact
    (``train_fraction=None``) and sampled paths run the same ONE
    distributed pyspark.ml Summarizer pass (no explode, no shuffle
    beyond the single agg; only 2·d doubles ever reach the driver).
    A fraction merely restricts that pass to the deterministic keyed
    sample — the 100 TB default, with out-of-range values at encode
    time saturating to code 0/255 by the clamp (the standard SQ
    trade). Encoding the full corpus is a map-only zip_with/fold over
    JVM expressions; a degenerate dim (hi == lo) encodes to 0 and
    dequantizes to lo exactly. The min/max pass yields the dimension,
    so ``d`` is never probed; it is accepted for symmetry with
    :func:`pq_index`."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer

    train = _training_sample(corpus, id_col, train_fraction)
    s = train.select(
        Summarizer.metrics("min", "max")
        .summary(array_to_vector(F.col(vec_col).cast("array<double>")))
        .alias("s")
    ).first()
    if s is None or s["s"] is None or s["s"]["min"] is None:
        raise ValueError("SQ training sample is empty — raise train_fraction")
    lo = [float(x) for x in s["s"]["min"]]
    hi = [float(x) for x in s["s"]["max"]]
    step = [(h - l) / 255.0 for l, h in zip(lo, hi)]

    lo_arr, step_arr = _lit_vec(lo), _lit_vec(step)
    v = F.col(vec_col).cast("array<double>")
    centered = F.zip_with(v, lo_arr, lambda x, l: x - l)
    codes = F.zip_with(
        centered,
        step_arr,
        lambda c, s: F.when(
            s > 0,
            F.least(F.lit(255.0), F.greatest(F.lit(0.0), F.round(c / s, 0))),
        )
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    dequant = F.zip_with(
        F.zip_with(F.col("codes").cast("array<double>"), step_arr, lambda c, s: c * s),
        lo_arr,
        lambda a, l: a + l,
    )
    out = corpus.select(F.col(id_col), codes.alias("codes")).withColumn(
        "anorm2",
        F.aggregate(dequant, F.lit(0.0), lambda acc, x: acc + x * x),
    )
    return out, lo, hi, step


def cosine_topk_sq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
    train_fraction: float | None = None,
    d: int | None = None,
) -> DataFrame:
    """Approximate top-k over the SQ8-compressed corpus.

    The affine code makes the approximate dot product separable:
    <q, dequant(c)> = <q, lo> + sum_j (q_j·step_j)·c_j, so each query
    precomputes a scalar <q, lo> and a d-vector q∘step ONCE, and the
    corpus scan scores a compressed row with one zip_with fold over
    its codes — row-local, no codebook lookup (cheaper per row than
    PQ's ADC table indexing). anorm2 comes free from the index. After
    the broadcast join the plan shape is identical to brute force but
    reads the 4x-smaller codes column.

    ``rerank=R`` is the standard exact second stage over the broadcast
    shortlist, as in :func:`cosine_topk_pq`. Rows-only correctness
    (float-sum order makes cross-engine hashing fragile); quantization
    error and recall pinned in tests/test_sq.py."""
    codes, lo, hi, step = sq_index(
        corpus, id_col=id_col, vec_col=vec_col,
        train_fraction=train_fraction, d=d,
    )
    lo_arr, step_arr = _lit_vec(lo), _lit_vec(step)
    qv = F.col("query_vec").cast("array<double>")
    q = queries.select(
        "query_id",
        norm(qv).alias("qnorm"),
        dot(qv, lo_arr).alias("qlo"),
        F.zip_with(qv, step_arr, lambda x, s: x * s).alias("qstep"),
    )
    approx_dot = F.col("qlo") + F.aggregate(
        F.zip_with(F.col("qstep"), F.col("codes"), lambda qs, c: qs * c),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    approx_cos = _ratio(approx_dot, F.col("qnorm") * F.sqrt(F.col("anorm2")))
    scored = codes.join(F.broadcast(q)).select(
        "query_id", id_col, F.round(approx_cos, places).alias("cos")
    )
    return _exact_rerank(corpus, queries, scored, k, rerank, id_col, vec_col, places)


def ivfpq_index(
    corpus: DataFrame,
    n_clusters: int = 16,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
):
    """Composed IVF+PQ index (the FAISS IVFPQ layout): coarse k-means
    clusters for probe pruning, then PQ codebooks trained on the
    RESIDUALS (vec − assigned centroid), which are far more
    quantizable than raw vectors because the coarse structure is
    already removed. Returns (codes, centroids, codebook) where codes
    is (id, cluster, codes array<int>) — at scale written
    partitioned by cluster (see write_ivf_index) so probes prune
    partitions AND scan only ~m bytes per row. A residual is as long
    as its vector, so the corpus dimension is probed once, here.
    """
    d = _probe_dim(corpus, vec_col)
    assigned, centroids = ivf_index(
        corpus, n_clusters=n_clusters, seed=seed, id_col=id_col, vec_col=vec_col,
        train_fraction=train_fraction,
    )
    resid = assigned.join(F.broadcast(centroids), "cluster").select(
        F.col(id_col),
        F.col("cluster"),
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("centroid"),
            lambda v, c: v - c,
        ).alias("_resid"),
    )
    codes, codebook = pq_index(
        resid, m=m, n_codes=n_codes, seed=seed, id_col=id_col, vec_col="_resid",
        train_fraction=train_fraction, d=d,
    )
    codes = codes.join(resid.select(id_col, "cluster"), id_col)
    return codes, centroids, codebook


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
    train_fraction: float | None = None,
) -> DataFrame:
    """IVF+PQ approximate top-k: probe the n_probe nearest clusters,
    shortlist inside them by ADC over residual codes, then exact-score
    the shortlist against the raw vectors.

    approx_dot(q, v) = <q, centroid_cluster> + Σ_s LUT[s][code_s]
    where LUT[s][c] = <q_sub_s, residual_codebook[s][c]> — the
    centroid term rides on the probe row, the LUT on the query row;
    scoring each compressed row is one row-local fold. The shortlist
    ranks by approximate INNER PRODUCT (norm reconstruction is skipped
    on purpose — the mandatory exact re-rank re-scores with true
    cosine, so shortlist order only has to be good enough to keep the
    true neighbors in the top ``rerank``). Rows-only (two k-means
    stages); recall pinned vs brute force in tests.
    """
    codes, centroids, codebook = ivfpq_index(
        corpus, n_clusters=n_clusters, m=m, n_codes=n_codes, seed=seed,
        id_col=id_col, vec_col=vec_col, train_fraction=train_fraction,
    )
    # the residual LUT is cluster-independent (residual codebooks are
    # shared across clusters): one per query, joined to its probes
    probe_q = (
        _probes(queries, centroids, n_probe, places)
        .select("query_id", "cluster", "qc_dot")
        .join(_adc_tables(queries, codebook), "query_id")  # small x small
    )
    scored = codes.join(F.broadcast(probe_q), "cluster").select(
        "query_id", id_col, (F.col("qc_dot") + _adc_sum("lut", m)).alias("adot")
    )
    return _exact_rerank(
        corpus, queries, scored, k, rerank, id_col, vec_col, places, "adot"
    )


def opq_rotation(d: int, seed: int = 42) -> list[list[float]]:
    """Seeded random orthonormal rotation matrix (the OPQ baseline of
    Ge et al. 2014, "Optimized Product Quantization" — their RR/random
    variant): QR-decompose a Gaussian matrix and sign-fix the diagonal
    so the result is deterministic. Driver-side, d×d floats — tiny
    (d=64 → 32 KB) and broadcast with the plan as literals.

    Why rotate before PQ: PQ slices vectors into m CONTIGUOUS
    subspaces, so correlated/unevenly-scaled dimensions concentrate
    quantization error in a few subspaces. A random orthonormal
    rotation spreads variance ~evenly across subspaces while
    preserving all inner products and norms (<Rq, Rv> = <q, v>), so
    exact scores are unchanged — only the quantizer's error shrinks.
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    q, r = np.linalg.qr(rng.standard_normal((d, d)))
    q = q * np.sign(np.diag(r))  # canonical Q: R's diagonal made positive
    return [[float(x) for x in row] for row in q]


def _pq_quant_error(X, R, m: int, n_codes: int, seed: int):
    """PQ quantization error of sample ``X`` under rotation ``R``:
    train per-subspace codebooks on the rotated sample, quantize, and
    return (Σ‖XRᵀ − Q‖², Q, codebooks). Driver-side NumPy; shared by
    the trained-OPQ loop and the tests that pin trained ≤ random
    error."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    R = np.asarray(R, dtype=np.float64)
    Xr = X @ R.T
    sub_d = Xr.shape[1] // m
    Q = np.empty_like(Xr)
    codebooks = []
    for s in range(m):
        sl = slice(s * sub_d, (s + 1) * sub_d)
        C = np.array(_kmeans_np(Xr[:, sl], n_codes, seed=seed + s))
        d2 = ((Xr[:, sl][:, None, :] - C[None, :, :]) ** 2).sum(-1)
        Q[:, sl] = C[d2.argmin(1)]
        codebooks.append([[float(x) for x in row] for row in C])
    return float(((Xr - Q) ** 2).sum()), Q, codebooks


def opq_rotation_trained(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    iters: int = 6,
    train_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int | None = None,
) -> list[list[float]]:
    """The real OPQ of Ge et al. 2014 (non-parametric variant):
    alternate between (a) fitting per-subspace codebooks in the
    rotated space and (b) the orthogonal-Procrustes update of R —
    min_R ‖XRᵀ − Q‖_F over orthogonal R, solved by the SVD of XᵀQ —
    so the rotation is OPTIMIZED for the quantizer instead of merely
    spreading variance at random.

    Trains on the driver over the deterministic keyed sample
    (``train_fraction``; bounded by design — at 100 TB you never train
    a rotation on the full corpus), sorted by key so partition order
    can't leak in. Returns the d×d rotation rows; apply with
    :func:`rotate_vectors` — application cost is identical to the
    random-rotation path, training cost is a driver-side loop of m
    seeded Lloyd fits + one d×d SVD per iteration.
    """
    rot, _ = opq_train(
        corpus, m=m, n_codes=n_codes, seed=seed, iters=iters,
        train_fraction=train_fraction, id_col=id_col, vec_col=vec_col, d=d,
    )
    return rot


def opq_train(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    iters: int = 6,
    train_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int | None = None,
):
    """Full OPQ training: returns (rotation, codebooks) where the
    codebooks are fit on the SAME rotated driver-side sample in a
    final pass after the last rotation update — so a caller feeding
    both into :func:`rotate_vectors` + :func:`pq_index` pays ONE
    sample collect for the whole trained-OPQ pipeline instead of one
    per stage (rotation consistent with codebooks by construction).
    """
    import numpy as np

    X = _training_matrix(corpus, id_col, vec_col, train_fraction)
    R = np.array(opq_rotation(d or X.shape[1], seed=seed), dtype=np.float64)
    for _ in range(iters):
        _, Q, _cb = _pq_quant_error(X, R, m, n_codes, seed)
        # max_R tr(R·XᵀQ): SVD XᵀQ = USVᵀ → R = VUᵀ
        u, _s, vt = np.linalg.svd(X.T @ Q)
        R = vt.T @ u.T
    # final codebooks consistent with the final R
    _, _, codebooks = _pq_quant_error(X, R, m, n_codes, seed)
    return [[float(x) for x in row] for row in R], codebooks


def rotate_vectors(
    df: DataFrame,
    rotation: list[list[float]],
    vec_col: str,
    gemm_threshold: int = 256,
) -> DataFrame:
    """Apply an orthonormal rotation row-locally: out[i] = <R[i], v>.

    Two implementations behind one contract, switched on d:

    - d <= ``gemm_threshold``: the matrix rides in the plan as a
      nested array literal and the matvec is a transform-over-rows
      fold — map-only, no shuffle, no Python in the row path. At d=64
      that is 4K literals; cheap, and the whole plan stays JVM-side.
    - d > ``gemm_threshold``: the literal matrix would be ~d²
      expression-tree nodes (a plan-size/codegen killer at d=1024), so
      the rotation becomes an Arrow ``mapInPandas`` GEMM — each batch
      is one (batch × d)·(d × d) BLAS multiply, same shape as the
      vectorized brute-force scorer. Still map-only, no shuffle; all
      non-vector columns pass through the Arrow batch untouched.

    Both paths emit array<double> and agree to float accumulation
    error (<1 ulp·d; the downstream score rounding at ``places``
    absorbs it — pinned row-identical in tests/test_pq.py).
    """
    d = len(rotation)
    if d <= gemm_threshold:
        rows = _lit_matrix(rotation)
        rotated = F.transform(
            rows, lambda r: dot(r, F.col(vec_col).cast("array<double>"))
        )
        return df.withColumn(vec_col, rotated)

    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    R = np.array(rotation, dtype=np.float64)  # (d, d), captured in closure
    out_schema = StructType(
        [
            StructField(f.name, ArrayType(DoubleType()), f.nullable)
            if f.name == vec_col
            else f
            for f in df.schema.fields
        ]
    )

    def rotate(batches):
        for pdf in batches:
            if len(pdf):
                V = np.array(list(pdf[vec_col]), dtype=np.float64)  # (b, d)
                pdf = pdf.copy()
                pdf[vec_col] = list(V @ R.T)  # out[i] = R @ v_i
            yield pdf

    return df.mapInPandas(rotate, out_schema)


def cosine_topk_opq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
    train_fraction: float | None = None,
    rotation: str = "random",
) -> DataFrame:
    """OPQ-style ANN: rotate corpus and queries with the same seeded
    orthonormal matrix, then run the standard PQ/ADC path in the
    rotated space. Because rotation preserves inner products and
    norms, the exact re-rank scores are identical to the unrotated
    ones (up to fp rounding at ``places``); the rotation only changes
    — improves — where the QUANTIZER spends its error budget. Same
    plan shape and 100 TB story as :func:`cosine_topk_pq`: rotation is
    one extra map-only projection on each side.

    ``rotation``: "random" = the seeded RR baseline of Ge et al.;
    "trained" = their alternating-optimization rotation
    (:func:`opq_rotation_trained`, fit on the ``train_fraction``
    sample), which provably spends the quantizer's error budget better
    (trained ADC error ≤ random's — pinned in tests/test_pq.py).
    """
    d = _probe_dim(corpus, vec_col)
    cbs = None
    if rotation == "trained":
        # one driver-side sample collect trains BOTH the rotation and
        # the (rotated-space) codebooks — pq_index then only encodes
        rot, cbs = opq_train(
            corpus, m=m, n_codes=n_codes, seed=seed,
            train_fraction=train_fraction, id_col=id_col, vec_col=vec_col, d=d,
        )
    elif rotation == "random":
        rot = opq_rotation(d, seed=seed)
    else:
        raise ValueError(f"rotation must be 'random' or 'trained', got {rotation!r}")
    rc = rotate_vectors(corpus, rot, vec_col)
    rq = rotate_vectors(queries, rot, "query_vec")
    return cosine_topk_pq(
        rc, rq, k=k, m=m, n_codes=n_codes, seed=seed, rerank=rerank,
        id_col=id_col, vec_col=vec_col, places=places,
        train_fraction=train_fraction, d=d, codebooks=cbs,
    )


# --- PCA: trained dimensionality reduction (FAISS PCAMatrix shape) ---------

def pca_train(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
    d: int | None = None,
):
    """Train a k-component PCA on a bounded deterministic sample —
    the dimensionality-reduction rung of the compression ladder
    (FAISS ``PCAMatrix``): project d-dim embeddings to the k
    directions of maximal variance before brute-force/IVF scoring, a
    d/k scan-cost reduction that is usually near-lossless for
    cosine/L2 ranking because trained-embedding variance concentrates
    in a low-dim subspace.

    Same 100 TB training contract as PQ/OPQ/IVF: the eigenbasis needs
    only a representative sample (:func:`_training_sample`, keyed
    md5-bucket → deterministic), collected unsorted and key-sorted
    driver-side; the d x d covariance eigendecomposition is driver
    NumPy. Corpus-side projection is map-only (:func:`pca_project`).

    Determinism: eigenvector SIGN is BLAS-dependent, so each
    component is flipped to make its largest-|coefficient| entry
    positive — the output is then a pure function of the sample.

    Returns (mean, components, explained_e6):
    - mean: length-d list (sample mean, subtracted before projecting);
    - components: k x d orthonormal rows, leading eigenvectors first;
    - explained_e6: per-component explained-variance fraction in
      integer micro-units (diagnostic; monotone non-increasing).
    """
    import numpy as np

    X = _training_matrix(corpus, id_col, vec_col, train_fraction)
    d = d or X.shape[1]
    if not 1 <= k <= d:
        raise ValueError(f"k must be in [1, {d}], got {k}")
    mu = X.mean(axis=0)
    Xc = X - mu
    cov = (Xc.T @ Xc) / max(1, len(X) - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    W = evecs[:, order].T  # k x d
    for i in range(W.shape[0]):  # deterministic sign convention
        j = int(np.abs(W[i]).argmax())
        if W[i, j] < 0:
            W[i] = -W[i]
    tot = float(evals.sum())
    explained = [
        int((float(evals[o]) * 1_000_000) // tot) if tot > 0 else 0 for o in order
    ]
    return (
        [float(x) for x in mu],
        [[float(x) for x in row] for row in W],
        explained,
    )


def pca_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Apply a trained PCA row-locally: out = W @ (v - mean).

    The mean and the k x d component matrix ride in the plan as
    one-parse array literals; centering is a ``zip_with`` and each
    output coordinate a transform-fold dot product — map-only JVM
    expressions, no shuffle, no Python in the row path (for d above
    the literal-plan threshold the same closure fits
    :func:`rotate_vectors`'s Arrow-GEMM path; embeddings here are
    d=64). Output column is ``array<double>`` length k."""
    mu = _lit_vec(mean)
    W = _lit_matrix(components)
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), mu, lambda x, l: x - l
    )
    return df.withColumn(out_col or vec_col, F.transform(W, lambda r: dot(r, centered)))


def cosine_topk_pca(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_components: int = 16,
    rerank: int | None = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
    train_fraction: float | None = None,
) -> DataFrame:
    """Approximate top-k via PCA shortlist + exact re-rank: project
    corpus AND queries into the k-dim eigenbasis, brute-force score
    there (d/n_components of the scan arithmetic), take ``rerank``
    candidates per query, then exact-cosine re-rank in full dimension
    on the broadcast shortlist — the same two-stage contract as
    :func:`cosine_topk_pq`/``_sq``. Rows-only correctness class
    (float scores); shortlist recall pinned in tests/test_pca.py."""
    mean, W, _ = pca_train(
        corpus, n_components, id_col=id_col, vec_col=vec_col,
        train_fraction=train_fraction,
    )
    red = pca_project(corpus, mean, W, vec_col=vec_col)
    redq = pca_project(
        queries.withColumnRenamed("query_vec", vec_col), mean, W, vec_col=vec_col
    ).withColumnRenamed(vec_col, "query_vec")
    scored = red.join(F.broadcast(redq)).select(
        "query_id", id_col, _cos(vec_col, places + 2)
    )
    return _exact_rerank(
        corpus, queries, scored, k, rerank or k, id_col, vec_col, places
    )


def rrf_fuse(
    arms: list[DataFrame],
    k: int = 60,
    topk: int = 5,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N retrieval
    arms — the standard hybrid-search combiner (dense ANN + lexical +
    filtered arms): each arm contributes 1/(k + rank) for every item
    it returns, summed per (query, item); items surfaced by several
    arms rise. Rank-based, so arms with incomparable score scales
    fuse without calibration — the reason RRF beats score averaging
    in practice.

    EXACT integer scoring: contribution = 1e6 div (k + rank), so the
    fused ordering (and the hash) is engine-portable — no float
    accumulation anywhere. Scale shape: each arm is already a
    per-query top-k (bounded rows); the fuse is one union + one
    (query, item) hash-aggregate + a per-query ranking window over at
    most N·topk rows per query — negligible next to the arms
    themselves.

    Output: (query_id, vec_id, rrf_e6, n_arms, fused_rank), fused
    ties broken by id.
    """
    from functools import reduce

    u = reduce(
        lambda x, y: x.unionByName(y),
        [a.select(query_col, id_col, rank_col) for a in arms],
    )
    f = u.groupBy(query_col, id_col).agg(
        F.sum(F.expr(f"1000000 div ({k} + {rank_col})"))
        .cast("bigint")
        .alias("rrf_e6"),
        F.count(F.lit(1)).cast("bigint").alias("n_arms"),
    )
    return top_k_per_group(
        f, [query_col], [F.col("rrf_e6").desc(), F.col(id_col).asc()], topk,
        "fused_rank",
    )


def late_interaction_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_sub: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
) -> DataFrame:
    """LATE-INTERACTION retrieval (the ColBERT MaxSim shape, Khattab &
    Zaharia 2020): treat each vector as ``n_sub`` contiguous
    sub-vectors (a stand-in for per-token embeddings) and score

        maxsim(q, d) = sum_i  max_j  <q_i, d_j>

    — each query part matches its BEST counterpart in the document
    instead of one global dot product, which is what lets a multi-
    aspect query reward documents that cover each aspect anywhere.

    Plan shape is the brute-force scorer's (the 100 TB contract):
    bounded query batch broadcast, corpus scan -> row-local score ->
    per-query top-k window; the n_sub^2 sub-dot products are fixed
    unrolled expressions inside one row (fold order fixed, so the
    double arithmetic is engine-reproducible; rounded to ``places``
    before ranking with id tiebreaks). ``dim`` must be divisible by
    ``n_sub``."""
    if dim % n_sub:
        raise ValueError(f"dim={dim} not divisible by n_sub={n_sub}")
    sd = dim // n_sub
    dv = F.col(vec_col).cast("array<double>")
    qv = F.col("query_vec").cast("array<double>")
    parts = []
    for i in range(n_sub):
        qi = F.slice(qv, i * sd + 1, sd)
        best = F.greatest(
            *[dot(qi, F.slice(dv, j * sd + 1, sd)) for j in range(n_sub)]
        )
        parts.append(best)
    maxsim = F.round(sum(parts[1:], parts[0]), places)

    scored = corpus.join(F.broadcast(queries)).select(
        "query_id", id_col, maxsim.alias("maxsim")
    )
    return _top_k(scored, k, id_col, "maxsim")
