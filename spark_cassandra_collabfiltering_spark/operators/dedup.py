"""Deduplication operators (driver-mandated extension).

Five dedup strategies, all shuffle-parallel DataFrame plans with zero
Python in the row path:

- exact:        hash-groupBy on content (or md5 fingerprint of it)
- minhash+LSH:  char-shingles → k minhashes → band buckets → bucket join
- simhash:      per-bit majority vote over shingle hashes → 60-bit code
- ngram-jaccard: exact pairwise Jaccard via a shingle equi-join
- embedding-cosine: see operators/similarity.py (near_dup_pairs)

Portability design: content hashing uses md5 (identical bytes in every
engine) rather than Spark's xxhash64/murmur, so every stage here is
reproducible cross-engine and oracle-checkable in DuckDB. Minhash uses
ONE md5 per shingle, reduced to a 60-bit integer, then k universal-hash
permutations ``(a_i * h + b_i) mod p`` — exact 64-bit integer
arithmetic, identical in any engine, and ~k× cheaper than hashing each
shingle k times.

Scale: shingle explosion multiplies rows by ~doc_len, but per-doc
dedup happens inside the row (array_distinct — no shuffle) and each
stage after it is a map + hash-aggregate on doc_id (combines
map-side); the LSH bucket join shuffles only (band, signature) keys.
Candidate pairs are prefiltered by signature agreement (the classic
minhash Jaccard estimate) before the exact-Jaccard verification join,
so the expensive join runs only on probable duplicates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.operators.reuse import shared_subtree
from spark_cassandra_collabfiltering_spark.operators.width import cpu_spread_width

# 2^31 - 1 (Mersenne prime): a*h + b stays < 2^63 for a, b, h < p.
MINHASH_PRIME = 2147483647


def minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a_i, b_i), a_i != 0.

    Fixed constants (not RNG) so the DuckDB oracle can regenerate the
    identical permutations from the same formula.
    """
    p = MINHASH_PRIME
    return [
        ((1103515245 * (i + 1)) % p, (12345 * (i + 1) * (i + 1)) % p)
        for i in range(n_hashes)
    ]


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the smallest id per identical content.
    One hash-aggregate; at 100 TB, group on md5(content) instead of the
    raw content to shrink shuffle payload (see ``exact_dedup_groups``)."""
    return df.groupBy(*content_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def exact_dedup_groups(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Exact dedup keyed on the md5 of the content: shuffles 16-byte
    keys, not document bodies. Returns fp, keep_id, n_copies."""
    return (
        df.select(F.md5(F.col(content_col).cast("binary")).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def char_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Explode a text column into character n-gram shingles.

    JVM-side: sequence(1, len-n+1) positions → transform → explode.
    Docs shorter than n produce no shingles (dropped — they cannot be
    near-dup candidates at this shingle size). Per-doc dedup happens
    BEFORE the explode via array_distinct — inside the row, no shuffle
    (a global distinct would shuffle every shingle occurrence).
    """
    c = F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - (n - 1)),
        lambda i: c.substr(i, F.lit(n)),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return df.filter(F.length(c) >= n).select(
        F.col(id_col), F.explode(grams).alias("shingle")
    )


def shingle_hash(col: F.Column) -> F.Column:
    """60-bit integer hash of a shingle, reduced mod MINHASH_PRIME:
    first 15 hex chars of md5 → base-10 bigint. Engine-portable (DuckDB:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT % p``)."""
    return (
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("bigint")
        % MINHASH_PRIME
    )


def doc_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 4
) -> DataFrame:
    """Per-doc set of hashed char n-grams as ONE array column — built
    entirely inside the row (transform → array_distinct → transform),
    no explode, no shuffle. A doc becomes (id, hs: array<bigint>); the
    whole minhash pipeline downstream is row-local arithmetic on hs.
    """
    c = F.col(text_col)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        )
    )
    hs = F.array_distinct(F.transform(grams, shingle_hash))
    return df.filter(F.length(c) >= n).select(F.col(id_col), hs.alias("hs"))


def minhash_signature_table(
    sets: DataFrame, id_col: str, n_hashes: int = 16
) -> DataFrame:
    """Wide signature table: one row per doc, columns mh0..mh{k-1}.

    Each minhash is array_min over a row-local permutation of the hs
    array — k integer transforms per row, zero shuffles, whole-stage
    codegen end to end.
    """
    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME

    perms = [
        F.array_min(F.transform(F.col("hs"), perm(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(n_hashes))
    ]
    return sets.select(F.col(id_col), *perms)


def banded_signatures(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    with_next_band_ref: bool = False,
) -> DataFrame:
    """Explode a wide signature table into (id, band, sig) rows: the
    k minhash columns split into ``bands`` groups of r = k/bands, each
    concatenated to one small string key — the LSH join key. Row-local
    (one explode of a plan-time-constant array), no shuffle.

    ``with_next_band_ref`` additionally carries ``ref`` — the NEXT
    band's signature ((band+1) mod bands) — per row, which the
    ``oversize='reband'`` density safeguard uses as the second-level
    refinement key. Still row-local: it reads minhash columns already
    in the row."""
    r = n_hashes // bands

    def sig_of(j: int):
        return F.concat_ws(":", *[F.col(f"mh{j * r + k}") for k in range(r)])

    entries = [
        F.struct(
            F.lit(j).alias("band"),
            sig_of(j).alias("sig"),
            *([sig_of((j + 1) % bands).alias("ref")] if with_next_band_ref else []),
        )
        for j in range(bands)
    ]
    cols = [id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")]
    if with_next_band_ref:
        cols.append(F.col("bs.ref").alias("ref"))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("bs")
    ).select(*cols)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    max_band_bucket: int | None = None,
    oversize: str = "drop",
) -> DataFrame:
    """Band the k minhash columns into ``bands`` groups of r = k/bands;
    docs sharing any band signature become candidate pairs (id_a <
    id_b). The self-join key is (band, 'v:v:..' string) — small shuffle
    payload. Classic LSH guarantee: pairs with Jaccard ≥ t collide in
    ≥1 band with probability 1-(1-t^r)^b.

    ``max_band_bucket`` is the density safeguard: a band signature
    shared by B docs generates B·(B-1)/2 candidate pairs, so one
    templated cluster (B in the thousands) turns the self-join
    quadratic — the exact blowup LSH bucketing exists to avoid. With
    the cap set, ``oversize`` picks what happens to buckets larger
    than it:

    - ``"drop"`` (default): oversized buckets are EXCLUDED from pair
      generation entirely. Can only LOSE candidate pairs whose every
      shared band is oversized — recall, not precision.
    - ``"star"``: oversized buckets emit STAR edges — each member
      pairs with the bucket's minimum id only — B-1 edges instead of
      B·(B-1)/2. Downstream exact-Jaccard verification still prunes
      false positives, and for the clustering consumer
      (:func:`connected_components`) a verified star keeps the crowd
      one component, so transitive dedup recall is preserved at
      linear cost; only the non-center pairwise enumeration inside
      the crowd is given up.
    - ``"reband"``: oversized buckets are SPLIT by a second-level key
      — the row's NEXT band signature ((band+1) mod bands) appended to
      the bucket key — and the cap re-applied. Sub-buckets that come
      in under the cap keep full pairwise enumeration (so a hot bucket
      of docs that merely collide on one band splits into genuine
      two-band-agreement groups); sub-buckets still over the cap (a
      truly identical crowd refines to itself) fall back to STAR
      edges. Each sub-bucket additionally emits one BRIDGE edge from
      its minimum id to the original bucket's minimum id, so every
      member of a hot bucket stays connected to the bucket min in the
      candidate graph — the same connectivity star mode gives —
      while under-cap sub-buckets also keep their full pairwise
      edges. Relative to uncapped, only cross-sub-bucket pairs inside
      a hot bucket that agree on band j but not band j+1 lose their
      DIRECT edge (they remain linked through the bridge path). Costs
      one extra count window over the refined key — still no
      quadratic work anywhere.

    Default (None) preserves exact uncapped semantics (the primary
    oracle-checked registry query uses the default; the dense-corpus
    registry query pins the cap+star path against the same oracle
    arithmetic).
    """
    from pyspark.sql import Window

    if oversize not in ("drop", "star", "reband"):
        raise ValueError(
            f"oversize must be 'drop', 'star' or 'reband', got {oversize!r}"
        )
    banded = banded_signatures(
        signatures, id_col, n_hashes=n_hashes, bands=bands,
        with_next_band_ref=(oversize == "reband"),
    )
    star = None
    if max_band_bucket is not None:
        # one count/min-over-window on the SAME (band, sig) key the
        # join shuffles on — no extra scan, no second shuffle key
        w = Window.partitionBy("band", "sig")
        banded = banded.withColumn("_bc", F.count(F.lit(1)).over(w))
        if oversize == "star":
            banded = banded.withColumn("_mn", F.min(id_col).over(w))
            star = (
                banded.filter(
                    (F.col("_bc") > max_band_bucket) & (F.col(id_col) != F.col("_mn"))
                )
                # _mn is the bucket min, so id_a < id_b holds by construction
                .select(F.col("_mn").alias("id_a"), F.col(id_col).alias("id_b"))
            )
        elif oversize == "reband":
            # Second-level banding: oversized buckets refine their key
            # with the next band's signature ("|" separator cannot
            # occur in a ":"-joined integer sig, so refined keys never
            # collide with intact small-bucket keys), then the cap is
            # re-applied on the refined key with a STAR fallback.
            # _omn (the ORIGINAL bucket min) is carried through so each
            # sub-bucket can emit its bridge edge.
            banded = (
                banded.withColumn("_omn", F.min(id_col).over(w))
                .withColumn("_hot", F.col("_bc") > max_band_bucket)
                .withColumn(
                    "sig",
                    F.when(
                        F.col("_hot"),
                        F.concat_ws("|", F.col("sig"), F.col("ref")),
                    ).otherwise(F.col("sig")),
                )
                .drop("_bc", "ref")
            )
            w2 = Window.partitionBy("band", "sig")
            banded = banded.withColumn(
                "_bc", F.count(F.lit(1)).over(w2)
            ).withColumn("_mn", F.min(id_col).over(w2))
            # bridge: sub-bucket min -> original bucket min keeps every
            # hot-bucket member connected to the bucket min (the same
            # candidate-graph connectivity star mode gives). _omn is a
            # min over a SUPERSET of the sub-bucket, so _omn < _mn
            # whenever they differ — id_a < id_b by construction.
            bridge = (
                banded.filter(F.col("_hot") & (F.col("_mn") != F.col("_omn")))
                .select(F.col("_omn").alias("id_a"), F.col("_mn").alias("id_b"))
            )
            star = (
                banded.filter(
                    (F.col("_bc") > max_band_bucket) & (F.col(id_col) != F.col("_mn"))
                )
                .select(F.col("_mn").alias("id_a"), F.col(id_col).alias("id_b"))
                .unionByName(bridge)
            )
            banded = banded.drop("_omn", "_hot")
        banded = banded.filter(F.col("_bc") <= max_band_bucket).drop("_bc", "_mn")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "sig")
    pairs = (
        a.join(b, on=["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def signature_prefilter(
    cands: DataFrame,
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    min_matches: int = 4,
) -> DataFrame:
    """Keep candidate pairs whose signatures agree on ≥ min_matches of
    the k minhashes — the standard minhash Jaccard estimate
    (E[matches/k] = J). The signature table is doc-level (tiny vs the
    shingle table) so both joins broadcast; this fences the exact-
    Jaccard verification join off from LSH's band false-positives.
    """
    sa = signatures.select(
        F.col(id_col).alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_hashes)]
    )
    sb = signatures.select(
        F.col(id_col).alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_hashes)]
    )
    est = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(est >= min_matches)
        .select("id_a", "id_b")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    prefilter_matches: int = 4,
    max_band_bucket: int | None = None,
    oversize: str = "drop",
) -> DataFrame:
    """Full minhash-LSH near-dup pipeline: shingle → k-permutation
    signatures → band buckets → candidate pairs → signature-agreement
    prefilter → EXACT Jaccard on survivors → pairs ≥ threshold.

    Exact verification makes the surviving output deterministic (no
    LSH false-positives); the prefilter bounds the verification join to
    probable duplicates, which is what keeps this plan viable when the
    corpus is dense with templated near-dups.

    Shuffle budget: ONE repartition of the input docs (spreads the
    row-local hashing; at scale it's the id-partitioning you'd keep),
    the (band, sig) candidate self-join, and the pair distinct. Shingle
    sets never leave their row; verification is array_intersect on the
    doc-level hs arrays, joined by id.
    """
    # sets is consumed by FOUR subtrees (the signature table and both
    # verify sides); under AQE those leaf query stages materialize
    # CONCURRENTLY, so a .cache() here doesn't deduplicate the md5
    # shingle pass — every racing stage recomputes it before any of
    # them fills the cache (measured at sf0.1: 4 duplicate 32-task
    # scan+hash stages, ~19 s of executor time for ~2 s of real work).
    # Publishing the hashed sets through an EXPLICIT exchange instead
    # makes the consumers' subtrees identical, so AQE materializes ONE
    # reused shuffle stage: the hash pass runs exactly once. Both
    # exchanges pin an explicit width because the pass is CPU-bound
    # (md5 per shingle) and byte-based coalescing would serialize it
    # (the winnowing rule); r11 makes the width data-proportional
    # (~24 KB of input estimate per task, capped at cores) so tiny
    # inputs stop over-sharding.
    n_part = cpu_spread_width(df, 24 << 10)
    sets = doc_shingle_sets(
        df.repartition(n_part, F.col(id_col)), id_col, text_col, n=n
    ).repartition(n_part, F.col(id_col))
    # the signature table is referenced four times (both sides of the
    # band self-join, both prefilter probes); the k permutation
    # transforms re-run per reference even over the cached sets — a
    # lazy checkpoint computes them once (diamond-reuse rule)
    sigs = shared_subtree(minhash_signature_table(sets, id_col, n_hashes=n_hashes))
    cands = lsh_candidate_pairs(
        sigs, id_col, n_hashes=n_hashes, bands=bands,
        max_band_bucket=max_band_bucket, oversize=oversize,
    )
    probable = signature_prefilter(
        cands, sigs, id_col, n_hashes=n_hashes, min_matches=prefilter_matches
    )
    # the exact-Jaccard verify (array_intersect over the full shingle
    # sets) is the priciest per-row step; spread the surviving pairs
    # so it doesn't run as one AQE-coalesced task
    probable = probable.repartition(n_part, "id_a")
    verified = _jaccard_on_sets(sets, probable, id_col)
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def _jaccard_on_sets(sets: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Exact Jaccard over hashed shingle SETS: join the two doc-level
    hs arrays onto each pair (id-keyed joins; the sets table broadcasts
    when small), |A∩B| via array_intersect — no per-shingle row
    explosion. Division of exact ints → identical double everywhere."""
    a = sets.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"))
    ix = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (ix / (F.size("hs_a") + F.size("hs_b") - ix)).alias("jaccard"),
        )
    )


def _jaccard_on_pairs(shingled: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Exact Jaccard for given (id_a, id_b) pairs from a distinct
    shingle table. |A∩B| via shingle join; sizes via one aggregate;
    |A∪B| = |A|+|B|−|A∩B|. Division of exact ints → exact double."""
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    ga = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    gb = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(ga, "id_a")
        .join(gb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ix"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("ix") / (F.col("sz_a") + F.col("sz_b") - F.col("ix"))).alias(
                "jaccard"
            ),
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair graph via min-label
    propagation: every node starts labeled with itself; each round a
    node takes the minimum of its own and its neighbors' labels;
    convergence (no label changed) ends the loop. The converged label
    is the component's minimum member — the canonical doc id for a
    near-dup cluster.

    Each round is one join + one aggregate (both shuffle on the node
    key); rounds needed = graph diameter, which for dedup clusters is
    tiny. The driver-side loop only reads ONE scalar per round (the
    changed-count) — the data never leaves the cluster. Output:
    (node, cluster_id) for every node appearing in ``pairs``.
    """
    # Checkpoint (not cache) on the loop state: caching keeps the
    # full lineage, so after k rounds the plan nests k joins deep and
    # planning/execution memory blows up — checkpointing truncates the
    # DAG to the materialized partitions each round (the standard move
    # for iterative DataFrame algorithms). Local or reliable follows
    # the checkpoint dir (operators/reuse.py).
    edges = shared_subtree(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .unionByName(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct(),
        eager=True,
    )
    labels = shared_subtree(
        edges.select(F.col("a").alias("node")).distinct()
        .select("node", F.col("node").alias("label")),
        eager=True,
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the previous label through the checkpoint so the
        # convergence check is a filter+count over the partitions the
        # checkpoint just materialized — the r9 shape re-joined
        # new_labels with labels, an extra join job per round
        stepped = shared_subtree(
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("_prev"),
            ),
            eager=True,
        )
        changed = stepped.filter(F.col("label") != F.col("_prev")).count()
        labels = stepped.select("node", "label")
        if changed == 0:
            converged = True
            break
    # min-label propagation converges in <= diameter rounds; hitting
    # max_iter means the caller's bound is too small for this graph —
    # returning a half-propagated labeling would silently split
    # clusters, so fail loudly instead.
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; raise max_iter (graph diameter exceeds the bound)"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold.

    The candidate set is 'pairs sharing ≥1 shingle' (an equi-join on
    the shingle, not a cross join); exact but quadratic in the worst
    case — the baseline the LSH variant approximates. Use on bounded
    subsets; at 100 TB use minhash_dedup_pairs.
    """
    shingled = char_shingles(df, id_col, text_col, n=n)
    ga = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    gb = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    cand = (
        ga.join(gb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_on_pairs(shingled, cand, id_col).filter(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold_e6: int = 500_000,
) -> DataFrame:
    """Asymmetric CONTAINMENT similarity — |A∩B|/|A| (and /|B|) over
    char shingle sets. Jaccard misses the quote/sub-document case: a
    paragraph fully copied into a 100x longer doc has tiny Jaccard
    but containment ~1.0 on the short side, which is exactly what
    quote/excerpt detection needs (Broder's original resemblance vs
    containment distinction). Keeps pairs where EITHER direction
    reaches ``threshold_e6`` (micro-units).

    Same candidate shape as the exact-Jaccard baseline (shingle
    equi-join — bounded subsets; at corpus scale seed candidates from
    minhash instead) and exact bigint micro-unit output.
    """
    shingled = char_shingles(df, id_col, text_col, n=n)
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    ga = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    gb = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    cand = (
        ga.join(gb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    inter = (
        cand.join(ga, "id_a")
        .join(gb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ix"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("ix").cast("bigint").alias("ix"),
            F.col("sz_a").cast("bigint").alias("sz_a"),
            F.col("sz_b").cast("bigint").alias("sz_b"),
            F.expr("(ix * 1000000) div sz_a").alias("cont_a_e6"),
            F.expr("(ix * 1000000) div sz_b").alias("cont_b_e6"),
        )
    )
    return out.filter(
        F.greatest(F.col("cont_a_e6"), F.col("cont_b_e6")) >= threshold_e6
    )


def incremental_minhash_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    prefilter_matches: int = 4,
) -> DataFrame:
    """Batch-vs-corpus near-dup join — the INGEST dedup shape: match a
    small incoming batch against an already-indexed corpus without the
    corpus self-join. Returns (batch_id, corpus_id, jaccard ≥ threshold).

    Same stages as :func:`minhash_dedup_pairs` but CROSS-side: band
    signatures of both sides equi-join on (band, sig) — no id ordering
    filter (the sides are distinct namespaces), so a batch doc matching
    B corpus docs costs B rows, never B². At 100 TB the corpus side's
    signature/band table is the precomputed index (computed once at
    ingest, stored banded, bucketed by (band, sig)); each arriving
    batch shingles itself row-locally, broadcasts its banded keys into
    the join, prefilters on signature agreement, and verifies exact
    set-Jaccard only for probable matches — corpus documents are never
    re-scanned beyond the matched candidates.
    """
    sets_c = doc_shingle_sets(corpus, id_col, text_col, n=n).cache()
    sets_b = doc_shingle_sets(batch, id_col, text_col, n=n).cache()
    sig_c = minhash_signature_table(sets_c, id_col, n_hashes=n_hashes)
    sig_b = minhash_signature_table(sets_b, id_col, n_hashes=n_hashes)
    band_c = banded_signatures(sig_c, id_col, n_hashes, bands).withColumnRenamed(
        id_col, "corpus_id"
    )
    band_b = banded_signatures(sig_b, id_col, n_hashes, bands).withColumnRenamed(
        id_col, "batch_id"
    )
    cands = (
        band_b.join(band_c, on=["band", "sig"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    # signature-agreement prefilter (E[matches/k] = J), cross-side
    sb = sig_b.select(
        F.col(id_col).alias("batch_id"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_hashes)],
    )
    sc = sig_c.select(
        F.col(id_col).alias("corpus_id"),
        *[F.col(f"mh{i}").alias(f"c{i}") for i in range(n_hashes)],
    )
    est = sum(
        F.when(F.col(f"b{i}") == F.col(f"c{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    probable = (
        cands.join(sb, "batch_id")
        .join(sc, "corpus_id")
        .filter(est >= prefilter_matches)
        .select("batch_id", "corpus_id")
    )
    hb = sets_b.select(F.col(id_col).alias("batch_id"), F.col("hs").alias("hs_b"))
    hc = sets_c.select(F.col(id_col).alias("corpus_id"), F.col("hs").alias("hs_c"))
    ix = F.size(F.array_intersect("hs_b", "hs_c"))
    return (
        probable.join(hb, "batch_id")
        .join(hc, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            (ix / (F.size("hs_b") + F.size("hs_c") - ix)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_new_docs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    prefilter_matches: int = 4,
) -> DataFrame:
    """The ingest FILTER: batch rows that are neither exact (md5
    fingerprint) nor near (minhash ≥ threshold) duplicates of the
    corpus — what actually gets appended. Exact hits are removed by an
    anti-join on the 16-byte fingerprint (never shipping bodies); near
    hits by an anti-join against the incremental match table."""
    fp = lambda df: df.withColumn(  # noqa: E731
        "_fp", F.md5(F.col(text_col).cast("binary"))
    )
    exact_clean = fp(batch).join(
        fp(corpus).select("_fp").distinct(), "_fp", "left_anti"
    ).drop("_fp")
    near = incremental_minhash_pairs(
        corpus, batch, id_col, text_col, n=n, n_hashes=n_hashes,
        bands=bands, threshold=threshold, prefilter_matches=prefilter_matches,
    ).select(F.col("batch_id").alias(id_col)).distinct()
    return exact_clean.join(near, id_col, "left_anti")


def simhash(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, bits: int = 32
) -> DataFrame:
    """SimHash fingerprint: per-bit majority vote over shingle hashes.

    Hash = first 15 hex chars of md5 (60 uniform bits, engine-portable);
    bit b of the fingerprint is 1 iff more distinct shingles have bit b
    set than unset. Entirely ROW-LOCAL: the doc's distinct shingle
    hashes form an array, each bit's vote is a filter-count over it
    (``bits`` is plan-time constant, so the expression unrolls) — no
    shingle explosion, no shuffle at all. Near-dup docs differ in few
    bits (pair via ``simhash_near_pairs``).
    """
    c = F.col(text_col)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        )
    )
    # votes are per distinct SHINGLE (not distinct hash) — matches the
    # oracle's one-row-per-shingle formulation bit for bit
    hs = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10).cast(
            "bigint"
        ),
    )
    sets = df.filter(F.length(c) >= n).select(F.col(id_col), hs.alias("_hs"))
    nsh = F.size("_hs")

    def bit_term(b: int):
        set_count = F.size(
            F.filter(F.col("_hs"), lambda h: h.bitwiseAND(F.lit(1 << b)) != 0)
        )
        return F.when(set_count * 2 > nsh, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )

    code = bit_term(0)
    for b in range(1, bits):
        code = code + bit_term(b)
    return sets.select(F.col(id_col), code.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    bits: int = 32,
    chunks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs with hamming ≤ max_hamming.

    Pigeonhole banding: split the code into ``chunks`` equal chunks —
    any pair within hamming ≤ chunks-1 must agree on ≥1 whole chunk, so
    candidates come from an equi-join on (chunk_idx, chunk_value) and
    are verified exactly with bit_count(xor). Same candidate-join shape
    as minhash-LSH: the only shuffle is on small integer keys.
    """
    if not max_hamming < chunks:
        raise ValueError("pigeonhole guarantee needs max_hamming < chunks")
    w = bits // chunks
    mask = (1 << w) - 1
    sh = simhash(df, id_col, text_col, n=n, bits=bits)
    chunked = sh.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("ci"),
                        F.shiftright("simhash", j * w).bitwiseAND(F.lit(mask)).alias("cv"),
                    )
                    for j in range(chunks)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv"))
    a = chunked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "ci", "cv"
    )
    b = chunked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "ci", "cv"
    )
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    max_docs_per_gram: int | None = None,
) -> DataFrame:
    """Cross-document duplicated n-gram SPAN detection — the
    distributed approximation of exact-substring training-data dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": their suffix-array ExactSubstr; here re-expressed
    as the n-gram-anchored Spark plan a cluster can run).

    Pipeline: per doc, every word ``n``-gram with its START POSITION
    (row-local zip_with windows — no per-gram re-tokenize); grams are
    hash-reduced BEFORE any shuffle so the wide text never leaves the
    scan stage. A two-phase hash-agg finds grams present in >=
    ``min_docs`` distinct docs; positions of those grams join back on
    the fixed-width key; finally a per-doc window merges overlapping
    and ADJACENT gram hits into maximal duplicated spans (classic
    interval merge: running max of span end, new span when a gap
    opens).

    Gram key (r6, the sf1 constant-factor fix: 38.6 s → 10.0 s
    noop-sink min-of-2, 3.9× — dual-hash chains 2.2×, gram-table
    diamond reuse the rest): the doc tokenizes ONCE into TWO
    independently-salted
    xxhash64 token-hash arrays (each chain hashes the token STRING —
    the second salted — so the chains are independent at token level,
    not a rehash of one 64-bit value); each n-gram key is the pair of
    rolling xxhash64 combinations over n shifted slices. No
    n-word gram STRING is ever materialized and no md5 runs — the
    per-token work is fixed-width long mixing. The (h_a, h_b) pair is
    a 128-bit-class key (two independent 64-bit chains), the same
    corpus-scale collision posture as the previous md5(gram): a
    false merge needs BOTH chains to collide on the same gram pair.
    Gram identities never leave the engine — the oracle groups its own
    string grams — so the span output differentially verifies the
    hashing end to end on every run.

    Scale shape: the only shuffles carry (h_a, h_b, doc_id, pos) —
    fixed-width keys, never text; the duplicated-gram filter is a
    map-side-combining agg; the interval merge is a window over
    doc-local hit lists. The corpus is scanned twice (once to build
    the gram frequency table, once for positions) — at 100 TB you
    would materialize the gram table to the lake between the passes;
    semantics are identical.

    ``max_docs_per_gram`` is the hot-key safeguard (the LSH
    hot-bucket-cap discipline applied here): a gram present in a huge
    fraction of the corpus is boilerplate, and its position join-back
    funnels corpus-sized row counts through one reducer key. Capping
    excludes grams in MORE than that many distinct docs from span
    anchoring — boilerplate handling belongs to the dedicated
    boilerplate/contamination operators, not span dedup. None (the
    default, used by the oracled registry query) keeps every gram.

    Output: one row per maximal duplicated span —
    (id, span_id, span_start, span_end, span_len, n_dup_grams), all
    word-position indexed (0-based, inclusive), exact integers.
    """
    from pyspark.sql import Window

    from spark_cassandra_collabfiltering_spark.operators.text import _WORD_RE

    ws = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
    # both chains hash the token STRING (second with a salt prefix, the
    # ppjoin_pairs pattern): a 64-bit token collision in one chain does
    # not collapse the other, so token-identity resistance is the full
    # 128-bit-class pair, not 64 bits
    staged = df.select(F.col(id_col), ws.alias("_ws")).select(
        F.col(id_col),
        F.transform(F.col("_ws"), lambda w: F.xxhash64(w)).alias("_ha"),
        F.transform(
            F.col("_ws"), lambda w: F.xxhash64(F.lit(0x9E3779B9), w)
        ).alias("_hb"),
    )

    def _chain(col_name: str) -> Column:
        nw = F.size(F.col(col_name))
        k = nw - (n - 1)
        g = F.slice(F.col(col_name), 1, k)
        for s in range(1, n):
            g = F.zip_with(
                g,
                F.slice(F.col(col_name), s + 1, k),
                lambda a, b: F.xxhash64(a, b),
            )
        return F.when(nw >= n, g).otherwise(F.array().cast("array<bigint>"))

    gram_keys = F.zip_with(
        _chain("_ha"),
        _chain("_hb"),
        lambda a, b: F.struct(a.alias("ga"), b.alias("gb")),
    )
    grams = shared_subtree(
        staged.select(id_col, F.posexplode(gram_keys).alias("pos", "_g")).select(
            id_col, "pos", F.col("_g.ga").alias("_ga"), F.col("_g.gb").alias("_gb")
        )
    )
    # diamond reuse: the gram table feeds BOTH the frequency agg and
    # the position join-back — checkpointing materializes the tokenize+
    # hash scan once instead of twice (the in-engine analog of the
    # lake materialization the 100 TB note below describes)
    nd_ok = F.col("_nd") >= min_docs
    if max_docs_per_gram is not None:
        nd_ok = nd_ok & (F.col("_nd") <= max_docs_per_gram)
    dup = (
        grams.groupBy("_ga", "_gb")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(nd_ok)
        .select("_ga", "_gb")
    )
    hits = grams.join(dup, ["_ga", "_gb"]).select(id_col, "pos")

    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        marked.groupBy(id_col, "span_id")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
        )
        .withColumn(
            "span_len", F.col("span_end") - F.col("span_start") + F.lit(1)
        )
        .withColumn("span_id", F.col("span_id").cast("bigint"))
    )


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply-step of exact-substring dedup: strip every duplicated
    span (from :func:`duplicate_spans`, word-position intervals) out
    of its document and re-join the surviving tokens — what Lee et
    al. 2022 do after detection (drop one occurrence's span text; the
    policy of WHICH occurrences to strip is the caller's span-table
    filter, this operator just applies intervals).

    Row-local application: the per-doc span list aggregates to an
    array (spans per doc are few — they are maximal merged
    intervals), joins back on the id, and a positional filter over
    the token array keeps tokens outside every interval. No token
    ever leaves its row; the only shuffles are the span collect_list
    and the id join.

    Output: (id, n_tokens, n_tokens_kept, kept_md5) — kept_md5 is the
    md5 of the space-joined surviving tokens, so byte-identical
    reconstruction is oracle-checkable.
    """
    from spark_cassandra_collabfiltering_spark.operators.text import _WORD_RE

    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_sps")
    )
    ws = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(_WORD_RE), 0
    )
    joined = docs.select(id_col, ws.alias("_ws")).join(
        sp, id_col, "left"
    ).withColumn("_sps", F.coalesce(F.col("_sps"), F.array()))
    # keep token i (0-based) iff no interval covers it
    kept = F.filter(
        F.transform(
            F.col("_ws"),
            lambda x, i: F.struct(x.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("_sps"),
            lambda iv: (s["i"] >= iv["span_start"]) & (s["i"] <= iv["span_end"]),
        ),
    )
    kept_toks = F.transform(kept, lambda s: s["t"])
    return joined.select(
        id_col,
        F.size("_ws").cast("bigint").alias("n_tokens"),
        F.size(kept_toks).cast("bigint").alias("n_tokens_kept"),
        F.md5(F.concat_ws(" ", kept_toks).cast("binary")).alias("kept_md5"),
    )


def keep_best_scored(
    clusters: DataFrame,
    scores: DataFrame,
    node_col: str = "node",
    id_col: str = "doc_id",
    score_col: str = "quality_e6",
) -> DataFrame:
    """Dedup CANONICALIZATION: given near-dup clusters ((node,
    cluster_id) from :func:`connected_components`) and a per-doc score
    table, pick the doc to KEEP per cluster — highest score, ties to
    the smallest id (fully deterministic). This is the step after
    clustering in a real dedup pipeline: drop everything in the
    cluster except its best member, rather than blindly keeping the
    minimum id.

    Scale shape: the score join is id-keyed; the per-cluster argmax is
    a row_number window partitioned by cluster_id — cluster sizes are
    small by construction (near-dup crowds), so no skew concern; the
    member count rides the same window state. Only clustered docs
    appear (singletons were never candidates to drop).

    The score join is a LEFT join: a cluster member missing from the
    score table still counts in n_members and still competes (NULL
    score sorts last, so it is kept only when the whole cluster is
    unscored — then ties resolve to the smallest id). An inner join
    would silently shrink n_members and could drop a whole cluster.

    Output: (cluster_id, keep_id, keep_score, n_members).
    """
    from pyspark.sql import Window

    j = clusters.join(
        scores.select(F.col(id_col).alias(node_col), F.col(score_col)),
        node_col,
        "left",
    )
    w = Window.partitionBy("cluster_id")
    ranked = j.withColumn(
        "_rk",
        F.row_number().over(
            w.orderBy(
                F.col(score_col).desc_nulls_last(), F.col(node_col).asc()
            )
        ),
    ).withColumn("_n", F.count(F.lit(1)).over(w))
    return ranked.filter(F.col("_rk") == 1).select(
        "cluster_id",
        F.col(node_col).alias("keep_id"),
        F.col(score_col).alias("keep_score"),
        F.col("_n").cast("bigint").alias("n_members"),
    )


def pair_source_matrix(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source DUPLICATION MATRIX: roll verified near-dup pairs
    up to (source, source) grain — the provenance readout that tells a
    data recipe WHICH sources mirror which (syndication, scraping the
    same upstream, internal copies) so deduplication budgets and
    source weights can react. Canonical unordered source pairing via
    least/greatest; diagonal rows are within-source duplication.

    Scale shape: two joins of the (already small) verified-pair table
    against the doc->source projection — each keyed on a doc id, so
    the pair table shuffles, never the corpus — then one hash-agg on
    the bounded source-pair grain. Output: (source_a, source_b,
    n_pairs, max_jaccard)."""
    sa = docs.select(
        F.col(id_col).alias("id_a"), F.col(source_col).alias("_sa")
    )
    sb = docs.select(
        F.col(id_col).alias("id_b"), F.col(source_col).alias("_sb")
    )
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    return (
        joined.select(
            F.least(F.col("_sa"), F.col("_sb")).alias("source_a"),
            F.greatest(F.col("_sa"), F.col("_sb")).alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def keep_best_per_cluster(
    components: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    score: Column | None = None,
) -> DataFrame:
    """Dedup WINNER POLICY: per near-dup cluster keep the best member
    — real pipelines keep the longest/highest-quality copy (richest
    capture), not the smallest id; the rest are the drop set.

    ``components`` is :func:`connected_components` output
    (node, cluster_id); ``score`` is any deterministic Column over
    ``docs`` (default: text length). Argmax runs as a per-cluster
    row_number window with full tie-breaks (score desc, node asc), so
    the kept set is total-ordered and hash-matchable. Scale: the
    window partitions by cluster_id — bounded groups by construction
    (the LSH hot-bucket cap bounds crowd size upstream). Output:
    (cluster_id, keep_doc, n_members, keep_score)."""
    from pyspark.sql import Window

    if score is None:
        score = F.length("text").cast("bigint")
    scored = components.join(
        docs, components["node"] == docs[id_col]
    ).select("cluster_id", "node", score.alias("_score"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_score").desc(), F.col("node").asc()
    )
    ranked = scored.withColumn("_rk", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("_rk") == 1, F.col("node"))).cast("bigint")
            .alias("keep_doc"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(F.when(F.col("_rk") == 1, F.col("_score"))).cast("bigint")
            .alias("keep_score"),
    )


def connected_components_bigstar(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    edge rewrites (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    published alternative to min-label propagation
    (:func:`connected_components`) whose round count is
    O(log^2 n) in expectation REGARDLESS of graph diameter: a long
    path collapses in logarithmic rounds where label propagation
    needs diameter rounds. The right tool when near-dup chains are
    long (star/bridge-linked crowds from the capped LSH path).

    Each round rewrites the edge set with two per-node-keyed
    join+agg passes (no label table):

    - large-star(u): m = min(N(u) ∪ {u}); every STRICTLY LARGER
      neighbor re-hangs on m — emit (v, m) for v ∈ N(u), v > u;
    - small-star(u): same m; every neighbor v ≤ u (plus u itself)
      re-hangs on m.

    Both rewrites preserve connectivity (every emitted edge stays
    inside u's component; every dropped edge's endpoints remain
    linked through m) and never increase the edge count. At fixpoint
    the graph is a union of stars centered on component minima, so
    the final label is just min(N(v) ∪ {v}) — one aggregate, no
    propagation. Convergence check = symmetric edge-set difference
    count (one exceptAll per round, on the shrinking edge set).
    Output: (node, cluster_id), identical to connected_components
    (equality on random graphs is property-tested; the registry row
    hash-matches the same recursive-CTE oracle)."""
    und = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(
            pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    all_nodes = und.select(F.col("u").alias("node")).distinct()
    edges = shared_subtree(und, eager=True)

    def star_min(e: DataFrame) -> DataFrame:
        # m(u) = min over N(u) ∪ {u}
        return e.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    converged = False
    for _ in range(max_iter):
        m = star_min(edges)
        large = (
            edges.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        keep_small = (
            edges.join(m, "u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        self_edge = m.select(F.col("u").alias("a"), F.col("m").alias("b"))
        rewritten = (
            large.unionByName(keep_small)
            .unionByName(self_edge)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        new_edges = shared_subtree(
            rewritten.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(
                rewritten.select(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            .distinct(),
            eager=True,
        )
        # convergence = edge-set equality; both frames are distinct, so
        # equal counts + (new ⊆ old) ⟺ equal — one count plus at most
        # one anti-join instead of the r9 double exceptAll per round
        n_new, n_old = new_edges.count(), edges.count()
        if n_new == n_old:
            changed = new_edges.join(edges, ["u", "v"], "left_anti").count()
        else:
            changed = 1
        edges = new_edges
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_bigstar did not converge within "
            f"max_iter={max_iter} rounds"
        )
    labels = edges.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("cluster_id")
    )
    return (
        all_nodes.join(
            labels.withColumnRenamed("u", "node"), "node", "left"
        )
        .select(
            "node",
            F.coalesce(F.col("cluster_id"), F.col("node")).alias("cluster_id"),
        )
    )


def connected_components_incremental(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """INCREMENTAL component maintenance — the ingest step after
    :func:`incremental_minhash_pairs`: fold a batch of new near-dup
    pairs into ALREADY-CONVERGED cluster labels without re-touching
    the corpus pair graph. The converged labeling is re-expressed as
    its star edges (every node -> its cluster min: depth-1 by
    construction), unioned with the new pairs, and re-converged —
    label propagation over a graph whose old regions are stars
    finishes in a couple of rounds regardless of how many rounds the
    original convergence took, and the edge volume is
    |old nodes| + |new pairs|, not the full historical pair graph.

    Correctness: star(CC(E1)) preserves exactly E1's connectivity, so
    CC(star ∪ E2) == CC(E1 ∪ E2) — incremental == full recompute
    (the registry row's oracle IS the full recompute). Output:
    (node, cluster_id) over every node of the merged graph."""
    star = labels.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_a), F.col("cluster_id").alias(id_b)
    )
    merged = star.unionByName(new_pairs.select(id_a, id_b))
    return connected_components(merged, id_a=id_a, id_b=id_b, max_iter=max_iter)


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold: float = 0.40,
    hot_min_df: int = 64,
    hot_vocab_cap: int = 1024,
) -> DataFrame:
    """EXACT similarity join via prefix filtering (the PPJoin family,
    Xiao et al. 2008 — prefix + size + positional filters as of r6):
    all pairs with char-n-gram Jaccard >= threshold, with NO recall
    loss — the exact complement to minhash-LSH (which trades recall
    for candidate sparsity) and the scalable replacement for the
    quadratic all-pairs baseline.

    Why it scales: order every doc's shingles by GLOBAL rarity
    (df asc, shingle asc — one bounded-vocab aggregate); a pair with
    J >= t MUST share a shingle inside each side's first
    |S| - ceil(t·|S|) + 1 shingles under any shared total order, so
    only those PREFIX shingles join — and because prefixes hold each
    doc's rarest shingles, the hottest posting lists never enter the
    candidate join. A size filter (min >= t·max, integer
    cross-multiply) prunes further before the exact intersect-verify
    on the full sets. Everything is JVM expressions; exchanges are on
    the fixed-width dual-xxhash64 shingle key (r6 — shingle strings
    never leave the scan) for the candidate join and (doc) for the
    verify joins.

    Output (id_a < id_b, jaccard) — same columns/semantics as
    :func:`ngram_jaccard_pairs`, equality pinned in tests.

    Verify (r7, the tiered rewrite): the r6 verify exploded every
    candidate against its full gram list (~|C|*sz join rows — 74M at
    the sf0.1 calibration subset, the dominant stage at 22 s of the
    series). r7 stratifies shared-gram counting by document
    frequency, the same hot-key discipline as the LSH bucket cap:

    - HOT tier (df > ``hot_min_df``, capped to the global top
      ``hot_vocab_cap`` by df): each hot gram gets a dense index;
      each doc carries a FIXED-WIDTH bitmap (``hot_vocab_cap``/64
      longs = 128 B at the default). Per candidate the hot overlap is
      sum(bit_count(mask_a & mask_b)) — map-only, ~16 word ops.
      Bitmap membership is positional, not hashed: exact.
    - COLD tier (df <= ``hot_min_df``): a posting-list self-join
      whose row count is bounded by hot_min_df * |gram rows| — the df
      cap makes the hot-gram quadratic blowup structurally
      impossible.
    - MID tier (df above the cutoff but beyond the top-K cap — empty
      unless the hot vocabulary overflows ``hot_vocab_cap``): the r6
      explode path restricted to just those grams, so a real Zipfian
      corpus degrades gracefully instead of breaking the cap.

    Every shared gram has exactly ONE global df, so the tiers
    partition the intersection: o = o_hot + o_cold + o_mid, exact.

    Why tiers instead of the roadmapped PPJoin+ suffix filter:
    measured r7 on the calibration corpus, 419,089 of 419,178
    positional-filter survivors are near-threshold same-size pairs,
    so ANY order/position/distribution bound is vacuous — proving
    o < alpha requires ~(sz - alpha) per-gram content witnesses,
    i.e. a content filter costs about as much as the verify itself.
    Three verify alternatives were also A/B-rejected the same
    session: string-key array_intersect (35-44 s), dual long-array
    intersect with min() collision armor (27 s), broadcast-gb explode
    (no clear win) — vs the 16-21 s explode they tried to beat. The
    tiered counter replaces the 74M-row explode with a ~1M-row
    df-capped join plus map-only popcounts.

    Calibration (re-measured r6, sf0.1 doc subset = 1000 docs): the
    driver's synthetic docs draw from ONE tiny shared vocabulary, the
    adversarial case for rarity-prefix filtering — every gram is
    common (985 distinct 4-grams across 1000 docs, max df 790). The r5
    prefix+size version trimmed only ~20% over the quadratic baseline
    there; the r6 positional filter (which prunes on ORDER POSITION
    rather than rarity) + dual-xxhash64 keys reached 9.7 s vs the
    quadratic 24.3 s, identical 2738 pairs. On Zipfian real-corpus vocabularies the rare-prefix
    pruning adds its standard win on top; minhash-LSH (recall < 1)
    remains the cheap default and PPJoin the exactness option.
    """
    from pyspark.sql import Window

    t_pct = int(round(threshold * 100))
    if t_pct < 1:
        # the prefix, band and size filters divide by the integer
        # percent, which rounds to 0 at thresholds up to 0.005
        raise ValueError(
            f"ppjoin_pairs: threshold must round to at least 0.01, got {threshold}"
        )
    c = F.col(text_col)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        )
    )
    # Shingle strings never leave the scan (r6): every downstream
    # exchange/join/sort keys the dual-xxhash64 pair (sha, shb) —
    # fixed 16 bytes, the 128-bit-class posture this repo treats as
    # exact everywhere md5 is used (a false shingle identity needs
    # BOTH chains to collide). The global prefix order becomes
    # (_df, sha, shb) — still a total order shared by all docs, so
    # the prefix-filter theorem holds unchanged; dfreq pooling under
    # a (double) collision would only perturb the ORDERING heuristic,
    # and the intersect-verify counts on the pair too, so the emitted
    # Jaccard stays exact. The string-shingle oracle differentially
    # verifies all of this on every run.
    g = (
        df.filter(F.length(c) >= n)
        .select(F.col(id_col).alias("doc"), F.explode(grams).alias("_s"))
        .select(
            "doc",
            F.xxhash64("_s").alias("sha"),
            F.xxhash64(F.lit(0x9E3779B9), "_s").alias("shb"),
        )
    )
    g = shared_subtree(g)  # feeds df-agg, prefix, both verify sides
    sizes = g.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    dfreq = g.groupBy("sha", "shb").agg(
        F.count(F.lit(1)).cast("long").alias("_df")
    )
    w = Window.partitionBy("doc").orderBy("_df", "sha", "shb")
    ranked = (
        g.join(dfreq, ["sha", "shb"])
        .withColumn("_r", F.row_number().over(w))
        .join(sizes, "doc")
    )
    # prefix length = sz - ceil(t*sz) + 1, ceil via integer arithmetic
    prefix = ranked.filter(
        F.col("_r") <= F.col("sz") - F.expr(f"({t_pct} * sz + 99) div 100") + 1
    ).select("doc", "sha", "shb", "sz", "_r")
    # LENGTH-BAND key on the candidate join (r11 — the classic PPJoin
    # length filter as a join key): a qualifying pair needs
    # min(sa, sb) >= t * max(sa, sb), so its sizes differ by at most a
    # factor 1/t. Banding docs by integer bit-length (length(bin(sz))
    # — exact integer arithmetic, no floating-point floor(log2) edge
    # cases, coarsened to base-8 octaves: (bitlen-1) div 3) and
    # joining on (sha, shb, band) restricts the per-gram enumeration
    # to Jaccard-FEASIBLE length bands: a hot gram's posting list of
    # P docs enumerates only same-band pairs instead of all P^2. The
    # id_a side sits at its own band; the id_b side is exploded over
    # the bands its feasible partners can occupy (band(ceil(t*sb)) ..
    # band(floor(sb/t)) — at most 2 copies at t=0.40 with base-8
    # bands, the duplication/pruning tradeoff an r11 A/B picked: the
    # fine bit-length bands cost ~45% more join CPU on the
    # length-uniform bench corpora for pruning only relevant to
    # >2.5x length spreads).
    # Size-monotonicity of bit-length makes every feasible pair match
    # on EXACTLY one band per shared prefix gram, so the groupBy
    # below sees the identical row multiset and the retained size
    # filter still removes band-coarse false candidates — counts and
    # output are unchanged (oracle-pinned). On a length-uniform
    # corpus the band key is near-constant (no enumeration cut, just
    # the small id_b-side duplication); on length-diverse corpora it
    # prunes the candidate join itself (test-pinned).
    pa = prefix.select(
        F.col("doc").alias("id_a"), "sha", "shb",
        F.col("sz").alias("_sa"), F.col("_r").alias("_ra"),
        F.expr("int((length(bin(sz)) - 1) div 3)").alias("_band"),
    )
    pb = prefix.select(
        F.col("doc").alias("id_b"), "sha", "shb",
        F.col("sz").alias("_sb"), F.col("_r").alias("_rb"),
        F.explode(
            F.sequence(
                F.expr(
                    f"int((length(bin(({t_pct} * sz + 99) div 100)) - 1) div 3)"
                ),
                F.expr(
                    f"int((length(bin((100 * sz) div {t_pct})) - 1) div 3)"
                ),
            )
        ).alias("_band"),
    )
    # NOT spread explicitly (r11 A/B, quiet windows): pinning an
    # explicit width on the candidate-join exchanges measured SLOWER
    # (ppjoin 5.32 s vs 4.45 s at AQE's own ~3-task layout at sf0.1)
    # — the SMJ + positional partial-agg collapses best on the
    # planner's byte-based layout, consistent with the r10 rejected
    # widenings of this same join.
    # POSITIONAL filter (the "PP" in PPJoin, r6 — was prefix+size only):
    # J >= t  <=>  overlap o >= alpha := ceil(t/(1+t) * (sa+sb)). Every
    # matched prefix token at ordered positions (ra, rb) yields a valid
    # upper bound o <= min(ra, rb) + min(sa-ra, sb-rb) (shared tokens
    # before the match <= min(ra,rb)-1; after it <= min of the
    # remainders; +1 for the match itself), so the pair survives only
    # if the MIN of those bounds reaches alpha. On the shared-vocab
    # adversarial corpus this prunes what the rarity prefix cannot —
    # candidates whose matches all sit too late in one side's order.
    alpha = F.expr(
        f"({t_pct} * (_sa + _sb) + {100 + t_pct} - 1) div {100 + t_pct}"
    )
    cands = (
        pa.join(pb, ["sha", "shb", "_band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(  # size filter: min >= t * max (integer cross-multiply)
            F.least("_sa", "_sb") * 100 >= t_pct * F.greatest("_sa", "_sb")
        )
        .groupBy("id_a", "id_b", "_sa", "_sb")
        .agg(
            F.min(
                F.least("_ra", "_rb")
                + F.least(
                    F.col("_sa") - F.col("_ra"), F.col("_sb") - F.col("_rb")
                )
            ).alias("_ub")
        )
        .filter(F.col("_ub") >= alpha)
        .select("id_a", "id_b", "_sa", "_sb")
    )
    cands = shared_subtree(cands)  # feeds all three tiers
    nwords = (hot_vocab_cap + 63) // 64
    zero_mask = F.expr(f"array_repeat(0L, {nwords})")

    # HOT tier: dense index the top-K most frequent grams (bounded-
    # cardinality window: input is the post-limit top-K table)
    hot_order = [F.col("_df").desc(), "sha", "shb"]
    hot = (
        dfreq.filter(F.col("_df") > hot_min_df)
        .orderBy(*hot_order)
        .limit(hot_vocab_cap)
        .withColumn(
            "_hidx", F.row_number().over(Window.orderBy(*hot_order)) - 1
        )
        .select("sha", "shb", "_hidx")
    )
    hot = shared_subtree(hot)  # <= hot_vocab_cap rows; reused 2x
    # per-doc fixed-width bitmap: two-level agg (map-side combine on
    # (doc, word)), then the word list becomes a dense array
    words = (
        g.join(hot, ["sha", "shb"])
        .groupBy("doc", (F.col("_hidx") / 64).cast("int").alias("_w"))
        .agg(F.expr("bit_or(shiftleft(1L, int(_hidx % 64)))").alias("_bits"))
    )
    masks = words.groupBy("doc").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_w"), F.col("_bits")))
        ).alias("_wm")
    ).select(
        "doc",
        F.transform(
            F.sequence(F.lit(0), F.lit(nwords - 1)),
            lambda i: F.coalesce(F.element_at(F.col("_wm"), i), F.lit(0).cast("long")),
        ).alias("_mask"),
    )
    with_masks = (
        cands.join(
            masks.select(F.col("doc").alias("id_a"), F.col("_mask").alias("_ma")),
            "id_a", "left",
        )
        .join(
            masks.select(F.col("doc").alias("id_b"), F.col("_mask").alias("_mb")),
            "id_b", "left",
        )
        .select(
            "id_a", "id_b", "_sa", "_sb",
            F.aggregate(
                F.zip_with(
                    F.coalesce("_ma", zero_mask),
                    F.coalesce("_mb", zero_mask),
                    lambda x, y: F.bit_count(x.bitwiseAND(y)).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("_oh"),
        )
    )

    # COLD tier: df-capped posting self-join — sum(df^2) bounded by
    # hot_min_df * |gram rows|, so the hot-gram quadratic blowup is
    # structurally impossible
    gc = g.join(
        dfreq.filter(F.col("_df") <= hot_min_df).select("sha", "shb"),
        ["sha", "shb"],
    )
    cold = (
        gc.select(F.col("doc").alias("id_a"), "sha", "shb")
        .join(gc.select(F.col("doc").alias("id_b"), "sha", "shb"), ["sha", "shb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_oc"))
    )

    # MID tier: grams above the df cutoff that overflowed the top-K
    # cap (empty unless the hot vocabulary exceeds hot_vocab_cap) —
    # the r6 explode path restricted to just those grams
    gm = g.join(
        dfreq.filter(F.col("_df") > hot_min_df)
        .join(hot, ["sha", "shb"], "left_anti")
        .select("sha", "shb"),
        ["sha", "shb"],
    )
    mid = (
        cands.select("id_a", "id_b")
        .join(gm.select(F.col("doc").alias("id_a"), "sha", "shb"), "id_a")
        .join(gm.select(F.col("doc").alias("id_b"), "sha", "shb"),
              ["id_b", "sha", "shb"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_om"))
    )

    inter = (
        with_masks.join(cold, ["id_a", "id_b"], "left")
        .join(mid, ["id_a", "id_b"], "left")
        .select(
            "id_a", "id_b", "_sa", "_sb",
            (
                F.col("_oh")
                + F.coalesce("_oc", F.lit(0))
                + F.coalesce("_om", F.lit(0))
            ).alias("_ix"),
        )
    )
    jac = F.col("_ix") / (F.col("_sa") + F.col("_sb") - F.col("_ix"))
    return inter.filter(jac >= threshold).select(
        "id_a", "id_b", jac.alias("jaccard")
    )
