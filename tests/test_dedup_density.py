"""Density safeguard for minhash-LSH: the max_band_bucket cap.

A corpus dense with one templated document crowd makes some band
bucket huge; its pairwise candidate generation is quadratic in the
crowd size — the blowup LSH bucketing exists to avoid. The cap
excludes oversized buckets from PAIR generation (the crowd is cluster
work, not all-pairs work). Pins:

1. default (None) semantics are unchanged;
2. capped candidates ⊆ uncapped candidates (cap only loses pairs);
3. genuine near-dup pairs living in small buckets survive the cap
   while the hot crowd's quadratic pair set is gone;
4. end-to-end minhash_dedup_pairs honours the knob;
5. oversize='star' replaces a crowd's quadratic pair set with B-1
   star edges to the bucket minimum — linear work — and the verified
   star keeps the crowd ONE connected component for the clustering
   consumer, which oversize='drop' gives up.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_cassandra_collabfiltering_spark.operators import dedup as dd  # noqa: E402

CROWD = 40  # identical templated docs -> one hot bucket per band


def _dense_corpus(spark):
    template = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, template) for i in range(CROWD)]
    # two genuine near-dup pairs, each its own small bucket
    rows += [
        (100, "spark shuffles partition data between executor stages quickly"),
        (101, "spark shuffles partition data between executor stages quick"),
        (200, "columnar parquet scans prune row groups with min max stats"),
        (201, "columnar parquet scans prune row groups with min max stat"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _cands(spark, cap, oversize="drop"):
    df = _dense_corpus(spark)
    sets = dd.doc_shingle_sets(df, "doc_id", "text", n=4)
    sigs = dd.minhash_signature_table(sets, "doc_id", n_hashes=16)
    return {
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(
            sigs, "doc_id", n_hashes=16, bands=4, max_band_bucket=cap,
            oversize=oversize,
        ).collect()
    }


def test_cap_is_subset_and_kills_the_crowd_quadratic(spark):
    uncapped = _cands(spark, None)
    capped = _cands(spark, 10)
    assert capped <= uncapped
    # uncapped: the 40-doc crowd contributes 40*39/2 = 780 pairs
    crowd_pairs = {(a, b) for (a, b) in uncapped if a < CROWD and b < CROWD}
    assert len(crowd_pairs) == CROWD * (CROWD - 1) // 2
    # capped: the crowd's quadratic pair set is fully excluded...
    assert not {(a, b) for (a, b) in capped if a < CROWD and b < CROWD}
    # ...while the small-bucket near-dup pairs survive
    assert (100, 101) in capped and (200, 201) in capped


def test_end_to_end_pipeline_honours_cap(spark):
    df = _dense_corpus(spark)
    out = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_dedup_pairs(
            df, "doc_id", "text", n=4, threshold=0.5, max_band_bucket=10
        ).collect()
    }
    assert (100, 101) in out and (200, 201) in out
    assert not {(a, b) for (a, b) in out if a < CROWD and b < CROWD}
    # and the default path still verifies the crowd as true duplicates
    full = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_dedup_pairs(
            df, "doc_id", "text", n=4, threshold=0.5
        ).collect()
    }
    assert {(a, b) for (a, b) in full if a < CROWD and b < CROWD}


def test_star_candidates_are_linear_in_crowd_size(spark):
    starred = _cands(spark, 10, oversize="star")
    crowd = {(a, b) for (a, b) in starred if a < CROWD and b < CROWD}
    # all 40 identical docs share every band bucket; star mode links
    # each non-minimum member to doc 0 only: exactly B-1 edges
    assert crowd == {(0, i) for i in range(1, CROWD)}
    # small-bucket near-dup pairs still come from full pairwise
    assert (100, 101) in starred and (200, 201) in starred
    # star output is a superset of drop output (it only adds edges)
    assert _cands(spark, 10, oversize="drop") <= starred


def test_star_keeps_crowd_one_component_end_to_end(spark):
    df = _dense_corpus(spark)
    pairs = dd.minhash_dedup_pairs(
        df, "doc_id", "text", n=4, threshold=0.5,
        max_band_bucket=10, oversize="star",
    )
    clusters = {
        r["node"]: r["cluster_id"] for r in dd.connected_components(pairs).collect()
    }
    # every crowd member lands in doc 0's component — transitive dedup
    # recall preserved at linear candidate cost
    assert all(clusters[i] == 0 for i in range(CROWD))
    assert clusters[101] == 100 and clusters[201] == 200


def test_oversize_rejects_unknown_mode(spark):
    import pytest

    df = _dense_corpus(spark)
    sets = dd.doc_shingle_sets(df, "doc_id", "text", n=4)
    sigs = dd.minhash_signature_table(sets, "doc_id", n_hashes=16)
    with pytest.raises(ValueError, match="oversize"):
        dd.lsh_candidate_pairs(
            sigs, "doc_id", max_band_bucket=5, oversize="explode"
        )


def _crafted_signatures(spark, subgroup_sizes):
    """Signature table engineered to isolate the reband refinement:
    every doc shares ONE band-0 signature (the hot bucket); band 1
    splits docs into contiguous sub-groups; bands 2 and 3 are unique
    per doc (singleton buckets, contribute nothing)."""
    rows = []
    doc_id = 0
    for g, size in enumerate(subgroup_sizes):
        for _ in range(size):
            rows.append(
                (doc_id, *([7] * 4), *([100 + g] * 4),
                 *([1000 + doc_id] * 4), *([5000 + doc_id] * 4))
            )
            doc_id += 1
    cols = ", ".join(["doc_id bigint"] + [f"mh{i} int" for i in range(16)])
    return spark.createDataFrame(rows, cols)


def _pairs(spark, sigs, cap, oversize):
    return {
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(
            sigs, "doc_id", n_hashes=16, bands=4,
            max_band_bucket=cap, oversize=oversize,
        ).collect()
    }


def test_reband_splits_hot_bucket_by_second_level_key(spark):
    # 25 docs all share band 0; band 1 splits them 10/10/5. cap=9:
    # - band 0 bucket (25) rebands by band-1 sig -> sub-buckets 10/10/5
    #   - the 5-sub-bucket is under the cap: FULL pairwise enumeration
    #   - the 10-sub-buckets are still over: star fallback (9 edges)
    #   - every sub-bucket bridges its min to the ORIGINAL bucket min
    #     (doc 0), keeping the hot bucket one candidate component:
    #     edges (0,10) and (0,20)
    # - band 1's own 10-buckets reband by unique band-2 sigs ->
    #   singletons (nothing); its 5-bucket enumerates the same 10 pairs
    sigs = _crafted_signatures(spark, [10, 10, 5])
    got = _pairs(spark, sigs, cap=9, oversize="reband")
    want = (
        {(0, i) for i in range(1, 10)}
        | {(10, i) for i in range(11, 20)}
        | {(a, b) for a in range(20, 25) for b in range(a + 1, 25)}
        | {(0, 10), (0, 20)}
    )
    assert got == want
    # drop mode loses the hot bucket entirely except the small band-1
    # sub-group's own bucket
    assert _pairs(spark, sigs, cap=9, oversize="drop") == {
        (a, b) for a in range(20, 25) for b in range(a + 1, 25)
    }


def test_reband_identical_crowd_falls_back_to_star(spark):
    # a truly identical crowd refines to itself: every band signature
    # equal, so the refined bucket is the same bucket -> star edges
    crowd = _cands(spark, 10, oversize="reband")
    crowd_edges = {(a, b) for (a, b) in crowd if a < CROWD and b < CROWD}
    assert crowd_edges == {(0, i) for i in range(1, CROWD)}
    # small-bucket near-dup pairs untouched
    assert (100, 101) in crowd and (200, 201) in crowd


def test_reband_end_to_end_keeps_components(spark):
    df = _dense_corpus(spark)
    pairs = dd.minhash_dedup_pairs(
        df, "doc_id", "text", n=4, threshold=0.5,
        max_band_bucket=10, oversize="reband",
    )
    clusters = {
        r["node"]: r["cluster_id"] for r in dd.connected_components(pairs).collect()
    }
    assert all(clusters[i] == 0 for i in range(CROWD))
    assert clusters[101] == 100 and clusters[201] == 200


# --- cross-source duplication matrix ----------------------------------------


def test_pair_source_matrix_canonical_and_counts(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from spark_cassandra_collabfiltering_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [
            (1, 2, 0.9),   # web <-> web (diagonal)
            (1, 3, 0.8),   # web <-> wiki
            (3, 1, 0.7),   # wiki <-> web — same unordered source pair
            (4, 5, 0.5),   # code <-> wiki
        ],
        "id_a bigint, id_b bigint, jaccard double",
    )
    docs = spark.createDataFrame(
        [(1, "web"), (2, "web"), (3, "wiki"), (4, "code"), (5, "wiki")],
        "doc_id bigint, source string",
    )
    got = {
        (r.source_a, r.source_b): (r.n_pairs, r.max_jaccard)
        for r in dd.pair_source_matrix(pairs, docs).collect()
    }
    assert got[("web", "web")] == (1, 0.9)
    assert got[("web", "wiki")] == (2, 0.8)  # both orientations folded
    assert got[("code", "wiki")] == (1, 0.5)
    assert len(got) == 3


def test_ppjoin_band_key_exact_on_length_diverse_corpus(spark):
    """The r11 length-band join key must lose NO pairs on a corpus
    whose doc lengths span several base-8 octaves (the banding's
    selective case — the bench corpora are length-uniform and cannot
    exercise band boundaries). Reference = the quadratic all-pairs
    join; near-threshold pairs with sizes in DIFFERENT octaves are
    present by construction (repeated motifs at 1x/2x/3x length, so
    cross-band feasible pairs exist alongside >2.5x infeasible
    spans the band key prunes)."""
    base = "the quick brown fox jumps over the lazy dog while "
    rows = []
    for i in range(24):
        reps = 1 + (i % 4) * 2          # lengths ~50 / ~150 / ~250 / ~350
        mut = str(i % 5) * 3
        rows.append((i, base * reps + mut))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dd.ngram_jaccard_pairs(
            df, "doc_id", "text", n=4, threshold=0.4
        ).collect()
    )
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dd.ppjoin_pairs(
            df, "doc_id", "text", n=4, threshold=0.4
        ).collect()
    )
    assert got == want and want  # no recall loss, non-trivial answer


def test_ppjoin_rejects_threshold_that_rounds_to_zero_percent(spark):
    import pytest

    df = spark.createDataFrame([(1, "abcdefgh"), (2, "abcdefgx")], "doc_id long, text string")
    for bad in (0.0, 0.004, 0.005):
        with pytest.raises(ValueError, match="threshold"):
            dd.ppjoin_pairs(df, "doc_id", "text", n=4, threshold=bad)
    # 0.01 is the smallest accepted threshold; the pair shares 4 of 6 grams
    assert dd.ppjoin_pairs(df, "doc_id", "text", n=4, threshold=0.01).count() == 1
