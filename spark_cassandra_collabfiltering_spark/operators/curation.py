"""Training-data curation operators: PII redaction, benchmark-
contamination detection, and token-budget document packing.

Driver-mandated extension territory (no reference counterpart — the
reference's scope ends at SURVEY §2.8 string functions): these are the
three curation passes a 100 TB pretraining pipeline runs between raw
scrape and tokenizer, alongside dedup (operators/dedup.py), quality
scoring (operators/text.py) and sampling (operators/relational.py).

Scale design:
- PII redaction is a pure per-row regexp pass — JVM built-ins, codegen,
  zero shuffle; it scan-scales like the text operators.
- Contamination: the benchmark/eval side is SMALL by construction (eval
  suites are thousands of docs, not billions), so its shingle set
  broadcasts; the corpus side is a map-side explode → broadcast-hash
  semi-count → per-doc agg. The only shuffle is the final doc_id agg,
  and it carries (doc_id, count) pairs, not text.
- Packing is the concat-then-chunk model pretraining actually uses:
  documents are concatenated in a deterministic order and sliced into
  budget-sized sequences. A single global cumsum would serialize on one
  partition, so packing runs per md5-bucket pack group (parallel
  windows, deterministic group assignment, no coordination across
  groups — exactly how a 1000-executor run would shard it).

All outputs are integers/strings — engine-portable, oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.operators.reuse import shared_subtree
from spark_cassandra_collabfiltering_spark.operators.width import cpu_spread_width

from spark_cassandra_collabfiltering_spark.operators.relational import (
    hash_bucket,
    md5_draw60,
)

# RE2-and-Java-portable patterns (no backrefs/lookaround): the ORDER
# matters — SSN and credit-card shapes are substrings of looser phone/
# number shapes, so the more specific patterns replace first.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("cc", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "<CC>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII spans with typed tags and count hits per category.

    Counts are taken BEFORE replacement (on the original text), then
    the patterns replace in the declared order. One projection, all
    ``regexp_extract_all``/``regexp_replace`` built-ins — a map-only
    pass with no shuffle, which is the whole point at corpus scale.
    """
    c = F.col(text_col)
    counts = {
        f"n_{name}": F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        for name, pat, _ in PII_PATTERNS
    }
    redacted: Column = c
    for _, pat, tag in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, tag)
    return df.withColumns({**counts, "text_redacted": redacted})


def _word_ngrams(text_col: Column, n: int) -> Column:
    """Array of word n-grams (space-rejoined) from a text column —
    row-local, built by zip_with over shifted slices of the word array
    so the tokenizer evaluates per ROW. (The earlier
    ``transform(sequence, i -> slice(words, i, n))`` form captured
    ``words`` in the lambda body, and captured expressions re-evaluate
    per element inside higher-order functions — the regexp ran once
    per n-gram; see operators/text.py:_word_ngrams for the measured
    cost.) Empty when the doc has fewer than ``n`` words."""
    words = F.regexp_extract_all(text_col, F.lit(r"[A-Za-z0-9]+"), 0)
    k = F.size(words) - (n - 1)  # gram count when >= 1
    shifted = [F.slice(words, s + 1, k) for s in range(n)]
    grams = shifted[0]
    for nxt in shifted[1:]:
        grams = F.zip_with(grams, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def bloom_build(
    grams: DataFrame,
    gram_col: str = "gram",
    bits_log2: int = 18,
    n_hashes: int = 5,
) -> list[int]:
    """Distributed Bloom-filter build over a (small-ish) gram set:
    each gram sets ``n_hashes`` xxhash64-derived bits in an m = 2^
    ``bits_log2`` bitmap. The build is one map-side explode + a
    bit_or aggregate keyed on the 64-bit word index — fully
    distributed, shuffling at most m/64 (word, bits) rows — then a
    BOUNDED driver collect of ≤ m/64 longs (m=2^18 → 4096 longs,
    32 KiB). This is the same shape Spark's own runtime bloom-filter
    join uses: aggregate the small side into a filter, broadcast it
    into the big side's scan.

    Sizing: false-positive rate ≈ (1 - e^(-kn/m))^k; the default
    m=2^18, k=5 holds ~1% FP up to n ≈ 25k grams — an eval-suite
    scale. Raise ``bits_log2`` for bigger benchmark sets; the literal
    the test side embeds grows as m/64 longs."""
    m = 1 << bits_log2
    hashes = [
        F.pmod(F.xxhash64(F.lit(i), F.col(gram_col)), F.lit(m))
        for i in range(n_hashes)
    ]
    agg = (
        grams.select(F.explode(F.array(*hashes)).alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 6).alias("word"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    words = [0] * (m // 64)
    for r in agg.collect():
        words[int(r["word"])] = int(r["bits"])
    return words


def bloom_might_contain(
    words: list[int],
    gram: Column,
    bits_log2: int = 18,
    n_hashes: int = 5,
) -> Column:
    """Membership test against a :func:`bloom_build` filter — pure JVM
    expressions (xxhash64 + bit ops against a constant-folded literal
    array), no UDF. No false negatives ever; false positives at the
    filter's designed rate, which is why callers use this as a
    PREFILTER in front of an exact join, never as the verdict."""
    m = 1 << bits_log2
    arr = F.expr("array(" + ",".join(f"{int(w)}L" for w in words) + ")")
    cond = F.lit(True)
    for i in range(n_hashes):
        pos = F.pmod(F.xxhash64(F.lit(i), gram), F.lit(m))
        word = F.element_at(arr, F.shiftright(pos, 6).cast("int") + 1)
        # call_function: the Python shiftleft wrapper only takes an int
        # literal for numBits; the SQL function accepts a column
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), (pos % 64).cast("int")
        )
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom_bits_log2: int | None = None,
    bloom_hashes: int = 5,
) -> DataFrame:
    """Benchmark-contamination detection by word n-gram overlap.

    A corpus doc is contaminated when it shares ≥1 word ``n``-gram with
    any benchmark/eval doc — the standard decontamination test run
    before pretraining so the training set can't leak eval answers.

    Plan: benchmark → distinct n-gram set (small; broadcast). Corpus →
    row-local n-gram explode (map-side; no shuffle) → broadcast-hash
    inner join → per-doc count. Output: (doc_id, n_hits,
    contaminated) for EVERY corpus doc (zero-hit docs included via the
    left join back — the decontamination filter needs the clean rows).

    ``bloom_bits_log2`` switches on a Bloom PREFILTER on the corpus
    gram stream: the bench grams aggregate into a 2^bits bitmap
    (:func:`bloom_build`) and each corpus gram is bit-tested
    scan-locally (:func:`bloom_might_contain`) BEFORE entering the
    broadcast join. Results are IDENTICAL (Bloom filters have no false
    negatives; false positives still hit the exact join) — what
    changes is that at 100 TB the overwhelmingly-clean gram stream is
    rejected by a few bit ops inside the scan stage instead of being
    hashed against the full broadcast set, the same trade Spark's own
    runtime bloom-filter join makes.
    """
    # NOTE on gram representation (r6 A/B, kept as a negative result):
    # the hashed-gram rewrite that bought duplicate_spans 3.9x was
    # tried here and REJECTED — interleaved best-of-3 at sf1 measured
    # string grams 12.7 s vs dual-xxhash64 chains 39.6 s. The hashing
    # win in span dedup comes from eliminating a per-gram md5 and
    # shrinking SHUFFLED keys; contamination has no md5 and its grams
    # feed a broadcast join scan-locally, so the extra interpreted
    # higher-order passes (9 array traversals vs 4) dominate. Strings
    # stay.
    bench_grams = (
        benchmark.select(
            F.explode(_word_ngrams(F.col(text_col), n)).alias("gram")
        ).distinct()
    )
    # spread the corpus before the gram explode: the explode + probe
    # is CPU-bound, and a small single-file scan would otherwise run it
    # on one core (byte-based AQE coalescing can't see compute cost);
    # width is data-proportional (r11), capped at cores
    n_part = cpu_spread_width(corpus, 24 << 10)
    corpus_grams = corpus.repartition(n_part, F.col(id_col)).select(
        F.col(id_col), F.explode(_word_ngrams(F.col(text_col), n)).alias("gram")
    )
    if bloom_bits_log2 is not None:
        words = bloom_build(
            bench_grams, "gram", bits_log2=bloom_bits_log2, n_hashes=bloom_hashes
        )
        corpus_grams = corpus_grams.filter(
            bloom_might_contain(
                words, F.col("gram"), bits_log2=bloom_bits_log2,
                n_hashes=bloom_hashes,
            )
        )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contamination_check_multi(
    corpus: DataFrame,
    benchmarks: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_col: str = "benchmark",
) -> DataFrame:
    """Decontamination against MANY eval sets in ONE corpus scan (r6).

    Real pretraining pipelines hold out a SUITE of benchmarks, not
    one; running :func:`contamination_check` per benchmark rescans the
    100 TB corpus once per eval set. This grouped form broadcasts the
    union gram table keyed by benchmark — (benchmark, gram), distinct
    within each benchmark — joins the corpus gram stream ONCE, and
    reports per (doc, benchmark) hit counts. The corpus is scanned
    exactly once regardless of how many benchmarks ride along; the
    broadcast grows only with the eval suite (bounded by construction
    — eval sets are small, that is what makes them eval sets).

    Output: one row per corpus doc per benchmark it overlaps —
    (id, benchmark, n_hits) — plus the ``contaminated_any`` summary is
    a trivial downstream groupBy the caller composes; zero-hit
    (doc, benchmark) pairs are NOT materialized (at N benchmarks x
    corpus rows that dense frame is the scale hazard; absence = clean).
    """
    bench_grams = (
        benchmarks.select(
            F.col(bench_col),
            F.explode(_word_ngrams(F.col(text_col), n)).alias("gram"),
        ).distinct()
    )
    # same compute-spreading rule as contamination_check: the gram
    # explode must not inherit a one-partition scan; data-proportional
    # width (r11), capped at cores
    n_part = cpu_spread_width(corpus, 24 << 10)
    corpus_grams = corpus.repartition(n_part, F.col(id_col)).select(
        F.col(id_col), F.explode(_word_ngrams(F.col(text_col), n)).alias("gram")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col, bench_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )


def domain_mix_sample(
    df: DataFrame,
    quotas: dict[str, int],
    domain_col: str = "source",
    key_col: str = "doc_id",
    range_bits: int = 8,
) -> DataFrame:
    """Exact-quota domain-mix rebalancing — the "data recipe" step of a
    pretraining pipeline (take exactly 40 B docs of web, 20 B of code,
    ...), deterministic and skew-free at corpus scale.

    Semantics: per domain, keep EXACTLY ``min(quota, available)`` rows
    — the ones ranked first by a pure-function-of-the-row md5 draw
    (ties broken by key). Equivalent to
    ``row_number() OVER (PARTITION BY domain ORDER BY draw, key)
    <= quota`` — which is how the DuckDB oracle states it — but that
    direct window puts an entire domain's rows in ONE task, and a
    pretraining mix has FEW domains with BILLIONS of rows each: the
    naive plan serializes on the hottest domain. Instead, a two-phase
    distributed top-n:

    1. Range-split the 60-bit draw into ``2^range_bits`` ordered
       buckets (top bits — bucket order IS draw order). Per
       (domain, bucket) counts are one map-side-combinable agg whose
       output is tiny (domains x 256 rows), so the running prefix
       count per domain is a window over a broadcast-scale table.
    2. Broadcast the per-bucket prefix counts back onto the rows:
       buckets wholly under quota keep ALL rows scan-locally (no sort,
       no shuffle); buckets wholly past quota drop scan-locally; only
       each domain's single BOUNDARY bucket — ~1/256th of one domain —
       shuffles for an exact within-bucket rank to fill the remainder.

    Domains absent from ``quotas`` get quota 0 (dropped). Rows with a
    NULL key are dropped up front: the md5 draw is undefined on NULL
    (it would produce a NULL bucket that inflates the prefix counts
    while the equi-join silently discards the rows, shorting the
    domain's quota), and a deterministic sampler needs a non-null
    identity per row anyway. Output is the selected (key, domain)
    rows."""
    # the drawn corpus is referenced by the stats agg AND both phase-2
    # arms (keep-all + boundary); a lazy checkpoint computes the
    # scan+draw once instead of three times (the graph_triangles
    # diamond-reuse rule)
    base = shared_subtree(_draw_bucketed(df, domain_col, key_col, range_bits))
    stats = _prefix_counts(base, domain_col)
    quota: Column = F.lit(0)
    for d, q in quotas.items():
        quota = F.when(F.col(domain_col) == d, F.lit(int(q))).otherwise(quota)
    return _quota_prefix_select(
        base, stats.withColumn("_quota", quota), domain_col, key_col
    )


def _draw_bucketed(
    df: DataFrame, domain_col: str, key_col: str, range_bits: int
) -> DataFrame:
    """(key, domain, _draw, _rb) rows: the md5 draw plus its top-bits
    range bucket (bucket order IS draw order). NULL keys dropped — the
    draw is undefined on NULL and a deterministic sampler needs a
    non-null row identity."""
    nb_shift = 60 - range_bits
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(
            F.col(key_col),
            F.col(domain_col),
            md5_draw60(F.col(key_col)).alias("_draw"),
        )
        .withColumn("_rb", F.shiftright(F.col("_draw"), nb_shift))
    )


def _prefix_counts(base: DataFrame, domain_col: str) -> DataFrame:
    """Per-(domain, bucket) row counts with the per-domain running
    prefix (_before) — a broadcast-scale table (domains x 2^bits)."""
    stats = base.groupBy(domain_col, "_rb").agg(F.count(F.lit(1)).alias("_cnt"))
    w_before = (
        Window.partitionBy(domain_col)
        .orderBy("_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return stats.withColumn(
        "_before", F.coalesce(F.sum("_cnt").over(w_before), F.lit(0))
    )


def _quota_prefix_select(
    base: DataFrame, stats_q: DataFrame, domain_col: str, key_col: str
) -> DataFrame:
    """Phase 2 of the skew-free exact top-n: ``stats_q`` carries
    (_cnt, _before, _quota) per (domain, bucket); whole buckets keep
    or drop scan-locally, only each domain's single boundary bucket
    shuffles for an exact within-bucket rank."""
    j = base.join(F.broadcast(stats_q), [domain_col, "_rb"])
    keep_all = j.filter(F.col("_before") + F.col("_cnt") <= F.col("_quota"))
    boundary = j.filter(
        (F.col("_before") < F.col("_quota"))
        & (F.col("_before") + F.col("_cnt") > F.col("_quota"))
    )
    w_rank = Window.partitionBy(domain_col, "_rb").orderBy("_draw", key_col)
    boundary_kept = boundary.withColumn(
        "_rk", F.row_number().over(w_rank)
    ).filter(F.col("_before") + F.col("_rk") <= F.col("_quota"))
    return keep_all.select(key_col, domain_col).unionByName(
        boundary_kept.select(key_col, domain_col)
    )


def temperature_mix_sample(
    df: DataFrame,
    budget: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
    range_bits: int = 8,
) -> DataFrame:
    """TEMPERATURE-scaled source mixing (alpha = 0.5): per-domain
    sampling quotas proportional to sqrt(n_domain) — the standard
    low-resource upweighting of multilingual / multi-source
    pretraining recipes (sampling p_s ~ n_s^alpha, alpha < 1, as in
    the multilingual-BERT / XLM exponential-smoothing recipe), here
    with alpha = 1/2 because floor(sqrt(n)) is bit-deterministic
    cross-engine (both engines evaluate the identical correctly-
    rounded IEEE expression; a general n^alpha is pow/exp/log
    territory where libm parity is not guaranteed). Caveat: it equals
    TRUE integer isqrt only for n ≲ 2^53 away from k²-1 boundaries —
    per-domain row counts sit far below that, but a math.isqrt-based
    replica of the weight would diverge beyond it.

    quota_s = min(n_s, (isqrt(n_s) * budget) div sum_s isqrt(n_s)),
    then the selection itself is the same deterministic skew-free
    two-phase exact top-n as :func:`domain_mix_sample` — per-domain
    weight math rides a broadcast-scale stats table; no domain ever
    serializes onto one task. Output, one row per domain:
    (domain, n_before, quota, n_selected, sel_checksum) — counts plus
    an order-independent overflow-free bigint checksum (XOR of the
    selected rows' md5 draws), pinning exactly WHICH rows were
    chosen, not just how many."""
    # shared-scan discipline: see domain_mix_sample
    base = shared_subtree(_draw_bucketed(df, domain_col, key_col, range_bits))
    stats = _prefix_counts(base, domain_col)
    totals = stats.groupBy(domain_col).agg(
        F.sum("_cnt").cast("bigint").alias("_n")
    )
    weighted = totals.withColumn(
        "_w", F.expr("cast(floor(sqrt(cast(_n as double))) as bigint)")
    )
    sumw = weighted.agg(F.sum("_w").cast("bigint").alias("_sw"))
    quota_df = (
        weighted.join(F.broadcast(sumw))
        .withColumn(
            "_quota",
            F.least(F.col("_n"), F.expr(f"(_w * {int(budget)}) div _sw")),
        )
        .select(domain_col, "_n", "_quota")
    )
    stats_q = stats.join(F.broadcast(quota_df), domain_col)
    sel = _quota_prefix_select(base, stats_q, domain_col, key_col)
    picked = sel.select(
        F.col(domain_col), md5_draw60(F.col(key_col)).alias("_draw")
    )
    agg = picked.groupBy(domain_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_selected"),
        F.expr("bit_xor(_draw)").cast("bigint").alias("sel_checksum"),
    )
    return quota_df.join(agg, domain_col, "left").select(
        domain_col,
        F.col("_n").alias("n_before"),
        F.col("_quota").alias("quota"),
        F.coalesce("n_selected", F.lit(0)).cast("bigint").alias("n_selected"),
        F.coalesce("sel_checksum", F.lit(0)).cast("bigint").alias("sel_checksum"),
    )


def pack_documents(
    df: DataFrame,
    budget: int = 512,
    n_groups: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget document packing (concat-then-chunk model).

    Documents are assigned to ``n_groups`` deterministic md5 pack
    groups, concatenated within each group in ``id_col`` order, and the
    resulting token stream is sliced into ``budget``-token sequences.
    Each doc reports the sequence its FIRST token lands in and its
    offset there — exactly the placement a pretraining loader needs to
    materialize packed sequences with EOD separators.

    tokens = whitespace-token count (swap in a real tokenizer count
    column upstream without touching the packing math). The window
    cumsum runs per pack group → ``n_groups``-way parallel, no global
    sort, no single-partition window.
    """
    tokens = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0))
    w = (
        Window.partitionBy("pack_group")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = df.select(
        F.col(id_col),
        hash_bucket(F.col(id_col), n_groups).alias("pack_group"),
        tokens.alias("n_tokens"),
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_start")
    return g.select(
        id_col,
        "pack_group",
        "n_tokens",
        start,
    ).select(
        id_col,
        "pack_group",
        "n_tokens",
        F.floor(F.col("tok_start") / budget).cast("bigint").alias("seq_id"),
        (F.col("tok_start") % budget).cast("bigint").alias("seq_offset"),
    )


def cluster_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    node_col: str = "node",
    train_pct: int = 90,
) -> DataFrame:
    """Leakage-safe train/validation split: split by NEAR-DUP CLUSTER,
    not by document, so two near-duplicates can never straddle the
    boundary (per-doc hash splitting leaks ~duplicate validation
    examples into training — the contamination mode eval suites warn
    about; cf. Lee et al. 2022 §6 on split leakage through dups).

    ``clusters`` is (node, cluster_id) from
    :func:`dedup.connected_components` over near-dup pairs; docs not
    in any cluster are their own singleton (split key falls back to
    the doc id). The side assignment is the same engine-portable
    md5-bucket draw as every sampler here — a pure function of the
    cluster key, so the whole cluster moves as one unit and the split
    is stable across runs/engines/retries.

    Scale shape: one id-keyed left join (cluster table is the small
    side — only clustered docs appear in it; broadcastable at any
    realistic dup rate) + a scan-local bucket filter. Output keeps
    cluster_id (NULL for singletons) for auditability.
    """
    cl = clusters.select(
        F.col(node_col).alias(id_col), F.col("cluster_id")
    )
    keyed = docs.select(id_col).join(F.broadcast(cl), id_col, "left")
    split_key = F.coalesce(F.col("cluster_id"), F.col(id_col))
    b = hash_bucket(split_key, 100)
    return keyed.select(
        id_col,
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.when(b < train_pct, F.lit("train")).otherwise(F.lit("val")).alias("split"),
    )


def quality_floor(
    scored: DataFrame,
    group_col: str,
    score_col: str,
    q: float = 0.25,
    lo: float = 0.0,
    hi: float = 1_000_000.0,
    bins: int = 50,
) -> DataFrame:
    """Per-group quality-floor gate: drop every document scoring below
    its OWN group's q-quantile — the adaptive variant of a fixed
    quality threshold (a floor tuned for encyclopedic text guts a
    web-forum source; per-source floors keep the intended tail cut).

    The quantile is the mergeable fixed-width-histogram estimate
    (aggregates.fixed_width_histogram / histogram_quantiles): bounded
    per-group state, no raw-score shuffle — the 100 TB quantile path
    already pinned by g12 — then one broadcast join of the per-group
    floors back onto the scan. Exact cross-engine arithmetic
    throughout (bin edges are exact doubles).

    The floor is the LOWER edge of the quantile's bin (histogram
    estimate minus one bin width), not the upper edge the raw
    estimator returns: a gate keyed on the upper edge drops the whole
    threshold bin — up to an entire group when its mass concentrates
    in one bin. Lower-edge flooring over-KEEPS by at most one bin
    width instead, the conservative direction for a filter.

    Output: (id columns of ``scored``..., floor_est, keep) — a per-doc
    verdict row, auditably carrying the floor that judged it.
    """
    from spark_cassandra_collabfiltering_spark.operators import aggregates as agg

    hist = agg.fixed_width_histogram(scored, score_col, [group_col], lo, hi, bins)
    width = (float(hi) - float(lo)) / bins
    thr = agg.histogram_quantiles(
        hist, [group_col], [q], lo, hi, bins
    ).select(group_col, (F.col("est") - F.lit(width)).alias("floor_est"))
    return scored.join(F.broadcast(thr), group_col).select(
        *scored.columns,
        "floor_est",
        (F.col(score_col) >= F.col("floor_est")).alias("keep"),
    )


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL — the key for
    URL-level dedup and crawl-frontier collapsing (the first dedup
    any web-corpus pipeline runs, before any content hash: the same
    page is typically fetched under dozens of surface forms).

    Normalizations (RFC 3986 §6 syntax-based, plus the standard
    tracking-param strip):

    - fragment dropped (never sent to the server);
    - scheme + host lowercased; leading ``www.`` stripped;
    - default port stripped (``:80`` for http, ``:443`` for https);
    - empty path segments collapsed (``//`` -> ``/``), trailing
      slash stripped;
    - query: tracking params removed (``utm_*``, ``fbclid``,
      ``gclid``, ``msclkid``, ``ref``), remaining params sorted
      byte-wise, empties dropped.

    Pure JVM Column expressions (regexp + higher-order array
    functions) — scan-local, zero shuffle, codegen-friendly; a
    non-matching (schemeless) input is returned fragment-stripped
    but otherwise untouched rather than mangled. Path case is
    preserved (paths are case-sensitive; only scheme/host fold).
    """
    u = F.regexp_replace(url, "#.*", "")
    head = r"^[A-Za-z][A-Za-z0-9+.\-]*://"
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(F.regexp_extract(u, head + r"([^/?#]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_extract(u, head + r"[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(F.regexp_replace(path, "/{2,}", "/"), "/$", "")
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(q, "&"),
        lambda x: (x != "")
        & ~x.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)(=|$)"),
    )
    qs = F.array_join(F.array_sort(params), "&")
    out = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )
    return F.when(scheme == "", u).otherwise(out)


def contamination_semantic(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    places: int = 4,
) -> DataFrame:
    """SEMANTIC benchmark-contamination screen: flag corpus documents
    whose embedding is cosine-close to ANY held-out eval embedding —
    the paraphrase/translation leak the n-gram overlap check
    (:func:`contamination_check`) cannot see (an eval question
    rephrased shares meaning, not 5-grams).

    ``eval_emb`` (eval_id, eval_vec) is the bounded eval suite — it
    BROADCASTS; the corpus side is a map-only scan scored against the
    broadcast batch, then one hash-agg back to per-corpus-doc grain
    (partial aggregation collapses the |eval| fan-out inside each
    scan task, so the only exchange carries one row per corpus doc).
    Nothing about the corpus is collected, re-partitioned, or joined
    doc x doc — the shape that holds at 100 TB with a 100k-question
    eval battery.

    Cosine is rounded to ``places`` before the max/threshold so the
    verdict is bit-deterministic cross-engine. Output, one row per
    corpus doc: (id, n_eval_hits = #eval docs at/above tau,
    max_cos, contaminated)."""
    from spark_cassandra_collabfiltering_spark.operators.similarity import cosine

    scored = corpus_emb.join(F.broadcast(eval_emb)).select(
        F.col(id_col),
        F.round(cosine(F.col("eval_vec"), F.col(vec_col)), places).alias("cos"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("cos") >= F.lit(tau), 1).otherwise(0))
            .cast("bigint")
            .alias("n_eval_hits"),
            F.max("cos").alias("max_cos"),
        )
        .withColumn("contaminated", F.col("n_eval_hits") > 0)
    )


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """K-ANONYMITY audit over a set of quasi-identifier columns — the
    privacy check a dataset release runs before shipping: a row whose
    quasi-identifier combination is shared by fewer than ``k`` rows is
    re-identifiable (Sweeney 2002). One hash-agg on the
    quasi-identifier grain (map-side combining; the grain is the
    ONLY thing shuffled), then a bounded summary: equivalence-class
    histogram by risk band plus the risky-row total — the go/no-go
    numbers, not a row dump of the at-risk individuals themselves.

    Output: (risk_band, n_classes, n_rows) where risk_band is
    'unique' (class size 1), 'risky' (2..k-1), 'anonymous' (>= k)."""
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_sz")
    )
    band = (
        F.when(F.col("_sz") == 1, F.lit("unique"))
        .when(F.col("_sz") < k, F.lit("risky"))
        .otherwise(F.lit("anonymous"))
    )
    return classes.groupBy(band.alias("risk_band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("_sz").cast("bigint").alias("n_rows"),
    )


def expectations_check(
    df: DataFrame, rules: "list[tuple[str, str]]", unique_cols: "list[str] | None" = None
) -> DataFrame:
    """Declarative data-quality EXPECTATIONS (the Deequ/Great-
    Expectations shape) evaluated in ONE aggregation pass: ``rules``
    is [(rule_name, boolean SQL expr)] where the expr is TRUE when the
    row PASSES; output is one row per rule — (rule, n_checked,
    n_violations) — plus one row per ``unique_cols`` entry asserting
    column uniqueness (violations = n_rows − n_distinct, the duplicate
    count; NULLs count as violations of uniqueness per the usual
    quality-gate reading: n_distinct counts non-null distinct).

    Per-row rules cost a single conditional-aggregate scan (every
    rule is a SUM(CASE) branch in the same hash-agg — no per-rule
    passes); each uniqueness rule adds one count-distinct branch.
    The one wide row then unpivots via ``stack`` into the bounded
    per-rule table. This is the delivery gate you run before letting
    a 100 TB drop into the lake: the scan is the unavoidable cost,
    everything else is map-side arithmetic.
    """
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
    for i, (_, expr) in enumerate(rules):
        aggs.append(
            F.sum(F.when(F.expr(expr), 0).otherwise(1)).cast("bigint").alias(f"_v{i}")
        )
    for j, col in enumerate(unique_cols or []):
        aggs.append(
            (F.count(F.lit(1)) - F.count_distinct(F.col(col)))
            .cast("bigint")
            .alias(f"_u{j}")
        )
    wide = df.agg(*aggs)
    parts = []
    for i, (name, _) in enumerate(rules):
        parts.append(f"'{name}', _n, _v{i}")
    for j, col in enumerate(unique_cols or []):
        parts.append(f"'unique:{col}', _n, _u{j}")
    n = len(parts)
    return wide.select(
        F.expr(
            f"stack({n}, " + ", ".join(parts) + ") AS (rule, n_checked, n_violations)"
        )
    )
