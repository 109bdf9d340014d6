"""Text analysis operators for a training-data pipeline (driver-mandated
extension; no reference counterpart — reference scope is SURVEY §2.8
string functions only).

All operators are built-in Column expressions (regexp/string functions
— JVM-side, codegen'd, no Python in the row path), so they scan-scale:
one pass over the documents table, no shuffle at all until an explicit
aggregation. Outputs are integers/strings/exact ratios → deterministic
across engines (oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.operators.reuse import shared_subtree
from spark_cassandra_collabfiltering_spark.operators.width import cpu_spread_width

# Tiny per-language function-word lists for the n-gram/stopword
# heuristic. Real pipelines plug fastText/CLD3 here via a pandas_udf;
# the heuristic keeps the plumbing dependency-free and deterministic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "que"],
    "es": ["el", "la", "los", "de", "que", "es", "una", "por"],
}

# CJK unified ideographs as a literal character class — the same two
# literal characters work in Java regex (Spark) and RE2 (DuckDB), so
# the pattern is engine-portable without escape-syntax differences.
CJK_RANGE = "[一-鿿]"
# ja: hiragana (U+3041-3096) + katakana (U+30A1-30FA) + the prolonged
# sound mark — kana is the script that separates Japanese from Chinese
# text (kanji alone counts as CJK/zh). ko: hangul syllables
# (U+AC00-D7A3). Same literal-char-class portability as CJK_RANGE.
KANA_RANGE = "[ぁ-ゖァ-ヺー]"
HANGUL_RANGE = "[가-힣]"

_WORD_RE = r"[A-Za-z0-9]+"
# BPE-ish segmentation: word pieces OR single non-space symbols — the
# shape (not the vocab) of a byte-pair tokenizer's pretokenizer.
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _marker_hits(col: Column, words: list[str]) -> Column:
    """Count of stopword occurrences (word-boundary matched)."""
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pattern), 0))


def lang_scores(text_col: str = "text") -> list[Column]:
    """Per-language feature counts: stopword hits for the latin-script
    languages; unicode-block character counts for the scripts with no
    whitespace tokenization to exploit — CJK ideographs for zh, kana
    for ja, hangul syllables for ko. These are the RAW counts; the
    argmax in :func:`lang_id` applies the kana-SHARE prior (r6,
    share-gated r7): written Japanese always carries kana at a
    material rate (grammatical particles are kana even in the most
    kanji-heavy prose) while written Chinese carries essentially none,
    so when kana reaches a small share of the han count the doc's han
    characters count toward ja, not zh. A bare-presence gate would let
    ONE stray kana (a quoted Japanese word, OCR noise) flip a long
    Chinese document — the share gate does not."""
    return [
        _marker_hits(F.col(text_col), words).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ] + [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(rng), 0)).alias(
            f"score_{lang}"
        )
        for lang, rng in (("zh", CJK_RANGE), ("ja", KANA_RANGE), ("ko", HANGUL_RANGE))
    ]


BLOCK_LANGS = ["zh", "ja", "ko"]

# ja/zh prior threshold: kana must exceed 1/K of the han count for the
# han characters to be credited to ja. Japanese particle-level kana
# share is >=15% of characters even in the most kanji-dense prose;
# Chinese with a stray quoted kana or OCR noise sits well under 5%.
# K=20 (5%) separates the two with margin on both sides.
JA_KANA_PRIOR_K = 20


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language ID: argmax of per-language scores, 'und' when all zero.

    Ties break by language-code order via the greatest-of struct trick
    (compare (score, neg-ordinal) pairs) — fully deterministic.

    ja/zh disambiguation (r6, closes the ROADMAP kanji-heavy-ja
    limitation; r7 share-gates it per the round-6 advice): the argmax
    runs over ADJUSTED CJK scores — if kana exceeds 1/``JA_KANA_PRIOR_K``
    of the han count, the han (CJK-ideograph) count is credited to ja
    and zh is zeroed; below that share, scores are the raw counts, so
    a long Chinese doc with one stray kana stays zh. Output score
    columns stay the raw counts (the adjustment is a prediction
    prior, not a feature rewrite).
    """
    langs = [*LANG_MARKERS, *BLOCK_LANGS]
    scored = df.select("*", *lang_scores(text_col))
    kana = F.col("score_ja") * JA_KANA_PRIOR_K > F.col("score_zh")
    adj = {lang: F.col(f"score_{lang}") for lang in langs}
    adj["ja"] = F.when(kana, F.col("score_ja") + F.col("score_zh")).otherwise(
        F.lit(0)
    )
    adj["zh"] = F.when(kana, F.lit(0)).otherwise(F.col("score_zh"))
    best = F.greatest(
        *[
            F.struct(
                adj[lang].alias("s"),
                F.lit(-i).alias("ord"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    return scored.withColumn(
        "pred_lang",
        F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens and BPE-ish pieces.

    ``split`` on whitespace counts runs; the regex extract counts word
    pieces + individual symbols — both pure scans.
    """
    c = F.col(text_col)
    return df.withColumns(
        {
            "ws_tokens": F.size(F.regexp_extract_all(c, F.lit(r"\S+"), 0)),
            "bpe_tokens": F.size(F.regexp_extract_all(c, F.lit(_BPE_RE), 0)),
        }
    )


def chunk_documents_tokens(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG/embedding chunking: fixed-size whitespace-token windows with
    overlap — the step between a curated corpus and an embedding/index
    pipeline (every retrieval stack chunks before it embeds).

    Each document yields ``ceil((n - overlap) / stride)`` chunks
    (at least one for any non-empty doc; stride = chunk_tokens -
    overlap), chunk i covering tokens [i*stride, i*stride +
    chunk_tokens). The final chunk may be short; consecutive chunks
    share ``overlap`` tokens so no retrieval query straddling a
    boundary loses context. Empty documents yield no chunk.

    100 TB posture: pure Column expressions — tokenize, a per-row
    chunk-count, one explode, array slices. Map-only (NO shuffle, no
    UDF); chunking a corpus costs one scan regardless of cluster size,
    and the output inherits the input's partitioning for the
    embedding stage that follows.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap} / {chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    ws = F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)
    k = F.greatest(
        F.lit(1).cast("long"),
        F.ceil((F.size("_ws") - F.lit(overlap)) / F.lit(stride)),
    )
    toks = F.slice(
        F.col("_ws"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return (
        df.select(id_col, ws.alias("_ws"))
        .filter(F.size("_ws") > 0)
        .withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0).cast("long"), k - 1)),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("int").alias("chunk_id"),
            (F.col("chunk_id") * stride).cast("long").alias("start_token"),
            F.size(toks).cast("long").alias("n_tokens"),
            F.array_join(toks, " ").alias("chunk_text"),
        )
    )


def _word_ngrams(c: Column, n: int) -> Column:
    """Ordered lowercase word n-grams as an array<string> (space-joined).

    Row-local: the word array and every n-gram window stay inside the
    row — no explode, no shuffle. Docs with < n words yield an EMPTY
    array (not null), so downstream size() arithmetic is well-defined.

    Built by zip_with over shifted slices of the word array, NOT by
    `transform(sequence(...), i -> slice(ws, i, n))`: in the transform
    form `ws` sits in the lambda BODY, and Catalyst re-evaluates
    captured expressions per element (no CSE inside higher-order
    functions — the winnowing lesson), which re-ran the regexp
    tokenizer once per n-gram: measured 28 s for 5k docs at sf0.1.
    zip_with passes the arrays as ARGUMENTS — the tokenizer runs per
    row — and the same query is ~1 s, still a pure scan+project.
    """
    ws = F.regexp_extract_all(F.lower(c), F.lit(_WORD_RE), 0)
    k = F.size(ws) - (n - 1)  # number of n-grams when >= 1
    shifted = [F.slice(ws, s + 1, k) for s in range(n)]
    grams = shifted[0]
    for nxt in shifted[1:]:
        grams = F.zip_with(grams, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(ws) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _max_multiplicity_long(grams: Column) -> Column:
    """Highest occurrence count of any single element in an
    array<bigint> of hashed grams; empty array → 0.

    Sort the array, then one aggregate() pass tracking the current run
    length and the best run — max multiplicity of a sorted multiset ==
    longest equal-run. Row-local (no explode + groupBy shuffle), and
    fixed-width compares in the sort and the run scan (no string
    materialization). Sentinel prev = NULL: ``x == NULL`` is NULL, so
    the first element always takes the otherwise(1) branch."""
    zero = F.struct(
        F.lit(None).cast("bigint").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    return F.aggregate(
        F.array_sort(grams),
        zero,
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style repetition signals over word n-grams (Rae et al.
    2021 §A1.1 repetition filters, re-expressed on word counts):

    - ``dup_{2,3}gram_frac``: fraction of n-grams that are repeats of
      an n-gram already seen in the doc (1 − distinct/total);
    - ``top_2gram_frac``: fraction of 2-grams taken by the single most
      frequent 2-gram (boilerplate/spam marker).

    Emitted as floor-scaled micro-unit ints (engine-portable, see
    :func:`_e6`); NULL when the doc has no n-grams of that order.
    Everything is per-row array arithmetic on the scan — zero shuffles,
    which is what makes this viable as a 100 TB pre-training filter.
    (Line-level variants are the same shapes over split(text, '\\n');
    this corpus is single-line so they are not registered.)

    Hot-path shape (r6, the sf1 constant-factor fix): the doc is
    tokenized ONCE and each token xxhash64-reduced to a bigint in the
    same projection; 2-/3-grams are zip_with combinations of SHIFTED
    HASH slices (xxhash64 of the component hashes), so the distinct /
    multiplicity passes sort and compare fixed-width longs instead of
    allocating and comparing concatenated gram strings. The filter
    only consumes distinct COUNTS, never gram identities, so the
    hashed counts equal the string counts unless two grams of one doc
    collide in 64 bits (~n²/2⁶⁵ per doc; the string-gram oracle
    differentially verifies exactly this on every run). Measured 5.1×
    on the sf1 corpus (22.2 s → 4.3 s, noop-sink min-of-2).
    """
    c = F.col(text_col)
    ws = F.regexp_extract_all(F.lower(c), F.lit(_WORD_RE), 0)
    # one tokenizer run, one hash pass — reused by both gram orders
    # via a materialized projection (never re-derived inside lambdas:
    # Catalyst does not CSE through higher-order functions)
    hs = F.transform(ws, lambda w: F.xxhash64(w))
    base = df.withColumn("_hs", hs)
    nw = F.size(F.col("_hs"))
    k2, k3 = nw - 1, nw - 2
    s1 = F.slice(F.col("_hs"), 1, k2)
    s2 = F.slice(F.col("_hs"), 2, k2)
    g2 = F.when(nw >= 2, F.zip_with(s1, s2, lambda a, b: F.xxhash64(a, b))).otherwise(
        F.array().cast("array<bigint>")
    )
    t1 = F.slice(F.col("_hs"), 1, k3)
    t2 = F.slice(F.col("_hs"), 2, k3)
    t3 = F.slice(F.col("_hs"), 3, k3)
    g3 = F.when(
        nw >= 3,
        F.zip_with(
            F.zip_with(t1, t2, lambda a, b: F.xxhash64(a, b)),
            t3,
            lambda ab, cc: F.xxhash64(ab, cc),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    staged = base.withColumns({"_g2": g2, "_g3": g3})
    n2 = F.size(F.col("_g2"))
    n3 = F.size(F.col("_g3"))
    nz2 = F.when(n2 > 0, n2.cast("double"))
    nz3 = F.when(n3 > 0, n3.cast("double"))
    return staged.withColumns(
        {
            "n_2grams": n2,
            "n_3grams": n3,
            "dup_2gram_frac_e6": _e6(
                (n2 - F.size(F.array_distinct(F.col("_g2")))) / nz2
            ),
            "dup_3gram_frac_e6": _e6(
                (n3 - F.size(F.array_distinct(F.col("_g3")))) / nz3
            ),
            "top_2gram_frac_e6": _e6(_max_multiplicity_long(F.col("_g2")) / nz2),
        }
    ).drop("_hs", "_g2", "_g3")


def _e6(col: Column) -> Column:
    """Ratio → integer micro-units via floor(x·1e6).

    floor of an identical double is the same integer in every engine —
    unlike round(x, 6), whose half-tie rule differs across engines and
    DOES get hit by this data (ratios with power-of-2·5 denominators
    terminate exactly at the 7th decimal: 1/128 = 0.0078125)."""
    return F.floor(col * F.lit(1000000.0)).cast("bigint")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring features: length, punctuation/alpha/stopword
    ratios, mean word length. Ratios are int/int divisions emitted as
    floor-scaled micro-unit integers → engine-portable."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_words = F.size(F.regexp_extract_all(c, F.lit(_WORD_RE), 0))
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    n_stop = _marker_hits(c, LANG_MARKERS["en"])
    nz = F.when(n_chars > 0, n_chars.cast("double")).otherwise(F.lit(None))
    return df.withColumns(
        {
            "n_chars_q": n_chars,
            "n_words": n_words,
            "punct_ratio_e6": _e6(n_punct / nz),
            "stopword_ratio_e6": _e6(
                n_stop / F.when(n_words > 0, n_words.cast("double"))
            ),
            "mean_word_len_e6": _e6(
                F.aggregate(
                    F.regexp_extract_all(c, F.lit(_WORD_RE), 0),
                    F.lit(0),
                    lambda acc, w: acc + F.length(w),
                )
                / F.when(n_words > 0, n_words.cast("double"))
            ),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score from the features — a simple
    monotone rubric (long enough, not punctuation-soup, has function
    words).

    Computed from the RAW ratios (not the display-rounded feature
    columns): summing already-rounded terms puts the composite right at
    round-half boundaries where engines' round() implementations
    disagree; raw quotients have long binary tails, so one final
    round is stable.
    """
    c = F.col(text_col)
    n_chars = F.length(c)
    n_words = F.size(F.regexp_extract_all(c, F.lit(_WORD_RE), 0))
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    n_stop = _marker_hits(c, LANG_MARKERS["en"])
    punct_raw = n_punct / F.when(n_chars > 0, n_chars.cast("double"))
    stop_raw = n_stop / F.when(n_words > 0, n_words.cast("double"))
    score = (
        F.least(n_chars / F.lit(500.0), F.lit(1.0)) * 0.4
        + (1 - F.least(punct_raw * 4, F.lit(1.0))) * 0.3
        + F.least(F.coalesce(stop_raw, F.lit(0.0)) * 5, F.lit(1.0)) * 0.3
    )
    return quality_features(df, text_col).withColumn("quality_e6", _e6(score))


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, non-alnum → space,
    collapse runs, trim."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "), r"\s+", " "
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text", alias: str = "fp") -> DataFrame:
    """Document fingerprint: md5 of the normalized text. md5 is
    identical across engines/runs (unlike hash()/xxhash64 which are
    engine-specific), so fingerprints are portable join keys."""
    return df.withColumn(alias, F.md5(normalize_text(F.col(text_col)).cast("binary")))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 8,
) -> DataFrame:
    """Winnowing fingerprints (rolling-hash selection, Schleimer et al.
    MOSS): hash every k-gram in document order, slide a window of w
    consecutive hashes, keep each window's minimum — guaranteed to
    select a shared fingerprint for any match of length ≥ w+k-1, at
    ~2/(w+1) sampling density.

    Fully row-local arithmetic with explicit exchange placement:

    1. repartition the raw docs BY id — spreads the expensive hash
       pass (a single parquet file otherwise hashes on one core);
    2. build the ordered k-gram hash array (one md5 per position);
    3. repartition AGAIN by id — this exchange is the load-bearing
       optimizer barrier: without it, CollapseProject inlines the hash
       array into the window-minima lambda (no CSE inside higher-order
       functions) and every hash recomputes per window start — O(n·w·
       hash) instead of O(n·hash), measured 25x slower. (A posexplode +
       frame-window formulation avoids the inlining but pays a 1.5M-row
       sort — 2x slower than this.)
    4. window minima as array_min over slices — row-local, then one
       explode of the per-doc distinct fingerprint set.

    Output: (id, fp) distinct per doc.
    """
    from spark_cassandra_collabfiltering_spark.operators.dedup import shingle_hash

    c = F.col(text_col)
    # ordered k-gram hashes (positions matter — NOT deduped)
    hs = F.transform(
        F.sequence(F.lit(1), F.length(c) - (k - 1)),
        lambda i: shingle_hash(c.substr(i, F.lit(k))),
    )
    # Both exchanges pin an EXPLICIT partition count: this stage is
    # CPU-bound (one md5 per character position), not byte-bound, so
    # AQE's advisory-size coalescing — which only sees the few hundred
    # KB of compressed text — would shrink each exchange to ONE
    # partition and run the whole hash pass on a single core (measured
    # at sf0.1: 3.9 s single-task vs ~0.5 s spread). r11: the width is
    # data-proportional (one task per ~24 KB of input estimate, an
    # md5-grade per-byte cost), capped at defaultParallelism — the
    # unconditional cores pin over-sharded tiny inputs (BENCH_r10's
    # 8-core run beat 32 cores on every pinned query).
    n_part = cpu_spread_width(df, 24 << 10)
    hashed = (
        df.repartition(n_part, F.col(id_col))
        .filter(F.length(c) >= k + w - 1)
        .select(F.col(id_col), hs.alias("_hs"))
        .repartition(n_part, F.col(id_col))
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_hs") - (w - 1)),
            lambda s: F.array_min(F.slice(F.col("_hs"), s, w)),
        )
    )
    return hashed.select(F.col(id_col), F.explode(fps).alias("fp"))


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 3,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide boilerplate vocabulary: word n-grams present in at
    least ``min_docs`` DISTINCT documents (C4-style cross-document
    repetition — headers, footers, license blurbs — which per-doc
    repetition scores cannot see).

    Per-doc dedup happens inside the row (array_distinct) BEFORE the
    explode, so the shuffle counts each (doc, gram) once; the groupBy
    is a partial-agg count on the gram key. The result is small by
    construction (only grams crossing the threshold) → broadcastable.
    """
    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(_word_ngrams(F.col(text_col), n))).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_fraction(
    df: DataFrame,
    n: int = 3,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document boilerplate exposure: the fraction of the doc's
    distinct n-grams that belong to the corpus boilerplate vocabulary
    — the gate a curation pipeline uses to drop template-heavy docs.

    Two passes over the gram stream (vocabulary count, then per-doc
    tally against the broadcast vocabulary); production persists the
    exploded gram table once and feeds both. NULL fraction for docs
    with no n-grams.
    """
    per_doc = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(_word_ngrams(F.col(text_col), n))).alias("gram"),
    )
    bp = boilerplate_ngrams(df, n, min_docs, id_col, text_col).select(
        "gram", F.lit(1).alias("_bp")
    )
    stats = (
        per_doc.join(F.broadcast(bp), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_bp"), F.lit(0))).alias("n_bp"),
        )
    )
    nz = F.when(F.col("n_grams") > 0, F.col("n_grams").cast("double"))
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_bp"), F.lit(0)).alias("n_bp"),
            _e6(F.col("n_bp") / nz).alias("bp_frac_e6"),
        )
    )


def tfidf_topk(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Per-doc top-k DISTINCTIVE terms by TF-IDF, in exact integer
    arithmetic: score_e6 = (tf · (N+1) · 1e6) div (df+1) where tf =
    occurrences in the doc, df = docs containing the term, N = corpus
    size — reciprocal-df weighting (the log damping of classic idf is
    traded for bit-exact cross-engine output, per this module's
    floor-scaled-e6 convention; ranking is unchanged for terms with
    equal tf). Integer div keeps every stage exact while
    tf·(N+1)·1e6 < 2^63 (overflow only past ~9e18 — switch the
    numerator to decimal(38,0) beyond ~1e9 docs × tf 1e3).

    Plan: term explode → (doc, term) hash-agg → term-level df
    hash-agg (small, broadcast back) → one-row corpus count riding a
    broadcast — tf never re-shuffles after its aggregate; top-k is a
    per-doc window. Output: (id, term, score_e6, rank ≤ k), ordered
    within doc by score desc / term asc.
    """
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[a-z0-9]+"), 0)
        ).alias("term"),
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    ndocs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(ndocs))
        .withColumn(
            "score_e6",
            F.expr("(tf * (n_docs + 1) * 1000000L) div (df_docs + 1)"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_e6").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "score_e6", "rank")
    )


def gopher_gate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021, public
    rubric): per-doc heuristic filters a pretraining pipeline applies
    before any model-based scoring. Every rule is a pure INTEGER
    comparison (ratios stated cross-multiplied, e.g. "symbol ratio
    <= 10%" as 10·n_sym <= n_words), so the output is exact across
    engines — no float rounding anywhere — and the whole operator is
    one scan-local projection of JVM regexp/array built-ins.

    Rules (each emitted as its own boolean so a pipeline can tune the
    conjunction):

    - r_word_count:   50 <= words <= 100000
    - r_mean_wordlen: 3 <= mean word length <= 10
    - r_symbol_ratio: hash/ellipsis symbols <= 10% of words
    - r_bullet:       lines starting with a bullet <= 10%
    - r_ellipsis:     lines ending with an ellipsis <= 30%
    - r_alpha_words:  >= 80% of words contain a letter
    - r_stopwords:    >= 2 distinct English function words present

    ``gopher_pass`` is the conjunction. Counts ride along for
    downstream threshold tuning."""
    c = F.col(text_col)
    words = F.regexp_extract_all(c, F.lit(_WORD_RE), 0)
    lines = F.split(c, "\n")
    n_words = F.size(words).cast("bigint")
    sum_wl = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    ).cast("bigint")
    n_sym = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\.|…"), 0)).cast("bigint")
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(lines, lambda line: line.rlike(r"^\s*[-*•]"))
    ).cast("bigint")
    n_ell = F.size(
        F.filter(lines, lambda line: line.rlike(r"(\.\.\.|…)\s*$"))
    ).cast("bigint")
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike(r"[A-Za-z]"))
    ).cast("bigint")
    lt = F.lower(c)
    n_stop_kinds = sum(
        F.when(lt.rlike(rf"\b{w}\b"), 1).otherwise(0)
        for w in LANG_MARKERS["en"]
    ).cast("bigint")

    rules = {
        "r_word_count": (n_words >= 50) & (n_words <= 100000),
        "r_mean_wordlen": (3 * n_words <= sum_wl) & (sum_wl <= 10 * n_words),
        "r_symbol_ratio": 10 * n_sym <= n_words,
        "r_bullet": 10 * n_bullet <= n_lines,
        "r_ellipsis": 10 * n_ell <= 3 * n_lines,
        "r_alpha_words": 5 * n_alpha >= 4 * n_words,
        "r_stopwords": n_stop_kinds >= 2,
    }
    gate = F.lit(True)
    for expr in rules.values():
        gate = gate & expr
    return df.withColumns(
        {
            "n_words": n_words,
            "sum_word_len": sum_wl,
            "n_sym": n_sym,
            "n_lines": n_lines,
            "n_bullet_lines": n_bullet,
            "n_ellipsis_lines": n_ell,
            "n_alpha_words": n_alpha,
            "n_stop_kinds": n_stop_kinds,
            **rules,
            "gopher_pass": gate,
        }
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Sliding-window document chunking — the sequence-prep step of a
    pretraining/RAG pipeline: fixed ``size``-char windows every
    ``stride`` chars (overlap = size - stride), the final window
    allowed to run short. A doc of L chars yields
    ``1 + ceil((L - size) / stride)`` chunks (one if L <= size);
    empty docs yield none.

    Row-local end to end: the chunk-start sequence is built per row
    (one explode — a narrow fan-out, no shuffle), each chunk is a
    substr of the row's own text. Output carries (chunk_idx,
    chunk_start 1-based, chunk_len, chunk_md5) — the md5 stands in for
    shipping chunk text through a hash-compare; downstream consumers
    substr the original doc by (start, len). All-integer/hash output →
    exactly oracle-able. ceil is computed in integer arithmetic
    ((L - size + stride - 1) div stride) so both engines agree without
    float rounding.

    No reference counterpart; mandated-extension (training-data
    pipeline) surface.
    """
    if size <= 0 or stride <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    c = F.col(text_col)
    L = F.length(c)
    extra = F.floor((L - size + stride - 1) / F.lit(stride)).cast("bigint")
    n = F.when(L <= size, F.lit(1).cast("bigint")).otherwise(extra + 1)
    rows = df.filter(L > 0).select(
        F.col(id_col),
        c.alias("_t"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n - 1)).alias("chunk_idx"),
    )
    start = F.lit(1) + F.col("chunk_idx") * stride
    chunk = F.col("_t").substr(start.cast("int"), F.lit(size))
    return rows.select(
        F.col(id_col),
        F.col("chunk_idx"),
        start.cast("bigint").alias("chunk_start"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
        F.md5(chunk.cast("binary")).alias("chunk_md5"),
    )


def vocab_build(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    prefix_len: int = 1,
) -> DataFrame:
    """Vocabulary construction with CONTIGUOUS dense ids — the
    token→id table a training pipeline feeds an embedding layer:
    tokens with corpus frequency >= ``min_count``, id 0 = most
    frequent, ties broken lexicographically (fully deterministic).

    The interesting part at scale is the dense-id assignment. The
    naive plan — ``row_number()`` over an UN-partitioned window — is
    a single-reducer bottleneck (every row through one task: the
    thing that does not survive 100 TB). Re-expressed as a
    deterministic two-level rank (the zipWithIndex shape, but with no
    range sampling, no partition-id dependence, no driver collect):

    1. bucket the count table by (cnt, token-prefix) and aggregate
       bucket sizes — a GROUP table bounded by
       #distinct-counts x alphabet^prefix_len, thousands of rows at
       any corpus size (distinct frequencies grow ~sqrt of tokens);
    2. prefix-sum the group table in (cnt desc, prefix asc) order —
       a window over the bounded group table, NOT the data, so its
       single-partition sort is O(groups);
    3. broadcast-join the offsets back and add the bucket-local
       ``row_number`` (window partitioned by bucket, ordered by
       token).

    vocab_id = bucket offset + local rank == the exact global
    ``row_number() - 1`` in (cnt desc, token asc) — the oracle's
    formulation — but every unbounded structure is partitioned.
    ``prefix_len`` widens the buckets that tail frequencies (cnt ==
    min_count) would otherwise concentrate into one window task.

    Output: (token, cnt, vocab_id 0-based), exact integers.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
        ).alias("token")
    )
    counts = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .withColumn("_pfx", F.substring("token", 1, prefix_len))
    )
    groups = counts.groupBy("cnt", "_pfx").agg(F.count(F.lit(1)).alias("_n"))
    gw = Window.orderBy(F.col("cnt").desc(), F.col("_pfx").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = groups.withColumn(
        "_off", F.coalesce(F.sum("_n").over(gw), F.lit(0))
    ).select("cnt", "_pfx", "_off")
    lw = Window.partitionBy("cnt", "_pfx").orderBy(F.col("token").asc())
    return (
        counts.withColumn("_lrk", F.row_number().over(lw) - 1)
        .join(F.broadcast(offsets), ["cnt", "_pfx"])
        .select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            (F.col("_off") + F.col("_lrk")).cast("bigint").alias("vocab_id"),
        )
    )


def ngram_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Per-group n-gram diversity — the self-repetition metric of a
    corpus SLICE (distinct n-grams / total n-grams, the corpus-level
    cousin of Self-BLEU: a slice whose docs all paraphrase each other
    scores low even when each doc individually looks fine), plus the
    type-token ratio over unigrams.

    Scale shape: grams are md5-reduced row-locally before the ONE
    (group, hash) distinct-count aggregate — shuffle carries 16-byte
    keys, count-distinct goes through Spark's two-phase partial
    aggregation; totals ride the same pass. Ratios in exact bigint
    micro-units (x * 1e6 div total), so the output hash-matches.

    Output: (group, total_ngrams, distinct_ngrams, diversity_e6,
    total_tokens, distinct_tokens, ttr_e6).
    """
    grams = df.select(
        F.col(group_col),
        F.explode(_word_ngrams(F.col(text_col), n)).alias("g"),
    ).select(group_col, F.md5(F.col("g").cast("binary")).alias("gh"))
    toks = df.select(
        F.col(group_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
        ).alias("tok"),
    )
    ga = grams.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("total_ngrams"),
        F.count_distinct("gh").alias("distinct_ngrams"),
    )
    ta = toks.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.count_distinct("tok").alias("distinct_tokens"),
    )
    return ga.join(ta, group_col).select(
        group_col,
        F.col("total_ngrams").cast("bigint").alias("total_ngrams"),
        F.col("distinct_ngrams").cast("bigint").alias("distinct_ngrams"),
        F.expr("(distinct_ngrams * 1000000) div total_ngrams").alias(
            "diversity_e6"
        ),
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.col("distinct_tokens").cast("bigint").alias("distinct_tokens"),
        F.expr("(distinct_tokens * 1000000) div total_tokens").alias("ttr_e6"),
    )


# --- BPE tokenizer training (Sennrich et al. 2016, distributed) -----------

BPE_EOW = "</w>"


def bpe_symbols(vocab: DataFrame) -> DataFrame:
    """(token, cnt) -> (token, cnt, syms): the character-symbol
    sequence BPE training starts from — one char per symbol plus the
    end-of-word marker. Row-local."""
    chars = F.regexp_extract_all(F.col("token"), F.lit("."), 0)
    return vocab.select(
        "token",
        "cnt",
        F.concat(chars, F.array(F.lit(BPE_EOW))).alias("syms"),
    )


def bpe_pair_counts(symtab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies over the weighted vocabulary —
    THE distributed primitive of BPE training (get_stats in Sennrich's
    reference code): each word contributes cnt for every adjacent
    symbol pair (overlapping pairs count, as in the reference).

    Row-local zip_with builds the pair list inside the row; the only
    shuffle is the (pair, sum) hash-aggregate — map-side combining,
    key cardinality = |symbol alphabet|^2 at round 1 and shrinks as
    merges coalesce. Output: (sym_a, sym_b, pair_cnt).
    """
    n = F.size(F.col("syms"))
    pairs = F.zip_with(
        F.slice(F.col("syms"), 1, n - 1),
        F.slice(F.col("syms"), 2, n - 1),
        lambda a, b: F.struct(a.alias("sym_a"), b.alias("sym_b")),
    )
    return (
        symtab.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"))
        .agg(F.sum("cnt").cast("bigint").alias("pair_cnt"))
    )


def _merge_pair_expr(syms: Column, a: str, b: str) -> Column:
    """Replace every left-to-right non-overlapping adjacent (a, b) in
    the symbol array with the merged symbol a||b — one fold over the
    row's own array (greedy left-to-right, exactly the reference
    replacement semantics: 'aaa' + (a,a) -> ['aa','a'])."""
    merged = F.lit(a + b)
    empty = F.array().cast("array<string>")
    return F.aggregate(
        syms,
        empty,
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    vocab: DataFrame, n_merges: int = 10
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Byte-pair-encoding tokenizer training over a distributed
    weighted vocabulary: ``n_merges`` rounds of (count adjacent pairs
    -> pick the most frequent -> merge it everywhere). Ties break by
    (sym_a, sym_b) lexicographic order — fully deterministic, unlike
    the reference's dict-order-dependent argmax.

    Scale shape per round: one row-local pair build + one hash-agg +
    a ONE-ROW driver read (the argmax pair — the only thing the
    driver ever sees), then a row-local fold applies the merge. The
    symbol table is checkpointed per round so the plan stays
    shallow across rounds (the connected-components discipline).
    Stops early when no pair repeats.

    Returns (merge list in order, final symbol table).
    """
    symtab = shared_subtree(bpe_symbols(vocab))
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = (
            bpe_pair_counts(symtab)
            .orderBy(
                F.col("pair_cnt").desc(),
                F.col("sym_a").asc(),
                F.col("sym_b").asc(),
            )
            .limit(1)
            .collect()
        )
        if not best or best[0]["pair_cnt"] < 2:
            break
        a, b = best[0]["sym_a"], best[0]["sym_b"]
        merges.append((a, b))
        symtab = shared_subtree(
            symtab.withColumn("syms", _merge_pair_expr(F.col("syms"), a, b))
        )
    return merges, symtab


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a trained
    vocabulary (:func:`vocab_build` output or any (token, ...) table) —
    the tokenizer-coverage quality signal: a doc whose tokens are
    mostly absent from the training vocabulary is noise, another
    language, or heavy OCR damage, and inflates the fertility of any
    tokenizer trained on the mix.

    Scale shape: tokens are reduced to per-(doc, token) COUNTS first —
    one map-side-combinable aggregate — so the vocabulary join probes
    with at most |distinct tokens per doc| rows per document, not one
    row per token occurrence. The vocab side is unique on token, so
    the left join has no fan-out and a hot token (probe-side skew
    against a unique build side) cannot multiply rows; at corpus scale
    the vocab is millions of rows — a plain shuffled hash join, no
    broadcast assumption. Ratios in exact bigint micro-units so the
    output hash-matches across engines.

    Output: (doc_id, n_tokens, n_oov, oov_e6).
    """
    toks = df.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
        ).alias("token"),
    )
    dc = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    v = vocab.select(F.col("token"), F.lit(1).alias("_in"))
    return (
        dc.join(v, "token", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), F.col("cnt")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn("oov_e6", F.expr("(n_oov * 1000000) div n_tokens"))
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Apply a TRAINED merge sequence (:func:`bpe_train`) to the
    corpus and report per-document subtoken counts and FERTILITY
    (subtokens per word) — the apply half of the tokenizer story, and
    the metric that decides whether a tokenizer fits a corpus: high
    fertility means the token budget buys few words (the
    vocabulary-coverage complement of :func:`oov_rate`).

    Scale shape — encode the VOCABULARY, not the corpus: merges are
    applied on the distinct-token table (bounded, ~sqrt-of-corpus
    growth), each merge one row-local fold (:func:`_merge_pair_expr`)
    in trained order; the corpus side reduces to per-(doc, token)
    counts and joins the token -> subtoken-count table (unique build
    side, no fan-out). A doc's subtoken total is then
    sum(cnt * n_sub) — no document is ever re-segmented row-by-row,
    and no Python touches the row path.

    Output: (doc_id, n_words, n_subtokens, fertility_e6), exact
    bigints.
    """
    toks = df.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
        ).alias("token"),
    )
    dc = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    words = dc.select("token").distinct()
    chars = F.regexp_extract_all(F.col("token"), F.lit("."), 0)
    symtab = words.withColumn(
        "syms", F.concat(chars, F.array(F.lit(BPE_EOW)))
    )
    for a, b in merges:
        symtab = symtab.withColumn("syms", _merge_pair_expr(F.col("syms"), a, b))
    enc = symtab.select("token", F.size("syms").alias("n_sub"))
    return (
        dc.join(enc, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).cast("bigint").alias("n_subtokens"),
        )
        .withColumn("fertility_e6", F.expr("(n_subtokens * 1000000) div n_words"))
    )


def lexical_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_fraction: float | None = None,
) -> DataFrame:
    """Lexical (sparse / inverted-index) retrieval: TF-IDF dot-product
    top-k of corpus docs for each query doc — the lexical arm a
    hybrid-search stack fuses with dense ANN (:func:`~.similarity.
    rrf_fuse`). EXACT integers end-to-end: term weight
    w_e3 = tf · 1e3 div (df+1) (the reciprocal-df damping of
    :func:`tfidf_topk`), score = Σ w_q·w_d over shared terms — no
    floats, so ranking (score desc, id asc) hash-matches.

    Scale shape is the POSTING-LIST join, not doc×doc: corpus docs
    reduce to (term, doc, w) postings once (two hash-aggs); the
    bounded query batch broadcasts its own postings; the join fans
    out exactly |posting list| rows per query term, then one
    (query, doc) hash-agg and a per-query top-k window.
    ``max_df_fraction`` is the stop-list knob that keeps that fan-out
    bounded at corpus scale: terms in more than that fraction of docs
    are dropped from BOTH sides (their idf ≈ 0 contribution never
    changes a ranking materially, but their posting lists are O(N) —
    the WAND/impact-pruning observation). Self-matches are excluded
    (query docs come from the corpus, as in the ANN arms).

    Output: (query_id, doc_id, score, rank ≤ k).
    """
    from pyspark.sql import Window

    def postings(df: DataFrame, out_id: str) -> DataFrame:
        words = df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
            ).alias("term"),
        )
        return words.groupBy(out_id, "term").agg(F.count(F.lit(1)).alias("tf"))

    cp = postings(corpus, "doc_id")
    dfreq = cp.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    if max_df_fraction is not None:
        ndocs = corpus.agg(F.count(F.lit(1)).alias("n_docs"))
        dfreq = dfreq.join(F.broadcast(ndocs)).filter(
            F.col("df_docs") <= F.col("n_docs") * F.lit(max_df_fraction)
        ).select("term", "df_docs")
    wexpr = "(tf * 1000) div (df_docs + 1)"
    cw = cp.join(F.broadcast(dfreq), "term").select(
        "term", "doc_id", F.expr(wexpr).alias("wd")
    )
    qw = (
        postings(queries, "query_id")
        .join(F.broadcast(dfreq), "term")
        .select("term", "query_id", F.expr(wexpr).alias("wq"))
    )
    scored = (
        cw.join(F.broadcast(qw), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("wq") * F.col("wd")).cast("bigint").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _log2lin_e3(col: str) -> str:
    """SQL for a FIXED-POINT base-2 log of a positive bigint column:
    floor(log2(x)) from the bit length (``length(bin(x)) - 1``) plus a
    linear interpolation of the fractional part within the octave —
    the classic frexp/mantissa approximation (max error 0.0861 octaves
    analytically, plus up to 1e-3 of fixed-point floor). Entirely integer ops on both engines, so the
    value is bit-deterministic cross-engine (unlike ``ln``/``log2``,
    whose last-ulp behavior libm does not pin down)."""
    e = f"(length(bin({col})) - 1)"
    p = f"shiftleft(1L, {e})"
    return f"({e} * 1000 + (({col} - {p}) * 1000) div {p})"


_LOG2LIN_E6_CONST = 19907  # _log2lin_e3 of the e6 scale factor 1000000


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1_e2: int = 120,
    b_e2: int = 75,
    max_df_fraction: float | None = None,
) -> DataFrame:
    """BM25 lexical retrieval (Robertson-Walker Okapi ranking) over the
    same inverted POSTING-LIST join as :func:`lexical_topk`, in EXACT
    integers end-to-end so the ranking hash-matches across engines:

    - idf_e3 = log2((N - df + 0.5)/(df + 0.5) + 1) in fixed point: the
      ratio is carried e6-scaled ((2N-2df+1)*1e6 div (2df+1) + 1e6) and
      the log taken by bit length + in-octave linear interpolation
      (:func:`_log2lin_e3`), minus the constant log of the scale —
      deterministic where libm ``ln`` is not.
    - tf saturation with length normalization: with L_e3 = 1000*dl/avgdl,
      inner_e3 = (1000 - 10*b_e2) + (b_e2*L_e3) div 100,
      den_e5 = tf*100000 + k1_e2*inner_e3, and
      sat_e3 = tf*(k1_e2+100)*1e6 div den_e5
      == floor(1e3 * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))).
    - score = sum over shared terms of qtf * idf_e3 * sat_e3 (bigint).

    Scale shape is identical to the TF-IDF arm: corpus postings built
    once with two hash-aggs; per-doc length and the two corpus scalars
    (N, avgdl_e3) ride broadcasts; the bounded query batch broadcasts
    its own postings; the term join fans out one row per posting-list
    entry; one (query, doc) hash-agg and a per-query top-k window.
    ``max_df_fraction`` is the WAND-style stop-list bound on posting
    length (BM25's idf -> 0 for such terms anyway). Self-matches are
    excluded. Output: (query_id, doc_id, score, rank <= k)."""
    from pyspark.sql import Window

    def postings(df: DataFrame, out_id: str) -> DataFrame:
        words = df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
            ).alias("term"),
        )
        return words.groupBy(out_id, "term").agg(F.count(F.lit(1)).alias("tf"))

    # Four consumers (lengths, stats, dfreq, weights) each re-derive
    # the posting table — visible as repeated tokenize Generates in
    # the plan. Two materialization attempts are A/B-REJECTED negative
    # results, kept as documentation: cache() (r5: 2.4 s vs 1.5 s —
    # and under AQE the four consumer stages materialize CONCURRENTLY,
    # so racing stages recompute before the cache fills) and a
    # repartition + localCheckpoint(eager=False) (r10: 2.8 s vs 1.7 s
    # interleaved — the racing stages recompute the widened
    # 32-partition plan four times, costing more than four cheap
    # serial tokenizes). At corpus scale the real answer is PERSISTING
    # the inverted index to the lake once and amortizing it across
    # query batches.
    cp = postings(corpus, "doc_id")
    dl = cp.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("(sum(dl) * 1000) div count(1)").alias("avgdl_e3"),
    )
    dfreq = cp.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    if max_df_fraction is not None:
        nd = corpus.agg(F.count(F.lit(1)).alias("nd"))
        dfreq = (
            dfreq.join(F.broadcast(nd))
            .filter(F.col("df_docs") <= F.col("nd") * F.lit(max_df_fraction))
            .select("term", "df_docs")
        )
    idf = (
        dfreq.join(F.broadcast(stats))
        .withColumn(
            "ratio_e6",
            F.expr(
                "((2*n_docs - 2*df_docs + 1) * 1000000) div (2*df_docs + 1)"
                " + 1000000"
            ),
        )
        .withColumn(
            "idf_e3",
            F.expr(f"{_log2lin_e3('ratio_e6')} - {_LOG2LIN_E6_CONST}"),
        )
        .select("term", "idf_e3", "avgdl_e3")
    )
    cw = (
        cp.join(dl, "doc_id")
        .join(F.broadcast(idf), "term")
        .withColumn("l_e3", F.expr("(dl * 1000000) div avgdl_e3"))
        .withColumn(
            "sat_e3",
            F.expr(
                f"(tf * {k1_e2 + 100} * 1000000) div "
                f"(tf * 100000 + {k1_e2} * "
                f"((1000 - {10 * b_e2}) + ({b_e2} * l_e3) div 100))"
            ),
        )
        .select("term", "doc_id", "idf_e3", "sat_e3")
    )
    qw = (
        postings(queries, "query_id")
        .join(F.broadcast(idf.select("term")), "term")
        .select("term", "query_id", F.col("tf").alias("qtf"))
    )
    scored = (
        cw.join(F.broadcast(qw), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.col("qtf") * F.col("idf_e3") * F.col("sat_e3"))
            .cast("bigint")
            .alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def token_entropy(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group SHANNON ENTROPY of the token distribution — the
    information-density readout of a data recipe slice: a source
    whose token mass concentrates on few types (low H) is boilerplate
    or templated; a source near log2(n_types) is diverse. Complements
    :func:`diversity` (distinct ratios) with the full distributional
    statistic the ratios flatten.

    H = sum_i (c_i/T) * log2(T/c_i), computed ENTIRELY in fixed-point
    integers via the bit-length log2 (:func:`_log2lin_e3` — the same
    deterministic-where-libm-isn't machinery as BM25's idf):
    H_e3 = (sum_i c_i * (L(T) - L(c_i))) div T. Monotone L keeps every
    term non-negative; products are bounded by T * 60e3 so nothing
    overflows below ~1e14 tokens per group.

    Plan: one explode + (group, token) hash-agg (the only full-data
    exchange, carrying counts), per-group totals reduce from that
    bounded table and broadcast back, one final per-group agg.
    Output: (group, n_tokens, n_types, entropy_e3)."""
    words = df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
        ).alias("term"),
    )
    tc = words.groupBy("grp", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = tc.groupBy("grp").agg(F.sum("c").cast("bigint").alias("t"))
    j = tc.join(F.broadcast(tot), "grp")
    return (
        j.groupBy("grp")
        .agg(
            F.max("t").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(
                F.expr(f"c * ({_log2lin_e3('t')} - {_log2lin_e3('c')})")
            ).alias("_hsum"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_types",
            F.expr("_hsum div n_tokens").alias("entropy_e3"),
        )
    )


# Classic UTF-8-read-as-Latin-1 damage markers: 'Ã'+continuation and
# the 'â€¦'-family punctuation wrecks. Literal characters, so the same
# pattern text parses identically in Java regex (Spark) and RE2
# (DuckDB oracle).
_MOJIBAKE_RE = "(Ã.|â€.)"
_REPLACEMENT_RE = "�"
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"


def encoding_quality(
    df: DataFrame, text_col: str = "text", bad_ppm: int = 1000
) -> DataFrame:
    """Per-document ENCODING-DAMAGE screen — the cheap first gate of a
    web-scale text pipeline (CCNet/RefinedWeb drop or re-decode these
    before any model ever scores them): counts of U+FFFD replacement
    characters (a decoder already gave up), stray C0 control bytes
    (binary contamination), and classic UTF-8-as-Latin-1 mojibake
    digraphs ('Ã©', 'â€™', ...). All three are scan-local JVM regexp
    counts — zero shuffles, whole-stage-codegen'd — and exact
    integers. ``enc_bad`` flags any replacement/control hit or a
    mojibake density above ``bad_ppm`` parts per million of chars
    (legitimate Portuguese 'Ã ' exists; density separates damage from
    language)."""
    c = F.col(text_col)
    n_chars = F.length(c)
    counts = {
        "n_replacement": F.size(
            F.regexp_extract_all(c, F.lit(_REPLACEMENT_RE), 0)
        ),
        "n_control": F.size(F.regexp_extract_all(c, F.lit(_CTRL_RE), 0)),
        "n_mojibake": F.size(F.regexp_extract_all(c, F.lit(_MOJIBAKE_RE), 0)),
    }
    out = df.withColumns(counts)
    # integer floor division (Spark `div` == DuckDB `//` on positives)
    # — a float divide + cast would truncate on one engine and round
    # on the other
    moji_ppm = F.when(
        n_chars > 0,
        F.expr(
            f"(cast(n_mojibake as bigint) * 1000000)"
            f" div cast(length({text_col}) as bigint)"
        ),
    ).otherwise(F.lit(0))
    return out.withColumn(
        "enc_bad",
        (F.col("n_replacement") > 0)
        | (F.col("n_control") > 0)
        | (moji_ppm >= bad_ppm),
    )


def html_to_text(
    df: DataFrame,
    html_col: str = "html",
    prefix: str = "",
) -> DataFrame:
    """Heuristic HTML -> text extraction — the step between WARC
    ingest (``sources/warc_source.py`` response bodies) and every
    downstream text gate. Adds four columns: ``{prefix}title``,
    ``{prefix}text``, ``{prefix}n_links``, ``{prefix}n_tags``.

    Engine-portable by construction: every pattern is valid in BOTH
    Java regex (Spark) and RE2 (DuckDB) — (?is) flags, lazy
    quantifiers, no backreferences (RE2 has none, so script/style
    blocks strip in two literal-closing-tag passes, not one
    backreferenced pass) — and entity decoding is literal
    ``replace`` chains with ``&amp;`` decoded LAST so ``&amp;lt;``
    cannot double-decode. The chain:

    1. drop ``<script>``/``<style>``/``<title>`` blocks (lazy, dotall
       — markup INSIDE script text must not leak; the title is its
       own output column, not body text),
    2. drop ``<!-- comments -->``,
    3. replace every remaining tag with a space,
    4. decode the five named entities + nbsp,
    5. collapse whitespace runs and trim.

    Known limits shared by every regex extractor (trafilatura-class
    DOM extractors are the third-party upgrade): an attribute value
    containing ``>`` ends the tag early; CDATA is not special-cased.

    Scale: pure scan-local JVM string expressions — zero shuffles,
    whole-stage-codegen eligible, nothing leaves the row.
    """
    h = F.col(html_col)
    for tag in ("script", "style", "title"):
        h = F.regexp_replace(h, f"(?is)<{tag}[^>]*>.*?</{tag}>", " ")
    h = F.regexp_replace(h, r"(?s)<!--.*?-->", " ")
    title = F.trim(
        F.regexp_extract(F.col(html_col), r"(?is)<title[^>]*>(.*?)</title>", 1)
    )
    n_links = F.size(
        F.regexp_extract_all(F.col(html_col), F.lit(r"(?i)<a[\s>]"), 0)
    ).cast("bigint")
    n_tags = F.size(
        F.regexp_extract_all(F.col(html_col), F.lit(r"<[^>]*>"), 0)
    ).cast("bigint")
    txt = F.regexp_replace(h, r"<[^>]*>", " ")
    for ent, rep in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        txt = F.replace(txt, F.lit(ent), F.lit(rep))
    txt = F.trim(F.regexp_replace(txt, r"\s+", " "))
    return df.withColumns(
        {
            f"{prefix}title": title,
            f"{prefix}text": txt,
            f"{prefix}n_links": n_links,
            f"{prefix}n_tags": n_tags,
        }
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    gibberish/boilerplate signal (used alongside the Gopher rubric in
    public pipelines: highly repetitive text compresses far below
    natural prose; random bytes barely compress at all).

    Python is unavoidable here (no JVM-side zlib expression), so this
    is an Arrow ``mapInPandas`` over the pruned (id, text) projection
    — batch-vectorized, partition-parallel, no shuffle; the same slow-
    path discipline as the multimodal codecs. Output is integer-exact
    GIVEN the zlib build (fixed level/strategy): (id, n_bytes,
    n_compressed, ratio_e6 = n_compressed * 1e6 div max(n_bytes, 1))
    — registry evidence is rows-only since no SQL engine replays
    zlib. Low ratio_e6 = templated/repetitive; near/above 1e6 =
    incompressible (random or already-compressed payloads).
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, LongType(), True),
            StructField("n_bytes", LongType(), True),
            StructField("n_compressed", LongType(), True),
            StructField("ratio_e6", LongType(), True),
        ]
    )

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                raw = ("" if txt is None else str(txt)).encode("utf-8")
                comp = len(zlib.compress(raw, level))
                out.append(
                    (int(i), len(raw), comp,
                     comp * 1_000_000 // max(len(raw), 1))
                )
            yield pd.DataFrame(
                out, columns=[id_col, "n_bytes", "n_compressed", "ratio_e6"]
            )

    return df.select(id_col, text_col).mapInPandas(score, schema)


def trigram_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-TRIGRAM inverted index (the pg_trgm / code-search
    shape): one (gram, id) posting row per DISTINCT trigram of each
    document. Substring search then never scans text — a pattern's
    candidate set is the intersection of its trigrams' posting lists.

    Scale shape: trigram extraction is row-local (one transform over a
    position sequence, array_distinct before the explode caps fan-out
    at the distinct-trigram count, <= text length). In production this
    table is MATERIALIZED once (partitioned by gram prefix) and
    queries touch only the searched grams' postings; composing it
    in-query (trigram_search) still keeps the shuffle to candidate
    postings only. Docs shorter than 3 chars emit no postings (they
    can never match a >= 3-char pattern anyway)."""
    grams = F.when(
        F.length(text_col) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(text_col) - 2),
                lambda i: F.substring(F.col(text_col), i, 3),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col), F.explode(grams).alias("gram"))


def trigram_search(
    df: DataFrame,
    pattern: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    via: str = "rowlocal",
) -> DataFrame:
    """Substring search `%pattern%` via trigram candidates: a doc is a
    CANDIDATE iff it contains EVERY distinct trigram of the pattern (a
    provable superset of true matches — trigram containment is
    necessary but not sufficient), then exact verification with an
    occurrence count runs on candidates only.

    Two candidate paths, identical results (parity pinned in
    tests/test_trigram_search.py):

    - ``via='rowlocal'`` (default): a CONJUNCTION of Q contains()
      predicates, evaluated inside the row — zero exchanges end to
      end, no per-row trigram materialization, and each StringContains
      is PUSHABLE into the parquet scan (PushedFilters), so row groups
      whose dictionaries/statistics exclude a gram never decode; the
      one-shot query shape.
    - ``via='postings'``: filter the (materializable) posting table
      (:func:`trigram_postings`) to the Q pattern grams, hash-agg per
      doc, verify-join candidates. The shape a MATERIALIZED index
      serves: per query it touches Q posting lists instead of any doc
      text, which is the whole point at corpus scale — pattern-gram
      filters push into the (gram-prefix-partitioned) index scan.

    Occurrence count is exact integer arithmetic:
    (len - len(remove(pattern))) div len(pattern) — portable to any
    SQL engine. Output: (id, n_occurrences) for true matches only."""
    if len(pattern) < 3:
        raise ValueError("trigram_search needs a pattern of >= 3 chars")
    pats = sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})
    if via == "rowlocal":
        cond = F.lit(True)
        for p in pats:
            cond = cond & F.col(text_col).contains(p)
        verify_src = df.select(id_col, text_col).filter(cond)
    elif via == "postings":
        postings = trigram_postings(df, id_col=id_col, text_col=text_col)
        cand_ids = (
            postings.filter(F.col("gram").isin(pats))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("_ng"))
            .filter(F.col("_ng") == len(pats))
            .select(id_col)
        )
        verify_src = cand_ids.join(df.select(id_col, text_col), id_col)
    else:
        raise ValueError(f"unknown via={via!r}")
    lit_pat = F.lit(pattern)
    return (
        verify_src.filter(F.col(text_col).contains(pattern))
        .select(
            F.col(id_col),
            (
                (
                    F.length(text_col)
                    - F.length(F.replace(F.col(text_col), lit_pat, F.lit("")))
                ).cast("bigint")
                / F.lit(len(pattern))
            ).cast("bigint").alias("n_occurrences"),
        )
    )
