"""Count-based text models trained IN the engine, in exact integer
arithmetic — the two classifier-shaped gates a training-data pipeline
runs at corpus scale:

- :func:`nb_classify` / :func:`nb_confusion` — multinomial Naive
  Bayes (the fasttext-style model-based quality/domain filter shape:
  CCNet, GPT-3's WebText-vs-CommonCrawl classifier, palm/llama data
  quality gates all use a cheap linear text classifier). Training IS
  aggregation — per-(label, term) token counts — so the "fit" runs as
  one distributed hash-agg, and inference is a posting-list join, the
  same scale shape as the BM25/TF-IDF lexical arms.
- :func:`bigram_lm_xent` — an add-one-smoothed bigram language model
  scoring per-document cross-entropy (the KenLM-perplexity filter of
  CCNet/RedPajama: docs whose LM cross-entropy is far from the
  reference slice are boilerplate or gibberish). Counts are the model;
  scoring is two hash joins against bounded count tables.

Everything is FIXED-POINT: log-probabilities use the bit-length log2
with in-octave linear interpolation (``operators.text._log2lin_e3``,
the BM25 idf machinery), so scores, argmaxes, and cross-entropies are
bit-deterministic cross-engine and the whole model — training included
— hash-matches a DuckDB oracle. No libm, no floats, no RNG: the
train/score split is the md5 bucket draw used everywhere else
(``operators.relational.hash_bucket``).

Reference scope note: the reference (CollabFilterCassandra8.java:28-77)
has no text models; these are the mandated LLM-pipeline extensions,
citing public shapes (Manning & Schütze ch.6 for multinomial NB with
Laplace smoothing; Chen & Goodman 1996 for additive bigram smoothing;
Wenzek et al. 2020 CCNet for the perplexity-filter role).

100 TB design notes:

- NB training state is the (label, term) count table — bounded by
  |vocab| x |classes|, NOT by corpus rows; partial aggregation
  collapses token occurrences map-side before the only full-width
  shuffle.
- The dense (term x label) weight grid exists so that a term seen in
  ANY class scores against EVERY class (zero counts smoothed). Labels
  are a tiny broadcast; the grid is |vocab| x C rows, distributed.
- Inference joins test postings to the weight grid ON TERM — a plain
  hash join both engines pick; the weight side broadcasts when the
  vocab is small and shuffles on term when it is not. Nothing is
  collected to the driver.
- Per-class scalars (token totals, priors) and the vocab size ride a
  one-row/`C`-row broadcast join, never a driver round trip.
- The bigram LM builds pairs ROW-LOCALLY inside the token array
  (transform over indices) — no window, no self-join, no per-token
  shuffle; the only exchanges are the (prev, cur) count hash-aggs and
  the scoring joins on bounded keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.operators.relational import hash_bucket
from spark_cassandra_collabfiltering_spark.operators.reuse import shared_subtree
from spark_cassandra_collabfiltering_spark.operators.text import _log2lin_e3

_TOKEN_RE = "[A-Za-z0-9]+"


def _tokens(df: DataFrame, id_cols: list[str], text_col: str) -> DataFrame:
    """Explode lowered alnum tokens: one row per occurrence."""
    return df.select(
        *[F.col(c) for c in id_cols],
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_TOKEN_RE), 0)
        ).alias("term"),
    )


def _l2l(col: str) -> F.Column:
    return F.expr(_log2lin_e3(col)).cast("bigint")


def nb_classify(
    docs: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    train_buckets: int = 2,
    train_bucket: int = 0,
    top_k: int = 1,
) -> DataFrame:
    """Train a multinomial Naive Bayes classifier on the md5-bucket
    train split and score the held-out docs; returns one row per test
    doc: (id, actual, predicted, score_e3 of the winning class).

    Model (Laplace / add-one smoothing, all fixed-point e3 log2):

    - prior_e3(y)   = L(n_docs_y) - L(n_docs)
    - w_e3(t, y)    = L(c(t,y) + 1) - L(T_y + V)   for t in train vocab
    - default_e3(y) = -L(T_y + V)                   for OOV test tokens
      (L(0 + 1) = 0, so the OOV weight is the smoothing floor)
    - score_e3(d,y) = prior + sum_t tf * w + (S_d - M_d) * default,
      with S_d the doc's token count and M_d its in-vocab token count.

    argmax ties break on ascending label so the prediction is total-
    ordered and hash-matchable. L is the bit-length log2 with
    in-octave interpolation — deterministic where libm is not.
    """
    lab = F.col(label_col)
    split = hash_bucket(F.col(id_col), train_buckets)
    train = docs.filter(lab.isNotNull() & (split == train_bucket))
    test = docs.filter(lab.isNotNull() & (split != train_bucket))

    # --- training: one explode + (label, term) hash-agg -------------
    tok = _tokens(train, [label_col], text_col)
    counts = tok.groupBy(label_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # The count table IS the model — bounded by |vocab| x C — and it
    # has four consumers (class totals, vocab size, weight grid, the
    # grid's left join). The r10 lazy localCheckpoint here was
    # REVERTED in r11: the driver measured it 17% slower and ordered
    # quiet-window A/Bs agree (~2.13 s plain vs ~2.3-2.4 s
    # checkpointed at sf0.1) — the RDD boundary breaks whole-stage
    # fusion and per-consumer column pruning, which costs more than
    # the duplicated train tokenize at bench scale. At corpus scale
    # you train once and PERSIST the model to the lake across scoring
    # runs (that, not an in-plan checkpoint, is the real reuse story).
    # per-class scalars: doc prior numerator, token total. C rows.
    cls = (
        train.groupBy(label_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_y"))
        .join(
            counts.groupBy(label_col).agg(F.sum("c").alias("t_y")),
            label_col,
            "left",
        )
        .na.fill({"t_y": 0})
    )
    # corpus scalars: train doc count + vocab size. 1 row, broadcast.
    scal = train.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).crossJoin(
        counts.select("term").distinct().agg(
            F.count(F.lit(1)).cast("bigint").alias("v")
        )
    )
    cls = (
        cls.crossJoin(F.broadcast(scal))
        .withColumn("prior_e3", _l2l("n_docs_y") - _l2l("n_docs"))
        .withColumn("default_e3", -_l2l("(t_y + v)"))
        .select(label_col, "prior_e3", "default_e3", "t_y", "v")
    )

    # --- dense (term x label) weight grid ----------------------------
    # a term seen only under label A must still score under label B
    # (c = 0, smoothed). Labels are C rows — broadcast the cross.
    grid = counts.select("term").distinct().crossJoin(
        F.broadcast(cls.select(label_col, "t_y", "v"))
    )
    weights = (
        grid.join(counts, [label_col, "term"], "left")
        .na.fill({"c": 0})
        .withColumn("w_e3", _l2l("(c + 1)") - _l2l("(t_y + v)"))
        .select("term", label_col, "w_e3")
        .withColumnRenamed(label_col, "_y")
    )

    # --- scoring: posting-list join ----------------------------------
    ttok = _tokens(test, [id_col], text_col).groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    matched = (
        ttok.join(weights, "term")
        .groupBy(id_col, "_y")
        .agg(
            F.sum(F.col("tf") * F.col("w_e3")).cast("bigint").alias("mw"),
            F.sum("tf").cast("bigint").alias("m_d"),
        )
    )
    base = test.select(
        F.col(id_col),
        lab.alias("_actual"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_TOKEN_RE), 0)
        ).cast("bigint").alias("s_d"),
    ).crossJoin(F.broadcast(cls.select(lab.alias("_y"), "prior_e3", "default_e3")))
    scored = (
        base.join(matched, [id_col, "_y"], "left")
        .na.fill({"mw": 0, "m_d": 0})
        .withColumn(
            "score_e3",
            F.col("prior_e3")
            + F.col("mw")
            + (F.col("s_d") - F.col("m_d")) * F.col("default_e3"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_e3").desc(), F.col("_y").asc()
    )
    # top_k > 1 keeps the runner-up rows too (rank column included) —
    # what the margin/reliability readout needs; the default stays the
    # plain argmax contract
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(
            F.col(id_col),
            F.col("_actual").alias("actual"),
            F.col("_y").alias("predicted"),
            F.col("score_e3"),
            F.col("rk"),
        )
    )


def nb_confusion(
    docs: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    train_buckets: int = 2,
    train_bucket: int = 0,
) -> DataFrame:
    """Confusion matrix of :func:`nb_classify` over the held-out split:
    (actual, predicted, n_docs) — the C x C quality readout that makes
    the classifier's behavior (not just its shape) driver-visible."""
    pred = nb_classify(
        docs, label_col, id_col, text_col, train_buckets, train_bucket
    )
    return (
        pred.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("actual", "predicted")
    )


def _bigrams(df: DataFrame, id_cols: list[str], text_col: str) -> DataFrame:
    """Explode (prev, cur) token bigrams with a <s> start symbol,
    built ROW-LOCALLY inside the token array — no window, no shuffle:
    pairs = [(arr[i-1] or <s>, arr[i]) for i in 1..len(arr)]."""
    arr = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_TOKEN_RE), 0)
    pairs = F.expr(
        "transform(sequence(1, size(_arr)), i -> "
        "struct(CASE WHEN i = 1 THEN '<s>' ELSE _arr[i - 2] END AS prev, "
        "_arr[i - 1] AS cur))"
    )
    return (
        df.select(*[F.col(c) for c in id_cols], arr.alias("_arr"))
        .filter(F.size("_arr") > 0)
        .select(*id_cols, F.explode(pairs).alias("_bg"))
        .select(*id_cols, F.col("_bg.prev").alias("prev"), F.col("_bg.cur").alias("cur"))
    )


def bigram_lm_xent(
    docs: DataFrame,
    train_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy under an add-one-smoothed bigram LM
    trained on the ``train_filter`` slice of the same frame — the
    CCNet/KenLM perplexity filter in exact integers. Returns one row
    per doc with >=1 token: (id, n_bigrams, xent_e3), where

        nlp_e3(u, v) = L(c(u) + V) - L(c(u,v) + 1)
        xent_e3(d)   = sum(nlp_e3 over d's bigrams) div n_bigrams(d)

    with c(u,v)/c(u) the train bigram/context counts, V = train
    unigram vocab + 1 (the unseen-type slot), and L the fixed-point
    bit-length log2. Unseen bigram => c=0 smoothed; unseen context =>
    nlp = L(V). High xent = far from the reference slice (gibberish /
    boilerplate relative to it); low = templated. Scale shape: counts
    are bounded model state; scoring is two hash joins on (prev, cur)
    and (prev); bigram construction is row-local (docstring of
    :func:`_bigrams`).
    """
    train = docs.filter(train_filter)
    tb = _bigrams(train, [], text_col)
    # the bigram-count table IS the model (bounded by observed-bigram
    # vocabulary); it feeds the context totals, the vocab scalar and
    # the scoring join — checkpoint lazily so the train tokenize runs
    # once, and derive the vocab from the counts (distinct cur of
    # c_uv == distinct cur of the bigrams) instead of re-tokenizing
    # the checkpoint here WINS (r11 A/B: 1.50-1.55 s vs 1.72 s plain
    # at sf0.1) unlike the reverted NB one: c_uv feeds the full-corpus
    # scoring join plus the context totals and vocab scalar, so the
    # un-checkpointed form re-runs the train tokenize three times
    c_uv = tb.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_uv")
    )
    c_uv = shared_subtree(c_uv)
    c_u = c_uv.groupBy("prev").agg(F.sum("c_uv").cast("bigint").alias("c_u"))
    vocab_n = c_uv.select("cur").distinct().agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("v")
    )

    sb = _bigrams(docs, [id_col], text_col)
    scored = (
        sb.join(c_uv, ["prev", "cur"], "left")
        .join(c_u, "prev", "left")
        .na.fill({"c_uv": 0, "c_u": 0})
        .crossJoin(F.broadcast(vocab_n))
        .withColumn("nlp_e3", _l2l("(c_u + v)") - _l2l("(c_uv + 1)"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("nlp_e3").cast("bigint").alias("_s"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.expr("_s div n_bigrams").cast("bigint").alias("xent_e3"),
        )
    )


def bigram_lm_xent_grouped(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GROUPED in-plan model training (r6): one add-one-smoothed
    bigram LM per ``group_col`` value, every model trained in the SAME
    hash-aggregate plan, each doc scored against ITS OWN group's model
    — the CCNet per-language setup (one KenLM per language bucket)
    generalized to any grouping column. Where :func:`bigram_lm_xent`
    asks "how far is this doc from the reference slice", this asks
    "how typical is this doc OF ITS OWN SOURCE" — the within-source
    outlier signal a per-domain cleaning pass gates on (a low-xent doc
    in a spam-heavy source is typical spam; a high-xent doc in an
    encyclopedic source is the anomaly worth auditing).

    Identical exact-integer arithmetic to the global LM (fixed-point
    bit-length log2; nlp_e3 = L(c_u + V) - L(c_uv + 1); xent = sum div
    n), with the group key carried through every count table:
    c(g, u, v), c(g, u), V(g). Scale shape: training N models costs
    ONE map-combining aggregate whose key space is the union of the
    per-group observed-bigram vocabularies — no per-group plan, no
    driver loop over groups; scoring is the same two hash joins plus
    a broadcast of the |groups|-row vocab table. Output one row per
    doc with >=1 token: (id, group, n_bigrams, xent_e3).
    """
    tb = _bigrams(docs, [group_col], text_col)
    # same reuse discipline as the global LM: checkpoint the count
    # table (the model) and read the per-group vocab off it instead of
    # tokenizing the corpus a second time
    c_uv = shared_subtree(
        tb.groupBy(group_col, "prev", "cur").agg(
            F.count(F.lit(1)).cast("bigint").alias("c_uv")
        )
    )
    c_u = c_uv.groupBy(group_col, "prev").agg(
        F.sum("c_uv").cast("bigint").alias("c_u")
    )
    vocab_n = (
        c_uv.select(group_col, "cur")
        .distinct()
        .groupBy(group_col)
        .agg((F.count(F.lit(1)) + 1).cast("bigint").alias("v"))
    )
    sb = _bigrams(docs, [id_col, group_col], text_col)
    scored = (
        sb.join(c_uv, [group_col, "prev", "cur"], "left")
        .join(c_u, [group_col, "prev"], "left")
        .na.fill({"c_uv": 0, "c_u": 0})
        .join(F.broadcast(vocab_n), group_col)
        .withColumn("nlp_e3", _l2l("(c_u + v)") - _l2l("(c_uv + 1)"))
    )
    return (
        scored.groupBy(id_col, group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("nlp_e3").cast("bigint").alias("_s"),
        )
        .select(
            id_col,
            group_col,
            "n_bigrams",
            F.expr("_s div n_bigrams").cast("bigint").alias("xent_e3"),
        )
    )


# margin-bucket edges in e3 log2 units (fixed, engine-identical)
NB_MARGIN_BINS = (1000, 5000, 20000)


def nb_reliability(
    docs: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    train_buckets: int = 2,
    train_bucket: int = 0,
) -> DataFrame:
    """RELIABILITY readout for the NB classifier: bucket held-out docs
    by the winner's MARGIN over the runner-up (the model's own
    confidence signal, in exact e3 log2 units) and report accuracy per
    bucket — the observability table that tells a filtering pipeline
    which confidence threshold to gate on (a well-behaved classifier
    is monotonically more accurate at higher margins; a flat table
    means the scores carry no confidence signal).

    Margins are differences of exact fixed-point scores, bucketed at
    fixed edges — no floats, no data-dependent quantiles — so the
    whole table hash-matches. Output: (margin_bin, n_docs,
    n_correct)."""
    top2 = shared_subtree(
        nb_classify(
            docs, label_col, id_col, text_col, train_buckets, train_bucket,
            top_k=2,
        )
    )  # rank-1 and rank-2 arms share one scoring run
    a = top2.filter(F.col("rk") == 1).select(
        id_col, "actual", "predicted", F.col("score_e3").alias("_s1")
    )
    b = top2.filter(F.col("rk") == 2).select(
        id_col, F.col("score_e3").alias("_s2")
    )
    lo, mid, hi = NB_MARGIN_BINS
    m = a.join(b, id_col).withColumn("_m", F.col("_s1") - F.col("_s2"))
    binned = m.select(
        F.when(F.col("_m") < lo, F.lit(0))
        .when(F.col("_m") < mid, F.lit(1))
        .when(F.col("_m") < hi, F.lit(2))
        .otherwise(F.lit(3))
        .alias("margin_bin"),
        F.when(F.col("predicted") == F.col("actual"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("_ok"),
    )
    res = binned.groupBy("margin_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_ok").cast("bigint").alias("n_correct"),
    )
    # Degenerate guard: a single training class has no rank-2 arm, so
    # the margin join empties and the table would be silently EMPTY.
    # Emit the defined sentinel row (margin_bin=-1, 0, 0) in that case
    # — on any real corpus the filter yields zero rows and the plan is
    # unchanged.
    sentinel = (
        binned.agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == 0)
        .select(
            F.lit(-1).alias("margin_bin"),
            F.lit(0).cast("bigint").alias("n_docs"),
            F.lit(0).cast("bigint").alias("n_correct"),
        )
    )
    return res.unionByName(sentinel)


def nb_binary_auc(
    docs: DataFrame,
    pos_label: str = "en",
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    train_buckets: int = 2,
    train_bucket: int = 0,
    bucket_bits: int = 16,
) -> DataFrame:
    """ROC-AUC of the trained NB model as a one-vs-rest detector for
    ``pos_label``, in EXACT integers (Mann-Whitney U): per held-out
    doc, the score is the fixed-point MARGIN between the positive
    class's log-joint and the best other class's (the length-invariant
    detector score — see inline note); AUC = P(s_pos_doc > s_neg_doc)
    + P(=)/2 over all
    (pos, neg) doc pairs — never enumerated: U2 = Σ over distinct
    scores of 2·c_pos·(negatives strictly below) + c_pos·c_neg, and
    auc_e6 = U2·1e6 div (2·n_pos·n_neg). Output one row:
    (n_pos, n_neg, auc_e6).

    Scale discipline (scores are per-doc — a global rank would be a
    single-partition sort): the cum-negatives-below term is split
    two-level like text_vocab_build — distinct scores bucket by
    ((s − min) >> bucket_bits) (min-shift keeps div = floor in both
    engines; signed integer division differs across engines and
    Python replicas — the stats_daily_trend trap), cross-bucket
    prefix sums run on the BOUNDED bucket grid, within-bucket ranks
    partition by bucket — both windows bounded or parallel. The same
    U2 integer as a global cumsum, so the simple global-window oracle
    hash-matches.
    """
    pred = shared_subtree(
        nb_classify(
            docs, label_col, id_col, text_col, train_buckets, train_bucket,
            top_k=1_000_000_000,
        )
    )  # pos + best-other both read it —
    # share one scoring run instead of doubling the whole NB lineage
    # (diamond-reuse discipline; plan audit measured 120 parquet-scan
    # references without this)
    # The detector score is the MARGIN score(pos) - max_others, not the
    # raw class log-joint: the joint scales with doc LENGTH (every
    # token adds negative log-prob), so ranking raw joints across docs
    # mostly ranks lengths (measured: AUC ~0.50 on testdata); in the
    # margin the shared length cost cancels and the class evidence
    # remains (AUC pins below and in tests/test_textmodels.py).
    pos_s = pred.filter(F.col("predicted") == pos_label).select(
        id_col,
        F.col("score_e3").alias("_sp"),
        F.when(F.col("actual") == pos_label, F.lit(1))
        .otherwise(F.lit(0))
        .alias("_p"),
    )
    other = (
        pred.filter(F.col("predicted") != pos_label)
        .groupBy(id_col)
        .agg(F.max("score_e3").alias("_so"))
    )
    sc = pos_s.join(other, id_col).select(
        (F.col("_sp") - F.col("_so")).alias("s"), "_p"
    )
    g = sc.groupBy("s").agg(
        F.sum("_p").cast("bigint").alias("c_pos"),
        F.sum(1 - F.col("_p")).cast("bigint").alias("c_neg"),
    )
    smin = g.agg(F.min("s").alias("_smin"))
    gb = g.crossJoin(F.broadcast(smin)).withColumn(
        "b", F.expr(f"(s - _smin) div {1 << bucket_bits}")
    )
    wb = Window.orderBy("b")  # bounded bucket grid, not corpus rows
    bg = (
        gb.groupBy("b")
        .agg(F.sum("c_neg").cast("bigint").alias("_bneg"))
        .withColumn(
            "_neg_before_b",
            (F.sum("_bneg").over(wb) - F.col("_bneg")).cast("bigint"),
        )
        .select("b", "_neg_before_b")
    )
    wloc = Window.partitionBy("b").orderBy("s")
    per = gb.join(bg, "b").withColumn(
        "_neg_below",
        F.col("_neg_before_b")
        + F.sum("c_neg").over(wloc)
        - F.col("c_neg"),
    )
    u2 = per.agg(
        F.sum(
            2 * F.col("c_pos") * F.col("_neg_below")
            + F.col("c_pos") * F.col("c_neg")
        )
        .cast("bigint")
        .alias("_u2")
    )
    tot = g.agg(
        F.coalesce(F.sum("c_pos"), F.lit(0)).cast("bigint").alias("n_pos"),
        F.coalesce(F.sum("c_neg"), F.lit(0)).cast("bigint").alias("n_neg"),
    )
    # Degenerate guards: a single training class empties the best-other
    # join (no scores at all), and n_pos or n_neg = 0 makes the U
    # denominator zero. Both yield the DEFINED sentinel auc_e6 = -1
    # (impossible for a real AUC, range [0, 1e6]) with honest counts —
    # never a silent empty/NULL result.
    return (
        u2.crossJoin(F.broadcast(tot))
        .select(
            "n_pos",
            "n_neg",
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.expr(
                    "coalesce(_u2, 0) * 1000000 div (2 * n_pos * n_neg)"
                ),
            )
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("auc_e6"),
        )
    )
