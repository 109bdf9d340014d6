"""Aggregations (SURVEY §2.4) + groupBy breadth the reference lacks.

The reference's only aggregate is a global mean (JavaDoubleRDD.mean,
CollabFilterCassandra8.java:50-53). Everything here is a Catalyst
hash-aggregate: partial (map-side combine) per partition, shuffle only
the partial states on the group key, final merge — the shape that
scales linearly to 100 TB.

Determinism note (matters for oracle hash-checks and for reproducible
pipelines): floating-point ``sum``/``avg`` over a shuffled dataset is
order-dependent in ANY parallel engine. ``decimal_sum`` computes exact
fixed-point sums (associative integer arithmetic) and casts back, so
results are bit-identical run-to-run and engine-to-engine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_cassandra_collabfiltering_spark.operators.reuse import shared_subtree


def decimal_sum(col: str, scale: int = 2, alias: str | None = None) -> Column:
    """Exact, order-independent sum of a double column: cast each value
    to DECIMAL(18, scale) (exact at source precision for money-like
    data), sum in integer space, cast back to double."""
    c = F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double")
    return c.alias(alias or f"sum_{col}")


def decimal_avg(col: str, scale: int = 2, places: int = 6, alias: str | None = None) -> Column:
    """Order-independent mean: exact decimal sum / count, rounded.
    The single final division is deterministic; rounding guards the
    last-bit difference of sum/count division across engines."""
    c = F.round(
        F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double") / F.count(F.lit(1)),
        places,
    )
    return c.alias(alias or f"avg_{col}")


def group_agg(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    """GroupBy aggregate (absent from the reference — breadth)."""
    return df.groupBy(*keys).agg(*aggs)


def rollup_agg(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    """ROLLUP hierarchy totals."""
    return df.rollup(*keys).agg(*aggs)


def cube_agg(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    """CUBE over all key subsets."""
    return df.cube(*keys).agg(*aggs)


def top_frequent(
    df: DataFrame, col: str, n: int = 20, alias: str = "n_occurrences"
) -> DataFrame:
    """Exact heavy hitters: top-``n`` most frequent values of a column
    (count desc, value asc tiebreak — fully deterministic). The exact
    anchor for the count-min estimates below; at scale this is a
    partial-agg count (map-side combine on the value key) + TopK —
    fine whenever the DISTINCT value set fits the shuffle, which is
    exactly the regime where you don't need the sketch yet."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias(alias))
        .orderBy(F.col(alias).desc(), F.col(col).asc())
        .limit(n)
    )


def count_min_estimates(
    df: DataFrame,
    col: str,
    items: list[str],
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> list[tuple[str, int]]:
    """Count-min sketch estimates for ``items`` — the sub-linear-memory
    heavy-hitter path when the distinct value set does NOT fit a
    shuffle. ``F.count_min_sketch`` builds the sketch as a mergeable
    partial aggregate (each partition sketches locally, merges
    associatively — the same contract as the rollup partials), so the
    full pass over the column never shuffles raw values, only
    fixed-size sketch arrays. CMS guarantees estimate >= true count,
    overshooting by at most eps·N with probability ``confidence``
    (pinned in tests). Deterministic under ``seed``.

    Returns [(item, estimated_count)] — a driver-side list: the sketch
    is one small binary blob by design, and querying it is an O(1)
    lookup, not a distributed job.
    """
    blob = df.agg(
        F.count_min_sketch(
            F.col(col), F.lit(eps), F.lit(confidence), F.lit(seed)
        ).alias("s")
    ).first()["s"]
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(blob)
    )
    return [(item, sketch.estimateCount(item)) for item in items]


def space_saving_summaries(
    df: DataFrame, col: str, capacity: int = 256
) -> DataFrame:
    """Partition-local Misra-Gries SUMMARIES — the mergeable unit under
    :func:`space_saving_topk` and the streaming merge
    (:func:`space_saving_merge`): each partition emits <= ``capacity``
    (value, est, 0) counter rows plus ONE (NULL, 0, err) sentinel
    carrying its pruning total, so the global error bound is a plain
    SUM downstream."""
    import pandas as pd

    out_schema = "value string, est bigint, err bigint"

    def mg(batches):
        counters: dict[str, int] = {}
        err = 0
        for pdf in batches:
            vc = pdf[col].astype(str).value_counts()
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > capacity:
                cut = sorted(counters.values(), reverse=True)[capacity]
                err += cut
                counters = {
                    v: c - cut for v, c in counters.items() if c > cut
                }
        yield pd.DataFrame(
            {
                "value": list(counters) + [None],
                "est": list(counters.values()) + [0],
                "err": [0] * len(counters) + [err],
            }
        )

    return df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        mg, out_schema
    )


def space_saving_merge(summaries: DataFrame, capacity: int = 256) -> DataFrame:
    """MERGE a union of Misra-Gries summary tables back into ONE
    canonical summary of <= ``capacity`` counter rows + one error
    sentinel — the Agarwal et al. mergeable-summaries merge, which is
    what lets the sketch STREAM: each micro-batch's summaries union
    into the persisted state and re-prune, keeping state bounded
    forever while preserving the bound true ∈ [est, est + err].

    Merge = sum per-value ests, then subtract the (capacity+1)-largest
    merged est (count-desc/value-asc deterministic order) from every
    counter, dropping non-positive ones and adding the cut to the
    error total. The input is already a bounded summary table (a few
    x capacity rows), so the rank window over it is driver-scale by
    construction."""
    from pyspark.sql import Window

    vals = (
        summaries.filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.sum("est").cast("bigint").alias("est"))
    )
    err = summaries.agg(F.sum("err").cast("bigint").alias("_err"))
    w = Window.orderBy(F.col("est").desc(), F.col("value").asc())
    ranked = vals.withColumn("_rk", F.row_number().over(w))
    cut = ranked.filter(F.col("_rk") == capacity + 1).select(
        F.col("est").alias("_cut")
    )
    kept = (
        ranked.join(F.broadcast(cut), how="left")
        .withColumn("_c", F.coalesce(F.col("_cut"), F.lit(0)))
        .filter(F.col("est") > F.col("_c"))
        .select(
            "value",
            (F.col("est") - F.col("_c")).cast("bigint").alias("est"),
            F.lit(0).cast("bigint").alias("err"),
        )
    )
    sentinel = (
        err.join(F.broadcast(cut), how="left")
        .select(
            F.lit(None).cast("string").alias("value"),
            F.lit(0).cast("bigint").alias("est"),
            (F.col("_err") + F.coalesce(F.col("_cut"), F.lit(0)))
            .cast("bigint")
            .alias("err"),
        )
    )
    return kept.unionByName(sentinel)


def space_saving_topk(
    df: DataFrame, col: str, k: int = 20, capacity: int = 256
) -> DataFrame:
    """Misra-Gries / space-saving heavy hitters with BOUNDED memory:
    each partition keeps at most ``capacity`` counters (Arrow-batched
    mapInPandas; batch counts folded in vectorized, then pruned by
    subtracting the (capacity+1)-largest count — the standard mergeable
    batched MG step), and only those counter rows ever shuffle. The
    final merge is one small groupBy over <= n_partitions x capacity
    summary rows — raw values never leave their partition, which is
    the piece CMS (fixed-size blob, query-by-item) and the exact
    top_frequent (full distinct-key shuffle) don't give you: a
    SCANNABLE top-k whose shuffle is O(capacity), not O(distinct).

    Output: (value, est, max_err), count-desc/value-asc top-k, where
    ``est`` is a LOWER bound on the true count, ``max_err`` (same for
    every row) is the summed per-partition subtraction total, and
    true count ∈ [est, est + max_err]. Any value with true count >
    max_err is guaranteed present (Agarwal et al., Mergeable
    Summaries). capacity >= distinct values ==> est exact, max_err 0.
    Deterministic: counting + pruning are order-free arithmetic.
    """
    summaries = space_saving_summaries(df, col, capacity)
    total_err = summaries.agg(F.sum("err").alias("max_err"))
    return (
        summaries.filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.sum("est").alias("est"))
        .join(F.broadcast(total_err))
        .orderBy(F.col("est").desc(), F.col("value").asc())
        .limit(k)
    )


def fixed_width_histogram(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lo: float,
    hi: float,
    bins: int,
) -> DataFrame:
    """Fixed-range histogram counts per group: (group..., bin, cnt).

    bin = clamp(floor((x − lo)·bins/(hi − lo)), 0, bins−1) — one
    per-row expression, then ONE hash-aggregate on (group, bin). The
    partial states are plain counts, so they map-side combine AND
    merge across any partitioning/time-slicing (sum the cnt column) —
    the mergeable-sketch property that makes this the 100 TB quantile
    path: bounded state (bins rows per group) instead of shuffling
    every value like an exact percentile. All arithmetic is
    deterministic per-row double math → exact cross-engine oracle.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    x = F.col(value_col).cast("double")
    b = F.floor((x - F.lit(float(lo))) * bins / F.lit(float(hi) - float(lo)))
    clamped = F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1)).cast("int")
    return (
        df.select(*group_cols, clamped.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    hist: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[float],
    lo: float,
    hi: float,
    bins: int,
) -> DataFrame:
    """Quantile estimates from fixed-width histogram counts: for each
    quantile q, the UPPER EDGE of the first bin whose cumulative count
    reaches rank ceil(q·n) — error bounded by one bin width (hi−lo)/
    bins, the classic histogram-quantile tradeoff. Input is the
    (group, bin, cnt) table of :func:`fixed_width_histogram` — or any
    MERGE of such tables (sum cnt per (group, bin) first), which is
    how a continuous-aggregate rollup serves sliding quantiles without
    touching raw data. One window cumsum over ≤ bins rows per group +
    one explode of the constant quantile list; no second scan.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("bin")
    wn = Window.partitionBy(*group_cols)
    c = hist.select(
        *group_cols,
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    qlit = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    width = (float(hi) - float(lo)) / bins
    est = F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(width)
    return (
        c.select(*group_cols, "bin", "cum", "n", qlit)
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy(*group_cols, "q")
        .agg(F.min(est).alias("est"))
    )


# --- Engine-portable HyperLogLog (Flajolet et al. 2007) -------------------

HLL_M = 64          # registers (alpha_64 = 0.709 per the paper)
HLL_ALPHA = 0.709
_HLL_CAP = 55       # cap rho so 2^(CAP - rho) stays a positive bigint


def _hll_rho(hex15: Column) -> Column:
    """Leading-zero rank of the 60-bit value encoded by 15 hex chars:
    rho = (# leading zero BITS) + 1, computed from the hex STRING so
    no log/bit-scan builtin is needed — 4 bits per leading '0' char
    plus the first non-zero char's own leading zeros via a 15-way
    CASE. Pure string/integer ops, identical in Spark and DuckDB."""
    z = F.length(F.regexp_extract(hex15, "^0*", 0))
    first = F.substring(F.regexp_replace(hex15, "^0*", ""), 1, 1)
    add = (
        F.when(first == "", F.lit(0))  # all 60 bits zero: rho = 61
        .when(first == "1", F.lit(3))
        .when(first.isin("2", "3"), F.lit(2))
        .when(first.isin("4", "5", "6", "7"), F.lit(1))
        .otherwise(F.lit(0))
    )
    return z * 4 + add + 1


def hll_registers(
    df: DataFrame, group_cols: Sequence[str], value_col: str
) -> DataFrame:
    """Per-group HLL register table — the MERGEABLE, ENGINE-PORTABLE
    approximate-distinct state. Spark's approx_count_distinct carries
    a private HLL++ binary sketch no other engine reproduces; this
    formulation derives bucket and rank from md5 (identical bytes
    everywhere), so the registers — and therefore the ESTIMATE — are
    bit-identical across engines and oracle-checkable, while keeping
    the properties that matter at 100 TB: state is <= 64 rows per
    group regardless of cardinality, registers merge across any
    partitioning/time-slicing by max, and the input shuffle carries
    (group, bucket, rho) ints, never values.

    bucket = md5 hex chars 16-17 (8 bits) mod 64; rho = leading-zero
    rank of the 60-bit value in chars 1-15 (independent bits).
    Output: (group..., bucket, rmax).
    """
    s = F.md5(F.col(value_col).cast("string").cast("binary"))
    bucket = (F.conv(F.substring(s, 16, 2), 16, 10).cast("int") % HLL_M).alias(
        "bucket"
    )
    rho = _hll_rho(F.substring(s, 1, 15)).alias("rho")
    return (
        # NULL values hash to NULL and would occupy a phantom NULL
        # bucket (inflating n_buckets with a zero-contribution row);
        # a NULL is not a distinct value — drop it at the scan
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, bucket, rho)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rmax"))
    )


def hll_estimate(reg: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Distinct-count estimate from a register table (or any max-merge
    of register tables). The harmonic mean is computed in EXACT
    integer arithmetic — sum of 2^(55 - rho) via bigint shifts, absent
    registers contributing 2^55 — so parallel sum order cannot change
    a bit; the single final division of two exact numbers is then
    deterministic too. No small-range linear-counting correction (it
    needs ln(), whose last-ulp behavior differs across libms — the
    raw estimator's low-cardinality bias is documented instead;
    `n_buckets` lets callers see how saturated the sketch is).

    Output: (group..., n_buckets, harmonic_scaled, est_distinct).
    """
    # SQL form: the DSL F.shiftleft requires a literal bit count, but
    # the SQL function accepts an expression for it
    term = F.expr(f"shiftleft(cast(1 as bigint), {_HLL_CAP} - least(rmax, {_HLL_CAP}))")
    agg = reg.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(term).cast("bigint").alias("present_sum"),
    )
    harmonic = (
        F.col("present_sum")
        + (F.lit(HLL_M) - F.col("n_buckets"))
        * F.lit(1 << _HLL_CAP).cast("bigint")
    ).alias("harmonic_scaled")
    num = F.lit(float(HLL_ALPHA * HLL_M * HLL_M)) * F.lit(float(1 << _HLL_CAP))
    return agg.select(
        *group_cols,
        "n_buckets",
        harmonic,
        F.round(num / F.col("harmonic_scaled").cast("double"), 4).alias(
            "est_distinct"
        ),
    )


def chi2_contingency(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Chi-square contingency analysis of two categorical columns —
    the independence test behind corpus-drift checks (is the language
    mix independent of the source?). One count aggregate builds the
    contingency cells; row/column totals join back as broadcasts
    (bounded category cardinality); expected counts and per-cell
    contributions are deterministic per-row double arithmetic from
    exact integers.

    The chi-square TOTAL is summed in DECIMAL(38,6) of the per-cell
    contributions rounded to 6 decimals — decimal addition is exact
    and order-independent, so the statistic is reproducible across
    partitionings and engines (a plain double sum would be
    order-dependent; the module's portability rule). The window
    runs over the bounded cell table, not the data.

    Output: one row per observed cell — (row, col, obs, expected_r6,
    contrib_r6, chi2_total, dof).
    """
    obs = df.groupBy(row_col, col_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    rt = obs.groupBy(row_col).agg(F.sum("obs").alias("rt"))
    ct = obs.groupBy(col_col).agg(F.sum("obs").alias("ct"))
    n = obs.agg(F.sum("obs").alias("n"))
    cells = (
        obs.join(F.broadcast(rt), row_col)
        .join(F.broadcast(ct), col_col)
        .join(F.broadcast(n))
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n").cast("double")
    contrib = F.round((F.col("obs") - e) * (F.col("obs") - e) / e, 6)
    from pyspark.sql import Window as _W

    w = _W.partitionBy()  # bounded: one row per observed cell
    out = cells.select(
        row_col,
        col_col,
        "obs",
        F.round(e, 6).alias("expected_r6"),
        contrib.alias("contrib_r6"),
    ).withColumn(
        "chi2_total",
        F.sum(F.col("contrib_r6").cast("decimal(38,6)"))
        .over(w)
        .cast("double"),
    )
    # dof from the same bounded-cell window — no driver-side action
    dof = (F.size(F.collect_set(row_col).over(w)) - 1) * (
        F.size(F.collect_set(col_col).over(w)) - 1
    )
    return out.withColumn("dof", dof.cast("bigint"))


def join_size_estimate(
    a: DataFrame, b: DataFrame, key_a: str, key_b: str
) -> DataFrame:
    """Pre-flight equi-join cardinality estimate from HLL NDVs — the
    textbook optimizer formula |A|*|B| / max(ndv_a, ndv_b) (uniform
    key assumption; what a CBO derives from column statistics before
    picking a join strategy). Both NDVs come from the engine-portable
    HLL, so the whole estimate is reproducible cross-engine; the true
    join count rides along so the estimate is self-evaluating.

    Cost: one O(registers) sketch pass per side + the actual join's
    count (drop `true_rows` in production — it defeats the point of
    estimating). Output: one row — (rows_a, rows_b, ndv_a, ndv_b,
    est_rows, true_rows).
    """
    ra = hll_estimate(hll_registers(a, [], key_a), []).select(
        F.col("est_distinct").alias("ndv_a")
    )
    rb = hll_estimate(hll_registers(b, [], key_b), []).select(
        F.col("est_distinct").alias("ndv_b")
    )
    ca = a.agg(F.count(F.lit(1)).cast("bigint").alias("rows_a"))
    cb = b.agg(F.count(F.lit(1)).cast("bigint").alias("rows_b"))
    true_rows = (
        a.select(F.col(key_a).alias("_k"))
        .join(b.select(F.col(key_b).alias("_k")), "_k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_rows"))
    )
    return (
        ca.join(cb)
        .join(ra)
        .join(rb)
        .join(true_rows)
        .select(
            "rows_a",
            "rows_b",
            "ndv_a",
            "ndv_b",
            F.round(
                F.col("rows_a").cast("double")
                * F.col("rows_b").cast("double")
                / F.greatest(F.col("ndv_a"), F.col("ndv_b")),
                4,
            ).alias("est_rows"),
            "true_rows",
        )
    )


def robust_outliers(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group robust outlier detection — median/MAD instead of
    mean/stddev, so a handful of corrupt extreme values cannot mask
    themselves by inflating the very spread statistic used to flag
    them (the failure mode of z-scores on heavy-tailed data).

    EXACT integer formulation: ``value_col`` must already be an exact
    integer (cents/micro-units). To avoid fractional medians, every
    statistic is carried doubled — ``med2`` = x_(k1) + x_(k2) (the two
    middle order statistics; = 2·median), per-row deviation
    d = |2x − med2| (= 2·|x − median|), ``mad4`` = d_(k1) + d_(k2)
    (= 4·MAD). The classic |x − med| > 3·MAD flag is then the
    all-integer 2·d > 3·mad4 — order-independent, hash-exact across
    engines, no float division anywhere.

    Scale shape: two per-group rank selections, each one window sort
    PARTITIONED BY the group (parallel across groups, never a global
    sort) + one map-side-combinable agg. Exact medians fundamentally
    need rank selection; for the unbounded-group regime use the
    mergeable histogram quantiles (:func:`histogram_quantiles`) —
    this operator is the exact companion for bounded-cardinality
    slices (per-priority, per-brand, per-day).

    Output: (group, n, med2, mad4, n_outliers) — med2/mad4 in
    2x / 4x input units, exact bigints.
    """
    from pyspark.sql import Window

    w_ord = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    w_all = Window.partitionBy(group_col)
    pick = (
        "case when _rn = (_n + 1) div 2 then 1 else 0 end"
        " + case when _rn = (_n + 2) div 2 then 1 else 0 end"
    )
    r = (
        df.select(F.col(group_col), F.col(value_col).cast("bigint").alias("_x"))
        .withColumn("_rn", F.row_number().over(w_ord.orderBy(F.col("_x").asc())))
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
    )
    med = r.groupBy(group_col).agg(
        F.max("_n").cast("bigint").alias("n"),
        F.sum(F.expr(f"_x * ({pick})")).cast("bigint").alias("med2"),
    )
    d = r.join(med, group_col).select(
        group_col, "_x", "n", "med2", F.abs(2 * F.col("_x") - F.col("med2")).alias("_d")
    )
    w_ord2 = Window.partitionBy(group_col).orderBy(F.col("_d").asc())
    dr = d.withColumn("_rn", F.row_number().over(w_ord2)).withColumn(
        "_n", F.col("n")
    )
    mad = dr.groupBy(group_col).agg(
        F.sum(F.expr(f"_d * ({pick})")).cast("bigint").alias("mad4")
    )
    return (
        d.join(mad, group_col)
        .groupBy(group_col, "n", "med2", "mad4")
        .agg(
            F.sum(F.when(2 * F.col("_d") > 3 * F.col("mad4"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(group_col, "n", "med2", "mad4", "n_outliers")
    )


def ks_statistic(
    a: DataFrame, b: DataFrame, value_col: str
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between two slices of a
    corpus — the standard distribution-drift detector (did this
    week's ingest shift the value distribution vs last week's? did a
    source change its length profile?) with NO distributional
    assumption, sensitive to location AND shape changes.

    EXACT integer formulation: ``value_col`` must be an exact integer
    (cents/micro-units). D = max over values of |F_a(v) - F_b(v)| is
    computed as max |cum_a(v)·n_b - cum_b(v)·n_a| over the DISTINCT
    value domain, an integer — no float ECDFs, so the statistic (and
    the argmax value, min-value tiebreak) hash-matches across engines.

    Scale shape: rows reduce to one (value, cnt_a, cnt_b) row per
    DISTINCT value first (map-side combinable; the domain of a
    fixed-point measurement column is bounded — cents of a bounded
    price, micro-ratios in [0, 1e6]), so the ordered cumulative
    window runs over the BOUNDED value table, not the data — the same
    window-over-groups discipline as vocab_build/histogram_quantiles.
    The max itself needs only cum at the distinct values (the ECDF
    difference is constant between them; both ECDFs step AT a
    value, and |F_a - F_b| evaluated right-continuously at each step
    point attains the supremum).

    Output: one row (n_a, n_b, d_e6, at_value) — d_e6 = floor(D·1e6),
    at_value = smallest value attaining the max.
    """
    from pyspark.sql import Window

    va = a.select(F.col(value_col).cast("bigint").alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).alias("ca")
    )
    vb = b.select(F.col(value_col).cast("bigint").alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).alias("cb")
    )
    grid = (
        va.join(vb, "v", "full")
        .select(
            "v",
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "v",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
    )
    scored = (
        cum.join(F.broadcast(a.agg(F.count(F.lit(1)).alias("n_a"))))
        .join(F.broadcast(b.agg(F.count(F.lit(1)).alias("n_b"))))
        .select(
            "n_a",
            "n_b",
            "v",
            F.abs(F.col("cuma") * F.col("n_b") - F.col("cumb") * F.col("n_a")).alias(
                "_num"
            ),
        )
    )
    d = scored.groupBy("n_a", "n_b").agg(F.max("_num").alias("_d"))
    return (
        scored.join(F.broadcast(d), ["n_a", "n_b"])
        .filter(F.col("_num") == F.col("_d"))
        .groupBy("n_a", "n_b", "_d")
        .agg(F.min("v").alias("at_value"))
        .select(
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("(_d * 1000000) div (n_a * n_b)").cast("bigint").alias("d_e6"),
            F.col("at_value").cast("bigint").alias("at_value"),
        )
    )


def gini_concentration(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative integer measure —
    the concentration/imbalance readout a corpus owner tracks (is one
    crawl host contributing half the bytes? are event counts
    concentrating on a few users?): 0 = perfectly even, -> 1 = one
    row owns everything.

    EXACT integer formulation via the sorted-rank identity
    G = (2·Σ i·x_(i) − (n+1)·Σ x) / (n·Σ x): one per-group rank
    window (value, then any stable tiebreak — ties don't change the
    sum since equal values commute) + one map-side-combinable agg;
    output gini_e6 = floor-scaled, hash-exact. Groups with zero total
    report 0 (even by convention). Same window-partitioned-by-group
    scale discipline as robust_outliers.

    Output: (group, n, total, gini_e6).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    r = df.select(
        F.col(group_col), F.col(value_col).cast("bigint").alias("_x")
    ).withColumn("_i", F.row_number().over(w.orderBy(F.col("_x").asc())))
    return (
        r.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_x").cast("bigint").alias("total"),
            F.sum(F.col("_i") * F.col("_x")).cast("bigint").alias("_ix"),
        )
        .select(
            group_col,
            "n",
            "total",
            F.expr(
                "case when total = 0 then cast(0 as bigint)"
                " else ((2 * _ix - (n + 1) * total) * 1000000)"
                " div (n * total) end"
            ).cast("bigint").alias("gini_e6"),
        )
    )


def skew_profile(
    df: DataFrame, key_col: str, top_n: int = 10
) -> DataFrame:
    """Join/partition-key SKEW diagnostic — the pre-flight check that
    decides whether a planned shuffle needs salting
    (operators/joins_ext.salted_join) or AQE skew splitting before it
    runs at corpus scale: the heaviest keys, each with its share of
    all rows and its multiple of the mean key load.

    Plan shape: one map-side-combinable count per key (the only
    full-data exchange, carrying (key, partial-count) pairs — never
    payload), then the three corpus scalars (total rows, distinct
    keys, max load) reduce from the per-key table and BROADCAST onto
    a top-n TakeOrdered of the same table. Output is bounded at
    ``top_n`` rows however large the input.

    Columns: rank, key, cnt, share_e6 (cnt/total), hot_e6 (cnt as a
    multiple of the floored mean key load total div n_keys — 1e6
    means a perfectly uniform key; the AQE skew-join trigger is ~5e6).
    Exact integer arithmetic throughout, with every product bounded by
    total*1e6 so nothing overflows before a 9-trillion-row input —
    hash-stable cross-engine."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    scalars = counts.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(top_n)
    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    return (
        top.join(F.broadcast(scalars))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "key",
            "cnt",
            F.expr("(cnt * 1000000) div total").alias("share_e6"),
            F.expr("(cnt * 1000000) div (total div n_keys)").alias("hot_e6"),
        )
    )


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Table PROFILE — the data-quality dashboard row per column:
    null count, exact distinct count, and min/max rendered to a
    uniform string column. The first thing a pipeline runs against a
    new 100 TB delivery: nullability drift, cardinality explosions,
    and out-of-range values all show up here before any query does.

    One aggregation pass over the table computes every column's
    stats (Spark expands the multi-distinct into grouped branches —
    at corpus scale swap the exact NDV for the mergeable portable-HLL
    sketch in this module, same output shape); the single result row
    then unpivots via ``stack`` into one row per column, so the
    output is bounded at |columns| rows.

    Cross-engine determinism: min/max are computed on the NATIVE type
    (so numeric order, not lexicographic) and only the result is
    rendered; doubles render through DECIMAL(30,6) because Java and
    C++ shortest-double-to-string disagree in the exponent regime,
    decimal rendering does not."""
    from pyspark.sql.types import DoubleType, FloatType

    cols = cols or df.columns
    exprs: list = []
    for c in cols:
        exprs.append(F.count(F.lit(1)).cast("bigint").alias(f"{c}__rows"))
        exprs.append(
            # coalesce: SUM over an EMPTY table is NULL, and an empty
            # delivery should profile as 0 nulls, not unknown
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias(f"{c}__nulls")
        )
        exprs.append(F.count_distinct(F.col(c)).cast("bigint").alias(f"{c}__ndv"))
        if isinstance(df.schema[c].dataType, (DoubleType, FloatType)):
            render_min = F.min(F.col(c)).cast("decimal(30,6)").cast("string")
            render_max = F.max(F.col(c)).cast("decimal(30,6)").cast("string")
        else:
            render_min = F.min(F.col(c)).cast("string")
            render_max = F.max(F.col(c)).cast("string")
        exprs.append(render_min.alias(f"{c}__min"))
        exprs.append(render_max.alias(f"{c}__max"))
    one = df.agg(*exprs)
    stack_args = ", ".join(
        f"'{c}', `{c}__rows`, `{c}__nulls`, `{c}__ndv`, `{c}__min`, `{c}__max`"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) as "
        "(column, n_rows, n_null, n_distinct, min_val, max_val)"
    )


# Poisson(1) CDF thresholds in 2^60 fixed point: a 60-bit uniform draw
# u maps to weight w = #{k : threshold_k <= u} (i.e. the inverse CDF),
# capped at 9. Exact integers computed once from the e^-1 series at
# 60-digit precision — both engines compare against the SAME constants,
# so the sampled weights are bit-identical cross-engine.
_POISSON1_T60 = [
    424136118829305329, 848272237658610659, 1060340297073263324,
    1131029650211480879, 1148701988496035267, 1152236456152946145,
    1152825534095764625, 1152909688087595836, 1152920207336574738,
]


def _poisson1_weight_sql(draw_expr: str) -> str:
    """SQL (valid on both engines) for the Poisson(1) inverse CDF of a
    60-bit draw expression."""
    return "(" + " + ".join(
        f"(CASE WHEN {draw_expr} >= {t} THEN 1 ELSE 0 END)"
        for t in _POISSON1_T60
    ) + ")"


def bootstrap_mean_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    n_replicates: int = 50,
) -> DataFrame:
    """POISSON BOOTSTRAP confidence interval for a per-group mean — the
    distributed bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012): resampling-with-
    replacement is impossible to coordinate across a cluster, but each
    row's multiplicity in replicate b converges to Poisson(1), which
    needs only the ROW — here a deterministic md5 draw of (key, b)
    through an exact fixed-point inverse CDF (:data:`_POISSON1_T60`),
    so every replicate is reproducible across runs, engines, retries,
    and partitionings (a seeded ``rand()`` is none of those).

    Plan: the replicate index explodes INSIDE the scan (B rows per
    input row feeding a map-side-combinable agg), so the only
    exchange carries (group, b) partial sums — G x B rows, however
    large the input. Replicate means are exact e6 floor-div integers;
    the CI is the percentile-bootstrap order statistic of the B means
    (rank ceil(0.025 B) and B+1-that) over the tiny (G x B) table.

    Output per group: (group, n, mean_e6 point estimate,
    ci_lo_e6, ci_hi_e6, n_replicates)."""
    from pyspark.sql import Window

    b = int(n_replicates)
    draw = (
        "cast(conv(substring(md5(cast(concat(cast(_k as string), ':', "
        "cast(_b as string)) as binary)), 1, 15), 16, 10) as bigint)"
    )
    w_expr = _poisson1_weight_sql(draw)
    rep = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("bigint").alias("_x"),
            F.col(key_col).alias("_k"),
        )
        .filter(F.col("_k").isNotNull())
        .select("*", F.explode(F.sequence(F.lit(1), F.lit(b))).alias("_b"))
        .withColumn("_w", F.expr(w_expr))
    )
    means = (
        rep.groupBy("grp", "_b")
        .agg(
            F.sum(F.expr("_w * _x")).cast("bigint").alias("_swx"),
            F.sum("_w").cast("bigint").alias("_sw"),
        )
        .withColumn(
            "_mean_e6",
            F.expr("CASE WHEN _sw = 0 THEN NULL ELSE (_swx * 1000000) div _sw END"),
        )
    )
    rk = Window.partitionBy("grp").orderBy(F.col("_mean_e6").asc_nulls_first())
    lo_rank = -(-25 * b // 1000)  # ceil(0.025 * B)
    ci = (
        means.withColumn("_rk", F.row_number().over(rk))
        .groupBy("grp")
        .agg(
            F.max(F.when(F.col("_rk") == lo_rank, F.col("_mean_e6"))).alias(
                "ci_lo_e6"
            ),
            F.max(
                F.when(F.col("_rk") == b + 1 - lo_rank, F.col("_mean_e6"))
            ).alias("ci_hi_e6"),
        )
    )
    point = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(f"(sum(cast({value_col} as bigint)) * 1000000) div count(1)").alias(
            "mean_e6"
        ),
    )
    return (
        point.join(ci, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n",
            "mean_e6",
            "ci_lo_e6",
            "ci_hi_e6",
            F.lit(b).alias("n_replicates"),
        )
    )


def psi_drift(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """POPULATION STABILITY INDEX between two slices of a value
    distribution — the binned drift score ML monitoring pairs with the
    KS distance (:func:`ks_statistic`): KS is assumption-free on the
    raw grid; PSI summarizes per-bin mass shifts and is the industry
    alerting convention (<0.1 stable / 0.1-0.25 moderate / >0.25
    shifted — thresholds here in log2 units, factor 1/ln2 ≈ 1.44x the
    classic ln-based ones).

    PSI_log2 = sum_bins (p_i - q_i) * log2(p_i / q_i), computed
    ENTIRELY in fixed-point integers: per-bin probabilities are
    Laplace-smoothed e12 integers p_e12 = ((c + 1) * 1e12) div
    (n + bins) (smoothing defines empty bins, the classic PSI pitfall;
    the e12 scale — DECIMAL(38,0) product, r6 — keeps a smoothed bin
    from flooring to 0 until a slice exceeds ~1e12 rows, where the
    old e6 scale saturated the log term at ~1e6·bins rows and
    understated PSI), and the log ratio is the difference of
    bit-length+interpolation log2s (the BM25/entropy machinery) —
    every term (p-q)*(L(p)-L(q)) >= 0 by monotonicity, summed exactly
    in bigint (per-bin bound ~4e16; safe for bins <= ~100). Output one
    row: (n_a, n_b, psi_e9, top_bin, top_contrib_e9) where psi_e9 is
    in 1e-9 log2 units (e15 terms div 1e6) and top_bin is the
    largest-contribution bin (min-bin tiebreak) — where the drift
    lives.

    Scale shape: the histogram side of :func:`fixed_width_histogram`
    twice (map-side-combinable counts, bins rows of state), then all
    arithmetic on the bounded 2 x bins table."""
    ha = fixed_width_histogram(a, value_col, [], lo, hi, bins).withColumnRenamed(
        "cnt", "ca"
    )
    hb = fixed_width_histogram(b, value_col, [], lo, hi, bins).withColumnRenamed(
        "cnt", "cb"
    )
    grid = (
        ha.join(hb, "bin", "full")
        .select(
            "bin",
            F.coalesce("ca", F.lit(0)).cast("bigint").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("bigint").alias("cb"),
        )
    )
    na = a.agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    nb = b.agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    l2 = "((length(bin({x})) - 1) * 1000 + (({x} - shiftleft(1L, length(bin({x})) - 1)) * 1000) div shiftleft(1L, length(bin({x})) - 1))"
    terms = (
        grid.join(F.broadcast(na))
        .join(F.broadcast(nb))
        .withColumn(
            "p_e12",
            F.expr(
                "cast(cast(ca + 1 as decimal(38,0)) * 1000000000000"
                f" div (na + {bins}) as bigint)"
            ),
        )
        .withColumn(
            "q_e12",
            F.expr(
                "cast(cast(cb + 1 as decimal(38,0)) * 1000000000000"
                f" div (nb + {bins}) as bigint)"
            ),
        )
        .withColumn(
            "contrib_e15",
            F.expr(
                "(p_e12 - q_e12) * ("
                + l2.format(x="p_e12")
                + " - "
                + l2.format(x="q_e12")
                + ")"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("contrib_e15").desc(), F.col("bin").asc())
    ranked = terms.withColumn("_rk", F.row_number().over(w))
    return ranked.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.expr("sum(contrib_e15) div 1000000").cast("bigint").alias("psi_e9"),
        F.max(F.when(F.col("_rk") == 1, F.col("bin"))).alias("top_bin"),
        F.expr("max(CASE WHEN _rk = 1 THEN contrib_e15 END) div 1000000")
        .cast("bigint")
        .alias("top_contrib_e9"),
    )


def covariance_pairs(
    df: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """EXACT pairwise covariance matrix over integer-scaled columns —
    the feature-engineering/BI staple, hash-matchable because nothing
    ever touches float summation: one single-pass hash-agg collects
    every raw moment (n, per-column sums, pairwise product sums) as
    BIGINTs with map-side combine, then each unordered pair derives

        cov_e6 = sign · (|n·Σxy − Σx·Σy| · 1e6) div n²

    with the n·Σxy product carried in DECIMAL(38,0) (it can overflow
    a bigint at corpus scale even when every input moment fits) and
    the sign extracted BEFORE the division — signed integer division
    is not portable (measured r5-cont6: Spark ``div`` and DuckDB
    ``//`` both truncate, but Python ``//`` floors, so any pure-
    Python replica diverges on negatives; the stats_daily_trend
    rule).

    Inputs must already be integer-scaled (cents, basis points,
    counts): callers pick units small enough that Σxy fits a bigint
    at their scale — the docstring contract, same as robust_outliers.
    One full-data exchange total (the single agg); the pair expansion
    runs on the ONE-ROW moment table. Output: (x_name, y_name, n,
    sum_x, sum_y, sum_xy, cov_e6) for each of the C(k,2)+k ordered
    pairs x <= y (diagonal = variance)."""
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in list(cols)[i:]
    ]
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c)).cast("bigint").alias(f"s_{c}"))
    for a, b in pairs:
        aggs.append(
            F.sum(F.col(a) * F.col(b)).cast("bigint").alias(f"p_{a}_{b}")
        )
    moments = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("x_name"),
                F.lit(b).alias("y_name"),
                F.col(f"s_{a}").alias("sum_x"),
                F.col(f"s_{b}").alias("sum_y"),
                F.col(f"p_{a}_{b}").alias("sum_xy"),
            )
            for a, b in pairs
        ]
    )
    exploded = moments.select("n", F.explode(rows).alias("r")).select(
        "n", "r.*"
    )
    num = (
        F.col("n").cast("decimal(19,0)") * F.col("sum_xy").cast("decimal(19,0)")
        - F.col("sum_x").cast("decimal(19,0)") * F.col("sum_y").cast("decimal(19,0)")
    )
    sign = F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
    return (
        exploded.withColumn("_num", num)
        .withColumn(
            "cov_e6",
            (
                sign
                * F.expr(
                    "CAST(abs(_num) * 1000000 AS DECIMAL(38,0)) div "
                    "(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))"
                )
            ).cast("bigint"),
        )
        .select("x_name", "y_name", "n", "sum_x", "sum_y", "sum_xy", "cov_e6")
    )


def hll_rolling_estimate(
    reg: DataFrame, time_col: str, window: int = 7
) -> DataFrame:
    """ROLLING distinct-count estimates from per-period HLL registers —
    the composition exact counting cannot do: distinct doesn't sum
    across days (a user active twice in a week is one weekly active),
    but HLL registers MAX-MERGE, so a windowed register max over the
    last ``window`` periods yields each period's trailing-window
    estimate from per-period state alone. This is THE argument for
    mergeable sketch state at 100 TB: the raw stream is touched once
    (building per-period registers); every window length after that is
    register arithmetic on the bounded grid.

    Mechanics: densify to the (period x 64-bucket) grid first (a
    bucket silent TODAY but seen yesterday must still contribute to
    today's window — the left join keeps its slot; grid size is
    periods x 64, never data-scaled), one RANGE-framed max per bucket
    over integer periods (calendar gaps excluded by value, the
    rolling_daily rule), then the standard exact-shift harmonic mean
    (:func:`hll_estimate`) per period. Output: (time_col, n_buckets,
    harmonic_scaled, est_distinct)."""
    from pyspark.sql import Window

    times = reg.select(time_col).distinct()
    grid = times.select(
        time_col,
        F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("bucket"),
    )
    g = grid.join(reg, [time_col, "bucket"], "left")
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col(time_col).cast("long"))
        .rangeBetween(-(window - 1), 0)
    )
    rolled = g.select(
        time_col, "bucket", F.max("rmax").over(w).alias("rmax")
    ).filter(F.col("rmax").isNotNull())
    return hll_estimate(rolled, [time_col])


# --- Mergeable rank-based quantile sketch (r5-cont6) ----------------------
#
# The KLL/t-digest slot, solved deterministically: those sketches'
# randomized compactions (and t-digest's order-dependent centroids)
# can't hash-match a SQL oracle, but a BOTTOM-K-BY-HASH uniform sample
# has the same mergeable-summary contract (Agarwal et al., Mergeable
# Summaries: bottom-k of a union == bottom-k of the merged bottom-ks)
# with a pure-function-of-the-row draw, so the whole sketch — state
# AND estimates — is bit-reproducible across runs, engines, and
# partitionings, and the quantile error keeps the classic
# sample-quantile DKW bound sup|F_emp − F| <= sqrt(ln(2/d)/2k).


def bottomk_sample(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group bottom-k-by-md5 sample: the k rows whose 60-bit md5
    draw of ``key_col`` is smallest. (group..., value, draw), <= k rows
    per group — the sketch STATE. Mergeable by construction: re-apply
    to the union of two states (same k) and the result equals the
    sketch of the concatenated inputs, because membership depends only
    on a row's own draw vs the group's k-th smallest. One exchange on
    the group key; rows never carry more than (value, draw).
    """
    from pyspark.sql import Window

    from spark_cassandra_collabfiltering_spark.operators.relational import md5_draw60

    w = Window.partitionBy(*group_cols).orderBy("_draw", "value")
    return (
        df.select(
            *group_cols,
            F.col(value_col).alias("value"),
            md5_draw60(F.col(key_col)).alias("_draw"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(*group_cols, "value", F.col("_draw").alias("draw"))
    )


def bottomk_quantiles(
    sample: DataFrame,
    group_cols: Sequence[str],
    q_pcts: Sequence[int] = (25, 50, 75, 90),
) -> DataFrame:
    """Quantile estimates from a :func:`bottomk_sample` state (or any
    merge of such states, re-capped): for quantile q, the sample value
    at rank ceil(q·m) of the m sampled values — integer ceiling
    division ((q_pct·m + 99) div 100), never a float, so the rank and
    hence the estimate hash-match any engine. Output (group..., q_pct,
    est, m). One window over <= k rows per group + a constant explode.
    """
    from pyspark.sql import Window

    wv = Window.partitionBy(*group_cols).orderBy("value", "draw")
    wn = Window.partitionBy(*group_cols)
    r = sample.select(
        *group_cols,
        "value",
        F.row_number().over(wv).alias("_vr"),
        F.count(F.lit(1)).over(wn).alias("m"),
    )
    qlit = F.explode(
        F.array(*[F.lit(int(p)).cast("bigint") for p in q_pcts])
    ).alias("q_pct")
    return (
        r.select(*group_cols, "value", "_vr", "m", qlit)
        .filter(F.col("_vr") >= F.expr("(q_pct * m + 99) div 100"))
        .groupBy(*group_cols, "q_pct")
        .agg(F.min("value").alias("est"), F.min("m").alias("m"))
    )


def bottomk_merge(
    states: DataFrame, group_cols: Sequence[str], k: int = 64
) -> DataFrame:
    """MERGE a union of :func:`bottomk_sample` states back into one
    canonical state: keep each group's k smallest draws (draw, value
    deterministic order). Because membership depends only on a row's
    own draw, merge(union of states) == sketch of the concatenated
    raw inputs, exactly — the mergeable-summaries contract that lets
    the sketch stream (union each micro-batch's state, re-cap) and
    roll up across partitions/days/sources without touching raw data.
    Input is already bounded (<= k rows per group per state)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("draw", "value")
    return (
        states.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(*group_cols, "value", "draw")
    )


# --- KMV distinct sketch with set-operation estimates (r5-cont6) ----------
#
# K-minimum-values (Bar-Yossef et al. 2002; Beyer et al. 2007 "On
# Synopses for Distinct-Value Estimation Under Multiset Operations"):
# hash every value to a 60-bit md5 draw and keep the k SMALLEST
# distinct hashes per group. Distinct-count estimate (k-1)·SPACE/h_k;
# exact below k. What HLL fundamentally can't give you and KMV can:
# the k smallest of a UNION's hashes are computable from two states,
# and membership flags inside that union sketch estimate INTERSECTION
# and Jaccard (cross-source / cross-type audience overlap) with the
# same bound. Deterministic (pure md5, no rng) → exact-oracle-able.

KMV_SPACE = 1 << 60  # md5_draw60 range


def kmv_state(
    df: DataFrame, group_cols: Sequence[str], value_col: str, k: int = 128
) -> DataFrame:
    """Per-group KMV state: the k smallest DISTINCT 60-bit md5 draws
    of ``value_col``. <= k rows per group, mergeable exactly like
    bottom-k (union two states, re-take k smallest distinct). The
    distinct-first agg map-side combines, so raw duplicate values
    never shuffle — the state is (group..., h) only."""
    from pyspark.sql import Window

    from spark_cassandra_collabfiltering_spark.operators.relational import md5_draw60

    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        df.select(*group_cols, md5_draw60(F.col(value_col)).alias("h"))
        .distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(*group_cols, "h")
    )


def kmv_distinct(
    state: DataFrame, group_cols: Sequence[str], k: int = 128
) -> DataFrame:
    """Distinct-count estimate from a KMV state: exact count when the
    group holds fewer than k hashes (the sketch IS the distinct set),
    else floor((k-1)·SPACE / h_k) with h_k the largest retained hash.
    The multiply runs in DECIMAL(38,0) (2^60·k overflows bigint) and
    the division is integral (`div` == DuckDB `//`), so the estimate
    hash-matches the oracle bit-for-bit."""
    g = state.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_m"), F.max("h").alias("_hk")
    )
    est = F.when(F.col("_m") < k, F.col("_m")).otherwise(
        F.expr(
            f"CAST(CAST({k - 1} AS DECIMAL(38,0)) * {KMV_SPACE} div _hk AS BIGINT)"
        )
    )
    return g.select(*group_cols, est.cast("bigint").alias("est_distinct"))


def kmv_overlap_pairs(
    state: DataFrame, group_col: str, k: int = 128
) -> DataFrame:
    """Pairwise set-overlap estimates between every two groups (a < b)
    from ONE KMV state table: per pair, the union sketch is the k
    smallest distinct hashes of the two states merged; within it,
    hashes present in BOTH sides estimate Jaccard = n_common/k_u, and
    intersection = Jaccard · |union| (Beyer et al. 2007). Output
    (group_a, group_b, k_u, n_common, union_est, inter_est,
    jaccard_e6) — all integer arithmetic (e6 fixed-point Jaccard,
    integral div), so every row hash-matches. Exact when the union
    fits under k. State tables are <= k·G rows, so the pair fan-out
    is G²k — bounded by construction, never corpus-scale."""
    from pyspark.sql import Window

    # the state feeds six plan references (two sides, the pair dim
    # twice, two anti-joins) — share one computation instead of
    # re-deriving the distinct+window per reference (the diamond-reuse
    # discipline; state is <= k rows/group, so the checkpoint is tiny)
    state = shared_subtree(state)
    sa = state.select(F.col(group_col).alias("ga"), "h")
    sb = state.select(F.col(group_col).alias("gb"), "h")
    # every (a < b) group pair — from the bounded group dim, so even
    # fully-disjoint pairs get a (jaccard 0) row; G x G broadcast
    # cross is bounded by construction (G = #groups, not #rows)
    pairs = (
        state.select(F.col(group_col).alias("ga"))
        .distinct()
        .crossJoin(
            F.broadcast(state.select(F.col(group_col).alias("gb")).distinct())
        )
        .filter(F.col("ga") < F.col("gb"))
    )
    both = (
        sa.join(sb, "h")
        .filter(F.col("ga") < F.col("gb"))
        .select("ga", "gb", "h", F.lit(1).alias("_ina"), F.lit(1).alias("_inb"))
    )
    only_a = (
        pairs.join(sa, "ga")
        .join(both.select("ga", "gb", "h"), ["ga", "gb", "h"], "left_anti")
        .select("ga", "gb", "h", F.lit(1).alias("_ina"), F.lit(0).alias("_inb"))
    )
    only_b = (
        pairs.join(sb, "gb")
        .join(both.select("ga", "gb", "h"), ["ga", "gb", "h"], "left_anti")
        .select("ga", "gb", "h", F.lit(0).alias("_ina"), F.lit(1).alias("_inb"))
    )
    u = both.unionByName(only_a).unionByName(only_b)
    w = Window.partitionBy("ga", "gb").orderBy("h")
    kept = u.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    g = kept.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("k_u"),
        F.sum(F.col("_ina") * F.col("_inb")).cast("bigint").alias("n_common"),
        F.max("h").alias("_hk"),
    )
    union_est = F.when(F.col("k_u") < k, F.col("k_u")).otherwise(
        F.expr(
            f"CAST(CAST({k - 1} AS DECIMAL(38,0)) * {KMV_SPACE} div _hk AS BIGINT)"
        )
    )
    return g.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        F.col("k_u").cast("bigint").alias("k_u"),
        "n_common",
        union_est.cast("bigint").alias("union_est"),
        F.expr("n_common * 1000000 div k_u").cast("bigint").alias("jaccard_e6"),
    ).withColumn(
        "inter_est",
        F.expr("n_common * union_est div k_u").cast("bigint"),
    )


# --- CBO-style table size estimate / broadcast advisor (r5-cont6) ---------

_FIXED_WIDTH = {
    "bigint": 8, "long": 8, "double": 8, "int": 4, "integer": 4,
    "timestamp": 8, "timestamp_ntz": 8, "date": 4, "boolean": 1,
    "float": 4, "smallint": 2,
}


def table_size_estimate(df: DataFrame, table_name: str) -> DataFrame:
    """One-row CBO-style size estimate: n_rows and est_bytes under the
    classic fixed-width column model (numeric/temporal types at their
    in-memory widths, strings at their byte length) — the
    sizeInBytes-shaped number a cost-based optimizer compares against
    ``spark.sql.autoBroadcastJoinThreshold``, deterministic and
    engine-portable (unlike sampling the physical encoding). One
    column-pruned scan: fixed-width columns contribute n_rows x const
    without being read; only string columns' lengths aggregate."""
    fixed = 0
    str_cols = []
    for name, dtype in df.dtypes:
        if dtype in _FIXED_WIDTH:
            fixed += _FIXED_WIDTH[dtype]
        elif dtype == "string":
            str_cols.append(name)
        else:  # arrays/structs/binary: estimate via string length too
            str_cols.append(name)
    str_bytes = sum(
        (F.sum(F.octet_length(F.col(c).cast("string"))) for c in str_cols),
        F.lit(0),
    )
    return df.agg(
        F.lit(table_name).alias("table"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) * fixed + F.coalesce(str_bytes, F.lit(0)))
        .cast("bigint")
        .alias("est_bytes"),
    )


def broadcast_advice(
    tables: "list[tuple[str, DataFrame]]", threshold_bytes: int = 10 * 1024 * 1024
) -> DataFrame:
    """Self-observability for join planning: per table, the CBO-model
    size estimate and whether it fits under the broadcast threshold —
    the pre-flight a pipeline author runs before hinting
    ``broadcast()`` on a new dim (the join-strategy complement of
    stats_skew_profile's salting pre-flight and
    stats_join_estimate's cardinality check)."""
    out = None
    for name, df in tables:
        one = table_size_estimate(df, name).withColumn(
            "broadcastable", (F.col("est_bytes") < threshold_bytes)
        )
        out = one if out is None else out.unionByName(one)
    return out


def filtered_build_advice(
    df: DataFrame,
    table_name: str,
    filter_col: str,
    filter_values: "list[str]",
    threshold_bytes: int = 10 * 1024 * 1024,
    ndv_mode: str = "exact",
) -> DataFrame:
    """Post-filter BUILD-SIZE estimate for a join side — the question
    the base-table advisor can't answer: a dim too big to broadcast
    raw often shrinks under its predicate, and a CBO decides from
    column statistics, not by running the filter. est = base size x
    |values| / NDV(filter_col) (uniform-frequency assumption), NDV
    from the engine-portable HLL so the whole row hash-matches; the
    TRUE filtered rows/bytes ride along (drop them in production —
    they defeat the point of estimating). One row:
    (table, n_rows, est_bytes_total, ndv, est_rows, est_bytes,
    broadcastable_est, true_rows, true_bytes).

    ``ndv_mode``: "exact" (default) counts distinct — what a CBO
    stores for LOW-cardinality columns, and measured necessary here:
    the 64-register portable HLL without small-range (linear-
    counting) correction read ~57 for a true NDV of 25, doubling the
    selectivity error. "hll" switches to the portable sketch — right
    when the filter column's cardinality is itself corpus-scale
    (user ids, urls), the regime HLL is built for."""
    base = table_size_estimate(df, table_name)
    if ndv_mode == "hll":
        ndv = hll_estimate(hll_registers(df, [], filter_col), []).select(
            F.col("est_distinct").alias("ndv")
        )
    else:
        ndv = df.agg(
            F.count_distinct(F.col(filter_col)).cast("bigint").alias("ndv")
        )
    filtered = df.filter(F.col(filter_col).isin(filter_values))
    true_side = table_size_estimate(filtered, "_f").select(
        F.col("n_rows").alias("true_rows"),
        F.col("est_bytes").alias("true_bytes"),
    )
    k = len(filter_values)
    return (
        base.withColumnRenamed("est_bytes", "est_bytes_total")
        .join(F.broadcast(ndv))
        .join(F.broadcast(true_side))
        .select(
            "table",
            "n_rows",
            "est_bytes_total",
            "ndv",
            F.round(F.col("n_rows") * k / F.col("ndv"), 4).alias("est_rows"),
            F.round(F.col("est_bytes_total") * k / F.col("ndv"), 4).alias(
                "est_bytes"
            ),
            (
                F.col("est_bytes_total") * k / F.col("ndv") < threshold_bytes
            ).alias("broadcastable_est"),
            "true_rows",
            "true_bytes",
        )
    )
