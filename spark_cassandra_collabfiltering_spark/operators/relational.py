"""Relational operators (SURVEY §2.2, §2.3, §2.6, §2.7).

Each function is a thin, named, documented wrapper over the DataFrame
primitive that replaces a reference RDD construct — thin on purpose:
the value is in declaring the plan so Catalyst optimizes it (pushdown,
pruning, join strategy, AQE), not in re-implementing execution.

Scale notes are attached per operator: what shuffles, what broadcasts,
what survives a 100 TB input.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def project(df: DataFrame, *cols: str) -> DataFrame:
    """P3/P4: column projection (reference: per-row ``map`` extracting
    fields, CollabFilterCassandra8.java:34,40). As a select, Catalyst
    prunes the scan to exactly these columns (ReadSchema in the plan)."""
    return df.select(*cols)


def filter_prefix(df: DataFrame, col: str, prefix: str) -> DataFrame:
    """P1/F1: startswith predicate — pushable as a StringStartsWith."""
    return df.filter(F.col(col).startswith(prefix))


def inner_join_on(
    df_left: DataFrame, df_right: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """J1: equi inner join on a (composite) key — the reference's
    pair-RDD hash shuffle join on (user, product)
    (CollabFilterCassandra8.java:48). Catalyst/AQE picks the physical
    strategy (broadcast-hash for a bounded side, else sort-merge with
    skew splitting); both sides shuffle on the key only when neither
    is broadcastable."""
    return df_left.join(df_right, on=list(keys), how="inner")


def broadcast_join(
    df_big: DataFrame, df_small: DataFrame, keys: Sequence[str], how: str = "inner"
) -> DataFrame:
    """J2: explicit broadcast-hash join — the distributed form of the
    reference's driver-side HashMap probe
    (CollabFilterCassandra8.java:64-69). The small side ships to every
    executor once; the big side never shuffles. Use only for bounded
    dimension tables (the reference collects to ONE driver — that dies
    at scale; broadcast does not)."""
    return df_big.join(F.broadcast(df_small), on=list(keys), how=how)


def semi_join(df: DataFrame, other: DataFrame, keys: Sequence[str]) -> DataFrame:
    """EXISTS (capability breadth; absent from reference, SURVEY §2.3).
    Left-semi never materializes right columns → less shuffle payload
    than inner+distinct."""
    return df.join(other, on=list(keys), how="left_semi")


def anti_join(df: DataFrame, other: DataFrame, keys: Sequence[str]) -> DataFrame:
    """NOT EXISTS — left-anti."""
    return df.join(other, on=list(keys), how="left_anti")


def outer_join(
    df_left: DataFrame, df_right: DataFrame, keys: Sequence[str], how: str = "left"
) -> DataFrame:
    """Outer joins (absent from reference — breadth)."""
    return df_left.join(df_right, on=list(keys), how=how)


def sort_by(df: DataFrame, *cols: str, ascending: bool = True) -> DataFrame:
    """O1: composite-key sort — the reference sorts collect()ed rows on
    the driver (CollabFilterCassandra8.java:73); here it is a
    distributed range-partitioned sort (sampled range boundaries, no
    single-node bottleneck)."""
    return df.orderBy(*[F.col(c).asc() if ascending else F.col(c).desc() for c in cols])


def top_k(df: DataFrame, k: int, *order_cols) -> DataFrame:
    """Limit/top-k (absent from reference — breadth). Spark executes
    orderBy+limit as TakeOrderedAndProject: per-partition top-k then a
    driver merge of k·partitions rows — no global sort at any scale."""
    return df.orderBy(*order_cols).limit(k)


def md5_draw60(col: Column) -> Column:
    """Deterministic 60-bit uniform draw from a value: md5 of its
    string form, first 15 hex digits parsed base-16. Pure function of
    the ROW — stable across runs, engines, partitionings, and retries.
    DuckDB equivalent (oracle parity):
    ``('0x' || substr(md5(x::VARCHAR), 1, 15))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(col.cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("bigint")


def hash_bucket(col: Column, buckets: int = 100) -> Column:
    """Deterministic, engine-portable bucket in [0, buckets): md5 of
    the value's string form → 60-bit int → mod. Unlike rand()/
    randomSplit, the assignment is a pure function of the ROW — stable
    across runs, engines, partitionings, and retries, which is what a
    reproducible train/eval split needs."""
    return md5_draw60(col) % buckets


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions_pct: dict[str, int],
    buckets: int = 100,
) -> DataFrame:
    """Deterministic stratified sampling (`sampleBy` analog): each
    stratum keeps ~its own percentage, selected by the key's hash
    bucket — reproducible across runs/engines (F.sampleBy draws from a
    seeded RNG whose assignment shifts with partitioning). Scan-local
    filter; strata with no entry are dropped."""
    b = hash_bucket(F.col(key_col), buckets)
    cond = None
    for stratum, pct in fractions_pct.items():
        this = (F.col(strata_col) == stratum) & (b < pct)
        cond = this if cond is None else (cond | this)
    return df.filter(cond if cond is not None else F.lit(False))


def weighted_sample(df: DataFrame, key_col: str, prob_e6: Column) -> DataFrame:
    """Deterministic weighted Bernoulli sample: keep a row iff its
    md5-uniform draw in [0, 1e6) — a pure function of the key, like
    every sampler here — falls below the row's OWN inclusion
    probability ``prob_e6`` (micro-units, clamp to [0, 1e6] yourself).
    The per-row probability is what quality-weighted data curation
    needs (keep high-quality docs w.p. ~1, boilerplate w.p. ~0.05);
    still a scan-local filter, no shuffle, reproducible across
    engines/retries/partitionings.

    NULL contract: a NULL ``prob_e6`` is treated as probability 0 —
    the row is dropped, explicitly via coalesce rather than by the
    accident of NULL-comparison semantics, so a quality score with a
    NULL input column shrinks the sample by documented design (compute
    the probability with its own default if you want NULLs kept)."""
    return df.filter(
        hash_bucket(F.col(key_col), 1_000_000) < F.coalesce(prob_e6, F.lit(0))
    )


def hash_split(
    df: DataFrame, key_col: str, train_pct: int = 90, buckets: int = 100
) -> tuple[DataFrame, DataFrame]:
    """Reproducible train/eval split: (bucket < train_pct, rest).
    Disjoint and exhaustive by construction; stable under retries and
    engine changes (contrast randomSplit, whose assignment depends on
    partitioning and sampler state)."""
    b = hash_bucket(F.col(key_col), buckets)
    return df.filter(b < train_pct), df.filter(b >= train_pct)


def group_sample_topk(
    df: DataFrame, group_col: str, key_col: str, k: int
) -> DataFrame:
    """Deterministic FIXED-SIZE per-group sample: rank each group's
    rows by their md5 draw (a pure function of the key, like every
    sampler here) and keep the first ``k`` — the "give me exactly 10
    eval docs per source" primitive that fraction-based sampling
    can't provide and rand()-based ranking can't reproduce. Groups
    smaller than k return whole.

    Scale shape: one window rank per group (group-sized sort state);
    for pathologically hot groups the two-phase distributed top-n of
    curation.domain_mix_sample is the heavyweight alternative — this
    is the simple shape for bounded group sizes.

    Determinism holds for any input: rows sharing a key (hence a
    draw) tie-break on the full remaining row content, so which row
    wins never depends on partition order. (Exact duplicates remain
    interchangeable — indistinguishable rows, same outcome.)
    """
    draw = md5_draw60(F.col(key_col))
    rest = [
        F.col(c).asc() for c in df.columns if c not in (group_col, key_col)
    ]
    w = Window.partitionBy(group_col).orderBy(
        draw.asc(), F.col(key_col).asc(), *rest
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def negative_sample(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    items_n: DataFrame,
    k: int = 3,
    oversample: int = 2,
) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training
    (BPR/ALS-implicit style: k unseen items per user). The standard
    RNG approach (rand() per draw) is neither reproducible across
    retries nor oracle-checkable; here each draw is a pure function of
    (user, draw index): item = 1 + md5_draw60(user || ':' || j) mod n.

    Plan shape: distinct users x (oversample*k) candidate draws — a
    bounded row-local fan-out, no cross join against the item table —
    anti-joined against the observed pairs, deduped per (user, item)
    keeping the earliest draw, then the first k surviving draws per
    user via a window over <= oversample*k rows. Oversampling absorbs
    collisions with seen items; heavy users can still come up short
    (documented, standard practice — raise ``oversample`` for them).
    ``items_n`` is a ONE-ROW (n) aggregate joined as a broadcast (the
    item-id domain is assumed dense 1..n, as TPC-H part keys are).

    Output: (user, item, draw_idx) — exact integers, fully oracled.
    """
    # NULL users would propagate NULL draws into NULL sampled items
    # (md5 of NULL is NULL) — exclude them up front, the domain-mix
    # NULL-key lesson (ADVICE r4)
    users = (
        interactions.select(user_col)
        .filter(F.col(user_col).isNotNull())
        .distinct()
    )
    j = F.col("draw_idx").cast("string")
    draw = md5_draw60(
        F.concat(F.col(user_col).cast("string"), F.lit(":"), j)
    )
    cand = (
        users.join(F.broadcast(items_n))
        .select(
            user_col,
            F.explode(
                F.sequence(F.lit(1), F.lit(oversample * k))
            ).alias("draw_idx"),
            "n",
        )
        .select(
            user_col,
            "draw_idx",
            (F.lit(1) + draw % F.col("n")).alias(item_col),
        )
    )
    neg = (
        cand.join(interactions, [user_col, item_col], "left_anti")
        .groupBy(user_col, item_col)
        .agg(F.min("draw_idx").alias("draw_idx"))
    )
    w = Window.partitionBy(user_col).orderBy("draw_idx")
    return (
        neg.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            user_col,
            F.col(item_col).cast("bigint").alias(item_col),
            F.col("draw_idx").cast("bigint").alias("draw_idx"),
        )
    )


def upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE/upsert emulation (SCD1): updated rows replace target rows
    with the same key; unmatched target rows pass through. Plan =
    left-anti join (target minus updated keys) + union — the standard
    emulation when no transactional table format (Delta/Iceberg MERGE
    INTO) is on the classpath. The anti-join shuffles only the key
    columns of the updates side; at scale, partition both sides by key.
    """
    untouched = target.join(updates.select(*keys), on=keys, how="left_anti")
    return updates.unionByName(untouched)


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    keys: list[str],
    ts_col: str,
) -> DataFrame:
    """Incremental SCD2: merge a change batch into a validity-interval
    history (columns = keys + attrs + valid_from + valid_to, where
    valid_to IS NULL marks the current version).

    - closed versions pass through untouched;
    - each key's current version closes at that key's FIRST change ts;
    - the change batch becomes new versions chained by lead() within
      the batch (last one open).

    Shuffles: one window per key over the (small) change batch and one
    key-join against current rows — the full history never re-sorts.
    Replaying the same batch yields the same history (idempotent under
    replace-by-key writes, the foreachBatch sink pattern).
    """
    from pyspark.sql import Window

    attr_cols = [
        c for c in history.columns if c not in (*keys, "valid_from", "valid_to")
    ]
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    new_versions = changes.select(
        *keys,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col, 1).over(w).alias("valid_to"),
    )
    first_change = changes.groupBy(*keys).agg(F.min(ts_col).alias("_first_ts"))
    closed = history.filter(F.col("valid_to").isNotNull())
    current = history.filter(F.col("valid_to").isNull())
    current_closed = (
        current.join(first_change, on=keys, how="left")
        .withColumn("valid_to", F.coalesce(F.col("_first_ts"), F.col("valid_to")))
        .drop("_first_ts")
    )
    return closed.unionByName(current_closed).unionByName(
        new_versions.select(*closed.columns)
    )


def distinct_rows(df: DataFrame, *cols: str) -> DataFrame:
    """DISTINCT (absent from reference — breadth); hash-aggregate with
    partial dedup map-side before the shuffle."""
    return (df.select(*cols) if cols else df).distinct()


def union_all(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """Set ops (SURVEY §2.7 — the reference only ever splits; union is
    the inverse). By-name resolution avoids positional surprises."""
    return df_a.unionByName(df_b)


def intersect_rows(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    return df_a.intersect(df_b)


def except_rows(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """SQL EXCEPT (DISTINCT): rows of A not in B, deduplicated BEFORE
    the difference — for A={x,x}, B={x} the answer is empty. (The r1
    ``exceptAll().distinct()`` form got that case wrong: it removed one
    occurrence then deduped, yielding {x}.)"""
    return df_a.subtract(df_b)


def except_all_rows(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """SQL EXCEPT ALL (multiset difference): each row of A survives
    max(count_A - count_B, 0) times."""
    return df_a.exceptAll(df_b)


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """2D SKYLINE (Pareto frontier, minimize both axes): rows no other
    row dominates, where s dominates r iff s.x <= r.x AND s.y <= r.y
    with at least one strict. The classic OLAP operator for
    price-vs-size / cost-vs-latency frontiers (Borzsony, Kossmann,
    Stocker, ICDE 2001).

    Plan shape — NO self-join (the naive NOT-EXISTS formulation is
    O(n^2)): reduce to the distinct (x, y) POINT grid first (carrying
    member count and min id as evidence), then one sorted sweep:

    - ``m_strict`` = min(y) over points with strictly smaller x (a
      RANGE frame ending at -1 — x must be integral for the strict
      bound, e.g. price in cents). A point is dominated from the left
      iff m_strict <= y (equal y still loses: x is strictly smaller).
    - within an x group, only the min-y point survives (any same-x
      point with smaller y dominates).

    The ordered sweep runs on the REDUCED point grid, whose
    cardinality is bounded by the value-grain product (|distinct x| x
    |distinct y|), not the row count — the same bounded-grid contract
    as the KS drift grid (stats_ks_drift). The full table is touched only by
    the one hash-agg that builds the grid.

    Output: (x, y, n_members, min_id) — one row per skyline point."""
    pts = df.groupBy(x_col, y_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min(id_col).alias("min_id"),
    )
    w_strict = Window.orderBy(F.col(x_col).cast("long")).rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_same_x = Window.partitionBy(x_col)
    flagged = pts.select(
        "*",
        F.min(y_col).over(w_strict).alias("_m_strict"),
        F.min(y_col).over(w_same_x).alias("_m_same"),
    )
    return flagged.filter(
        (F.col("_m_strict").isNull() | (F.col("_m_strict") > F.col(y_col)))
        & (F.col("_m_same") == F.col(y_col))
    ).select(x_col, y_col, "n_members", "min_id")


def epoch_shuffle(
    df: DataFrame, id_col: str = "doc_id", seed: str = "epoch0"
) -> DataFrame:
    """Deterministic EPOCH SHUFFLE: assign every row a global position
    in a seeded pseudorandom permutation — the reproducible
    training-data ordering step (each epoch = a new seed; rerunning an
    epoch bit-reproduces it, unlike ``orderBy(rand())``). The draw is
    md5(seed:id), a pure function of the row — the repo's standard
    derandomization (sample_hash_split et al.).

    Dense-position assignment reuses the two-level-rank discipline of
    vocab_build (operators/text.py): a naive
    ``row_number() OVER (ORDER BY draw)`` is a single-reducer
    bottleneck. Instead the first two hex chars of the draw bucket the
    rows (256 buckets; since bucket == draw prefix, bucket order IS
    draw order), bucket sizes prefix-sum on the 256-row group table,
    and a bucket-partitioned row_number adds the local rank. position
    = offset + local rank == the global row_number - 1 exactly, with
    every unbounded structure partitioned.

    Output: (id, position) — a bijection onto 0..n-1."""
    draw = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    # NULL ids dropped up front (the sampler-family contract: the md5
    # draw is undefined on NULL, and a NULL bucket would silently
    # shift every offset after it)
    rows = (
        df.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col), draw.alias("_d"))
        .withColumn("_b", F.substring("_d", 1, 2))
    )
    groups = rows.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    gw = Window.orderBy(F.col("_b").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = groups.withColumn(
        "_off", F.coalesce(F.sum("_n").over(gw), F.lit(0))
    ).select("_b", "_off")
    lw = Window.partitionBy("_b").orderBy(
        F.col("_d").asc(), F.col(id_col).asc()
    )
    return (
        rows.withColumn("_lrk", F.row_number().over(lw) - 1)
        .join(F.broadcast(offsets), "_b")
        .select(
            id_col, (F.col("_off") + F.col("_lrk")).cast("bigint").alias("position")
        )
    )
