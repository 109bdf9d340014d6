"""Streaming event analytics: windowed aggregation with watermarks,
session windows, and a custom stateful operator.

Design rules for scale (SURVEY §7.4 discipline applied to streams):
- event-time + watermark everywhere (late data bounded, state GC'd);
- aggregations are keyed by (window, type) or (user) — fine-grained
  keys so state and compute shard across executors;
- the custom stateful op uses applyInPandasWithState (Arrow-batched,
  per-key state, timeout-driven eviction) — the pattern for operators
  Spark lacks natively.

The batch analogs of these plans are registry queries
(ev_tumbling_agg, ev_sessionize in plans/queries.py) — same logical
semantics, oracle-checked there; the tests here check stream==batch.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from spark_cassandra_collabfiltering_spark.operators.reuse import shared_subtree

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_event_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (schema'd parquet directory). In
    production the source line is the only change (kafka/kinesis/
    rate); every operator below is source-agnostic."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Option set for the kafka source, exposed as data so the wiring
    is testable without a broker (same pattern as the Cassandra
    connector contract in sources/tables.py). maxOffsetsPerTrigger is
    the backpressure knob — it bounds a micro-batch the way
    maxFilesPerTrigger does for the file source."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


# Wire format for event timestamps in kafka JSON payloads. Spark's
# to_json/from_json default truncates to milliseconds; event times are
# microsecond-precision, so the contract pins a µs format explicitly.
KAFKA_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Decode kafka records (JSON event in ``value``) to EVENT_SCHEMA
    columns. Pure column expressions over whatever DataFrame carries
    the ``value`` bytes — identical on the live kafka source and on a
    static frame, which is how it is tested broker-free."""
    return raw.select(
        F.from_json(
            F.col("value").cast("string"),
            EVENT_SCHEMA,
            {"timestampFormat": KAFKA_TS_FORMAT},
        ).alias("e")
    ).select("e.*")


def read_event_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka-source event stream: same output contract as
    :func:`read_event_stream`, so every downstream operator is
    source-agnostic. Requires the spark-sql-kafka connector package on
    the classpath (absent in this container — the option wiring and
    the value decode are each tested standalone)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return parse_kafka_events(reader.load())


def tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling event-time window aggregation with late-data bound.
    Batch analog: ev_tumbling_agg (plans/queries.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_avg(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window mean value per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg((F.sum("value") / F.count(F.lit(1))).alias("avg_value"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "avg_value"
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "60 minutes"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. Batch analog: ev_sessionize (lag+cumsum formulation)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


_STATE_SCHEMA = "total DOUBLE, n BIGINT"
_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), True),
        T.StructField("n_events", T.LongType(), True),
    ]
)


def _update_totals(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running totals — the custom-stateful-operator harness.
    State is a (total, n) pair; each micro-batch folds its rows in and
    emits the updated running aggregate for the key."""
    total, n = state.get if state.exists else (0.0, 0)
    for pdf in batches:
        total += float(pdf["value"].fillna(0.0).sum())
        n += int(len(pdf))
    state.update((total, n))
    yield pd.DataFrame(
        {"user_id": [key[0]], "total_value": [total], "n_events": [n]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful processing: applyInPandasWithState keeps one
    small state row per user (sharded by the grouping key across
    executors; NoTimeout here — production adds ProcessingTimeTimeout
    to GC idle users)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def purchase_click_join(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each purchase paired with the same user's
    clicks in the preceding ``attribution_window``.

    Both sides carry watermarks and the join condition bounds event
    time on both ends — that pair is what lets Spark EVICT join state
    (unbounded stream-stream joins otherwise buffer forever). State is
    keyed by user and sharded across executors.

    ``how="left_outer"`` keeps purchases with NO qualifying click: the
    engine holds each purchase in state until the watermark passes the
    last instant a matching click could still arrive (purchase_ts plus
    the watermark delay), then emits it once with null click columns —
    so outer results trail the inner ones by up to the delay, and a
    drain needs a micro-batch AFTER the one that read the row for the
    null to surface (no-data batches handle this on a live stream).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", attribution_window)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", attribution_window)
    )
    cond = (
        (clicks["user_id"] == purchases["user_id"])
        & (clicks["click_ts"] <= purchases["purchase_ts"])
        & (
            clicks["click_ts"]
            >= purchases["purchase_ts"] - F.expr(f"INTERVAL {attribution_window}")
        )
    )
    return purchases.join(clicks, cond, how).select(
        purchases["user_id"],
        "purchase_id",
        "purchase_ts",
        "click_id",
        "click_ts",
        "value",
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    dropDuplicatesWithinWatermark keeps a key's state only until the
    watermark passes it — duplicates arriving within the lateness bound
    are dropped, state is GC'd after. (Plain dropDuplicates on a stream
    grows state forever; this is the production form.)"""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def enrich_stream_static(
    events: DataFrame, dim: DataFrame, on: list[str]
) -> DataFrame:
    """Stream-static join: the static dim is re-read per micro-batch
    (picks up slowly-changing data), the stream side never buffers join
    state. Broadcast when the dim is small; no watermark needed —
    static side is not append-only."""
    return events.join(F.broadcast(dim), on=on, how="left")


def _target_exists(spark, path: str) -> bool:
    """Probe sink-target existence via the Hadoop FileSystem API — the
    same resolution the parquet reader uses, and works for any scheme
    (file://, hdfs://, s3a://). Deterministic, so 'first batch on a
    missing target' never depends on exception-message formats (which
    change across Spark versions). TOCTOU is not a concern: foreachBatch
    sinks are single-writer by construction.

    Under Spark Connect there is no py4j gateway (``spark._jvm`` is
    absent), so fall back to a bounded read probe: try to resolve the
    path as a parquet source and treat only AnalysisException-style
    'path does not exist' resolution failures as missing — any other
    error (corruption, transient IO) propagates, preserving the
    'never overwrite merged state on a read failure' contract."""
    jvm = getattr(spark, "_jvm", None)
    jsc = getattr(spark, "_jsc", None)
    if jvm is not None and jsc is not None:
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        return bool(fs.exists(hpath))
    from pyspark.errors import AnalysisException

    try:
        spark.read.parquet(path).schema  # resolves the path, reads no data
        return True
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "does not exist" in str(exc):
            return False
        raise


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str | None = None,
    processing_time: str | None = None,
):
    """Exactly-once-style sink: every micro-batch MERGEs into a parquet
    target by key (read target → left-anti out updated keys → union →
    overwrite). foreachBatch gives the batch DataFrame + epoch id; a
    transactional format (Delta/Iceberg) would replace the manual
    read-modify-write with MERGE INTO, everything else unchanged.
    Idempotent per key: replaying a batch converges to the same state —
    which is exactly what makes a kill/restore mid-epoch safe: an epoch
    interrupted after the target write but before the checkpoint commit
    replays on restart and converges.

    Default is the drain-everything batch shape (availableNow trigger,
    awaited). ``processing_time`` switches to a LIVE continuous query
    (micro-batch cadence) and returns the running query WITHOUT
    awaiting — the caller owns stop/restart; pass ``checkpoint`` so a
    restart resumes source offsets + aggregation state instead of
    reprocessing from scratch.
    """
    from spark_cassandra_collabfiltering_spark.operators.relational import upsert

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        deduped = batch_df.dropDuplicates(keys)
        # Only a MISSING target means "first batch → start fresh". Any
        # read failure (corruption, transient IO) must propagate:
        # falling back to `deduped` there would overwrite the target
        # with just the current micro-batch and silently discard all
        # previously merged state. Existence is probed via the
        # FileSystem API, not by matching exception messages.
        if _target_exists(spark, target_path):
            merged = upsert(spark.read.parquet(target_path), deduped, keys)
        else:
            merged = deduped
        # materialize before overwriting the path we just read
        shared_subtree(merged, eager=True).write.mode("overwrite").parquet(target_path)

    w = stream_df.writeStream.foreachBatch(apply_batch).outputMode("update")
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    if processing_time is not None:
        return w.trigger(processingTime=processing_time).start()
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_foreach_batch_rollup(
    event_stream: DataFrame,
    target_path: str,
    bucket_seconds: int = 3600,
):
    """Continuous-aggregate refresher: every micro-batch becomes its own
    partial-aggregate rows (operators/rollup.py states — associative by
    contract), which UNION-MERGE with the persisted partial table
    (merge_rollup factor=1) instead of key-replacing it. This is the
    streaming maintenance path for the hypertable rollup: the partial
    table stays exactly equal to a one-shot batch rollup of everything
    ever streamed (asserted in tests), and coarse-grain queries read
    only the partials. Same missing-vs-broken target discipline as the
    upsert sink above.
    """
    from spark_cassandra_collabfiltering_spark.operators.rollup import (
        merge_rollup,
        rollup_partials,
    )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_partials = rollup_partials(batch_df, bucket_seconds)
        if _target_exists(spark, target_path):
            target = spark.read.parquet(target_path)
            merged = merge_rollup(target.unionByName(batch_partials), factor=1)
        else:
            merged = batch_partials
        shared_subtree(merged, eager=True).write.mode("overwrite").parquet(target_path)

    q = (
        event_stream.writeStream.foreachBatch(apply_batch)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_memory(stream_df: DataFrame, query_name: str, output_mode: str = "append"):
    """Drain a bounded stream into the in-memory sink (tests/demos):
    availableNow processes everything then stops."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def growth_accounting(events: DataFrame, ts_col: str = "ts", user_col: str = "user_id") -> DataFrame:
    """GROWTH ACCOUNTING per day — the product-analytics staple every
    event pipeline reports first: daily active users, split into NEW
    (first ever seen that day) vs RETURNING, plus the cumulative
    registered-user curve. Exact integers, engine-portable.

    Plan: distinct (day, user) pairs (one hash-agg — the only
    full-data exchange), each user's first day reduces from that
    table, then per-day counts and ONE ordered cumulative window over
    the bounded day table (window-over-groups discipline: days are
    bounded however large the corpus). Output:
    (day, n_active, n_new, n_returning, cum_users)."""
    from pyspark.sql import Window

    du = events.select(
        F.to_date(F.col(ts_col)).alias("day"), F.col(user_col).alias("u")
    ).distinct()
    first = du.groupBy("u").agg(F.min("day").alias("first_day"))
    per_day = (
        du.join(first, "u")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.sum(F.when(F.col("first_day") == F.col("day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
        )
        .withColumn("n_returning", F.expr("n_active - n_new"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.withColumn("cum_users", F.sum("n_new").over(w).cast("bigint"))
        # ISO string day: pandas renders Spark DATE as object vs
        # DuckDB DATE as datetime64 — strings compare identically
        .select(
            F.col("day").cast("string").alias("day"),
            "n_active", "n_new", "n_returning", "cum_users",
        )
    )


def daily_anomaly(
    events: DataFrame,
    z: int = 2,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Daily-count anomaly flags per event type — the ops-dashboard
    z-score rule WITHOUT floats or sqrt: |x - mean| > z*std squared
    into (n*x - s)^2 > z^2*(n*s2 - s^2), all bigint, so the flag set
    is bit-deterministic cross-engine (libm sqrt never runs).

    Window-over-groups discipline: one (type, day) hash-agg over the
    raw events is the only full-data exchange; per-type moments (n,
    sum, sum-of-squares) reduce from that bounded daily table and
    join back. Emits the deviation and variance terms as evidence:
    (event_type, day, x, dev_n = n*x - s, var_nn = n*s2 - s^2)."""
    daily = events.groupBy(
        type_col, F.col(ts_col).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    st = daily.groupBy(type_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    dev_n = F.col("n") * F.col("x") - F.col("s")
    var_nn = F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    return (
        daily.join(st, type_col)
        .withColumn("dev_n", dev_n.cast("bigint"))
        .withColumn("var_nn", var_nn.cast("bigint"))
        .filter(F.col("dev_n") * F.col("dev_n") > (z * z) * F.col("var_nn"))
        .select(
            type_col,
            F.col("day").cast("string").alias("day"),
            "x",
            "dev_n",
            "var_nn",
        )
    )


def session_concurrency(
    events: DataFrame,
    gap_s: int = 1800,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Peak CONCURRENT sessions per day — the capacity-planning
    readout (how many users were active AT ONCE), computed as an
    interval sweep, never an interval self-join.

    Stages, each with the scale story stated:

    1. Sessionize (same 30-min-gap semantics as ev_sessionize): one
       user-keyed window yields boundary flags; a running sum of the
       flags numbers sessions; a (user, session) hash-agg produces
       closed intervals [min ts, max ts].
    2. Day-split: a session crossing midnight contributes one clipped
       segment per covered day (row-local sequence over covered days
       — bounded by session length, and gap-bounded sessions span at
       most a handful of days).
    3. Sweep: each segment emits (+1 at start) and (-1 at end + 1 us)
       boundary deltas; deltas are PRE-AGGREGATED per (day, instant)
       so simultaneous starts/ends collapse before the ordered scan
       (no tie-order ambiguity in the running sum), then one
       per-day-partitioned cumulative sum gives the concurrency level
       at every boundary; its max is the day's peak. The ordered scan
       runs over the grouped boundary grid (<= 2 segments rows,
       usually far fewer), partitioned by day — to tighten further at
       extreme scale, clip to hours with the same recipe.

    Closed-interval semantics: a session whose last event is at t is
    still present AT t (the -1 lands at t + 1 us); a session ending
    at t and another starting at t overlap. Single-event sessions are
    zero-length segments and still count where they sit.

    Output: (day string, peak_concurrent, n_segments)."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col("event_id").asc())
    flagged = events.select(
        user_col,
        "event_id",
        F.unix_micros(F.col(ts_col)).alias("_us"),
        F.when(
            F.lag(ts_col, 1).over(w).isNull()
            | (
                F.unix_micros(F.col(ts_col))
                - F.unix_micros(F.lag(ts_col, 1).over(w))
                > gap_s * 1_000_000
            ),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("_new"),
    )
    sess = (
        flagged.withColumn(
            "_sid",
            F.sum("_new").over(
                Window.partitionBy(user_col)
                .orderBy(F.col("_us").asc(), F.col("event_id").asc())
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(user_col, "_sid")
        .agg(F.min("_us").alias("_s"), F.max("_us").alias("_e"))
    )
    # day-split: one segment per covered day, clipped to day bounds
    day_us = 86_400_000_000
    seg = sess.select(
        F.explode(
            F.sequence(
                F.expr("_s div 86400000000"), F.expr("_e div 86400000000")
            )
        ).alias("_day_idx"),
        "_s",
        "_e",
    ).select(
        F.date_format(
            F.timestamp_micros(F.col("_day_idx") * day_us), "yyyy-MM-dd"
        ).alias("day"),
        F.greatest(F.col("_s"), F.col("_day_idx") * day_us).alias("seg_s"),
        F.least(F.col("_e"), (F.col("_day_idx") + 1) * day_us - 1).alias("seg_e"),
    )
    deltas = seg.select(
        "day", F.col("seg_s").alias("at_us"), F.lit(1).alias("d")
    ).unionByName(
        seg.select("day", (F.col("seg_e") + 1).alias("at_us"), F.lit(-1).alias("d"))
    )
    grid = deltas.groupBy("day", "at_us").agg(F.sum("d").alias("net"))
    run = grid.withColumn(
        "level",
        F.sum("net").over(
            Window.partitionBy("day")
            .orderBy("at_us")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    starts = seg.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments")
    )
    return (
        run.groupBy("day")
        .agg(F.max("level").cast("bigint").alias("peak_concurrent"))
        .join(starts, "day")
        .select("day", "peak_concurrent", "n_segments")
    )


def retention_cohorts(
    events: DataFrame, ts_col: str = "ts", user_col: str = "user_id"
) -> DataFrame:
    """COHORT RETENTION matrix — the companion readout to
    :func:`growth_accounting`: users grouped by their first-seen day
    (the cohort), counted on every later day they return, keyed by
    day offset. Row (cohort, 0) is the cohort's size; (cohort, k) is
    how many of them were active k days later — the classic
    triangle-shaped retention table.

    Plan: distinct (day, user) pairs (the one full-data hash-agg),
    per-user first day reduces from it, one id-keyed join back, then
    a hash-agg on the bounded (cohort, offset) grid — day-count
    squared at most, independent of corpus size. Exact integers; day
    as ISO string for engine portability.

    Output: (cohort, offset_days, n_users)."""
    du = events.select(
        F.to_date(F.col(ts_col)).alias("day"), F.col(user_col).alias("u")
    ).distinct()
    first = du.groupBy("u").agg(F.min("day").alias("cohort"))
    return (
        du.join(first, "u")
        .groupBy(
            F.col("cohort").cast("string").alias("cohort"),
            F.datediff("day", "cohort").cast("bigint").alias("offset_days"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


def rolling_daily(
    events: DataFrame,
    days: int = 7,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """ROLLING k-day aggregates per event type — the dashboard
    smoothing staple (7-day actives/revenue), computed on the BOUNDED
    daily grid, never the raw stream: one (type, day) hash-agg is the
    only full-data exchange; the rolling window is a RANGE frame over
    integer day numbers partitioned by type, so a day with no
    neighbors inside k days simply contributes itself (calendar gaps
    are handled by the range frame — no gap-fill join needed). Value
    rides as exact bigint cents. Output: (event_type, day, n,
    cents, roll_n, roll_cents)."""
    from pyspark.sql import Window

    daily = events.groupBy(
        type_col,
        F.expr(f"unix_micros({ts_col}) div 86400000000").alias("_dnum"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col(value_col) * 100, 0).cast("long"))
        .cast("bigint")
        .alias("cents"),
    )
    w = (
        Window.partitionBy(type_col)
        .orderBy("_dnum")
        .rangeBetween(-(days - 1), 0)
    )
    return daily.select(
        type_col,
        F.date_format(
            F.timestamp_micros(F.col("_dnum") * 86_400_000_000), "yyyy-MM-dd"
        ).alias("day"),
        "n",
        "cents",
        F.sum("n").over(w).cast("bigint").alias("roll_n"),
        F.sum("cents").over(w).cast("bigint").alias("roll_cents"),
    )
