"""Structured Streaming: windowed and stateful aggregations,
watermarks, stream-static and stream-stream joins, sessions,
deduplication, foreachBatch upserts and incremental file arrival.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from filemapreduce_spark.operators.scratch import scratch_dir
from filemapreduce_spark.queries import register
from filemapreduce_spark.session import memo
from filemapreduce_spark.sources.tables import load_table as t


# Temp dirs (stream-source symlink dirs, checkpoint dirs) live only as
# long as the call that made them: each is filed under its thread, the
# call removes its own thread's dirs when its bounded stream is done,
# and atexit sweeps anything left by an aborted call. Calls running in
# other threads of one session keep theirs.
_PENDING_DIRS: dict[int, list[str]] = {}


def _tmpdir(prefix: str) -> str:
    # bounded-stream scratch (source symlinks, checkpoints) is
    # throwaway — prefer tmpfs so the per-microbatch offset/commit/
    # state fsyncs don't pay rotating-disk latency. A durable
    # production stream would point checkpointLocation at reliable
    # storage instead; these queries run to completion and delete it.
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    _PENDING_DIRS.setdefault(threading.get_ident(), []).append(d)
    return d


def _cleanup_pending() -> None:
    """Remove the dirs this thread made."""
    for d in _PENDING_DIRS.pop(threading.get_ident(), []):
        shutil.rmtree(d, ignore_errors=True)


@atexit.register
def _cleanup_all() -> None:
    for dirs in list(_PENDING_DIRS.values()):
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


@register(
    "streaming_tumbling_counts",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
    tags=("streaming", "window"),
    # days x types: bounded by the calendar
    sort="tiny_sorted",
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling-window counts computed by an actual Structured
    Streaming query (file source → window agg → memory sink, processed
    to completion with availableNow). The oracle is the batch
    equivalent — identical by the replayability of bounded streams."""
    # Declared NULL-time semantics: an event without a timestamp is
    # off the time axis. F.window() already drops NULL event-times
    # (the window generator emits no row); the explicit filter makes
    # the contract visible and keeps the DuckDB oracle (WHERE ts IS
    # NOT NULL) aligned on NULL-saturated inputs (r9 null sweep).
    stream = _events_stream(spark, sf_dir).where(F.col("ts").isNotNull())
    agg = (
        stream
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0)
            .cast("double")
            .alias("sum_value"),
        )
    )
    return _run_to_memory(agg.writeStream, "complete").select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        "sum_value",
    )


@register(
    "sessionize_events",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ep, ts FROM events
      WHERE ts IS NOT NULL
    ), l AS (
      SELECT *, lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM e
    ), f AS (
      SELECT *, CASE WHEN prev IS NULL OR ep - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM l
    ), s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    )
    SELECT user_id, CAST(sid AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ep) AS start_epoch_us,
           MAX(ep) - MIN(ep) AS duration_us
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_id
    """,
    tags=("streaming", "session"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative
    session index — one shuffle by user, fully distributed."""
    # NULL event-times are off the time axis: a session is a gap
    # structure ON time, and Spark NULLS FIRST vs DuckDB NULLS LAST
    # would otherwise place the undated rows at opposite ends of every
    # user's ordering (r9 null sweep: 977 vs 961 sessions)
    e = (
        t(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", F.unix_micros("ts").alias("ep"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 1_800_000_000  # 30 min
    sess = (
        e.withColumn("prev", F.lag("ep").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull() | (F.col("ep") - F.col("prev") > gap_us), 1
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(wrun))
    )
    return (
        sess.groupBy("user_id", F.col("sid").alias("session_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ep").alias("start_epoch_us"),
            (F.max("ep") - F.min("ep")).alias("duration_us"),
        )
    )


def _events_stream(spark: SparkSession, sf_dir: str):
    """Bounded file-source stream over events.parquet (symlinked into a
    temp dir — the file stream source requires a directory)."""
    stream_dir = _tmpdir("fmr_stream_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stream_dir}/events.parquet")
    # the raw parquet schema, read once per session: the footer read
    # costs a driver round trip per call otherwise
    path = f"{sf_dir}/events.parquet"
    raw_schema = memo(
        spark, ("parquet_schema", path), lambda: spark.read.parquet(path).schema
    )
    stream = spark.readStream.schema(raw_schema).parquet(stream_dir)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def _run_to_memory(agg_writer, mode: str) -> DataFrame:
    """Run a bounded stream to completion into a new memory sink
    (``stream_out_*``) and return its rows."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    spark = SparkSession.getActiveSession() or agg_writer._df.sparkSession
    # State-store instance count is frozen at stream start from
    # spark.sql.shuffle.partitions. When the session is already
    # toy-tuned (<=16 partitions — the bench/driver setting for
    # MB-scale inputs), 4 state stores amortize the per-microbatch
    # offset/commit/state fsync cost ~33% better than 8 (measured);
    # a production stream sizes this to state-key cardinality
    # instead, so an untuned (200-partition) session is left alone.
    # A session already at 4 is left alone: a call that starts while
    # another thread's call holds the 4 must not save it and restore
    # it over the session's own value.
    prev = None
    try:
        cur = spark.conf.get("spark.sql.shuffle.partitions")
        if cur is not None and cur != "4" and int(cur) <= 16:
            prev = cur
            spark.conf.set("spark.sql.shuffle.partitions", "4")
    except Exception:
        prev = None
    try:
        q = (
            agg_writer.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", _tmpdir("fmr_stream_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        # bounded query is done: its source-symlink + checkpoint dirs
        # are dead weight now (results live in the in-memory sink)
        _cleanup_pending()
    return _take_sink(spark, name)


def _take_sink(spark: SparkSession, name: str) -> DataFrame:
    """The memory sink ``name`` as a DataFrame, its temp view dropped:
    the resolved plan holds the sink's rows, so the session keeps no
    ``stream_out_*`` view per call."""
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df


@register(
    "streaming_sliding_counts",
    """
    WITH w AS (
      SELECT to_timestamp(CAST(floor(epoch(ts) / 43200) AS BIGINT) * 43200)
               AS w1, ts, event_type, value
      FROM events
      WHERE ts IS NOT NULL
    ), expanded AS (
      SELECT w1 AS ws, event_type, value FROM w
      UNION ALL
      SELECT w1 - INTERVAL 12 HOUR AS ws, event_type, value FROM w
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_value
    FROM expanded GROUP BY ws, event_type
    ORDER BY window_start, event_type
    """,
    tags=("streaming", "window", "watermark"),
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 day window / 12 h slide) aggregation with a
    watermark, run as a real Structured Streaming query to completion.
    Each event lands in exactly two windows; the oracle materializes
    both window starts per row and re-aggregates.

    Scale shape: watermark bounds state (late rows beyond 1 day are
    dropped and their windows evicted); the agg itself is the standard
    partial/final shuffle keyed by (window, event_type).
    """
    # NULL event-times are off the time axis (see tumbling_counts)
    stream = (
        _events_stream(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .withWatermark("ts", "1 day")
    )
    agg = (
        stream.groupBy(
            F.window("ts", "1 day", "12 hours").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0)
            .cast("double")
            .alias("sum_value"),
        )
    )
    return (
        _run_to_memory(agg.writeStream, "complete")
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "streaming_stateful_user_stats",
    """
    SELECT user_id, COUNT(*) AS n_events,
           round(MAX(value), 6) AS max_value,
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "stateful"),
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user running stats via
    ``applyInPandasWithState`` (Arrow-batched, arbitrary Python state
    per key). A bounded stream processed to completion emits each
    key's final state, so the batch groupBy is an exact oracle.

    Scale shape: state lives in the state store keyed by user_id —
    one shuffle on the key, per-key state O(1); this is the template
    for operators Spark's built-in aggs can't express (decayed
    counters, per-key models, CDC merge)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _events_stream(spark, sf_dir)

    def update_user(key, pdfs, state: GroupState):
        n, mx, types = (
            state.get if state.exists else (0, float("-inf"), [])
        )
        types = set(types)
        for pdf in pdfs:
            n += len(pdf)
            # skipna max, then guard: an all-NULL batch yields NaN and
            # max(-inf, NaN) is order-dependent garbage; COUNT(DISTINCT
            # event_type) excludes NULLs, so drop None before the set
            # union (sorted() over mixed None/str raises — r9 null
            # sweep crash)
            v = pdf["value"].max()
            if pd.notna(v):
                mx = max(mx, float(v))
            types |= {x for x in pdf["event_type"] if x is not None}
        state.update((n, float(mx), sorted(types)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                # never-observed value (all NULL) reports NULL, matching
                # the oracle's MAX over an all-NULL group
                "max_value": [
                    round(mx, 6) if mx != float("-inf") else None
                ],
                "n_types": [len(types)],
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update_user,
        outputStructType="user_id long, n_events long, max_value double, n_types long",
        stateStructType="n long, mx double, types array<string>",
        outputMode="Update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out.writeStream, "update")


@register(
    "streaming_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
    tags=("streaming", "dedup"),
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` on the key columns
    inside a streaming query — the state store keeps one entry per
    seen key; emitting only the keys makes the result deterministic.

    Scale shape: at 100 TB this is ``dropDuplicatesWithinWatermark``
    so key state is evicted after the lateness bound instead of
    growing forever; the bounded-replay test keeps unbounded state."""
    stream = _events_stream(spark, sf_dir)
    dedup = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_to_memory(dedup.writeStream, "append")


@register(
    "streaming_static_join_enrich",
    """
    SELECT c_mktsegment,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY 1, 2 ORDER BY c_mktsegment, day
    """,
    tags=("streaming", "join"),
)
def streaming_static_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream is enriched against the
    static customer dimension inside the streaming query (per
    micro-batch lookup join), then aggregated per segment and day.
    A bounded stream processed to completion matches the batch join —
    the oracle.

    Scale shape: the static side is a broadcast lookup re-used across
    micro-batches — the standard streaming-enrichment topology; state
    is only the windowless agg keyed by (segment, day).
    """
    stream = _events_stream(spark, sf_dir)
    dim = F.broadcast(
        t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    # exact COUNT(DISTINCT) isn't supported inside a streaming agg, so
    # the stream aggregates per (segment, day, user) and the exact
    # distinct is the row count of that state — the standard two-level
    # exact-distinct formulation for streams.
    pre = (
        stream.join(dim, F.col("c_custkey") == F.col("user_id"))
        .groupBy(
            "c_mktsegment",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_user = _run_to_memory(pre.writeStream, "complete")
    return (
        per_user.groupBy("c_mktsegment", "day")
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_users"),
        )
    )


@register(
    "streaming_stream_stream_join",
    """
    SELECT c.user_id, COUNT(*) AS n_pairs,
           MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS min_lag_us
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    GROUP BY c.user_id ORDER BY c.user_id
    """,
    tags=("streaming", "join", "watermark"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks joined to the same user's
    purchases within the following hour, both sides watermarked. The
    joined pairs stream to an append sink; the per-user pair counts
    are a batch agg over that output, so the bounded replay matches
    the batch time-range self-join oracle exactly.

    Scale shape: the time-range condition plus both watermarks bound
    the join state — each side buffers only rows younger than
    (watermark + 1 h), evicting as event time advances; the join
    itself shuffles both streams on user_id only.
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return (
        _run_to_memory(pairs.writeStream, "append")
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(
                F.unix_micros("p_ts") - F.unix_micros("c_ts")
            ).alias("min_lag_us"),
        )
    )


@register(
    "streaming_session_window_native",
    """
    WITH e AS (
      -- the streaming time domain starts at the Unix epoch: Spark's
      -- watermark clock initializes to 0, so a session ENDING before
      -- 1970 is already 'late' in the first micro-batch and dropped
      -- by the state store (r10 extreme axis, 1900 events). Declared
      -- symmetric filter; the BATCH twin keeps the full time domain.
      SELECT user_id, event_id, epoch_us(ts) AS ep, ts FROM events
      WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
    ), l AS (
      SELECT *, lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM e
    ), f AS (
      SELECT *, CASE WHEN prev IS NULL OR ep - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM l
    ), s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    )
    SELECT user_id, COUNT(*) AS n_events, MIN(ep) AS start_epoch_us
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, start_epoch_us
    """,
    tags=("streaming", "session", "window"),
)
def streaming_session_window_native(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Native ``session_window`` sessionization (30-min gap) run as a
    real streaming aggregation with a watermark — Spark merges
    overlapping per-event windows into sessions in the state store,
    the built-in equivalent of the lag+cumsum batch formulation (same
    oracle as ``sessionize_events``).

    Scale shape: session state is keyed by (user, session) and merged
    incrementally; the watermark closes sessions whose gap has
    definitively passed, so state stays proportional to OPEN sessions,
    not history — the property that makes gap sessionization feasible
    on an unbounded 100 TB/day stream.
    """
    # NULL event-times are off the time axis (session_window drops
    # them; the filter makes the declared semantics explicit), and
    # the streaming time domain starts at the epoch (see oracle note:
    # the watermark clock initializes to 0)
    stream = (
        _events_stream(spark, sf_dir)
        .where(
            F.col("ts").isNotNull()
            & (F.col("ts") >= F.lit("1970-01-01").cast("timestamp"))
        )
        .withWatermark("ts", "1 day")
    )
    agg = stream.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        _run_to_memory(agg.writeStream, "complete")
        .select(
            "user_id",
            "n_events",
            F.unix_micros(F.col("w.start")).alias("start_epoch_us"),
        )
    )


# --------------------------------------------------------------------
# Native session_window in BATCH mode (same primitive as streaming).
# --------------------------------------------------------------------
@register(
    "session_window_batch_events",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ep, ts FROM events
      WHERE ts IS NOT NULL
    ), l AS (
      SELECT *, lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM e
    ), f AS (
      SELECT *, CASE WHEN prev IS NULL OR ep - prev >= 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM l
    ), s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    )
    SELECT user_id,
           MIN(ep) AS session_start_us,
           MAX(ep) AS last_event_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
    tags=("session", "window", "agg"),
)
def session_window_batch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` aggregation run in batch
    mode (the same operator the streaming variant uses — one code
    path for both): 30-min-gap sessions per user, directly as a
    groupBy key, no lag/cumsum plumbing.

    Oracle note: session_window treats a gap of exactly ``gap`` as a
    NEW session (window end is exclusive: [start, last+gap)), so the
    gap-mark oracle uses ``>=`` — and the test data has no
    exact-boundary gap either way. The native operator merges
    sessions with a dedicated SessionWindow exec (sort within user
    partitions + linear merge), the same single-shuffle cost as the
    manual formulation.
    """
    # NULL event-times are off the time axis (see the streaming twin)
    e = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    sw = F.session_window("ts", "30 minutes")
    return (
        e.groupBy("user_id", sw)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start_us"),
            # window end = last event + gap (exclusive) -> recover last
            (
                F.unix_micros("session_window.end") - F.lit(1_800_000_000)
            ).alias("last_event_us"),
            "n_events",
        )
    )


# NOTE: transformWithStateInPandas (the Spark 4.x successor to
# applyInPandasWithState) is intentionally NOT exposed here: its state
# serialization needs the python protobuf package, which this container
# lacks (ImportError at stream start). The applyInPandasWithState query
# above covers the arbitrary-keyed-state semantics; swapping APIs is a
# mechanical change once protobuf is available.


# --------------------------------------------------------------------
# foreachBatch incremental upsert (the production merge-sink pattern).
# --------------------------------------------------------------------
@register(
    "streaming_foreachbatch_upsert",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           -- COALESCE 0: the upsert sink's additive state starts at
           -- the monoid identity, so a user whose every value is
           -- NULL accumulates 0 (SUM alone would be NULL; r9
           -- null-measures sweep)
           COALESCE(CAST(SUM(CAST(round(value*100) AS BIGINT))
             AS BIGINT), 0) AS total_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "upsert", "sink"),
)
def streaming_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """foreachBatch incremental upsert: the events table is split into
    4 hash-sliced files, streamed one file per micro-batch
    (maxFilesPerTrigger=1), and each micro-batch MERGES its per-user
    partial aggregate into a keyed parquet state table (full-outer
    join on user_id, sum the partials) — the standard Structured
    Streaming pattern for maintaining an upsert sink on storage that
    has no native MERGE. The final state must equal the batch
    aggregate over all events (the oracle), which only holds if every
    batch was applied exactly once.

    Scale: per-batch work is one map-side-combined agg of the
    micro-batch plus a keyed join against current state — both shuffle
    on user_id only; state is rewritten per batch here (generation
    files) where a table format (Delta/Iceberg) would do a keyed
    MERGE, with identical plan shape. Counts and cent-sums are
    mergeable integer state, so batch boundaries never affect the
    result.
    """
    src = _tmpdir("fmr_fb_src_")
    # the returned DataFrame reads the last generation lazily, so the
    # state outlives this call (the next stream's cleanup must not
    # take it) and is removed at interpreter exit
    state_root = scratch_dir("fb_state")
    ev = t(spark, sf_dir, "events").select("user_id", "value", "event_id")
    # deterministic 4-way hash slicing -> 4 micro-batches
    ev.repartition(4, "event_id").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("user_id BIGINT, value DOUBLE, event_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    state: dict[str, str | None] = {"path": None, "gen": "0"}

    def upsert(batch_df, batch_id: int) -> None:
        agg = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
        if state["path"] is None:
            # monoid identity from the FIRST generation too: an
            # all-NULL batch sum enters the state as 0, same as the
            # merge path's coalesce (see the oracle note)
            merged = agg.select(
                "user_id",
                "n_events",
                F.coalesce(F.col("total_cents"), F.lit(0)).alias(
                    "total_cents"
                ),
            )
        else:
            cur = batch_df.sparkSession.read.parquet(state["path"])
            # MERGE key must be NULL-SAFE: a plain equi full-outer
            # join never matches NULL=NULL, so a NULL-keyed partial
            # would land as a NEW row every micro-batch instead of
            # merging — the r9 null sweep caught 4 duplicate NULL-user
            # rows (one per batch) in the final state. <=> is the
            # MERGE semantics every table format uses on nullable keys.
            merged = (
                cur.withColumnRenamed("n_events", "n0")
                .withColumnRenamed("total_cents", "c0")
                .withColumnRenamed("user_id", "u0")
                .join(
                    agg,
                    F.col("u0").eqNullSafe(F.col("user_id")),
                    "full",
                )
                .select(
                    F.coalesce(F.col("u0"), F.col("user_id")).alias(
                        "user_id"
                    ),
                    (
                        F.coalesce(F.col("n0"), F.lit(0))
                        + F.coalesce(F.col("n_events"), F.lit(0))
                    ).alias("n_events"),
                    (
                        F.coalesce(F.col("c0"), F.lit(0))
                        + F.coalesce(F.col("total_cents"), F.lit(0))
                    ).alias("total_cents"),
                )
            )
        gen = int(state["gen"]) + 1
        new_path = os.path.join(state_root, f"gen_{gen}")
        merged.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path
        state["gen"] = str(gen)

    try:
        q = (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", _tmpdir("fmr_stream_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # the source slices and checkpoint are dead weight now; the
        # state generations live under scratch_dir
        _cleanup_pending()

    assert state["path"] is not None, "stream produced no batches"
    return (
        spark.read.parquet(state["path"])
        .select(
            "user_id",
            F.col("n_events").cast("long"),
            "total_cents",
        )
    )


# --------------------------------------------------------------------
# Incremental file arrival: two waves, one checkpoint, exactly-once.
# --------------------------------------------------------------------
@register(
    "streaming_incremental_file_arrival",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "incremental", "source"),
    # bounded by the event-type domain
    sort="tiny_sorted",
)
def streaming_incremental_file_arrival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The streaming FileSystem backend's INCREMENTAL-ARRIVAL
    contract, oracle-gated: the events table is split into two waves;
    wave 1 lands in the source dir and a complete-mode aggregation
    runs to completion (availableNow); then wave 2 lands and the
    SAME query restarts against the SAME checkpoint. The file-source
    log must process exactly the new files — the final aggregate
    equals the batch aggregate over ALL events (the oracle) only if
    wave 1 was not reprocessed and wave 2 was not missed.

    Scale: this is the exactly-once accounting every production file
    stream relies on (hourly drops into a landing dir); state is the
    windowless grouped agg, sized by key cardinality not arrivals.
    """
    src = _tmpdir("fmr_incr_src_")
    stage = _tmpdir("fmr_incr_stage_")
    ckpt = _tmpdir("fmr_incr_ckpt_")
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    try:
        ev = t(spark, sf_dir, "events").select(
            "event_type", "value", "event_id"
        )
        for wave, pred in (
            (1, F.col("event_id") % 2 == 0),
            (2, F.col("event_id") % 2 == 1),
        ):
            ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(
                f"{stage}/w{wave}"
            )

        def land(wave: int) -> None:
            n = 0
            for f in sorted(os.listdir(f"{stage}/w{wave}")):
                if f.endswith(".parquet"):
                    os.symlink(
                        f"{stage}/w{wave}/{f}", f"{src}/w{wave}_{n}.parquet"
                    )
                    n += 1

        def run_wave() -> None:
            stream = spark.readStream.schema(
                "event_type STRING, value DOUBLE, event_id BIGINT"
            ).parquet(src)
            agg = stream.groupBy("event_type").agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long"))
                .cast("long")
                .alias("sum_cents"),
            )
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        land(1)
        run_wave()
        land(2)
        run_wave()  # same checkpoint: must pick up ONLY wave 2
    finally:
        # the result lives in the memory sink; the waves, source
        # symlinks and checkpoint are dead weight now
        _cleanup_pending()
    return _take_sink(spark, name)
