"""Event-time windowing: tumbling / sliding / session windows.

The reference repo is batch-only (SURVEY.md §2.11 — zero streaming
code); this module supplies the Structured-Streaming surface the engine
baseline requires. Every window helper works on BOTH a static and a
streaming DataFrame — ``F.window`` / ``F.session_window`` are engine
built-ins with identical semantics in either mode — so correctness is
proved in batch against a DuckDB oracle, and `stream_events_tumbling`
wires the same aggregation into a real ``readStream`` with a watermark
(exercised by the test suite with an availableNow trigger).

Scale notes: windowed aggregation shuffles on (window, keys) with
map-side partial aggregation; session windows shuffle on the session
key. Watermarks bound state: late rows beyond the watermark are
dropped instead of growing state forever — the only viable contract at
100 TB/day ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_etl_pipeline_spark.functions import cents
from spark_etl_pipeline_spark.plans.registry import register, store_dir, table
from spark_etl_pipeline_spark.streaming.source import events_stream, stream_from_glob


def tumbling(
    df: DataFrame, ts_col: str, duration: str, keys: list[str]
) -> DataFrame:
    """Fixed, non-overlapping event-time windows."""
    return df.groupBy(F.window(ts_col, duration), *keys)


def sliding(
    df: DataFrame, ts_col: str, duration: str, slide: str, keys: list[str]
) -> DataFrame:
    """Overlapping windows: each row lands in duration/slide windows."""
    return df.groupBy(F.window(ts_col, duration, slide), *keys)


def session(df: DataFrame, ts_col: str, gap: str, keys: list[str]) -> DataFrame:
    """Dynamic windows closing after ``gap`` of inactivity per key."""
    return df.groupBy(F.session_window(ts_col, gap), *keys)


def stream_events_tumbling(
    spark: SparkSession, sf_dir: str, duration: str = "1 hour"
) -> DataFrame:
    """The same tumbling aggregation as ``stream_tumbling_counts`` but on
    a real streaming source with a watermark (1 hour of allowed
    lateness). Run with ``trigger(availableNow=True)`` to drain the
    directory as a bounded stream — the plan is the production
    streaming plan either way.
    """
    stream = events_stream(spark, sf_dir)
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", duration), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_tumbling_drain",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(TRY_CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')
    GROUP BY 1, 2
    """,
)
def stream_tumbling_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ``readStream`` → ``writeStream`` execution of the tumbling plan.

    Unlike the batch twin (:func:`stream_tumbling_counts`, same oracle),
    this drains the actual watermarked file stream with an
    ``availableNow`` trigger into a memory sink and returns the sink
    table — so the driver's correctness gate exercises Structured
    Streaming's micro-batch engine itself (state store, watermark
    advancement, trigger lifecycle), not just the shared aggregation
    plan. ``complete`` output mode emits every window including those
    still open at end-of-stream, which is exactly the batch semantics
    the oracle computes. In production the same query runs unmodified
    with a processing-time trigger and a kafka/file sink — availableNow
    is Spark's official backfill/replay mode, not a test shim.
    """
    return _drain_to_table(
        spark, stream_events_tumbling(spark, sf_dir),
        "stream_tumbling_drain_sink",
    )


# ---------------------------------------------------------------------------
# Registered batch-mode queries (same plans a stream would run)
# ---------------------------------------------------------------------------


@register(
    "stream_tumbling_counts",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(TRY_CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type: count + exact-cents sum.
    One shuffle on (window, event_type) with map-side partials."""
    events = table(spark, sf_dir, "events")
    return (
        tumbling(events, "ts", "1 hour", ["event_type"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_sliding_counts",
    oracle="""
    WITH expanded AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts)
                   - k.k * INTERVAL 30 MINUTE AS window_start,
               event_type
        FROM events
        CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) k
        WHERE ts >= time_bucket(INTERVAL 30 MINUTE, ts) - k.k * INTERVAL 30 MINUTE
          AND ts <  time_bucket(INTERVAL 30 MINUTE, ts) - k.k * INTERVAL 30 MINUTE
                    + INTERVAL 1 HOUR
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n
    FROM expanded GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min: each event counts in 2
    windows. Spark expands window membership before the aggregate —
    the oracle mirrors that expansion with generate_series."""
    events = table(spark, sf_dir, "events")
    return (
        sliding(events, "ts", "1 hour", "30 minutes", ["event_type"])
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


@register(
    "stream_session_windows",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    marked AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap session windows per user via ``F.session_window``.

    The oracle reconstructs identical sessions with the classic
    lag + cumulative-sum sessionization — same boundaries, proving the
    built-in's gap semantics (a new session starts when the quiet
    period reaches the gap).
    """
    events = table(spark, sf_dir, "events")
    return (
        session(events, "ts", "30 minutes", ["user_id"])
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


@register(
    "stream_time_rollup",
    oracle="""
    WITH g AS (
        SELECT e.event_type, e.value, x.grain,
               CASE x.grain WHEN 'hour' THEN date_trunc('hour', e.ts)
                            ELSE date_trunc('day', e.ts) END AS bucket
        FROM events e
        CROSS JOIN (SELECT unnest(['hour', 'day']) AS grain) x
    )
    SELECT grain,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(TRY_CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM g GROUP BY grain, bucket, event_type
    """,
)
def stream_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup (hour + day) in ONE pass.

    Each event fans out to its (grain, bucket) memberships via an
    exploded literal array — one scan, one shuffle on (grain, bucket,
    event_type) — instead of scanning per granularity. The same plan
    shape maintains continuous aggregates under streaming (grain rows
    are independent groups for incremental state).
    """
    events = table(spark, sf_dir, "events")
    grains = F.explode(
        F.array(
            F.struct(F.lit("hour").alias("grain"), F.date_trunc("hour", "ts").alias("bucket")),
            F.struct(F.lit("day").alias("grain"), F.date_trunc("day", "ts").alias("bucket")),
        )
    ).alias("g")
    return (
        events.select("event_type", "value", grains)
        .select("event_type", "value", "g.grain", "g.bucket")
        .groupBy("grain", "bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            "grain",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_interval_join",
    oracle="""
    SELECT COUNT(*) AS n_pairs,
           COUNT(DISTINCT p.event_id) AS n_purchases_with_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <  p.ts
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (event-time range) join: each purchase matched to the
    same user's clicks in the preceding hour — attribution's core
    primitive. Equi-join on user_id carries the range predicate, so
    both sides shuffle once on the key; the range prunes within
    partitions. The streaming twin (:func:`stream_stream_join`) runs
    the identical join between two watermarked streams."""
    events = table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").alias("p")
    c = events.filter(F.col("event_type") == "click").alias("c")
    joined = p.join(
        c,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c.ts") < F.col("p.ts")),
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct(F.col("p.event_id")).alias("n_purchases_with_click"),
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same interval join as two WATERMARKED STREAMS.

    Stream-stream inner joins buffer each side in the state store until
    the watermark plus the join's time bound proves no more matches can
    arrive — the range condition is what makes state finite, and the
    watermark is what lets Spark evict it. Returns the matched-pair
    stream (aggregate in the sink or a downstream stage).
    """
    def side(name: str) -> DataFrame:
        s = events_stream(spark, sf_dir)
        return s.filter(F.col("event_type") == name).withWatermark("ts", "1 hour")

    p = side("purchase").alias("p")
    c = side("click").alias("c")
    return p.join(
        c,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c.ts") < F.col("p.ts")),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.event_id").alias("click_id"),
    )


def stream_events_dedup(
    spark: SparkSession, src_glob: str, schema, nanos: list[str]
) -> DataFrame:
    """Streaming exactly-once-per-key dedup over a replayed source.

    ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival per
    ``event_id`` and — unlike plain ``dropDuplicates`` — EXPIRES each
    key's state once the watermark passes its event time, so state is
    bounded by (watermark horizon x arrival rate), not by stream
    lifetime. That expiry contract is the only viable dedup at
    100 TB/day: an at-least-once upstream (Kafka redelivery, file
    re-drops) re-sends within minutes, never weeks, so a 24h horizon
    absorbs every real replay while state stays finite.
    """
    stream = stream_from_glob(spark, src_glob, schema, nanos)
    return stream.withWatermark("ts", "24 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


@register(
    "stream_dedup_replay",
    oracle="""
    WITH replayed AS (
        SELECT * FROM events
        UNION ALL
        SELECT * FROM events WHERE event_id % 10 = 0
    ),
    deduped AS (SELECT DISTINCT * FROM replayed)
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(TRY_CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0
               AS sum_value
    FROM deduped
    GROUP BY event_type
    """,
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`stream_events_dedup`: a 10% at-least-once
    replay (every ``event_id % 10 = 0`` delivered twice) deduped back
    to exactly-once, verified by per-type count + exact-cents sum equal
    to the clean source. Replay rows are byte-identical, so keyed
    ``dropDuplicates("event_id")`` and the oracle's full-row DISTINCT
    agree deterministically. One shuffle on event_id (the dedup), one
    on event_type (the audit agg) — map-side partials on both."""
    ev = table(spark, sf_dir, "events")
    replayed = ev.union(ev.filter(F.col("event_id") % 10 == 0))
    deduped = replayed.dropDuplicates(["event_id"])
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents("value")).cast("double") / 100.0).alias("sum_value"),
    )


@register(
    "stream_profiles_drain",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           round(SUM(CASE WHEN isnan(value) OR isinf(value)
                          THEN NULL ELSE value END), 2) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')
    GROUP BY user_id
    """,
)
def stream_profiles_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ``applyInPandasWithState`` execution, driver-checked.

    Drains the per-user running-profile stream (arbitrary Arrow-batched
    state, update mode) with ``availableNow`` and returns each user's
    FINAL emitted profile — which equals the batch aggregate the oracle
    computes. The custom-stateful surface thereby gets a correctness
    row that actually exercises the state store, not just its batch
    twin. ``total_value`` rounds to cents on both sides: the state
    function accumulates in arrival order, the oracle in scan order —
    two float sums of 2-decimal values agree to well under a cent, and
    the stored profile keeps the raw running float exactly as a
    production profile store would.
    """
    from spark_etl_pipeline_spark.streaming.stateful import (
        running_user_profiles,
    )

    profiles = _drain_to_table(
        spark, running_user_profiles(spark, sf_dir),
        "stream_profiles_drain_sink", mode="update",
    )
    w = F.expr(
        "row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC)"
    )
    return (
        profiles
        .withColumn("rn", w)
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
        )
    )


@register(
    "stream_rollup_drain",
    oracle="""
    WITH g AS (
        SELECT e.event_type, e.value, x.grain,
               CASE x.grain WHEN 'hour' THEN date_trunc('hour', e.ts)
                            ELSE date_trunc('day', e.ts) END AS bucket
        FROM events e
        CROSS JOIN (SELECT unnest(['hour', 'day']) AS grain) x
        WHERE e.ts >= TIMESTAMP '1990-01-01'
          AND e.ts <= (now() AT TIME ZONE 'UTC')
    )
    SELECT grain,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(TRY_CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM g GROUP BY grain, bucket, event_type
    """,
)
def stream_rollup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hypertable-style multi-grain rollup as a REAL stream.

    Same one-pass grain fan-out as the batch twin
    (:func:`stream_time_rollup`, shared oracle): the explode is a
    stateless streaming projection, the (grain, bucket, event_type)
    aggregate holds one state row per group, and the availableNow drain
    in complete mode emits the full continuous-aggregate table — the
    exact maintenance loop a streaming rollup runs in production, where
    grain rows are independent state groups updated incrementally per
    micro-batch.
    """
    stream = events_stream(spark, sf_dir)
    grains = F.explode(
        F.array(
            F.struct(F.lit("hour").alias("grain"), F.date_trunc("hour", "ts").alias("bucket")),
            F.struct(F.lit("day").alias("grain"), F.date_trunc("day", "ts").alias("bucket")),
        )
    ).alias("g")
    agg = (
        stream.select("event_type", "value", grains)
        .select("event_type", "value", "g.grain", "g.bucket")
        .groupBy("grain", "bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            "grain",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _drain_to_table(spark, agg, "stream_rollup_drain_sink")


def _drain_to_table(
    spark: SparkSession, df: DataFrame, sink: str, mode: str = "complete"
) -> DataFrame:
    """Shared availableNow → memory-sink drain.

    Both the streaming query name and the memory-sink table behind it
    are SESSION-GLOBAL names, so ``sink`` is only a prefix: each
    invocation drains into a fresh uuid-suffixed name. A fixed name let
    two concurrent invocations of the same drain (one shared session,
    two directories) collide — the old pre-start stop-by-name loop even
    killed the other invocation's in-flight drain, i.e. silent partial
    results, the same session-global-state class as the temp-view race
    (``tests/test_concurrency.py``). The result is materialized eagerly
    so the sink table can be dropped before returning — no session
    residue, and the returned DataFrame does not depend on the
    (now-dropped) memory table.
    """
    import uuid

    table_name = f"{sink}_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination(timeout) returns False on TIMEOUT with the
        # query still running; the finally-stop would then freeze a
        # PARTIALLY-filled memory sink and the caller would checkpoint
        # truncated rows as if they were the full drain (ADVICE r12).
        # A slow drain must fail loudly, not return silent partials.
        if not q.awaitTermination(300):
            raise TimeoutError(
                f"streaming drain {table_name!r} did not finish within "
                "300s — refusing to read a partially-filled memory sink"
            )
    finally:
        q.stop()
    out = spark.table(table_name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(table_name)
    return out


@register(
    "stream_sliding_drain",
    oracle="""
    WITH expanded AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts)
                   - k.k * INTERVAL 30 MINUTE AS window_start,
               event_type
        FROM events
        CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) k
        WHERE ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')
          AND ts >= time_bucket(INTERVAL 30 MINUTE, ts) - k.k * INTERVAL 30 MINUTE
          AND ts <  time_bucket(INTERVAL 30 MINUTE, ts) - k.k * INTERVAL 30 MINUTE
                    + INTERVAL 1 HOUR
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n
    FROM expanded GROUP BY 1, 2
    """,
)
def stream_sliding_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window aggregation as a REAL stream (each event's
    2-window membership expands inside the micro-batch engine; grouped
    state per (window, type)), drained complete-mode — shares the batch
    twin's oracle exactly like the tumbling/rollup drains."""
    stream = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        sliding(stream, "ts", "1 hour", "30 minutes", ["event_type"])
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )
    return _drain_to_table(spark, agg, "stream_sliding_drain_sink")


@register(
    "stream_session_drain",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
        WHERE ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')
    ),
    marked AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def stream_session_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows as a REAL stream: ``session_window`` grouped
    state merges/extends sessions per user as micro-batches arrive;
    the complete-mode availableNow drain emits the final session table,
    equal to the batch sessionization the oracle reconstructs with
    lag + cumulative sum."""
    stream = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        session(stream, "ts", "30 minutes", ["user_id"])
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )
    return _drain_to_table(spark, agg, "stream_session_drain_sink")


@register(
    "stream_dedup_drain",
    oracle="""
    WITH replayed AS (
        SELECT * FROM events WHERE ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')
        UNION ALL
        SELECT * FROM events WHERE event_id % 10 = 0 AND ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')
    ),
    deduped AS (SELECT DISTINCT * FROM replayed)
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(TRY_CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0
               AS sum_value
    FROM deduped
    GROUP BY event_type
    """,
)
def stream_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming execution of exactly-once replay dedup: the 10%
    at-least-once replay is materialized as a file source, drained
    through ``dropDuplicatesWithinWatermark`` on the micro-batch engine
    (watermark advancement, keyed state store, state EXPIRY — the parts
    the batch twin ``stream_dedup_replay`` cannot reach), and the
    drained first-arrivals are audited with the same per-type
    count + exact-cents sum oracle. Append mode is the operator's
    native output: each first arrival emits in its own micro-batch;
    replays are absorbed by keyed state whether they land in the same
    batch or a later one. In production the identical query reads
    kafka and the watermark horizon bounds state by (horizon × arrival
    rate) — stream-lifetime-independent, the only viable dedup at
    100 TB/day.
    """
    ev = table(spark, sf_dir, "events")
    replayed = ev.union(ev.filter(F.col("event_id") % 10 == 0))
    src = store_dir("spark_etl_replay_src_")
    replayed.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = stream_from_glob(spark, f"{src}/*.parquet", schema, [])
    deduped = stream.withWatermark("ts", "24 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    drained = _drain_to_table(
        spark, deduped, "stream_dedup_drain_sink", mode="append",
    )
    return (
        drained
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("sum_value"),
        )
    )


@register(
    "stream_join_drain",
    oracle="""
    SELECT COUNT(*) AS n_pairs,
           COUNT(DISTINCT p.event_id) AS n_purchases_with_click
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase' AND ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')) p
    JOIN (SELECT * FROM events
          WHERE event_type = 'click' AND ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')) c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <  p.ts
    """,
)
def stream_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream join execution (the last streaming surface
    with only a batch twin): :func:`stream_stream_join`'s two
    watermarked file streams joined inside the micro-batch engine,
    drained with an ``availableNow`` trigger in APPEND mode — the only
    output mode stream-stream joins support, because a matched pair is
    emitted exactly once when both sides have arrived. The join's
    time-range condition plus the 1-hour watermarks are what let the
    state store evict buffered rows (each side is held only until the
    watermark proves no more matches can arrive). The drained pair
    table is then aggregated to the SAME oracle as the batch twin
    (:func:`stream_interval_join`), so the driver gate verifies the
    streaming engine's join itself, not a re-used batch plan.
    """
    pairs = _drain_to_table(
        spark, stream_stream_join(spark, sf_dir),
        "stream_join_drain_sink", mode="append",
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("purchase_id").alias("n_purchases_with_click"),
    )


@register(
    "stream_enrich_drain",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           e.event_type,
           COUNT(*) AS n,
           CAST(SUM(TRY_CAST(round(e.value*100) AS BIGINT)) AS DOUBLE)/100.0
               AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.ts >= TIMESTAMP '1990-01-01' AND e.ts <= (now() AT TIME ZONE 'UTC')
    GROUP BY 1, 2
    """,
)
def stream_enrich_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL STREAM-STATIC join drain — the one streaming join family
    the registry didn't yet execute on the micro-batch engine: each
    streamed event enriched with its customer's market segment from a
    STATIC dimension DataFrame, then aggregated per (segment, type).

    Stream-static inner joins are stateless on the stream side — the
    static dim is (re)planned into every micro-batch as a broadcast
    hash join, no watermark required and no state store involvement —
    which is exactly why this is THE recommended enrichment shape at
    scale: a 100 TB/day stream joins a bounded dimension without a
    shuffle. The downstream global aggregate holds one state row per
    (segment, type) and drains complete-mode, same contract as the
    other drains; the batch-SQL oracle proves the enriched aggregate,
    not a re-used batch plan. (No distinct aggregate here: streaming
    grouped state must be mergeable across micro-batches, which exact
    COUNT(DISTINCT) is not — Spark rejects it on streams.)
    """
    stream = events_stream(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("mktsegment")
    )
    enriched = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"]
    )
    agg = enriched.groupBy("mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents("value")).cast("double") / 100.0).alias("sum_value"),
    )
    return _drain_to_table(spark, agg, "stream_enrich_drain_sink")
