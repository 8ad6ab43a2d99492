"""Time-series operators over the ``events`` table.

The reference pipeline's event handling stops at fixed-window batch
aggregation (jobs/etl_job.py's hourly rollups); this module adds the
time-series surface an analytics/feature pipeline needs on top of it:

- **gap-fill / resample**: regularize an irregular event stream onto a
  fixed hourly spine per key, forward-filling measure columns across
  empty buckets (the "resample → ffill" shape every downstream
  forecaster expects).
- **sessionization**: split each user's stream into sessions at
  inactivity gaps — the lag/flag/cumulative-sum idiom, producing
  per-session ordinals that can be joined back onto events (unlike
  ``F.session_window``, which only yields the window bounds; see
  ``streaming/windows.py`` for that form).
- **period-over-period**: daily grain totals with previous-period and
  percent-change columns — the trend-table shape.

Scale notes (100 TB): every operator here collapses the raw stream with
one map-side-combinable hash aggregate FIRST (hourly/daily buckets,
session member rows), so window passes run over bucket/session counts,
never raw-event counts. The gap-fill spine is |keys| x |buckets| rows —
independent of input volume. Sessionization's window is partitioned by
user_id: per-user partitions parallelize across executors and a single
user's history is the only sequential unit (a pathological hot user
needs time-chunking, not a different operator).

Cross-engine determinism: bucket sums use integer cents; inactivity
gaps compare integer microseconds (``unix_micros`` / ``epoch_us`` —
both engines read the same µs parquet values); percent change is a
single IEEE754 division of exactly-represented integers; timestamps are
emitted as formatted strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_etl_pipeline_spark.operators import rounds
from spark_etl_pipeline_spark.plans.registry import register, store_dir, table

#: Session inactivity gap: 30 minutes, in integer microseconds.
SESSION_GAP_US = 30 * 60 * 1_000_000

_CENTS = "try_cast(round(value * 100) as bigint)"

#: Valid operating epoch for SPINE-GENERATING analytics (gap-fill,
#: autocorrelation's dense grid, the calendar dimension). These
#: operators size their output by sequence(min_ts, max_ts) — so a
#: SINGLE corrupt timestamp (an epoch-zero sentinel from an unset
#: field, a 1900/2200 garbage instant) stretches the generated grid
#: to a multi-century, multi-million-row spine per key. The
#: hostile-timestamps sweep OOM'd the gap-fill exactly that way. The
#: gate drops out-of-epoch rows before grid construction, in BOTH
#: engines (the oracles carry the same WHERE) — the same
#: ingest-gate pattern as the similarity family's empty-vector gate
#: and multimodal's null-payload gate, and a no-op on clean corpora.
#: Operators without data-driven generation (sessionize, windows,
#: recurrences over observed rows) are volume-bounded and stay
#: ungated.
#: The gate is two-sided: a static lower bound (epoch-zero sentinels,
#: pre-history garbage) and the FUTURE-CLOCK guard ``ts <= now`` —
#: an event timestamped after wall-clock now is clock-skew garbage by
#: definition, and it is the upper bound that actually matters: one
#: future instant inflates min/max-driven grids and (in streaming)
#: advances watermarks past all real data. Both engines evaluate
#: their own ``now`` *in UTC*: Spark's ``localtimestamp()`` under the
#: session tz (pinned UTC by the session factory), DuckDB's via
#: ``now() AT TIME ZONE 'UTC'`` — NOT ``CAST(now() AS TIMESTAMP)``,
#: which renders in the DuckDB session TimeZone (defaults to the HOST
#: tz), putting the two bounds hours apart on a non-UTC host and
#: making near-now rows wall-clock-dependent. With the UTC pin the
#: bounds are microseconds apart, which only matters for rows inside
#: that sliver, i.e. never for the garbage this gates.
TS_EPOCH_LO = "1990-01-01"
TS_EPOCH_DUCK = (
    f"ts >= TIMESTAMP '{TS_EPOCH_LO}' AND ts <= (now() AT TIME ZONE 'UTC')"
)


def epoch_gated(df: DataFrame, col: str = "ts") -> DataFrame:
    """Drop rows outside the declared operating epoch (see above)."""
    return df.filter(
        (F.col(col) >= F.lit(TS_EPOCH_LO).cast("timestamp_ntz"))
        & (F.col(col) <= F.expr("localtimestamp()"))
    )


# ---------------------------------------------------------------------------
# Gap-fill / resample onto a fixed hourly spine
# ---------------------------------------------------------------------------


@register(
    "events_gap_fill",
    oracle="""
    WITH c AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               TRY_CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')
    ),
    hourly AS (
        SELECT event_type, h, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS cents
        FROM c GROUP BY event_type, h
    ),
    bounds AS (
        SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY event_type
    ),
    spine AS (
        SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
    )
    SELECT s.event_type,
           strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(COALESCE(hr.n, 0) AS BIGINT) AS n_events,
           CAST(hr.cents AS DOUBLE) / 100.0 AS amount,
           CAST(last_value(hr.cents IGNORE NULLS) OVER (
                    PARTITION BY s.event_type ORDER BY s.h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100.0 AS filled_amount,
           hr.n IS NULL AS is_gap
    FROM spine s
    LEFT JOIN hourly hr ON hr.event_type = s.event_type AND hr.h = s.h
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the irregular event stream onto a complete hourly spine
    per event_type, forward-filling the revenue measure across empty
    hours — the regularization step before any fixed-step time-series
    model (forecasting, anomaly detection) can consume event data.

    Shape: one hash aggregate collapses raw events to (key, hour)
    buckets; a tiny per-key min/max aggregate bounds the spine;
    ``sequence(h0, h1, interval 1 hour)`` + explode generates exactly
    the missing grid rows (|keys| x |hours| — independent of event
    volume); a left join marks gaps; one window pass per key
    (``last(..., ignorenulls=True)`` over unbounded-preceding rows)
    forward-fills. At 100 TB the raw stream is gone after the first
    map-side-combinable aggregate — everything downstream is
    grid-sized. The per-key window orders hours within one key only,
    so keys parallelize; the spine join is broadcast-sized whenever
    |keys| x |hours| is (AQE decides).
    """
    events = epoch_gated(table(spark, sf_dir, "events"))
    hourly = (
        events.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.expr(_CENTS).alias("cents"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
        .localCheckpoint(eager=False)
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = spine.join(hourly, ["event_type", "h"], "left")
    return joined.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        (F.col("cents").cast("double") / 100.0).alias("amount"),
        (
            F.last("cents", ignorenulls=True).over(w).cast("double") / 100.0
        ).alias("filled_amount"),
        F.col("n").isNull().alias("is_gap"),
    )


def tag_sessions(
    df: DataFrame, gap_us: int = SESSION_GAP_US, ts_us_col: str = "us"
) -> DataFrame:
    """Add ``session_idx`` (dense per-user ordinal from 1) to an event
    DataFrame carrying (user_id, event_id, ``ts_us_col`` integer-µs).

    The lag → boundary-flag → cumulative-sum idiom in one window pass:
    both window functions share the same partition/order spec, so Spark
    plans a SINGLE exchange+sort on user_id. Factored out of the
    registered query so property tests can drive it on arbitrary
    generated streams.
    """
    w = Window.partitionBy("user_id").orderBy(ts_us_col, "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(ts_us_col).over(w)
    marked = df.withColumn(
        "new_s",
        F.when(
            prev.isNull() | (F.col(ts_us_col) - prev > gap_us), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    return marked.withColumn(
        "session_idx", F.sum("new_s").over(wrun).cast("bigint")
    ).drop("new_s")


# ---------------------------------------------------------------------------
# Gap-based sessionization with per-session ordinals
# ---------------------------------------------------------------------------


@register(
    "events_sessionize",
    oracle=f"""
    WITH o AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS us,
               TRY_CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    marked AS (
        SELECT *,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_s
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
        SELECT *,
               CAST(SUM(new_s) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_idx
        FROM marked
    )
    SELECT user_id, session_idx,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS amount,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS duration_sec
    FROM tagged
    GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each user's event stream into sessions at >30-minute
    inactivity gaps, assigning a per-user session ordinal — the
    lag → boundary-flag → cumulative-sum idiom. Unlike
    ``F.session_window`` (see ``stream_session_windows``), the ordinal
    labels every EVENT with its session, so sessions can key
    session-level splits, per-session sequence packing, or
    session-grain negative sampling.

    One window pass computes the lag and the running boundary sum
    (same partition/order — Spark plans a single Window exchange on
    user_id), then a hash aggregate rolls events up per session.
    Inactivity is compared in integer microseconds (``unix_micros``):
    both engines read identical µs parquet values, so the boundary
    decision — and therefore every downstream row — is bit-identical.
    Per-user partitions scale out; duration is exact integer µs math.
    """
    events = table(spark, sf_dir, "events")
    o = events.select(
        "user_id",
        "event_id",
        "ts",
        # testdata `ts` may surface as TIMESTAMP_NTZ (µs parquet without
        # UTC-adjustment); unix_micros requires LTZ. The session tz is
        # pinned UTC, so the cast is value-preserving on both flavors.
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.expr(_CENTS).alias("cents"),
    )
    tagged = tag_sessions(o)
    return tagged.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("cents").cast("double") / 100.0).alias("amount"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.expr("(max(us) - min(us)) div 1000000").alias("duration_sec"),
    )


# ---------------------------------------------------------------------------
# Period-over-period trend table
# ---------------------------------------------------------------------------


@register(
    "events_period_over_period",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               CAST(SUM(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY event_type, date_trunc('day', ts)
    )
    SELECT event_type,
           strftime(d, '%Y-%m-%d') AS day,
           CAST(cents AS DOUBLE) / 100.0 AS amount,
           CAST(lag(cents) OVER w AS DOUBLE) / 100.0 AS prev_amount,
           CASE WHEN lag(cents) OVER w > 0
                THEN CAST(cents - lag(cents) OVER w AS DOUBLE)
                     / CAST(lag(cents) OVER w AS DOUBLE)
                ELSE NULL END AS pct_change
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d)
    """,
)
def events_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue per event_type with previous-day and day-over-day
    percent-change columns — the period-over-period trend table behind
    every growth dashboard.

    One hash aggregate to daily grain (map-side combinable — the raw
    stream never reaches the window), then one lag window per key over
    |days| rows. Percent change divides exactly-represented integer
    cents: ``(cur - prev) / prev`` is one IEEE754 division on identical
    operands in both engines. The ``prev > 0`` guard pins the
    zero-denominator case to NULL on both sides (Spark's Divide is
    non-ANSI NULL-on-zero; DuckDB would return inf).
    """
    events = table(spark, sf_dir, "events")
    daily = (
        events.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.expr(_CENTS).alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    prev = F.lag("cents").over(w)
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (F.col("cents").cast("double") / 100.0).alias("amount"),
        (prev.cast("double") / 100.0).alias("prev_amount"),
        F.when(
            prev > 0,
            (F.col("cents") - prev).cast("double") / prev.cast("double"),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("pct_change"),
    )


# ---------------------------------------------------------------------------
# Gap-fill with linear interpolation (the lerp upgrade of forward fill)
# ---------------------------------------------------------------------------


@register(
    "events_gap_fill_lerp",
    oracle="""
    WITH c AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               TRY_CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')
    ),
    hourly AS (
        SELECT event_type, h, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS cents
        FROM c GROUP BY event_type, h
    ),
    bounds AS (
        SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY event_type
    ),
    spine AS (
        SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    j AS (
        SELECT s.event_type, s.h, hr.n, hr.cents,
               row_number() OVER (PARTITION BY s.event_type ORDER BY s.h) AS i
        FROM spine s
        LEFT JOIN hourly hr ON hr.event_type = s.event_type AND hr.h = s.h
    ),
    f AS (
        SELECT *,
               last_value(CASE WHEN n IS NOT NULL THEN i END IGNORE NULLS)
                   OVER wb AS prev_i,
               last_value(cents IGNORE NULLS) OVER wb AS prev_c,
               first_value(CASE WHEN n IS NOT NULL THEN i END IGNORE NULLS)
                   OVER wf AS next_i,
               first_value(cents IGNORE NULLS) OVER wf AS next_c
        FROM j
        WINDOW wb AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(cents AS DOUBLE) / 100.0 AS amount,
           (CASE WHEN n IS NOT NULL THEN CAST(cents AS DOUBLE)
                 WHEN next_i IS NULL THEN CAST(prev_c AS DOUBLE)
                 ELSE CAST(prev_c AS DOUBLE)
                      + CAST(next_c - prev_c AS DOUBLE)
                        * (CAST(i - prev_i AS DOUBLE)
                           / CAST(next_i - prev_i AS DOUBLE)) END
           ) / 100.0 AS interp_amount,
           CASE WHEN n IS NOT NULL THEN 'obs'
                WHEN next_i IS NULL THEN 'ffill'
                ELSE 'lerp' END AS fill_kind
    FROM f
    """,
)
def events_gap_fill_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill with LINEAR INTERPOLATION between the surrounding
    observations (trailing gaps fall back to forward fill) — the lerp
    upgrade of ``events_gap_fill`` for measures where a straight line
    beats a step function (gauges, rates, prices).

    Same spine construction as the forward-fill variant; the fill adds
    a bidirectional ignore-nulls window pair (last-preceding and
    first-following observation). Because the spine is dense hourly,
    the row ordinal doubles as the time axis: ``frac = (i - prev_i) /
    (next_i - prev_i)`` is a division of small exact integers, and the
    lerp is the identical IEEE754 op tree in both engines — bit-exact,
    no epsilon anywhere.

    Scale note (r11): the forward-looking pair is computed as
    ``last(ignorenulls)`` over a DESCENDING running frame, NOT as
    ``first(ignorenulls)`` over ``(currentRow, unboundedFollowing)``.
    Spark's UnboundedFollowingWindowFunctionFrame re-scans the rest of
    the partition for EVERY row — O(rows²) per key, and a dense spine
    with sparse observations is its worst case. Measured: 2.1 s /
    5.7 s / 22.8 s at 20k/40k/80k rows per key (clean quadratic)
    vs 0.2–0.3 s flat for the descending running frame; the r11
    DST-instant corpus (one in-gate 2021 cell widening the spine from
    3.5k to ~38k slots) turned this query into a ~90 s crawl at
    sf0.01, and a decade-span corpus at 100 TB (~313k hourly slots
    per key, epoch-gate-bounded) would be ~100B row visits per key.
    The rewrite costs one extra in-partition SORT (no extra shuffle —
    same partitioning key), keeping the whole fill O(n log n).
    """
    events = epoch_gated(table(spark, sf_dir, "events"))
    hourly = (
        events.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.expr(_CENTS).alias("cents"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
        .localCheckpoint(eager=False)
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
        )
    )
    wseq = Window.partitionBy("event_type").orderBy("h")
    wb = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # forward-looking frame, expressed as a BACKWARD running frame over
    # the reversed order: first_value(x ignorenulls) over (current,
    # unbounded following) == last_value(x ignorenulls) over the DESC
    # running frame including the current row — identical semantics,
    # O(n) incremental accumulation instead of Spark's O(n²)
    # re-scanning UnboundedFollowing frame (docstring scale note).
    wr = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = (
        spine.join(hourly, ["event_type", "h"], "left")
        .withColumn("i", F.row_number().over(wseq))
        .withColumn("obs_i", F.when(F.col("n").isNotNull(), F.col("i")))
    )
    prev_i = F.last("obs_i", ignorenulls=True).over(wb)
    prev_c = F.last("cents", ignorenulls=True).over(wb)
    next_i = F.last("obs_i", ignorenulls=True).over(wr)
    next_c = F.last("cents", ignorenulls=True).over(wr)
    frac = (F.col("i") - prev_i).cast("double") / (next_i - prev_i).cast("double")
    interp = (
        F.when(F.col("n").isNotNull(), F.col("cents").cast("double"))
        .when(next_i.isNull(), prev_c.cast("double"))
        .otherwise(prev_c.cast("double") + (next_c - prev_c).cast("double") * frac)
    )
    return j.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        (F.col("cents").cast("double") / 100.0).alias("amount"),
        (interp / F.lit(100.0)).alias("interp_amount"),
        F.when(F.col("n").isNotNull(), F.lit("obs"))
        .when(next_i.isNull(), F.lit("ffill"))
        .otherwise(F.lit("lerp"))
        .alias("fill_kind"),
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (algebraic partial-aggregate merge)
# ---------------------------------------------------------------------------

#: Days strictly before this date form the materialized base rollup;
#: the rest is the delta batch merged on top.
ROLLUP_CUTOFF = "2024-01-25"


def build_daily_rollup(events: DataFrame, store_path: str) -> None:
    """Materialize (event_type, day, n, cents) partial aggregates.

    The COMMUTATIVE-MONOID shape: counts and integer-cent sums merge by
    addition, so tomorrow's rollup is yesterday's table plus one day of
    partials — the raw history is never rescanned. At 100 TB this table
    is |keys| × |days| rows standing in for the full event log.
    """
    (
        events.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.expr(_CENTS).alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
        .repartition("event_type")
        .write.mode("overwrite")
        .parquet(store_path)
    )


def merge_rollup(
    spark: SparkSession, store_path: str, delta_events: DataFrame
) -> DataFrame:
    """Grand totals from the materialized base rollup ⊎ a delta batch.

    The delta collapses to the same partial shape, the union re-sums —
    sums of sums and counts of counts are exact (integer monoid), so
    the merged result is bit-identical to a full recompute, which is
    exactly what the registered query's oracle asserts.
    """
    base = spark.read.parquet(store_path)
    delta = (
        delta_events.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.expr(_CENTS).alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    merged = base.unionByName(delta).groupBy("event_type")
    total_cents = F.sum("cents").cast("bigint")
    total_n = F.sum("n").cast("bigint")
    return merged.agg(
        total_n.alias("n_events"),
        (total_cents.cast("double") / 100.0).alias("amount"),
        (total_cents.cast("double") / 100.0 / total_n).alias("avg_amount"),
    )


@register(
    "events_incremental_rollup",
    oracle="""
    WITH c AS (
        SELECT event_type, TRY_CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0 AS amount,
           CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0 / COUNT(*)
               AS avg_amount
    FROM c GROUP BY event_type
    """,
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: materialize the pre-cutoff
    history as a daily partial-aggregate rollup on disk, then produce
    grand totals by merging ONE delta batch on top — without touching
    the raw history again. The oracle is the full recompute over all
    events: equality IS the proof that the algebraic merge loses
    nothing (counts and integer-cent sums form a commutative monoid).

    This is the daily-rollup twin of ``docs_dedup_store`` (dedup state)
    and ``sim_embedding_store`` (vector state): the third materialized
    ingest shape a 100-TB pipeline actually runs — append partials,
    merge on read, never rescan.
    """
    events = table(spark, sf_dir, "events")
    is_delta = F.to_date("ts") >= F.lit(ROLLUP_CUTOFF).cast("date")
    store = store_dir("spark_etl_rollup_")
    build_daily_rollup(events.filter(~is_delta), store)
    return merge_rollup(spark, store, events.filter(is_delta))


# ---------------------------------------------------------------------------
# Autocorrelation correlogram over the bucketed hourly series
# ---------------------------------------------------------------------------

ACF_LAGS = (1, 2, 3, 24)

_ACF_LAGGED_DUCK = "\n        UNION ALL\n".join(
    f"        SELECT event_type, {k} AS lag, c AS x, lag(c, {k}) OVER "
    "(PARTITION BY event_type ORDER BY h) AS y FROM filled"
    for k in ACF_LAGS
)


@register(
    "events_autocorr",
    oracle=f"""
    WITH c AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               TRY_CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')
    ),
    hourly AS (
        SELECT event_type, h, CAST(SUM(cents) AS BIGINT) AS cents
        FROM c GROUP BY event_type, h
    ),
    bounds AS (
        SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY event_type
    ),
    spine AS (
        SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    filled AS (
        SELECT s.event_type, s.h, COALESCE(hr.cents, 0) AS c
        FROM spine s
        LEFT JOIN hourly hr ON hr.event_type = s.event_type AND hr.h = s.h
    ),
    lagged AS (
{_ACF_LAGGED_DUCK}
    ),
    m AS (
        SELECT event_type, lag,
               COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM lagged WHERE y IS NOT NULL
        GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n,
           CASE WHEN CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx > 0
                 AND CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy > 0
                THEN (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                     / (sqrt(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
                        * sqrt(CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy))
                ELSE NULL END AS acf
    FROM m
    """,
)
def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of hourly revenue at lags 1–3 and 24 per
    event_type — the correlogram, the first diagnostic a forecaster
    reads: lags 1–3 measure hour-over-hour momentum, lag 24 measures
    daily seasonality.
    Computed over the ZERO-FILLED dense hourly series (missing hours
    are genuine zeros of an event-volume measure, not unknowns).

    ACF(k) is Pearson(x_t, x_{{t+k}}), so this reuses the
    ``rel_corr_stats`` determinism discipline: exact integer moment
    sums over lagged pairs (associative — any partition order), one
    closed-form double evaluation — bit-identical across engines and
    cluster sizes. All three lags come out of ONE window pass (three
    lag columns share the per-key sort) and one moments aggregate
    after an explode to (lag, x, y) rows. The series is bucket-sized
    (|keys| × |hours|), independent of raw event volume; cents
    products at bench scale stay far under 2^63 (hourly sums ≲1e6
    cents → squares ≲1e12, ×1e4 buckets ≲1e16), and at larger scale
    the sums switch to DECIMAL(38,0) unchanged in shape.
    """
    events = epoch_gated(table(spark, sf_dir, "events"))
    hourly = (
        events.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.expr(_CENTS).alias("cents"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("cents").alias("cents"))
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
        )
    )
    filled = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("cents", F.lit(0)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = filled.select(
        "event_type",
        "c",
        *[F.lag("c", k).over(w).alias(f"y{k}") for k in ACF_LAGS],
    )
    pairs = lagged.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        F.col("c").alias("x"),
                        F.col(f"y{k}").alias("y"),
                    )
                    for k in ACF_LAGS
                ]
            )
        ).alias("p"),
    ).select("event_type", "p.lag", "p.x", "p.y").filter(F.col("y").isNotNull())
    m = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return m.select(
        "event_type",
        "lag",
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (F.sqrt(vx) * F.sqrt(vy)),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("acf"),
    )


# ---------------------------------------------------------------------------
# Rolling anomaly detection (trailing-window z-score flags)
# ---------------------------------------------------------------------------

ANOM_WINDOW = 20   # trailing events (excluding current) per user
ANOM_MIN_N = 5     # need this many trailing events before flagging
ANOM_SIGMA = 3.0


@register(
    "events_anomaly_rolling",
    oracle=f"""
    WITH c AS (
        SELECT user_id, event_id, event_type,
               TRY_CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    m AS (
        SELECT *,
               COUNT(*) OVER wt AS tn,
               CAST(SUM(cents) OVER wt AS BIGINT) AS ts,
               CAST(SUM(cents * cents) OVER wt AS BIGINT) AS tss
        FROM c
        WINDOW wt AS (PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, event_type,
           CAST(cents AS DOUBLE) / 100.0 AS value,
           CAST(tn AS BIGINT) AS trail_n,
           CASE WHEN tn >= {ANOM_MIN_N}
                 AND CAST(tss AS DOUBLE) / tn
                     - (CAST(ts AS DOUBLE) / tn) * (CAST(ts AS DOUBLE) / tn) > 0
                THEN (CAST(cents AS DOUBLE) - CAST(ts AS DOUBLE) / tn)
                     / sqrt(CAST(tss AS DOUBLE) / tn
                            - (CAST(ts AS DOUBLE) / tn) * (CAST(ts AS DOUBLE) / tn))
                ELSE NULL END AS z,
           COALESCE(abs(
               CASE WHEN tn >= {ANOM_MIN_N}
                     AND CAST(tss AS DOUBLE) / tn
                         - (CAST(ts AS DOUBLE) / tn) * (CAST(ts AS DOUBLE) / tn) > 0
                    THEN (CAST(cents AS DOUBLE) - CAST(ts AS DOUBLE) / tn)
                         / sqrt(CAST(tss AS DOUBLE) / tn
                                - (CAST(ts AS DOUBLE) / tn)
                                  * (CAST(ts AS DOUBLE) / tn))
                    ELSE NULL END) > {ANOM_SIGMA}, FALSE) AS is_anomaly
    FROM m
    """,
)
def events_anomaly_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-calibrating anomaly flags: each event's spend is z-scored
    against that USER'S OWN trailing 20-event window (current row
    excluded — no self-contamination), flagged beyond ±3σ. The
    per-entity trailing baseline is the fraud/abuse-detection shape;
    global z-scores (``events_zscore``) miss users whose own normal is
    unusual.

    One window pass per user computes trailing count / sum /
    sum-of-squares on integer cents (associative — exact under any
    partition order), then the z closed form evaluates once in double:
    identical operands and op tree in both engines, bit-exact, same
    discipline as ``events_zscore`` with its var>0 and minimum-history
    guards. Windows are per-user ROWS frames: user partitions scale
    out; state per row is three integers.
    """
    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-ANOM_WINDOW, -1)
    )
    c = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(_CENTS).alias("cents"),
    )
    m = c.select(
        "*",
        F.count(F.lit(1)).over(w).alias("tn"),
        F.sum("cents").over(w).alias("ts"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("tss"),
    )
    mean = F.col("ts").cast("double") / F.col("tn")
    var = F.col("tss").cast("double") / F.col("tn") - mean * mean
    z = F.when(
        (F.col("tn") >= ANOM_MIN_N) & (var > 0),
        (F.col("cents").cast("double") - mean) / F.sqrt(var),
    ).otherwise(F.lit(None).cast("double"))
    return m.select(
        "user_id",
        "event_id",
        "event_type",
        (F.col("cents").cast("double") / 100.0).alias("value"),
        F.col("tn").cast("bigint").alias("trail_n"),
        z.alias("z"),
        F.coalesce(F.abs(z) > ANOM_SIGMA, F.lit(False)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    j AS (
        SELECT p.event_id AS purchase_id, p.user_id, p.ts AS pts,
               c.ts AS cts, c.event_id AS click_id
        FROM p
        LEFT JOIN c ON c.user_id = p.user_id
                   AND c.ts >= p.ts - INTERVAL 1 HOUR
                   AND c.ts <  p.ts
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY purchase_id
                      ORDER BY cts DESC NULLS LAST, click_id DESC) AS rn
        FROM j
    )
    SELECT purchase_id, user_id,
           strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           click_id,
           CASE WHEN click_id IS NULL THEN NULL
                ELSE epoch_us(pts) - epoch_us(cts) END AS us_since_click
    FROM ranked WHERE rn = 1
    """


@register("events_attribution", oracle=_ATTRIBUTION_ORACLE)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH attribution: each purchase credited to the same
    user's most recent click in the preceding hour (ties broken by the
    higher click event_id — every survivor choice is total-ordered).
    Purchases with no qualifying click keep a row with NULL credit —
    the "direct conversion" bucket an attribution report must not drop.

    Shape: the interval join (equi on user_id, range on ts — one
    shuffle each side) followed by a per-purchase argmax, computed as
    a MAP-SIDE-COMBINABLE ``max(struct(ts, id))`` aggregate rather
    than a row_number window: candidate clicks per purchase collapse
    inside each partition before the exchange, so the shuffle carries
    one row per (purchase, partition), not one per candidate. The
    struct is built only for MATCHED rows (``when`` guards the
    unmatched side), so NULL semantics stay engine-portable — a
    struct of NULL fields is NOT a NULL struct, and letting one into
    MAX would make the argmax ordering engine-specific.
    """
    events = table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").alias("p")
    c = events.filter(F.col("event_type") == "click").alias("c")
    j = p.join(
        c,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c.ts") < F.col("p.ts")),
        "left_outer",
    )
    best = F.max(
        F.when(
            F.col("c.event_id").isNotNull(),
            F.struct(F.col("c.ts").alias("cts"), F.col("c.event_id").alias("cid")),
        )
    ).alias("best")
    out = j.groupBy(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("pts"),
    ).agg(best)
    return out.select(
        "purchase_id",
        "user_id",
        F.date_format("pts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.col("best.cid").alias("click_id"),
        # cast: pts/cts may infer NTZ from µs-unadjusted parquet;
        # unix_micros requires LTZ. Session tz is UTC — value-preserving.
        F.when(
            F.col("best.cid").isNotNull(),
            F.expr("unix_micros(cast(pts as timestamp))")
            - F.expr("unix_micros(cast(best.cts as timestamp))"),
        ).alias("us_since_click"),
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov estimate)
# ---------------------------------------------------------------------------

_TRANSITION_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE) /
               SUM(n) OVER (PARTITION BY prev_type) AS share
    FROM pairs
    """


@register("events_transition_matrix", oracle=_TRANSITION_ORACLE)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user:
    P(next | prev) estimated from consecutive event pairs — the
    journey-model input for next-action prediction and for spotting
    broken flows (a purchase→purchase self-loop spike means double
    submits).

    Shape: one per-user window pass to pair each event with its
    predecessor (deterministic order: ts then event_id), one hash
    aggregate to type-pair counts — everything after that operates on
    a |types|^2-row table, where the share division (two exact bigints,
    one IEEE division — bit-identical cross-engine) and its tiny
    window are free.
    """
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    pairs = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(total)).alias("share"),
    )


# ---------------------------------------------------------------------------
# Top user-journey paths (length-3 event-type sequences)
# ---------------------------------------------------------------------------

PATHS_TOP_K = 20


@register(
    "events_top_paths",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type, 2) OVER w AS t1,
               lag(event_type, 1) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1, t2, event_type AS t3, COUNT(*) AS n
    FROM ordered WHERE t1 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, t1, t2, t3
    LIMIT {PATHS_TOP_K}
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PATHS_TOP_K} length-3 user journeys (consecutive event-type
    triples): the path-mining view of the same per-user sequence the
    transition matrix summarizes — second-order structure (view→click→
    purchase vs view→view→view) that a first-order Markov model
    provably cannot distinguish.

    One window pass (BOTH lags share the per-user frame — Spark plans
    a single sort+Window), one hash aggregate over |types|³ keys,
    TakeOrdered for the final ranking. Deterministic order: the same
    (ts, event_id) total order every sequence operator in this module
    uses."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    )
    return (
        ordered.filter(F.col("t1").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(PATHS_TOP_K)
    )


# ---------------------------------------------------------------------------
# Hour-of-week seasonality profile
# ---------------------------------------------------------------------------


@register(
    "events_seasonality",
    oracle="""
    WITH base AS (
        SELECT isodow(ts) AS dow, hour(ts) AS hod,
               CAST(ts AS DATE) AS d,
               TRY_CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    cell AS (
        SELECT dow, hod, COUNT(*) AS n,
               COUNT(DISTINCT d) AS n_days,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM base GROUP BY dow, hod
    )
    SELECT CAST(dow AS INTEGER) AS dow, CAST(hod AS INTEGER) AS hod, n,
           CAST(n AS DOUBLE) / n_days AS events_per_day,
           CAST(cents AS DOUBLE) / 100.0 AS sum_value
    FROM cell
    """,
)
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality profile: for each (ISO weekday, hour)
    cell, total events, events per OBSERVED day, and exact-cents value —
    the heatmap behind staffing/capacity curves and the seasonal prior a
    forecaster subtracts before modeling residuals.

    One map-side-combinable aggregate over the raw stream collapses to
    at most 7x24 cells; normalizing by distinct observed DATES (not a
    fixed day count) keeps partial first/last days honest. The division
    is one IEEE op on exact integers."""
    events = table(spark, sf_dir, "events")
    base = events.select(
        F.expr("weekday(ts) + 1").cast("int").alias("dow"),  # ISO: Mon=1
        F.hour("ts").cast("int").alias("hod"),
        F.to_date("ts").alias("d"),
        F.expr(_CENTS).alias("cents"),
    )
    return (
        base.groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("d").alias("n_days"),
            F.sum("cents").alias("cents"),
        )
        .select(
            "dow",
            "hod",
            "n",
            (F.col("n").cast("double") / F.col("n_days")).alias("events_per_day"),
            (F.col("cents").cast("double") / 100.0).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative reach (distinct users to date, without distinct-over-window)
# ---------------------------------------------------------------------------


@register(
    "events_cumulative_reach",
    oracle="""
    WITH firsts AS (
        SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY event_type, user_id
    ),
    daily AS (
        SELECT event_type, first_day AS day, COUNT(*) AS new_users
        FROM firsts GROUP BY event_type, first_day
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily
    """,
)
def events_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user reach per event type by day — the user
    acquisition curve. The naive form is COUNT(DISTINCT user) OVER an
    expanding window, which Spark (correctly) refuses: distinct-over-
    window state is unmergeable and quadratic. The scalable identity:
    a user enters the distinct set exactly once, on their FIRST day —
    so reach = running SUM of first-appearance counts. One hash
    aggregate to (type, user) firsts (map-side combinable MIN), one to
    daily new-user counts, and a running sum over the DAY-GRAIN table
    (per-type partitions, |days| rows each). The same rewrite is how
    cumulative-distinct metrics ship at 100 TB.
    """
    events = table(spark, sf_dir, "events")
    firsts = events.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# Audience overlap between event types
# ---------------------------------------------------------------------------


@register(
    "events_audience_overlap",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_common
        FROM tu a JOIN tu b
          ON b.user_id = a.user_id AND b.event_type > a.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
           CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, the
    exact user-set intersection and Jaccard similarity — the "do my
    purchasers also browse?" cross-segment view that sizes funnels,
    lookalike seeds, and cannibalization questions.

    Shape: one distinct pass to (type, user) incidence, then a
    self-join CO-PARTITIONED ON user_id — per-user work is bounded by
    |types|² (a constant), so the join output is at most
    |users|·|types|²/2 rows feeding a |types|²-key aggregate; per-type
    sizes join onto the tiny pair table. Jaccard is one IEEE division
    of exact integers. Never materializes per-type user sets (a
    collect_set would put whole audiences in single rows).
    """
    events = table(spark, sf_dir, "events")
    tu = events.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        tu.alias("a")
        .join(
            tu.alias("b"),
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.event_type") > F.col("a.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# MAD-robust outlier audit (median absolute deviation)
# ---------------------------------------------------------------------------

MAD_K = "3.0"  # flag beyond k·MAD — shared SQL literal, identical double


@register(
    "events_mad_outliers",
    oracle=f"""
    WITH base AS (
        SELECT event_type, {_CENTS} AS cents FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS med
        FROM base GROUP BY event_type
    ),
    dev AS (
        SELECT b.event_type, b.cents, abs(CAST(b.cents AS DOUBLE) - m.med) AS ad
        FROM base b JOIN med m ON m.event_type = b.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(ad, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN d.ad > {MAD_K} * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           m.mad / 100.0 AS mad_value
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type, m.mad
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit: per event type, how many values sit more
    than {MAD_K}x the median absolute deviation from the median — the
    heavy-tail-safe complement to the z-score detectors
    (``events_zscore``, ``events_anomaly_rolling``), whose mean/stddev
    are themselves dragged by the very outliers they hunt.

    Exactness: values are exact cents; Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the sort-and-interpolate definition
    (bit-identical on doubles — same pairing as ``rel_percentiles``),
    midpoints of integer cents are exactly representable, and the
    deviation/threshold comparisons are identical-operand double ops.

    Shape: medians force a per-group sort, and MAD is inherently TWO
    dependent passes (median of deviations needs the median first) —
    so the plan is two group-sorted aggregates plus one counting
    aggregate, with the |types|-row median/MAD tables broadcast back
    onto the stream. At 100 TB the same plan runs with
    ``approx_percentile`` (t-digest, map-side combinable, single pass
    per stage) — kept exact here so the oracle can hash-check it.
    """
    events = table(spark, sf_dir, "events")
    base = events.select("event_type", F.expr(_CENTS).alias("cents"))
    med = base.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("med")
    )
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("cents").cast("double") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "mad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("ad") > F.expr(f"{MAD_K} * mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            (F.col("mad") / 100.0).alias("mad_value"),
        )
    )


# ---------------------------------------------------------------------------
# DAU / WAU / MAU rolling active users (bounded-window explode)
# ---------------------------------------------------------------------------


@register(
    "events_active_users",
    oracle="""
    WITH presence AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    spine AS (SELECT DISTINCT day FROM presence)
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT CASE WHEN p.day = s.day
                                    THEN p.user_id END) AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN p.day >= s.day - 6
                                    THEN p.user_id END) AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS mau
    FROM spine s
    JOIN presence p ON p.day BETWEEN s.day - 29 AND s.day
    GROUP BY s.day
    """,
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU: per calendar day, distinct users active that
    day, in the trailing 7 days, and in the trailing 30 — the
    product-health dashboard triple.

    Distinct-over-sliding-window has no map-side-combinable form, and a
    range join (presence × spine on BETWEEN) plans as a nested-loop at
    scale. Instead each (user, day) presence row EXPLODES to the ≤30
    spine days it can influence (``sequence(day, day+29)`` — the
    bounded-window-explode rewrite, same family as the cumulative-reach
    first-appearance trick): the result is a plain equi-join-free hash
    aggregate on the observation day, with conditional distincts
    picking the 1-, 7-, and 30-day horizons out of ONE relation. Work
    is |presence| × 30 — day-grain-bounded, independent of raw event
    volume; the semi-join to the real spine drops phantom days past the
    horizon.
    """
    events = table(spark, sf_dir, "events")
    presence = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    spine = presence.select("day").distinct()
    influenced = presence.select(
        "user_id",
        F.col("day").alias("p_day"),
        F.explode(
            F.expr("sequence(day, date_add(day, 29))")
        ).alias("s_day"),
    ).join(spine.withColumnRenamed("day", "s_day"), "s_day", "left_semi")
    return influenced.groupBy(
        F.date_format("s_day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.countDistinct(
            F.when(F.col("p_day") == F.col("s_day"), F.col("user_id"))
        )
        .cast("bigint")
        .alias("dau"),
        F.countDistinct(
            F.when(F.col("p_day") >= F.date_sub("s_day", 6), F.col("user_id"))
        )
        .cast("bigint")
        .alias("wau"),
        F.countDistinct("user_id").cast("bigint").alias("mau"),
    )


# ---------------------------------------------------------------------------
# Rolling median (exact, bounded window frame)
# ---------------------------------------------------------------------------


@register(
    "events_rolling_median",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(TRY_CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(cents AS DOUBLE) / 100.0 AS day_value,
           quantile_cont(CAST(cents AS DOUBLE), 0.5) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) / 100.0 AS rolling_median
    FROM daily
    """,
)
def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-observation rolling MEDIAN of daily totals per event type —
    the robust trend line operations dashboards overlay on spiky
    series (a rolling mean follows every outlier; the rolling median
    ignores them — the windowed complement to ``events_mad_outliers``).

    Spark has no percentile-over-window, so the frame's values are
    gathered with ``collect_list`` OVER the same 6-PRECEDING frame —
    bounded at 7 elements by construction, never data-scale — then the
    interpolated median is computed by a JVM expression over the
    sorted array (midpoint of the two middle elements for even
    counts, matching ``quantile_cont``'s definition on DuckDB's side).
    All inputs are exact integer cents; the interpolation midpoint of
    integers is exactly representable, so the window reduction is
    hash-exact. One day-grain aggregate (map-side combinable), one
    per-type window over |days| rows.
    """
    events = table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.sum(F.expr(_CENTS)).alias("cents"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    frame = F.sort_array(F.collect_list(F.col("cents").cast("double")).over(w))
    med = F.expr(
        "CASE WHEN size(__frame) % 2 = 1 "
        "THEN element_at(__frame, cast(size(__frame) div 2 + 1 as int)) "
        "ELSE (element_at(__frame, cast(size(__frame) div 2 as int)) "
        "      + element_at(__frame, cast(size(__frame) div 2 + 1 as int))"
        ") / 2.0 END"
    )
    return (
        daily.withColumn("__frame", frame)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("cents").cast("double") / 100.0).alias("day_value"),
            (med / 100.0).alias("rolling_median"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential recurrences over bounded series (array-fold pattern)
# ---------------------------------------------------------------------------

#: CUSUM slack per step, in cents: the classic one-sided control chart
#: S_t = max(0, S_{t-1} + (x_t - target - slack)) accumulates only
#: sustained upward drift. Target/slack are fixed spec constants.
CUSUM_TARGET_CENTS = 50_000
CUSUM_SLACK_CENTS = 5_000

EWMA_ALPHA = "0.3"  # shared SQL literal → identical double in both engines


@register(
    "events_cusum_drift",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(TRY_CAST(round(value * 100) AS BIGINT))
                   - {CUSUM_TARGET_CENTS} - {CUSUM_SLACK_CENTS} AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    pref AS (
        SELECT event_type, day,
               SUM(y) OVER (PARTITION BY event_type ORDER BY day) AS p
        FROM daily
    ),
    stat AS (
        SELECT event_type, day,
               p - least(CAST(0 AS BIGINT),
                         MIN(p) OVER (PARTITION BY event_type
                                      ORDER BY day)) AS s
        FROM pref
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(max_by(s, day) AS BIGINT) AS cusum_final,
           CAST(MAX(s) AS BIGINT) AS cusum_max
    FROM stat GROUP BY event_type
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM control chart per event type: the
    sustained-drift detector (S_t = max(0, S_{{t-1}} + x_t − target −
    slack)) that catches slow upward creep a fixed threshold misses.
    Emits the final statistic and the running maximum — the alarm
    level a monitor would page on.

    CUSUM looks like a sequential recurrence, but it has an exact
    closed form over prefix sums of the slack-adjusted series
    y_t = x_t − target − slack: with P_t = Σ_{{i≤t}} y_i and P_0 = 0,
    S_t = P_t − min_{{0≤j≤t}} P_j (the same prefix-minimum identity
    behind Kadane's maximum-subarray algorithm). That turns the whole
    statistic into two ordinary running window aggregates — a running
    SUM and a running MIN — so the horizon is UNBOUNDED: no
    collect_list array, no per-prefix re-fold, O(n) per key on any
    number of days, and a multi-year series never materializes as one
    value. All arithmetic is exact integer cents, so the
    partition-order daily aggregate below and the window scan above
    are hash-exact across engines. At 100 TB the map-side-combinable
    daily aggregate sees the data; the windows see |types| × |days|
    rows.
    """
    events = table(spark, sf_dir, "events")
    adj = CUSUM_TARGET_CENTS + CUSUM_SLACK_CENTS
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg((F.sum(F.expr(_CENTS)) - F.lit(adj)).alias("y"))
    run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stat = daily.withColumn("p", F.sum("y").over(run)).withColumn(
        "s",
        F.col("p")
        - F.least(F.lit(0).cast("bigint"), F.min("p").over(run)),
    )
    return stat.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.expr("cast(max_by(s, day) as bigint)").alias("cusum_final"),
        F.max("s").cast("bigint").alias("cusum_max"),
    )


@register(
    "events_ewma",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(TRY_CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    series AS (
        SELECT event_type, list(cents ORDER BY day) AS xs,
               MAX(day) AS last_day
        FROM daily GROUP BY event_type
    )
    SELECT event_type,
           strftime(last_day, '%Y-%m-%d') AS last_day,
           CAST(len(xs) AS BIGINT) AS n_days,
           list_reduce(
               list_transform(xs, x -> CAST(x AS DOUBLE)),
               (acc, x) -> {EWMA_ALPHA} * x + (1.0 - {EWMA_ALPHA}) * acc
           ) / 100.0 AS ewma
    FROM series
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily totals per event
    type (α={EWMA_ALPHA}) — the standard smoothed level behind
    forecasting and alerting baselines.

    EWMA's recurrence (acc ← αx + (1−α)acc) is order-sensitive FLOAT
    arithmetic — normally the definition of non-reproducible. It is
    bit-exact here because the fold is SEQUENTIAL BY CONSTRUCTION over
    the day-sorted bounded array (same array-fold pattern as
    ``events_cusum_drift``): both engines execute the identical chain
    of IEEE-754 ops on identical exact-integer-derived operands — the
    same discipline the cosine/dot-product folds use
    (``ARCHITECTURE.md`` determinism rule 2). Seeded with the first
    observation (fold starts at x₁), the conventional init.
    """
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.expr(_CENTS)).alias("cents"))
    series = daily.groupBy("event_type").agg(
        F.expr("sort_array(collect_list(struct(day, cents)))").alias("sc"),
        F.max("day").alias("last_day"),
    )
    return series.select(
        "event_type",
        F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
        F.expr("cast(size(sc) as bigint)").alias("n_days"),
        (
            F.expr(
                f"""aggregate(
                    slice(transform(sc, s -> cast(s.cents as double)), 2,
                          size(sc) - 1),
                    cast(element_at(sc, 1).cents as double),
                    (acc, x) -> {EWMA_ALPHA} * x + (1.0 - {EWMA_ALPHA}) * acc
                )"""
            )
            / 100.0
        ).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival gap statistics (point-process view)
# ---------------------------------------------------------------------------


@register(
    "events_interarrival",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY event_type, user_id
                   ORDER BY ts, event_id)) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           quantile_cont(CAST(gap_us AS DOUBLE), 0.5) / 1000000.0
               AS p50_gap_s,
           quantile_cont(CAST(gap_us AS DOUBLE), 0.9) / 1000000.0
               AS p90_gap_s
    FROM gaps GROUP BY event_type
    """,
)
def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type: p50/p90 seconds
    between a user's consecutive events of that type — the
    point-process view behind engagement cadence, retrain-frequency
    sizing, and anomaly baselines (a median gap collapsing to seconds
    means a bot; stretching means churn).

    One (type, user) window pass computes the lag (unique
    ``event_id`` tiebreak for equal timestamps); gaps are exact
    integer MICROSECOND differences (``unix_micros``/``epoch_us`` —
    whole-second truncation would silently bias sub-second cadences),
    so the percentile rides the verified
    ``percentile``/``quantile_cont`` pairing, with one identical
    double division to seconds at the end. Window partitions are
    per-user slices — corpus-size-independent. The exact ``percentile``
    buffers each type group's gaps in one aggregator, which is the
    oracle-checkable form; at 100 TB swap it for ``approx_percentile``
    (t-digest, map-side combinable, bounded memory) exactly as
    ``events_mad_outliers`` documents.
    """
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    # cast ts -> LTZ first: the testdata's µs parquet infers as
    # TIMESTAMP_NTZ, which unix_micros rejects; the session tz is
    # pinned UTC so the cast is value-preserving (same normalization
    # the streaming readers apply in streaming/source.py).
    us = F.expr("unix_micros(cast(ts as timestamp))")
    gaps = events.select(
        "event_type",
        "user_id",
        "event_id",
        "ts",
        us.alias("us"),
    ).select(
        "event_type",
        (F.col("us") - F.lag("us").over(w)).alias("gap_us"),
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        (
            F.expr("percentile(cast(gap_us as double), 0.5)") / 1000000.0
        ).alias("p50_gap_s"),
        (
            F.expr("percentile(cast(gap_us as double), 0.9)") / 1000000.0
        ).alias("p90_gap_s"),
    )


# ---------------------------------------------------------------------------
# Burst (bot) detection: max per-minute rate per user
# ---------------------------------------------------------------------------

BURST_THRESHOLD = 2  # events within one minute flags the user


@register(
    "events_burst_users",
    oracle=f"""
    WITH rate AS (
        SELECT user_id, time_bucket(INTERVAL 1 MINUTE, ts) AS minute,
               COUNT(*) AS n
        FROM events GROUP BY user_id, time_bucket(INTERVAL 1 MINUTE, ts)
    ),
    peak AS (
        SELECT user_id,
               MAX(n) AS peak_per_minute,
               SUM(n) AS n_events,
               COUNT(*) AS n_active_minutes
        FROM rate GROUP BY user_id
    )
    SELECT user_id, CAST(peak_per_minute AS BIGINT) AS peak_per_minute,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_active_minutes AS BIGINT) AS n_active_minutes
    FROM peak
    WHERE peak_per_minute >= {BURST_THRESHOLD}
    """,
)
def events_burst_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst (bot/scraper) detection: users whose peak event rate in
    ANY single minute reaches {BURST_THRESHOLD} — rate-limiting and
    abuse pipelines flag on peak burst, not averages, because bots
    look normal on daily totals and inhuman on a one-minute grain.

    Two map-side-combinable aggregates: (user, minute) counts, then a
    per-user MAX/SUM rollup that REUSES the same user_id-prefixed
    shuffle partitioning (Catalyst plans no second exchange).
    Minute-grain cells bound the intermediate regardless of event
    volume per minute.
    """
    events = table(spark, sf_dir, "events")
    rate = events.groupBy(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        rate.groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("peak_per_minute"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_active_minutes"),
        )
        .filter(F.col("peak_per_minute") >= BURST_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Watermark-lateness audit (how late does this stream actually run?)
# ---------------------------------------------------------------------------


@register(
    "events_lateness_audit",
    oracle="""
    WITH ordered AS (
        SELECT event_type, ts,
               MAX(ts) OVER (PARTITION BY event_type
                             ORDER BY event_id
                             ROWS UNBOUNDED PRECEDING) AS frontier
        FROM events
    ),
    late AS (
        SELECT event_type,
               CAST(floor((epoch_us(frontier) - epoch_us(ts))
                          / 60000000.0) AS BIGINT) AS late_minutes
        FROM ordered
    )
    SELECT event_type,
           CAST(CASE WHEN late_minutes >= 60 THEN 60
                     ELSE late_minutes END AS INTEGER) AS late_minutes_bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM late
    GROUP BY event_type, CASE WHEN late_minutes >= 60 THEN 60
                              ELSE late_minutes END
    """,
)
def events_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit: per event type, the distribution of
    event-time lateness relative to the arrival-order frontier
    (running max event time in ``event_id`` arrival order, the
    synthetic stream's ingestion sequence) — exactly the out-of-order
    profile that tells you what ``withWatermark`` delay keeps N% of
    events. Bucketed by whole minutes late, clamped at 60 (the
    everything-worse tail bucket); an event at the frontier is 0.

    One per-type window pass (running max over arrival order —
    per-type partitions, corpus-size-independent), exact microsecond
    differences (NTZ-safe epoch math), then a map-side-combinable
    histogram aggregate. This is the BATCH audit a streaming team runs
    before picking the delays used in ``streaming/windows.py``.
    """
    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = events.select(
        "event_type",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    ).select(
        "event_type", (F.max("us").over(w) - F.col("us")).alias("late_us")
    )
    late = ordered.select(
        "event_type",
        F.least(
            F.floor(F.col("late_us") / 60000000.0).cast("int"), F.lit(60)
        ).alias("late_minutes_bucket"),
    )
    return late.groupBy("event_type", "late_minutes_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


# ---------------------------------------------------------------------------
# Holt linear-trend forecast (struct-state fold)
# ---------------------------------------------------------------------------

_HA = "CAST(0.3 AS DOUBLE)"  # level smoothing — cast: bare 0.3 is DECIMAL
_HB = "CAST(0.2 AS DOUBLE)"  # trend smoothing


@register(
    "events_holt_forecast",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(TRY_CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    series AS (
        SELECT event_type,
               list_transform(list(cents ORDER BY day),
                              x -> CAST(x AS DOUBLE)) AS xs
        FROM daily GROUP BY event_type
    ),
    fitted AS (
        -- LIST accumulator, not a struct: DuckDB 1.0's list_reduce
        -- binds struct_pack fields SEQUENTIALLY against the mutated
        -- accumulator (the t expression would see the NEW l); list
        -- constructors evaluate all elements against the old value.
        SELECT event_type, len(xs) AS n_days,
               list_reduce(
                   list_prepend(
                       [xs[1], xs[2] - xs[1]],
                       list_transform(xs[3:],
                           x -> [x, CAST(0 AS DOUBLE)])),
                   (acc, s) -> [
                       {_HA} * s[1]
                           + (CAST(1 AS DOUBLE) - {_HA}) * (acc[1] + acc[2]),
                       {_HB} * (({_HA} * s[1]
                           + (CAST(1 AS DOUBLE) - {_HA}) * (acc[1] + acc[2]))
                           - acc[1])
                           + (CAST(1 AS DOUBLE) - {_HB}) * acc[2]]
               ) AS st
        FROM series WHERE len(xs) >= 2
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           st[1] / 100.0 AS level,
           st[2] / 100.0 AS trend,
           (st[1] + st[2]) / 100.0 AS forecast_next
    FROM fitted
    """,
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend,
    α=0.3, β=0.2) of daily totals per event type, emitting the fitted
    level/trend and the one-step-ahead forecast — the trend-aware
    upgrade of ``events_ewma`` and the standard capacity-forecast
    baseline.

    The coupled (level, trend) recurrence carries a STRUCT accumulator
    through the same sequential array-fold pattern as
    ``events_cusum_drift``: conventional init (l₁=x₁, t₁=x₂−x₁), fold
    over x₃.. — both engines execute the identical chain of IEEE-754
    double ops, so the floats hash-match. Every numeric literal is
    explicitly CAST to DOUBLE: a bare ``0.3`` parses as DECIMAL in
    both engines and silently switches the arithmetic domain.
    """
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.expr(_CENTS)).alias("cents"))
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(day, cents))), "
            "s -> cast(s.cents as double))"
        ).alias("xs")
    )
    lam = (
        f"(acc, x) -> named_struct("
        f"'l', {_HA} * x + (CAST(1 AS DOUBLE) - {_HA}) * (acc.l + acc.t), "
        f"'t', {_HB} * (({_HA} * x"
        f" + (CAST(1 AS DOUBLE) - {_HA}) * (acc.l + acc.t)) - acc.l)"
        f" + (CAST(1 AS DOUBLE) - {_HB}) * acc.t)"
    )
    fold = (
        f"aggregate(slice(xs, 3, size(xs) - 2), "
        f"named_struct('l', element_at(xs, 1), "
        f"'t', element_at(xs, 2) - element_at(xs, 1)), {lam})"
    )
    return (
        series.filter(F.expr("size(xs) >= 2"))
        .select(
            "event_type",
            F.expr("cast(size(xs) as bigint)").alias("n_days"),
            F.expr(fold).alias("st"),
        )
        .select(
            "event_type",
            "n_days",
            (F.col("st.l") / 100.0).alias("level"),
            (F.col("st.t") / 100.0).alias("trend"),
            ((F.col("st.l") + F.col("st.t")) / 100.0).alias("forecast_next"),
        )
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------


@register(
    "events_theilsen_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(TRY_CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    series0 AS (
        -- cents IS NOT NULL mirrors the engine: an all-special day
        -- (sum guarded to NULL) is not an observation, and a NULL in
        -- the sorted slope list lands FIRST in Spark's sort_array but
        -- LAST in list_sort — a silent median shift otherwise
        SELECT event_type,
               list_transform(list(cents ORDER BY day),
                              x -> CAST(x AS DOUBLE)) AS xs,
               list(day ORDER BY day) AS days,
               MIN(day) AS d0
        FROM daily WHERE cents IS NOT NULL GROUP BY event_type
    ),
    series AS (
        SELECT event_type, xs,
               list_transform(days,
                              d -> CAST(datediff('day', d0, d) AS DOUBLE)) AS dd
        FROM series0
    ),
    slopes AS (
        SELECT event_type, len(xs) AS n_days,
               list_sort(flatten(
                   [[ (xs[j] - xs[i]) / (dd[j] - dd[i])
                      FOR j IN generate_series(i + 1, len(xs)) ]
                    FOR i IN generate_series(1, len(xs) - 1)])) AS sl
        FROM series
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(len(sl) AS BIGINT) AS n_slopes,
           (CASE WHEN len(sl) % 2 = 1 THEN sl[len(sl) // 2 + 1]
                 ELSE (sl[len(sl) // 2] + sl[len(sl) // 2 + 1]) / 2.0 END)
               / 100.0 AS slope_per_day
    FROM slopes
    """,
)
def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the MEDIAN of all
    pairwise slopes of the daily series — the slope estimator with a
    29% breakdown point (ordinary least squares flips sign on one bad
    day; the pairwise-slope median shrugs). The robust-statistics
    family's trend member beside ``events_mad_outliers`` (spread) and
    ``events_rolling_median`` (level).

    The O(n²) pairwise-slope set is generated INSIDE one JVM
    expression over the bounded day-grain array (n≤31 → ≤465 slopes —
    constant-bounded, same array-fold economics as
    ``events_cusum_drift``); slopes divide exact integer cents by
    exact integer day gaps (true calendar gaps, robust to missing
    days), so every double is identical cross-engine, and the median
    interpolation reuses the sorted-array midpoint form.
    """
    events = table(spark, sf_dir, "events")
    # Drop days whose cents are unobservable (every value that day was
    # NaN/±Inf, so the special-guarded sum is NULL): a day with no
    # measurement is not an observation, and a NULL inside the sorted
    # slope array is a cross-engine hazard anyway — Spark's sort_array
    # puts NULLs FIRST, DuckDB's list_sort puts them LAST, silently
    # shifting the median index. Found by the random-corpus fuzzer
    # (tools/stage_random.py seed 1: one day whose only purchase value
    # was NaN → medians differed by 33 cents/day with equal n_slopes).
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.expr(_CENTS)).alias("cents"))
        .where(F.col("cents").isNotNull())
    )
    series0 = daily.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(day, cents))), "
            "s -> cast(s.cents as double))"
        ).alias("xs"),
        F.expr(
            "transform(sort_array(collect_list(struct(day, cents))), "
            "s -> s.day)"
        ).alias("days"),
        F.min("day").alias("d0"),
    )
    series = series0.select(
        "event_type",
        "xs",
        F.expr("transform(days, d -> cast(datediff(d, d0) as double))").alias(
            "dd"
        ),
    )
    slopes = series.select(
        "event_type",
        F.expr("cast(size(xs) as bigint)").alias("n_days"),
        # The n_days < 2 guard matters: Spark's sequence(a, b) with
        # b < a produces a DESCENDING sequence (not empty like
        # DuckDB's generate_series), so a single-day series — a
        # guaranteed group class on any live corpus, caught by the
        # one-row hostile sweep — would index element_at(xs, 2) out
        # of bounds instead of yielding zero pairwise slopes.
        F.expr(
            "CASE WHEN size(xs) < 2 THEN cast(array() as array<double>) "
            "ELSE sort_array(flatten(transform(sequence(1, size(xs) - 1), "
            "i -> transform(sequence(i + 1, size(xs)), "
            "j -> (element_at(xs, cast(j as int)) - element_at(xs, cast(i as int)))"
            " / (element_at(dd, cast(j as int)) - element_at(dd, cast(i as int)))"
            ")))) END"
        ).alias("sl"),
    )
    # Empty slope set (single-day series) → NULL median: Spark's
    # element_at is 1-based and throws on index 0, where the oracle's
    # sl[0] is simply NULL — make the undefined-median case explicit.
    med = F.expr(
        "CASE WHEN size(sl) = 0 THEN cast(null as double) "
        "WHEN size(sl) % 2 = 1 "
        "THEN element_at(sl, cast(size(sl) div 2 + 1 as int)) "
        "ELSE (element_at(sl, cast(size(sl) div 2 as int)) "
        "      + element_at(sl, cast(size(sl) div 2 + 1 as int))) / 2.0 END"
    )
    return slopes.select(
        "event_type",
        "n_days",
        F.expr("cast(size(sl) as bigint)").alias("n_slopes"),
        (med / 100.0).alias("slope_per_day"),
    )


# ---------------------------------------------------------------------------
# Holt backtest: one-step-ahead forecast error (MAE)
# ---------------------------------------------------------------------------


@register(
    "events_holt_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(TRY_CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    series AS (
        SELECT event_type,
               list_transform(list(cents ORDER BY day),
                              x -> CAST(x AS DOUBLE)) AS xs
        FROM daily GROUP BY event_type
    ),
    fitted AS (
        SELECT event_type, len(xs) AS n_days,
               list_reduce(
                   list_prepend(
                       [xs[1], xs[2] - xs[1], CAST(0 AS DOUBLE)],
                       list_transform(xs[3:],
                           x -> [x, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
                   (acc, s) -> [
                       {_HA} * s[1]
                           + (CAST(1 AS DOUBLE) - {_HA}) * (acc[1] + acc[2]),
                       {_HB} * (({_HA} * s[1]
                           + (CAST(1 AS DOUBLE) - {_HA}) * (acc[1] + acc[2]))
                           - acc[1])
                           + (CAST(1 AS DOUBLE) - {_HB}) * acc[2],
                       acc[3] + round(abs(s[1] - (acc[1] + acc[2])))]
               ) AS st
        FROM series WHERE len(xs) >= 3
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(n_days - 2 AS BIGINT) AS n_forecasts,
           st[3] / CAST(n_days - 2 AS DOUBLE) / 100.0 AS mae
    FROM fitted
    """,
)
def events_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the Holt forecaster (``events_holt_forecast``):
    walk the daily series, at each step score the ONE-STEP-AHEAD
    forecast (level+trend before seeing the observation) against the
    observation, and report the mean absolute error per event type —
    the number that says whether the α/β choice is defensible before
    anyone alerts on the model's output.

    Same struct-state fold, extended with an error accumulator: the
    third slot sums ``round(|x − (l+t)|)`` — rounded errors are exact
    integers in double (associative up to 2⁵³), so the MAE is two
    identical IEEE divisions at the end. One fold pass fits AND
    scores: no second scan, no per-step window.
    """
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.expr(_CENTS)).alias("cents"))
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(day, cents))), "
            "s -> cast(s.cents as double))"
        ).alias("xs")
    )
    lam = (
        f"(acc, x) -> array("
        f"{_HA} * x + (CAST(1 AS DOUBLE) - {_HA})"
        f" * (element_at(acc, 1) + element_at(acc, 2)), "
        f"{_HB} * (({_HA} * x + (CAST(1 AS DOUBLE) - {_HA})"
        f" * (element_at(acc, 1) + element_at(acc, 2)))"
        f" - element_at(acc, 1))"
        f" + (CAST(1 AS DOUBLE) - {_HB}) * element_at(acc, 2), "
        f"element_at(acc, 3)"
        f" + round(abs(x - (element_at(acc, 1) + element_at(acc, 2)))))"
    )
    fold = (
        f"aggregate(slice(xs, 3, size(xs) - 2), "
        f"array(element_at(xs, 1), "
        f"element_at(xs, 2) - element_at(xs, 1), CAST(0 AS DOUBLE)), {lam})"
    )
    return (
        series.filter(F.expr("size(xs) >= 3"))
        .select(
            "event_type",
            F.expr("cast(size(xs) as bigint)").alias("n_days"),
            F.expr(fold).alias("st"),
        )
        .select(
            "event_type",
            "n_days",
            (F.col("n_days") - 2).cast("bigint").alias("n_forecasts"),
            (
                F.expr("element_at(st, 3)")
                / F.expr("cast(n_days - 2 as double)")
                / 100.0
            ).alias("mae"),
        )
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution (exact-integer power iteration)
# ---------------------------------------------------------------------------

MARKOV_SCALE = 1_000_000_000
MARKOV_ITERS = 4


def _markov_iter_sql(k: int) -> str:
    prev = f"it{k - 1}"
    return f"""
    it{k} AS (
        SELECT p.next_type AS t, SUM((v.v * p.n) // r.rt) AS v
        FROM pairs p
        JOIN {prev} v ON v.t = p.prev_type
        JOIN rt r ON r.t = p.prev_type
        GROUP BY p.next_type
    )"""


@register(
    "events_markov_stationary",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    rt AS (SELECT prev_type AS t, SUM(n) AS rt FROM pairs GROUP BY prev_type),
    it0 AS (SELECT t, CAST({MARKOV_SCALE} AS BIGINT) AS v FROM rt),
    {",".join(_markov_iter_sql(k) for k in range(1, MARKOV_ITERS + 1))}
    SELECT t AS event_type, CAST(v AS BIGINT) AS stationary_scaled
    FROM it{MARKOV_ITERS}
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the user journey SETTLES: {MARKOV_ITERS} exact-integer
    power-iteration steps of the event-type transition matrix
    (``events_transition_matrix``'s chain) from a uniform start —
    the long-run occupancy that tells a product team which state
    actually absorbs attention, which a one-step matrix can't.

    The ``graph_pagerank_suppliers`` discipline applied to a Markov
    chain: the iterate is a scaled-bigint vector, each step is
    ``Σ (v·n) div rowtotal`` — associative integer sums and integer
    division only, bit-identical on any partitioning; the integer
    formula IS the spec. Each step (``operators.rounds``) is one join +
    hash aggregate on the |types|²-row pair table — everything after
    the single per-user window pass is constant-sized.
    """
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    pairs = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    rt = pairs.groupBy(F.col("prev_type").alias("t")).agg(
        F.sum("n").alias("rt")
    )

    def step(v: DataFrame) -> DataFrame:
        return (
            pairs.alias("p")
            .join(v.alias("v"), F.col("v.t") == F.col("p.prev_type"))
            .join(F.broadcast(rt).alias("r"), F.col("r.t") == F.col("p.prev_type"))
            .select(
                F.col("p.next_type").alias("t"),
                F.expr("(v * n) div rt").alias("c"),
            )
            .groupBy("t")
            .agg(F.sum("c").alias("v"))
        )

    v = rt.select("t", F.lit(MARKOV_SCALE).cast("bigint").alias("v"))
    v = rounds(v, step, MARKOV_ITERS)
    return v.select(
        F.col("t").alias("event_type"),
        F.col("v").cast("bigint").alias("stationary_scaled"),
    )


# ---------------------------------------------------------------------------
# Segment bitmask Venn (bitwise-aggregate set encoding)
# ---------------------------------------------------------------------------

#: Fixed event-type → bit mapping (alphabetical, the deterministic order).
_SEGMENT_TYPES = ("click", "error", "purchase", "signup", "view")
_SEGMENT_CASE_SQL = "CASE event_type " + " ".join(
    f"WHEN '{t}' THEN {1 << i}" for i, t in enumerate(_SEGMENT_TYPES)
) + " ELSE 0 END"
_SEGMENT_NAME_SQL = (
    "concat_ws('+', "
    + ", ".join(
        f"CASE WHEN mask & {1 << i} != 0 THEN '{t}' END"
        for i, t in enumerate(_SEGMENT_TYPES)
    )
    + ")"
)


@register(
    "events_segment_bitmask",
    oracle=f"""
    WITH masks AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               bit_or({_SEGMENT_CASE_SQL}) AS mask
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT CAST(mask AS INTEGER) AS mask,
           {_SEGMENT_NAME_SQL} AS segments,
           CAST(COUNT(*) AS BIGINT) AS n_user_days
    FROM masks GROUP BY mask
    """,
)
def events_segment_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-segment Venn diagram via BITWISE aggregation: each
    (user, day)'s activity collapses to one integer bitmask (bit per
    event type, ``bit_or`` — associative, map-side combinable), and
    the mask histogram IS the full 2^|types| segment-overlap table
    that answers "on how many user-days did someone purchase AND hit
    errors but never click" in one pass (day grain — whole-history
    masks saturate to all-bits on any active user). The bitmask encoding is the row-sized stand-in for
    the roaring-bitmap audience indexes targeting systems build —
    set algebra becomes integer AND/OR on a single column, no joins,
    no collect_set arrays shuffling user lists.

    Two aggregates sharing the user_id exchange; output is at most
    2^{len(_SEGMENT_TYPES)} rows. The human-readable segment label is
    decoded from the mask by a shared CASE expression.
    """
    events = table(spark, sf_dir, "events")
    masks = events.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.expr(f"bit_or({_SEGMENT_CASE_SQL})").alias("mask")
    )
    return masks.groupBy(F.col("mask").cast("int").alias("mask")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_user_days")
    ).select(
        "mask",
        F.expr(_SEGMENT_NAME_SQL).alias("segments"),
        "n_user_days",
    )


# ---------------------------------------------------------------------------
# User-lifetime survival curve (CCDF by bounded-window explode)
# ---------------------------------------------------------------------------

SURVIVAL_MAX_DAYS = 30


@register(
    "events_survival_curve",
    oracle=f"""
    WITH lifetime AS (
        SELECT user_id,
               datediff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
                   AS days
        FROM events GROUP BY user_id
    ),
    tot AS (SELECT COUNT(*) AS n_users FROM lifetime),
    expanded AS (
        SELECT l.user_id, t.d
        FROM lifetime l,
        LATERAL unnest(generate_series(0,
            CAST(least(l.days, {SURVIVAL_MAX_DAYS}) AS INTEGER))) t(d)
    )
    SELECT CAST(e.d AS INTEGER) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_surviving,
           CAST(COUNT(*) AS DOUBLE) / CAST(tot.n_users AS DOUBLE)
               AS survival_rate
    FROM expanded e CROSS JOIN tot
    GROUP BY e.d, tot.n_users
    """,
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime survival curve: S(d) = share of users still
    active ≥ d days after their first event (lifetime = first→last
    event span, capped at {SURVIVAL_MAX_DAYS}) — the engagement CCDF
    behind LTV models, complementing the day-grain cohort retention
    MATRIX with one continuous curve.

    The CCDF rewrite avoids both a per-threshold scan and a
    distinct-over-window: each user's lifetime EXPLODES to the ≤
    {SURVIVAL_MAX_DAYS}+1 day thresholds it survives (the
    bounded-window-explode pattern of ``events_active_users``), and
    one hash aggregate counts survivors per threshold. Exact integer
    counts; one identical double division against the broadcast user
    total.
    """
    events = table(spark, sf_dir, "events")
    lifetime = events.groupBy("user_id").agg(
        F.datediff(
            F.max(F.to_date("ts")), F.min(F.to_date("ts"))
        ).alias("days")
    )
    tot = lifetime.agg(F.count(F.lit(1)).alias("n_users"))
    expanded = lifetime.select(
        "user_id",
        F.explode(
            F.expr(f"sequence(0, least(days, {SURVIVAL_MAX_DAYS}))")
        ).alias("d"),
    )
    return (
        expanded.groupBy(F.col("d").cast("int").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_surviving"))
        .crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_surviving",
            (
                F.col("n_surviving").cast("double")
                / F.col("n_users").cast("double")
            ).alias("survival_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity streaks
# ---------------------------------------------------------------------------


@register(
    "events_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    islands AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INTEGER)
                   AS island
        FROM days
    ),
    streaks AS (
        SELECT user_id, island, COUNT(*) AS len,
               MAX(day) AS streak_end
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           strftime(MAX(streak_end), '%Y-%m-%d') AS last_active_day
    FROM streaks GROUP BY user_id
    """,
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user (longest streak,
    streak count, last active day) — the engagement-mechanics metric
    behind "7-day streak" product features and habit-formation
    cohorting.

    The classic GAPS-AND-ISLANDS rewrite: subtracting each activity
    day's per-user row_number from the day itself is constant WITHIN a
    consecutive run and jumps at every gap, so the difference IS the
    island key — two window-free aggregates after one per-user window
    pass, no self-joins, no recursive walks. Day-grain presence bounds
    every intermediate.
    """
    events = table(spark, sf_dir, "events")
    days = events.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("island"),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.max("day").alias("streak_end")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.date_format(F.max("streak_end"), "yyyy-MM-dd").alias(
            "last_active_day"
        ),
    )


# ---------------------------------------------------------------------------
# User behavioral diversity (Gini impurity of the type mix)
# ---------------------------------------------------------------------------


@register(
    "events_user_diversity",
    oracle="""
    WITH mix AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, CAST(ts AS DATE), event_type
    ),
    per_day AS (
        SELECT user_id, day,
               SUM(n) AS total,
               1.0 - CAST(SUM(n * n) AS DOUBLE)
                     / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE))
                   AS impurity
        FROM mix GROUP BY user_id, day
    )
    SELECT CAST(floor(impurity * 10.0) AS INTEGER) AS impurity_bin,
           CAST(COUNT(*) AS BIGINT) AS n_user_days,
           CAST(SUM(total) AS BIGINT) AS n_events
    FROM per_day GROUP BY 1
    """,
)
def events_user_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity histogram: per USER-DAY, the Gini
    impurity of the event-type mix (1 − Σ share² — the log-free
    diversity measure, same trade as ``mm_payload_impurity``),
    bucketed into 0.1 bins — separates single-behavior sessions
    (impurity→0: scrapers, single-purpose bots) from full-funnel
    activity in one read. Day grain on purpose: whole-history mixes
    converge to the global blend and the histogram collapses to one
    bin (measured) — the discriminating signal lives at session/day
    granularity.

    Two map-side-combinable aggregates; the impurity is one identical
    double expression over exact integer counts (Σn and Σn² reduce
    associatively), so the bin edges are deterministic cross-engine.
    """
    events = table(spark, sf_dir, "events")
    mix = events.groupBy(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    per_day = mix.groupBy("user_id", "day").agg(
        F.sum("n").alias("total"),
        (
            F.lit(1.0)
            - F.sum(F.col("n") * F.col("n")).cast("double")
            / (F.sum("n").cast("double") * F.sum("n").cast("double"))
        ).alias("impurity"),
    )
    return per_day.groupBy(
        F.floor(F.col("impurity") * 10.0).cast("int").alias("impurity_bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_user_days"),
        F.sum("total").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# New vs returning daily split (first-appearance partition)
# ---------------------------------------------------------------------------


@register(
    "events_new_vs_returning",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    )
    SELECT strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN CAST(e.ts AS DATE) = f.first_day
                         THEN 1 ELSE 0 END) AS BIGINT) AS new_user_events,
           CAST(SUM(CASE WHEN CAST(e.ts AS DATE) > f.first_day
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS returning_user_events,
           CAST(COUNT(DISTINCT CASE WHEN CAST(e.ts AS DATE) = f.first_day
                                    THEN e.user_id END) AS BIGINT)
               AS new_users
    FROM events e JOIN firsts f ON f.user_id = e.user_id
    GROUP BY CAST(e.ts AS DATE)
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: events from users on their FIRST
    active day vs any later day, plus the new-user count — the
    growth-vs-retention decomposition every daily dashboard leads
    with.

    First-appearance rewrite again (``events_cumulative_reach``'s
    family): one per-user MIN(day) aggregate, joined back user-keyed
    (co-partitioned with the event scan's natural key, AQE-
    broadcastable at small user counts), conditional sums on the
    comparison — no window over the raw stream, no per-day distinct
    scans. All outputs exact integers.
    """
    events = table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    j = events.join(firsts, "user_id").select(
        F.to_date("ts").alias("day"), "user_id", "first_day"
    )
    return j.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day")).agg(
        F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
        .cast("bigint")
        .alias("new_user_events"),
        F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
        .cast("bigint")
        .alias("returning_user_events"),
        F.countDistinct(
            F.when(F.col("day") == F.col("first_day"), F.col("user_id"))
        )
        .cast("bigint")
        .alias("new_users"),
    )


# ---------------------------------------------------------------------------
# Conversion lag: first event -> first purchase
# ---------------------------------------------------------------------------


@register(
    "events_conversion_lag",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(ts) AS first_seen,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS first_purchase
        FROM events GROUP BY user_id
    ),
    lags AS (
        SELECT user_id,
               CAST(floor((epoch_us(first_purchase) - epoch_us(first_seen))
                          / 3600000000.0) AS BIGINT) AS lag_hours
        FROM firsts WHERE first_purchase IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(MIN(lag_hours) AS BIGINT) AS min_hours,
           quantile_cont(CAST(lag_hours AS DOUBLE), 0.5) AS p50_hours,
           quantile_cont(CAST(lag_hours AS DOUBLE), 0.9) AS p90_hours,
           CAST(MAX(lag_hours) AS BIGINT) AS max_hours
    FROM lags
    """,
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: whole hours between each user's
    FIRST event of any kind and their FIRST purchase (converted users
    only) — the activation-speed metric that decides onboarding-nudge
    timing and how long an attribution window must stay open.

    Both firsts come out of ONE user-keyed aggregate (conditional MIN
    — no second scan, no ordered window); lags are exact integer
    hours from microsecond epoch math (NTZ-safe cast), and the
    percentiles ride the verified ``percentile``/``quantile_cont``
    pairing over the converted-user subset (one row per converted
    USER, not per event — already reduced before the exact percentile
    buffers it; at extreme user counts the ``approx_percentile`` swap
    documented in ``events_mad_outliers`` applies here too).
    """
    events = table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.expr("unix_micros(cast(ts as timestamp))")).alias("first_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("unix_micros(cast(ts as timestamp))"),
            )
        ).alias("purchase_us"),
    )
    lags = firsts.filter(F.col("purchase_us").isNotNull()).select(
        F.floor(
            (F.col("purchase_us") - F.col("first_us")) / 3600000000.0
        ).alias("lag_hours")
    )
    return lags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.min("lag_hours").cast("bigint").alias("min_hours"),
        F.expr("percentile(cast(lag_hours as double), 0.5)").alias(
            "p50_hours"
        ),
        F.expr("percentile(cast(lag_hours as double), 0.9)").alias(
            "p90_hours"
        ),
        F.max("lag_hours").cast("bigint").alias("max_hours"),
    )
