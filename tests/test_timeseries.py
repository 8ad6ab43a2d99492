"""Behavioral contracts for the time-series operators.

Oracle parity (test_oracle_parity.py) proves Spark == DuckDB; these pin
the SEMANTIC invariants both engines must share — a complete spine, a
correct forward-fill, session boundaries that honor the gap.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_etl_pipeline_spark.operators.timeseries import (
    SESSION_GAP_US,
    events_gap_fill,
    events_period_over_period,
    events_sessionize,
)
from tests.conftest import SF_CORRECTNESS


def test_gap_fill_spine_is_complete_and_filled(spark):
    out = events_gap_fill(spark, SF_CORRECTNESS).cache()
    try:
        # Per key: row count == hours between min and max hour, inclusive —
        # the spine has no holes and no extras.
        spans = (
            out.withColumn("h", F.to_timestamp("hour"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                (
                    (F.expr("unix_micros(cast(max(h) as timestamp))")
                     - F.expr("unix_micros(cast(min(h) as timestamp))"))
                    / 3_600_000_000 + 1
                ).cast("bigint").alias("expect"),
            )
            .collect()
        )
        assert spans and all(r.rows == r.expect for r in spans)
        # Gap rows: no raw amount, but a forward-filled value (the spine
        # starts at each key's first observed hour, so fill always exists).
        assert out.filter("is_gap").count() > 0, "testdata produced no gaps"
        bad = out.filter(
            "is_gap AND (amount IS NOT NULL OR filled_amount IS NULL)"
        ).count()
        assert bad == 0
        # Non-gap rows carry their own amount as the fill.
        assert out.filter(
            "NOT is_gap AND (amount IS NULL OR filled_amount != amount)"
        ).count() == 0
    finally:
        out.unpersist()


def test_sessionize_boundaries_honor_gap(spark):
    sess = events_sessionize(spark, SF_CORRECTNESS).cache()
    try:
        # Every event lands in exactly one session.
        from spark_etl_pipeline_spark.plans.registry import table

        n_events = table(spark, SF_CORRECTNESS, "events").count()
        assert sess.agg(F.sum("n_events")).collect()[0][0] == n_events
        # Consecutive sessions of one user are separated by MORE than the
        # gap; inside a session, the span/(n-1) mean inter-event gap can
        # exceed it only if a single hop did — cheap necessary check: a
        # session's total span is at most (n-1) * gap.
        gap_s = SESSION_GAP_US // 1_000_000
        s = sess.withColumn("st", F.to_timestamp("session_start")).withColumn(
            "en", F.to_timestamp("session_end")
        )
        w_bad = s.filter(
            F.col("duration_sec") > (F.col("n_events") - 1) * gap_s
        ).count()
        assert w_bad == 0
        nxt = F.lead("st").over(
            Window.partitionBy("user_id").orderBy("session_idx")
        )
        crossing = (
            s.withColumn("next_start", nxt)
            .filter(F.col("next_start").isNotNull())
            .filter(
                F.expr("unix_micros(cast(next_start as timestamp))")
                - F.expr("unix_micros(cast(en as timestamp))")
                <= SESSION_GAP_US
            )
            .count()
        )
        assert crossing == 0
        # Ordinals are dense from 1 per user.
        dense = sess.groupBy("user_id").agg(
            F.min("session_idx").alias("lo"),
            F.max("session_idx").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        assert dense.filter("lo != 1 OR hi != n").count() == 0
    finally:
        sess.unpersist()


def test_period_over_period_identity(spark):
    out = events_period_over_period(spark, SF_CORRECTNESS)
    rows = out.filter("pct_change IS NOT NULL").collect()
    assert rows
    for r in rows:
        # pct_change reconstructs the current amount from the previous one
        # (both sides are exact cents, so the identity holds to 1 cent).
        assert abs(r.prev_amount * (1 + r.pct_change) - r.amount) < 0.01


# ---------------------------------------------------------------------------
# Property-based: tag_sessions == pure-Python reference on random streams
# ---------------------------------------------------------------------------

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_etl_pipeline_spark.operators.timeseries import tag_sessions

GAP = 100  # µs, tiny so random draws produce both splits and merges

event_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # user_id
        st.integers(min_value=0, max_value=1000),   # ts (µs)
    ),
    min_size=1,
    max_size=30,
)


def reference_sessions(rows):
    """Per (user, event order by (ts, event_id)): split when gap > GAP."""
    out = {}
    by_user = {}
    for eid, (u, ts) in enumerate(rows):
        by_user.setdefault(u, []).append((ts, eid))
    for u, evs in by_user.items():
        evs.sort()
        idx = 0
        prev = None
        for ts, eid in evs:
            if prev is None or ts - prev > GAP:
                idx += 1
            out[eid] = (u, idx)
            prev = ts
    return out


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=event_rows)
def test_tag_sessions_matches_reference(spark, rows):
    pdf = pd.DataFrame(
        [(eid, u, ts) for eid, (u, ts) in enumerate(rows)],
        columns=["event_id", "user_id", "us"],
    ).astype("int64")
    got = {
        r["event_id"]: (r["user_id"], r["session_idx"])
        for r in tag_sessions(spark.createDataFrame(pdf), gap_us=GAP).collect()
    }
    assert got == reference_sessions(rows)


# ---------------------------------------------------------------------------
# Incremental rollup: merge-of-merges == full recompute (monoid law)
# ---------------------------------------------------------------------------


def test_rollup_merge_is_associative(spark, tmp_path):
    """Splitting history at ANY cutoff — or appending day partials one at
    a time — must give the same grand totals as one full recompute: the
    operational guarantee that lets a 100-TB pipeline maintain rollups
    forever without rescans."""
    from spark_etl_pipeline_spark.operators.timeseries import (
        build_daily_rollup,
        merge_rollup,
    )
    from spark_etl_pipeline_spark.plans.registry import table

    events = table(spark, SF_CORRECTNESS, "events")
    # base = days < 20, then merge the rest in two sequential appends
    d20 = F.to_date("ts") < F.lit("2024-01-20").cast("date")
    d25 = F.to_date("ts") < F.lit("2024-01-25").cast("date")
    store = str(tmp_path / "rollup")
    build_daily_rollup(events.filter(d20), store)
    # append the 20..24 slice's partials to the SAME store (monoid append)
    (
        events.filter(~d20 & d25)
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
        .write.mode("append")
        .parquet(store)
    )
    merged = {
        r["event_type"]: (r["n_events"], r["amount"], r["avg_amount"])
        for r in merge_rollup(spark, store, events.filter(~d25)).collect()
    }
    direct = {
        r["event_type"]: (
            r["n"],
            float(r["s"]) / 100.0,
            float(r["s"]) / 100.0 / r["n"],
        )
        for r in events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("s"),
        )
        .collect()
    }
    assert merged == direct


def test_epoch_gate_upper_bound_is_utc_in_both_engines(spark, tmp_path):
    """The DISCRIMINATING proof of the round-9 tz pin: a row 2 hours in
    the past sits INSIDE the 4-hour window where a DuckDB session on a
    non-UTC host (TimeZone=America/New_York) used to disagree —
    ``CAST(now() AS TIMESTAMP)`` renders NY wall clock (UTC-4/-5), so
    the old oracle bound dropped near-now rows Spark's UTC
    ``localtimestamp()`` keeps. With ``now() AT TIME ZONE 'UTC'`` both
    engines keep the 2h-old row and drop the future instant, regardless
    of the DuckDB session TimeZone. (The full-registry TZ sweep
    0dc33e4:REHEARSAL_r09_invariance.json can't discriminate this — the corpus
    has no near-now rows — which is exactly why this pin exists.)
    """
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_etl_pipeline_spark.operators.timeseries import (
        TS_EPOCH_DUCK,
        epoch_gated,
    )

    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    rows = {
        1: now - datetime.timedelta(hours=2),   # keep: inside the skew window
        2: now - datetime.timedelta(days=30),   # keep: ordinary past
        3: now + datetime.timedelta(days=365),  # drop: future instant
        4: datetime.datetime(1970, 1, 1),       # drop: epoch-zero sentinel
    }
    path = str(tmp_path / "near_now.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(list(rows), pa.int64()),
                "ts": pa.array(list(rows.values()), pa.timestamp("us")),
            }
        ),
        path,
    )

    df = spark.read.parquet(path)
    kept_spark = {r.event_id for r in epoch_gated(df).collect()}

    con = duckdb.connect()
    con.sql("SET TimeZone='America/New_York'")  # the hostile host tz
    kept_duck = {
        r[0]
        for r in con.sql(
            f"SELECT event_id FROM '{path}' WHERE {TS_EPOCH_DUCK}"
        ).fetchall()
    }
    con.close()

    assert kept_spark == {1, 2}
    assert kept_duck == kept_spark  # the old CAST(now()) form dropped row 1
