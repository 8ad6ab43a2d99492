"""Kill and resume on a seeded random corpus, over six stateful surfaces.

The fixed-input kill-and-resume tests place hand-made rows around the
kill. Here the events of one seeded random corpus (``tools.stage_random``,
seed 33 over sf0.001) are staged as ``N_BATCH_FILES`` time-ordered files
plus one last file replaying the 20 newest events, read one file per
batch. The killed run is stopped once a batch with input rows has
committed and resumes from the same checkpoint with ``availableNow``. Its
output must equal an uninterrupted drain (the append surfaces) or the
batch oracle (profiles and the upsert snapshot, whose contract is the
final row per key). The state store is the default HDFS-backed provider.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

import spark_etl_pipeline_spark.streaming.stateful as st
from spark_etl_pipeline_spark.plans.registry import table
from spark_etl_pipeline_spark.streaming import incremental as inc
from spark_etl_pipeline_spark.streaming.source import (
    guard_event_time,
    normalize_event_time,
)
from spark_etl_pipeline_spark.streaming.windows import session
from tests.conftest import SF_SMOKE

SEED = 33
N_BATCH_FILES = 12
EVENT_COLS = ["event_id", "user_id", "ts", "event_type", "value", "props"]


def _canon(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.astype(str).sort_values(by=list(pdf.columns)).reset_index(drop=True)


def _assert_same(got, want):
    assert len(want) > 0, "empty reference proves nothing"
    g, w = _canon(got), _canon(want)
    assert list(g.columns) == list(w.columns)
    assert g.equals(w), f"{len(got)} rows after kill+resume vs {len(want)}"


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """(staged dir, batch twin of the staged stream). The twin applies the
    stream's ingest guard and keeps the replayed rows: profiles count
    every arriving row, and the upsert argmax ignores exact duplicates."""
    from tools.stage_random import stage

    root = tmp_path_factory.mktemp("kill_resume_fuzz")
    src = stage(SF_SMOKE, str(root / "corpus"), SEED)
    path = str(root / "staged" / "events.parquet")
    ev = table(spark, src, "events").select(*EVENT_COLS)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        # range-partitioned on ts, so the watermark advances batch by
        # batch; with random file assignment batch 1 would push it to
        # the corpus max and the rest would arrive late
        ev.repartitionByRange(N_BATCH_FILES, "ts").write.parquet(path)
        # listing order = batch order: mtime-stagger the time slices,
        # then the replays of the newest events as the very last file,
        # so they arrive after the restart inside the watermark horizon
        base = 1_000_000
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        for i, f in enumerate(parts):
            os.utime(os.path.join(path, f), (base + i, base + i))
        ev.orderBy(F.desc("ts")).limit(20).coalesce(1).write.mode("append").parquet(path)
        (replay,) = [
            f for f in os.listdir(path) if f.endswith(".parquet") and f not in parts
        ]
        os.utime(os.path.join(path, replay), (base + 100, base + 100))
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    return os.path.dirname(path), guard_event_time(spark.read.parquet(path), "ts")


@pytest.fixture()
def staged(spark, corpus, monkeypatch):
    """The staged directory, with the engine's source hook reading it one
    file per batch, so every surface runs its unmodified operator code."""

    def events_stream(spark, sf_dir):
        path = f"{sf_dir}/events.parquet"
        stream = (
            spark.readStream.schema(spark.read.parquet(path).schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(f"{sf_dir}/events.*")
        )
        return guard_event_time(normalize_event_time(stream, "ts"), "ts")

    monkeypatch.setattr(st, "_events_stream", events_stream)
    return corpus[0]


def _run(build, sink, ckpt, kill, foreach=None, mode="append"):
    """Killed-then-resumed (``kill``) or a straight availableNow drain."""

    def start(**trigger):
        w = build().writeStream
        if foreach:
            w = w.foreachBatch(foreach)
        else:
            w = w.format("parquet").option("path", sink)
        return (
            w.outputMode(mode).option("checkpointLocation", ckpt)
            .trigger(**trigger).start()
        )

    def committed(q):
        return sum(int(p["numInputRows"]) > 0 for p in q.recentProgress)

    if kill:
        q1 = start(processingTime="0 seconds")
        deadline = time.time() + 240
        while committed(q1) < 1 and time.time() < deadline:
            time.sleep(0.05)
        q1.stop()
        assert q1.awaitTermination(120), "killed query did not stop"
        assert committed(q1) >= 1, "kill landed before the first batch"
    q2 = start(availableNow=True)
    assert q2.awaitTermination(600), "drain did not finish inside 600 s"
    q2.stop()


def _killed_vs_drained(spark, tmp_path, build, where=None):
    """Append surface: killed+resumed vs uninterrupted, parquet sinks."""
    out = {}
    for kill in (True, False):
        d = tmp_path / ("killed" if kill else "ref")
        _run(build, str(d / "out"), str(d / "ckpt"), kill)
        df = spark.read.parquet(str(d / "out"))
        out[kill] = (df.filter(where) if where else df).toPandas()
    return out[True], out[False]


def _profiles(spark, staged, events, tmp_path):
    sink = str(tmp_path / "out")
    _run(
        lambda: st.running_user_profiles(spark, staged),
        sink, str(tmp_path / "ckpt"), kill=True, mode="update",
        foreach=lambda bdf, _: bdf.write.mode("append").parquet(sink),
    )
    # the last emission per user (highest n_events) is its final state
    got = (
        spark.read.parquet(sink).toPandas().sort_values("n_events")
        .groupby("user_id", as_index=False).last()
        [["user_id", "n_events", "total_value"]]
    )
    # finite-only SUM, NULL for a user whose values are all damaged
    finite = (
        F.col("value").isNotNull() & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    want = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(finite, F.col("value"))).alias("total_value"),
    ).toPandas()[["user_id", "n_events", "total_value"]]
    for pdf in (got, want):
        pdf["total_value"] = pdf["total_value"].round(6)
    return got, want


def _idle_timer(spark, staged, events, tmp_path):
    def build():
        stream = st._events_stream(spark, staged).withWatermark("ts", "10 minutes")
        return st.idle_session_summaries(stream, gap="30 minutes")

    # closed sessions only: open-session progress rows follow the batch
    # grid, which is not restart-stable (Spark may fold two files into
    # the first batch after a restart even with maxFilesPerTrigger=1)
    return _killed_vs_drained(spark, tmp_path, build, where="closed")


def _dedup_replay(spark, staged, events, tmp_path):
    got, want = _killed_vs_drained(
        spark, tmp_path, lambda: st.dedup_events_within_watermark(spark, staged)
    )
    # premise: nearly every distinct event flows through and the
    # replays are absorbed, else the watermark dropped the corpus as
    # late data and the dedup state was never exercised
    n = events.select("event_id").distinct().count()
    assert 0.9 * n <= len(got) <= n, f"dedup emitted {len(got)} of {n}"
    return got, want


def _session_merge(spark, staged, events, tmp_path):
    def build():
        stream = st._events_stream(spark, staged).withWatermark("ts", "1 hour")
        return session(stream, "ts", "30 minutes", ["user_id"]).agg(
            F.count(F.lit(1)).alias("n_events")
        ).select(
            "user_id", F.col("session_window.start").alias("session_start"),
            "n_events",
        )

    return _killed_vs_drained(spark, tmp_path, build)


def _ss_join(spark, staged, events, tmp_path):
    # the shape of windows.stream_stream_join with corpus-derived sides
    # and bound: a random corpus may draw no 'purchase' at all, and a
    # join that matches nothing proves nothing about its buffers. Sides
    # are the two most common event types; the bound is a tenth of the
    # corpus span, clamped to [1 h, 72 h].
    types = [
        r[0] for r in events.groupBy("event_type").count()
        .orderBy(F.desc("count"), "event_type").limit(2).collect()
    ]
    assert len(types) == 2, f"corpus has fewer than 2 event types: {types}"
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    hours = max(1, min(72, int((hi - lo) / dt.timedelta(hours=10))))

    def build():
        def side(t, alias):
            return (
                st._events_stream(spark, staged)
                .filter(F.col("event_type") == t)
                .withWatermark("ts", "1 hour").alias(alias)
            )

        return side(types[0], "p").join(
            side(types[1], "c"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr(f"INTERVAL {hours} HOURS"))
            & (F.col("c.ts") < F.col("p.ts")),
        ).select(F.col("p.event_id").alias("a_id"), F.col("c.event_id").alias("b_id"))

    return _killed_vs_drained(spark, tmp_path, build)


def _upsert(spark, staged, events, tmp_path):
    snap = str(tmp_path / "snapshots")
    _run(
        lambda: st._events_stream(spark, staged).select(
            "user_id", "ts", "event_id", "event_type", "value"
        ),
        str(tmp_path / "out"), str(tmp_path / "ckpt"), kill=True,
        foreach=inc.latest_state_sink("user_id", snap),
    )
    got = inc.read_snapshot(spark, snap).toPandas()
    # the sink's own order: max of the full payload struct
    want = events.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s")
    ).select("user_id", "s.ts", "s.event_id", "s.event_type", "s.value").toPandas()
    return got, want


@pytest.mark.parametrize(
    "surface",
    [_profiles, _idle_timer, _dedup_replay, _session_merge, _ss_join, _upsert],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_random_corpus_state_survives_kill_and_resume(
    spark, corpus, staged, tmp_path, surface
):
    _assert_same(*surface(spark, staged, corpus[1], tmp_path))
