"""Incremental materialization: stream → upserted parquet snapshot.

The production pattern for keeping a queryable table continuously
up-to-date from a stream when no transactional table format
(Delta/Iceberg) is available: ``foreachBatch`` turns each micro-batch
into a batch MERGE (``plans.etl.upsert``) against the current snapshot,
written as a NEW immutable generation and atomically re-pointed.

Generation directories (``v0``, ``v1``, ...) + an atomically-renamed
``_LATEST`` pointer file give readers snapshot isolation without a
table format: a reader either sees the old pointer or the new one,
never a half-written directory (the generation is fully written before
the pointer moves). This is exactly the commit protocol Delta's
transaction log generalizes; with Delta/Iceberg available, swap the
body for ``MERGE INTO`` and keep the same call sites.

Scale notes: each micro-batch pays one key-shuffle for the merge join
(zero if snapshot generations are written bucketed on the key — see
``sources.write_bucketed``) and rewrites the snapshot. Full rewrites
are the honest cost of format-less upserts; at 100 TB you partition the
snapshot (e.g. by key range or date) and rewrite only the partitions a
batch touches (``spark.sql.sources.partitionOverwriteMode=dynamic``).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from spark_etl_pipeline_spark.plans.etl import upsert

_LATEST = "_LATEST"


def latest_snapshot_path(snapshot_dir: str) -> str | None:
    """Path of the current snapshot generation, or None before the
    first commit."""
    pointer = os.path.join(snapshot_dir, _LATEST)
    try:
        with open(pointer, encoding="utf-8") as fh:
            return os.path.join(snapshot_dir, fh.read().strip())
    except FileNotFoundError:
        return None


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame | None:
    """The current snapshot as a DataFrame (None before first commit)."""
    path = latest_snapshot_path(snapshot_dir)
    return None if path is None else spark.read.parquet(path)


def _commit_pointer(snapshot_dir: str, generation: str) -> None:
    # write-then-rename: readers see the old or the new pointer, never a
    # partial write (rename is atomic on POSIX within a filesystem)
    pointer = os.path.join(snapshot_dir, _LATEST)
    tmp = pointer + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(generation)
    os.replace(tmp, pointer)


def _commit_generation(df: DataFrame, snapshot_dir: str, batch_id: int) -> None:
    # the generation is fully written before the pointer moves to it
    generation = f"v{batch_id}"
    os.makedirs(snapshot_dir, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(snapshot_dir, generation))
    _commit_pointer(snapshot_dir, generation)


def upsert_snapshot_sink(
    key: str, snapshot_dir: str
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function that merges each micro-batch into a
    versioned parquet snapshot by ``key``.

    Batches must be pre-deduplicated on ``key`` (use
    ``dropDuplicates``/``dropDuplicatesWithinWatermark`` upstream, or an
    aggregation that yields one row per key) — with several rows per key
    in one batch, "which one wins" is not well-defined for a MERGE.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        current = read_snapshot(spark, snapshot_dir)
        merged = batch_df if current is None else upsert(current, batch_df, key)
        _commit_generation(merged, snapshot_dir, batch_id)

    return apply


def run_stream_upsert(
    stream: DataFrame,
    key: str,
    snapshot_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain all available input through the upsert sink (availableNow
    trigger: process everything pending, then stop — the batch-job shape
    of an always-on incremental pipeline; drop ``availableNow`` for a
    continuously running query)."""
    (
        stream.writeStream.foreachBatch(upsert_snapshot_sink(key, snapshot_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# Registered drain: latest-state compaction through the upsert sink
# ---------------------------------------------------------------------------


def latest_state_sink(
    key: str, snapshot_dir: str
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` CDC compaction: maintain one LATEST row per key
    (ordered by (ts, event_id)) across micro-batches.

    Unlike :func:`upsert_snapshot_sink` (new batch wins — correct for
    genuinely ordered CDC feeds), this sink re-argmaxes the union of
    the current snapshot and the batch, so it is ORDER-INDEPENDENT:
    a replayed or out-of-order batch can never regress a key to an
    older state. That is the contract a file-replay source actually
    provides (files arrive in storage-listing order, not event order).
    """
    from pyspark.sql import functions as F

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        current = read_snapshot(spark, snapshot_dir)
        merged = batch_df if current is None else current.unionByName(batch_df)
        compact = merged.groupBy(key).agg(
            F.max(
                F.struct("ts", "event_id", "event_type", "value")
            ).alias("s")
        ).select(
            key,
            F.col("s.ts").alias("ts"),
            F.col("s.event_id").alias("event_id"),
            F.col("s.event_type").alias("event_type"),
            F.col("s.value").alias("value"),
        )
        _commit_generation(compact, snapshot_dir, batch_id)

    return apply


def _register_drain() -> None:
    from pyspark.sql import functions as F

    from spark_etl_pipeline_spark.plans.registry import register
    from spark_etl_pipeline_spark.streaming.source import events_stream

    @register(
        "stream_upsert_drain",
        oracle="""
        WITH ranked AS (
            SELECT user_id, ts, event_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
            WHERE ts >= TIMESTAMP '1990-01-01' AND ts <= (now() AT TIME ZONE 'UTC')
        )
        SELECT user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
               event_id, event_type, value
        FROM ranked WHERE rn = 1
        """,
    )
    def stream_upsert_drain(spark, sf_dir):
        """REAL ``foreachBatch`` incremental-materialization drain: the
        events stream compacted to a one-row-per-user LATEST-state table
        through versioned parquet generations with an atomic pointer
        commit (``latest_state_sink``) — the keep-a-table-fresh-from-a-
        stream pattern when no Delta/Iceberg is available, now
        driver-verified end-to-end (micro-batch engine → foreachBatch →
        generation write → pointer swap → snapshot read-back), not just
        pytest-covered.

        The argmax is a map-side-combinable MAX(struct) keyed on
        (ts, event_id) — same combinable-argmax shape as
        ``events_attribution`` — and the sink re-argmaxes (snapshot ∪
        batch), so any batch split or replay the file source produces
        yields the identical snapshot (order-independence the oracle's
        batch argmax depends on).
        """
        import shutil
        import tempfile

        base = tempfile.mkdtemp(prefix="spark_etl_upsert_drain_")
        snap = os.path.join(base, "snapshot")
        ckpt = os.path.join(base, "checkpoint")
        try:
            stream = events_stream(spark, sf_dir).select(
                "user_id", "ts", "event_id", "event_type", "value"
            )
            (
                stream.writeStream.foreachBatch(
                    latest_state_sink("user_id", snap)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
            out = read_snapshot(spark, snap)
            rows = out.select(
                "user_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                "event_id",
                "event_type",
                "value",
            ).localCheckpoint(eager=True)
            return rows
        finally:
            shutil.rmtree(base, ignore_errors=True)


_register_drain()


def vacuum_snapshots(snapshot_dir: str, keep: int = 2) -> list[str]:
    """Delete all but the newest ``keep`` snapshot generations.

    Every upsert batch writes a full new generation, so the store grows
    by one table-copy per batch until vacuumed — the retention loop
    Delta's ``VACUUM`` automates. The CURRENT generation (per the
    ``_LATEST`` pointer) is always preserved regardless of age, and
    deletion happens strictly newest-to-oldest AFTER the pointer is
    known, so a concurrent reader holding an older-but-kept generation
    is safe and a reader of a just-deleted one can only be one retry
    away from the pointer. Returns the deleted generation names.
    """
    import re
    import shutil

    if not os.path.isdir(snapshot_dir):
        return []
    current = latest_snapshot_path(snapshot_dir)
    gens = sorted(
        (
            d
            for d in os.listdir(snapshot_dir)
            if re.fullmatch(r"v\d+", d)
        ),
        key=lambda d: int(d[1:]),
    )
    keep_set = set(gens[-keep:]) if keep > 0 else set()
    if current is not None:
        keep_set.add(os.path.basename(current))
    deleted = []
    # delete newest-first: a reader holding an old generation then sees
    # deletions approach it from above, so by the time ITS generation
    # vanishes the pointer has long moved — one retry reaches it
    for d in reversed(gens):
        if d not in keep_set:
            shutil.rmtree(os.path.join(snapshot_dir, d), ignore_errors=True)
            deleted.append(d)
    return deleted
