#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line on stdout:
    {"metric": "total_wall_sec", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...},
     "passes": {"q1_pricing_summary": [sec, sec], ...}, "sf": 0.1,
     "sink": "noop"}

Every query is timed TWICE back-to-back and ``queries`` carries the
per-query MIN; both raw passes are kept under ``passes`` for shape
analysis. Hosts of the r13 generation show non-reproducing per-query
transients of 2–5× (BASELINE.md r13 re-record: one run read 71.84 s
where two same-code re-runs read 49.3/44.0 s), so a single timed pass
does not produce an interpretable per-query number. ``value`` is the
sum of the per-query mins.

Each query is materialized through the `noop` sink (full execution, no
write cost, no column-pruning shortcut the way `count()` allows).
Everything else (Spark logs, errors) goes to stderr so a caller that
parses stdout as JSON never breaks.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


HEADLINE = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_top_orders",
    "q5_region_revenue",
    "rel_window_running",
    "rel_dedup_keyed",
    "etl_events_pipeline",
    "rel_asof_join",
    # extension operators (present from round 2 on; missing names are skipped)
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "text_quality_score",
    "text_fingerprint",
    "sim_topk_cosine",
    "sim_ivf_search",
    "stream_tumbling_counts",
    "stream_session_windows",
    "mm_decode_features",
    "sim_kmeans",
    # training-data prep (round 3)
    "text_decontaminate",
    "docs_pack_sequences",
    "events_weighted_sample",
    # round-5 additions: end-to-end corpus curation + new analytics
    "docs_dedup_corpus",
    "docs_dedup_incremental",
    "text_repetition_filter",
    "q8_market_share",
    "q10_returned_items",
    "rel_scd2_history",
    # round-6 additions: time-series + collocation mining
    "events_sessionize",
    "events_gap_fill",
    "text_pmi_bigrams",
    # round-6 third leg: graph BFS + lexical retrieval + domain shift
    "graph_reachability",
    "docs_bm25_topk",
    "docs_source_divergence",
    # round-12 addition: the dense-spine window family — the ONLY bench
    # member whose cost is driven by spine width (sequence() explode +
    # bidirectional ignore-nulls windows). The r11 O(n²) frame hid from
    # BENCH because this family was represented only by its cheap
    # forward-fill sibling (events_gap_fill); a future frame regression
    # now shows up in the headline number, not only in hostile sweeps.
    "events_gap_fill_lerp",
]


N_FILES = 8  # files per table in the multi-file bench layout


def _multifile_copy(spark, sf_dir: str) -> str:
    """One-time 8-file-per-table copy of ``sf_dir`` under /tmp.

    Every driver-generated sf0.1 table is ONE parquet file with ONE row
    group, and a row group is the unit of split — so scan stages run as
    a single task no matter the plan (BASELINE.md documents the
    ceiling). Real 100-TB tables are thousands of files; re-writing each
    table as N_FILES files lets local[32] actually parallelize the scan
    stage, so the timings measure the PLANS, not the synthetic layout.
    Setup happens once (marker-file cached across invocations, e.g.
    back-to-back runs) and is never timed. ns-timestamp tables
    are materialized through ``registry.table`` (µs conversion), so the
    copy reads back as plain timestamps.
    """
    from spark_etl_pipeline_spark.plans import registry

    root = f"/tmp/spark_graft_bench/{os.path.basename(sf_dir.rstrip('/'))}"
    marker = os.path.join(root, "_ALL_TABLES_DONE")
    if not os.path.exists(marker):
        t0 = time.monotonic()
        # µs on disk (not INT96): the copy reads back as plain
        # timestamps with no legacy-repair involvement.
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        for name in registry.TABLES:
            registry.table(spark, sf_dir, name).repartition(N_FILES).write.mode(
                "overwrite"
            ).parquet(f"{root}/{name}.parquet")
        with open(marker, "w") as fh:
            fh.write("ok")
        print(
            f"[bench] multi-file copy ({N_FILES} files/table) built in "
            f"{time.monotonic() - t0:.1f}s at {root}",
            file=sys.stderr,
        )
    return root


#: --sink parquet mode (round 11): the per-round gate has always timed
#: the noop sink (full execution, no write cost); the K2/K3/K4 sinks
#: are correctness-tested but were never TIMED. This opt-in mode times
#: partitioned parquet writes of three headline outputs chosen for
#: write-relevant shapes — a date-partitioned fact output (many
#: partition directories), a 10-way low-cardinality partition of a
#: wide window output, and a 2-way flag partition of a per-document
#: score table. The write-path number = execution + write + commit;
#: subtract the same query's noop reading to isolate the sink cost.
#: NOT part of the comparison gate — recorded as its own BASELINE.md
#: section. The plain `python bench.py` run is unchanged.
WRITE_SINK = {
    "etl_events_pipeline": "transaction_date",
    "rel_window_running": "l_suppkey",
    "text_quality_score": "keep",
}

#: --sink jdbc mode (round 12): the K1 JDBC append sink is
#: correctness-tested (embedded-Derby roundtrip,
#: ``tests/test_sources.py``) but was never TIMED. This opt-in mode
#: appends ONE headline output through the real JDBC write path
#: (batched INSERTs, one connection per partition) into an in-memory
#: Derby database — the same code path as MySQL/Postgres in
#: production, no external server. The number = execution + JDBC batch
#: insert; subtract the query's noop reading to isolate the sink cost.
#: NOT part of the comparison gate — its own BASELINE.md section.
JDBC_SINK_QUERY = "etl_events_pipeline"
JDBC_URL = "jdbc:derby:memory:sparketl_bench;create=true"
JDBC_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

#: --sink csv mode (round 14): the K3 single-file CSV export
#: (``sources.write_csv_single_file``, coalesce(1) by design — the
#: reference's report-export path) is correctness-tested but was the
#: last sink without a cost point (parquet ≈2.3 s r11, JDBC ≈2.2 s
#: r12). Times ONE flat-schema headline output through the real
#: single-writer funnel. Same contract as the other sink modes: the
#: number = execution + coalesce(1) + CSV encode + write; subtract
#: the query's noop reading to isolate the sink cost. NOT part of the
#: comparison gate — its own BASELINE.md section.
CSV_SINK_QUERY = "text_quality_score"

#: timed passes per query (round 14; see module doc)
N_PASSES = 2


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--sink",
        choices=["noop", "parquet", "jdbc", "csv"],
        default="noop",
        help="parquet: time partitioned parquet writes of the "
        "WRITE_SINK queries instead of the noop headline run; "
        "jdbc: time a batched JDBC append of the JDBC_SINK_QUERY "
        "output into an in-memory Derby database; "
        "csv: time the K3 single-file CSV export of the "
        "CSV_SINK_QUERY output",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from spark_etl_pipeline_spark.plans import registry
    from spark_etl_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    qs = registry.queries()

    sf_dir = _multifile_copy(spark, sf_dir)

    # One untimed end-to-end run to absorb JVM/codegen/shuffle-service
    # warm-up, so the first timed query isn't charged ~2s of JIT.
    try:
        qs["q6_forecast_revenue"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as exc:
        print(f"[bench] warmup: ERROR {exc}", file=sys.stderr)

    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    total = 0.0
    if args.sink == "parquet":
        run_names = list(WRITE_SINK)
    elif args.sink == "jdbc":
        run_names = [JDBC_SINK_QUERY]
    elif args.sink == "csv":
        run_names = [CSV_SINK_QUERY]
    else:
        run_names = HEADLINE
    for name in run_names:
        builder = qs.get(name)
        if builder is None:
            continue
        # N_PASSES timed runs back-to-back; ``queries`` carries the
        # min, ``passes`` both raws (module doc: one pass is not
        # interpretable under this host generation's 2–5× transients).
        # Any errored pass marks the query errored (-1.0) — a query
        # that fails intermittently is a finding, not a min-of-1.
        pass_secs: list[float] = []
        try:
            # build once untimed so plan analysis / file listing warms up
            builder(spark, sf_dir).schema
            for _ in range(N_PASSES):
                t0 = time.monotonic()
                if args.sink == "parquet":
                    builder(spark, sf_dir).write.mode(
                        "overwrite"
                    ).partitionBy(WRITE_SINK[name]).parquet(
                        f"/tmp/spark_graft_bench/write_sink/{name}.parquet"
                    )
                elif args.sink == "jdbc":
                    from spark_etl_pipeline_spark.sources import (
                        write_jdbc_append,
                    )

                    # fresh table per timed pass (Derby in-memory DB
                    # lives for the JVM; a stale table would turn the
                    # append into a duplicate-load and double the byte
                    # count) — the ms-stamped name is unique per pass
                    write_jdbc_append(
                        builder(spark, sf_dir),
                        url=JDBC_URL,
                        table=f"bench_{name}_{int(t0 * 1000)}",
                        user="app",
                        password="app",
                        driver=JDBC_DRIVER,
                    )
                elif args.sink == "csv":
                    from spark_etl_pipeline_spark.sources import (
                        write_csv_single_file,
                    )

                    write_csv_single_file(
                        builder(spark, sf_dir),
                        f"/tmp/spark_graft_bench/write_sink/{name}.csv",
                    )
                else:
                    builder(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                pass_secs.append(round(time.monotonic() - t0, 3))
            dt = min(pass_secs)
            timings[name] = dt
            passes[name] = pass_secs
            total += dt
            print(
                f"[bench] {name}: {dt:.3f}s (passes: "
                + "/".join(f"{p:.3f}" for p in pass_secs)
                + ")",
                file=sys.stderr,
            )
        except Exception as exc:  # keep the JSON line intact on any failure
            print(f"[bench] {name}: ERROR {exc}", file=sys.stderr)
            timings[name] = -1.0
            passes[name] = pass_secs + [-1.0]

    # Stop the JVM BEFORE emitting the JSON line: under memory pressure
    # the JVM's unified logging writes gc,alloc warnings to STDOUT
    # (observed during the 30× scale run), and anything printed after
    # the JSON would break the parse-the-last-line contract.
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "total_wall_sec"
                if args.sink == "noop"
                else "write_path_total_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "passes": passes,
                "sf": sf,
                "sink": args.sink,
            }
        )
    )


if __name__ == "__main__":
    main()
