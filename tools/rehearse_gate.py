#!/usr/bin/env python
"""Rehearse the driver's correctness gate on a BARE SparkSession.

An external gate builds its own session (no engine session factory), runs
the first ``--window`` registry queries (in registration order) next to
their DuckDB oracles at sf0.01, and compares row count + schema +
string-rendered values. The pytest parity
suite covers the same comparison but through ``get_spark()`` — which
pre-sets confs (``nanosAsLong``) that ``registry.table()`` must otherwise
set AT RUNTIME on the driver's session. This script closes that gap: same
comparison, same window, but a session built exactly like the driver's.

    python tools/rehearse_gate.py [--window 50] [--sf-dir /root/testdata/sf0.01]

Prints one JSON object (query -> match booleans) and exits non-zero if
any window query mismatches.
"""

from __future__ import annotations

import argparse
import json
import math
import sys


def canon(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), na_position="last").reset_index(
        drop=True
    )


def cells_match(a, b) -> bool:
    a_nan = a is None or (isinstance(a, float) and math.isnan(a))
    b_nan = b is None or (isinstance(b, float) and math.isnan(b))
    if a_nan or b_nan:
        return a_nan and b_nan
    return str(a) == str(b)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--window", type=int, default=50)
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    parser.add_argument(
        "--names", nargs="*", help="explicit query names instead of the window"
    )
    parser.add_argument(
        "--master",
        default="local[8]",
        help=(
            "Spark master for the bare session — e.g. local[1] to prove "
            "the registry is parallelism-degenerate-safe (no builder may "
            "depend on having more than one core or task slot)"
        ),
    )
    parser.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help=(
            "extra session conf, repeatable — e.g. "
            "--conf spark.sql.shuffle.partitions=3 to prove results are "
            "partitioning-invariant (the driver's session confs are unknown)"
        ),
    )
    args = parser.parse_args(argv)

    import duckdb
    from pyspark.sql import SparkSession

    sys.path.insert(0, ".")
    import __spark_entry__ as entry

    builder = (
        SparkSession.builder.master(args.master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
    )
    for kv in args.conf:
        k, _, v = kv.partition("=")
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    from spark_etl_pipeline_spark.plans.registry import TABLES

    duck = duckdb.connect()
    for t in TABLES:
        # driver layout is one file per table; hostile/staged copies
        # (tools/stage_hostile.py) are directories of part files
        path = f"{args.sf_dir}/{t}.parquet"
        import os

        if os.path.isdir(path):
            # union_by_name: a staged directory can span schema
            # generations (the drift mode); DuckDB must merge footers
            # by name and null-fill, mirroring the engine's
            # mergeSchema directory reads
            duck.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{path}/*.parquet', union_by_name=true)"
            )
        else:
            duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = args.names or list(qs)[: args.window]
    # Conf-mutation watch (r11): the engine's load paths pin session
    # confs at runtime (timeZone, nanosAsLong), so a swept --conf can
    # be silently overridden from the first query on — the r11 DST
    # sweeps recorded "green under Europe/Dublin" for queries that
    # actually ran under the engine's UTC pin. Note every drift ONCE
    # so a sweep can never again claim a hazard conf it didn't hold.
    swept = {kv.partition("=")[0]: kv.partition("=")[2] for kv in args.conf}
    drifted: set[str] = set()
    report: dict[str, dict] = {}
    for name in names:
        row: dict = {"rows_match": False, "schema_match": False,
                     "values_match": False, "err": None}
        try:
            spdf = qs[name](spark, args.sf_dir).toPandas()
            dpdf = duck.sql(oracles[name]).df()
            row["rows_match"] = len(spdf) == len(dpdf)
            row["schema_match"] = sorted(spdf.columns) == sorted(dpdf.columns)
            if row["rows_match"] and row["schema_match"]:
                s, d = canon(spdf), canon(dpdf)
                row["values_match"] = all(
                    cells_match(a, b)
                    for col in s.columns
                    for a, b in zip(s[col].tolist(), d[col].tolist())
                )
        except Exception as exc:  # noqa: BLE001 — report, don't abort the sweep
            row["err"] = f"{type(exc).__name__}: {exc}"[:300]
        report[name] = row
        ok = row["rows_match"] and row["schema_match"] and row["values_match"]
        print(f"{'PASS' if ok else 'FAIL'} {name}", file=sys.stderr)
        for k, want in swept.items():
            if k in drifted:
                continue
            now = spark.conf.get(k, None)
            if now != want:
                drifted.add(k)
                print(
                    f"NOTE swept conf {k}={want!r} was changed to "
                    f"{now!r} by (or during) {name} — queries from "
                    "here on run under the NEW value",
                    file=sys.stderr,
                )
    print(json.dumps(report))
    bad = [n for n, r in report.items() if not r["values_match"]]
    if bad:
        print(f"MISMATCH: {bad}", file=sys.stderr)
        return 1
    print(f"all {len(report)} window queries green", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
