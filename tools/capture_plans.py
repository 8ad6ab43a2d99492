#!/usr/bin/env python
"""Capture ``explain("formatted")`` for headline queries to plans/<tag>/.

    python tools/capture_plans.py --tag r15 --suffix before [names...]

Writes ``plans/<tag>/<query>_<suffix>.txt`` for each requested query
(default: every bench HEADLINE query) built against the same multi-file
staged directory ``bench.py`` times, so the captured plan is the plan
the bench actually runs (file counts, scan splits, AQE initial plan).
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--tag", default="r15")
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench
    from spark_etl_pipeline_spark.plans import registry
    from spark_etl_pipeline_spark.session import get_spark

    spark = get_spark("capture_plans")
    sf_dir = bench._multifile_copy(spark, args.sf_dir)

    qs = registry.queries()
    names = args.names or [n for n in bench.HEADLINE if n in qs]
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        builder = qs.get(name)
        if builder is None:
            print(f"[plans] {name}: MISSING from registry", file=sys.stderr)
            continue
        try:
            df = builder(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:
            print(f"[plans] {name}: ERROR {exc}", file=sys.stderr)
            continue
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"[plans] wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
