#!/usr/bin/env python
"""Empirical scale evidence: the top headline plans at 10× bench data.

Builds a benchmark-only sf1-equivalent dataset (the driver ships
sf0.001/0.01/0.1 only) by replicating sf0.1 ten times with KEY
OFFSETTING, so cardinality structure scales the way TPC-H's own sf
scaling does — 10× orders, 10× parts, 10× documents, with basket sizes
and per-document duplicate structure UNCHANGED:

- ``lineitem``: l_orderkey and l_partkey offset per replica (baskets
  keep their size; the co-purchase graph becomes 10 same-shaped
  components, as sf1's does).
- ``part``: p_partkey offset per replica; p_brand kept, so the BFS
  seed brand has 10× seed parts — seed density constant.
- ``documents``: doc_id offset per replica; every token of replicas
  1..9 is suffixed with a replica tag, so each replica reproduces the
  corpus's internal near-dup structure WITHOUT creating cross-replica
  duplicates (a plain copy would turn every doc into a 10-way exact-dup
  cluster and blow candidate pairs up 45×, which sf1 does not do).
- ``embeddings``: vec_id offset per replica; replicas 1..9 are rotated
  by a fixed random orthogonal matrix (see ``_replica_rotator``) — the
  embedding-space twin of the token-suffix trick.

Then times the six most expensive headline queries at both scales with
the headline harness's methodology (``0dc33e4:bench.py``: schema-warmed,
noop sink, multi-file layout) and prints one JSON line with per-query
sf0.1→sf1 wall ratios.
A ratio near DATA_SCALE (10) is linear scaling on fixed cores; well
below 10 means the base run under-utilized local[32]; well above 10
flags super-linear work. Results are recorded in BASELINE.md.

    python tools/scale_bench.py [--scale 10] [--runs 2] [--full]

``--full`` widens the evidence from the 6 most expensive queries to
the ENTIRE ``HEADLINE`` set: every table is staged (orders /
customer / supplier / events join the four above, with foreign keys
offset by the SAME constant as their parent's primary key so joins
stay replica-local; region/nation stay fixed like TPC-H dims), and two
exact linearity witnesses (graph hop counts, q1 group aggregates) gate
the timing run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pandas as pd

QUERIES = [
    "graph_reachability",
    "mm_decode_features",
    "docs_dedup_corpus",
    "dedup_minhash_lsh",
    "docs_dedup_incremental",
    "dedup_embedding_cosine",
]
#: The headline set: the 35 registered queries ``--full`` times at 10×
#: (BASELINE.md's "35-query headline set" is this list; the per-query
#: harness that first timed it is ``0dc33e4:bench.py``).
HEADLINE = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_top_orders",
    "q5_region_revenue",
    "rel_window_running",
    "rel_dedup_keyed",
    "etl_events_pipeline",
    "rel_asof_join",
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
    "text_decontaminate",
    "docs_pack_sequences",
    "events_weighted_sample",
    "docs_dedup_corpus",
    "docs_dedup_incremental",
    "text_repetition_filter",
    "q8_market_share",
    "q10_returned_items",
    "rel_scd2_history",
    "events_sessionize",
    "events_gap_fill",
    "text_pmi_bigrams",
    "graph_reachability",
    "docs_bm25_topk",
    "docs_source_divergence",
    # the only member whose cost follows spine width (sequence() explode
    # + bidirectional ignore-nulls windows): it shows frame regressions
    "events_gap_fill_lerp",
]
TABLES = ["lineitem", "part", "documents", "embeddings"]
#: ``--full`` stages every table so the ENTIRE headline set can
#: be timed at 10×. region/nation stay fixed (TPC-H dims don't scale
#: with SF); every fact/dim that TPC-H scales gets replica-offset keys,
#: with FOREIGN keys offset by the same constant as their parent's
#: primary key so joins stay replica-local (disjoint same-shaped
#: components — the sf1 cardinality structure).
TABLES_FULL = [
    "region", "nation", "customer", "supplier", "orders",
] + TABLES + ["events"]
N_FILES = 8  # per-table files at base scale (the headline layout)

ORDER_OFFSET = 100_000_000
PART_OFFSET = 10_000_000
DOC_OFFSET = 10_000_000
VEC_OFFSET = 10_000_000
CUST_OFFSET = 10_000_000
SUPP_OFFSET = 10_000_000
EVENT_OFFSET = 1_000_000_000
USER_OFFSET = 10_000_000

#: table -> [(key column, offset per replica)]; replica i adds i*offset.
_KEY_OFFSETS = {
    "lineitem": [
        ("l_orderkey", ORDER_OFFSET),
        ("l_partkey", PART_OFFSET),
        ("l_suppkey", SUPP_OFFSET),
    ],
    "part": [("p_partkey", PART_OFFSET)],
    "documents": [("doc_id", DOC_OFFSET)],
    "embeddings": [("vec_id", VEC_OFFSET)],
    "orders": [("o_orderkey", ORDER_OFFSET), ("o_custkey", CUST_OFFSET)],
    "customer": [("c_custkey", CUST_OFFSET)],
    "supplier": [("s_suppkey", SUPP_OFFSET)],
    "events": [("event_id", EVENT_OFFSET), ("user_id", USER_OFFSET)],
    "region": [],  # fixed dims, copied once
    "nation": [],
}


def _replica_rotator(i: int):
    """array<float> -> array<float> pandas UDF applying replica ``i``'s
    fixed random rotation (QR of seeded gaussian — exactly orthogonal).

    Rotation preserves every WITHIN-replica inner product bit-for-bit
    in exact arithmetic (float32 re-storage moves threshold-grazing
    cosines by ~1e-7), so each replica reproduces the corpus's internal
    near-dup structure; cross-replica cosines become ~isotropic random
    (sd ≈ 1/sqrt(DIM)), the same near-threshold tail a real 10× corpus
    carries. A plain copy would instead make every vector a 10-way
    exact dup (cos 1.0) across replicas — 45× verified pairs, which a
    real 10× corpus does NOT have.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from spark_etl_pipeline_spark.operators.similarity import DIM

    q, _ = np.linalg.qr(
        np.random.default_rng(7000 + i).standard_normal((DIM, DIM))
    )
    qlist = q.tolist()

    @pandas_udf("array<float>")
    def rot(col: pd.Series) -> pd.Series:
        m = np.asarray(qlist, dtype=np.float64)
        return col.map(
            lambda v: (m @ np.asarray(v, dtype=np.float64))
            .astype(np.float32)
            .tolist()
        )

    return rot


def build_scaled(spark, sf_dir: str, root: str, scale: int, tables=TABLES) -> None:
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from spark_etl_pipeline_spark.plans.registry import table

    for name in tables:
        if os.path.exists(f"{root}/{name}.parquet/_SUCCESS"):
            continue
        base = table(spark, sf_dir, name)
        if not _KEY_OFFSETS[name]:  # fixed dim: copy once, no replicas
            base.write.mode("overwrite").parquet(f"{root}/{name}.parquet")
            print(f"[scale] copied dim {name}", file=sys.stderr)
            continue
        reps = []
        for i in range(scale):
            r = base
            for key, offset in _KEY_OFFSETS[name]:
                r = r.withColumn(key, F.col(key) + F.lit(i * offset))
            if name == "documents" and i > 0:
                r = r.withColumn(
                    "text",
                    F.expr(f"regexp_replace(text, '(\\\\S+)', '$1_x{i}')"),
                )
            elif name == "embeddings" and i > 0:
                r = r.withColumn("embedding", _replica_rotator(i)("embedding"))
            reps.append(r)
        df = reduce(DataFrame.unionByName, reps)
        df.repartition(N_FILES * scale).write.mode("overwrite").parquet(
            f"{root}/{name}.parquet"
        )
        print(f"[scale] built {name} x{scale}", file=sys.stderr)


def time_queries(
    spark, qs, sf_dir: str, runs: int, names=QUERIES
) -> dict[str, float]:
    out: dict[str, float] = {}
    for name in names:
        builder = qs[name]
        builder(spark, sf_dir).schema  # plan analysis / listing warm-up
        best = None
        for _ in range(runs):
            t0 = time.monotonic()
            builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"[scale] {sf_dir.rstrip('/').rsplit('/', 1)[-1]} "
              f"{name}: {out[name]:.3f}s", file=sys.stderr)
    return out


def lsh_occupancy_ab(
    spark, base_root: str, scaled_root: str, scale: int, runs: int
) -> dict:
    """Fixed-bits vs occupancy-targeted-bits LSH at 10× corpus size.

    At fixed b, expected candidate pairs grow ~n²/2^b — quadratic; the
    operating rule for a growing corpus is b ≈ log2(n/β) for a target
    bucket occupancy β, which holds candidates at ~n·β — linear. This
    measures both at ``scale``× data: same multiprobe pipeline
    (``embedding_near_dup_pairs``), only ``bits`` differs. Candidate
    counts are the direct evidence; wall uses the headline noop-write
    min-of-runs methodology.
    """
    import math

    from spark_etl_pipeline_spark.operators.similarity import (
        BITS_PER_TABLE,
        _vec,
        embedding_candidate_pairs,
        embedding_near_dup_pairs,
    )
    from spark_etl_pipeline_spark.plans.registry import table

    b_scaled = BITS_PER_TABLE + math.ceil(math.log2(scale))
    out = {}
    for tag, root, bits in (
        (f"base_b{BITS_PER_TABLE}", base_root, BITS_PER_TABLE),
        (f"x{scale}_b{BITS_PER_TABLE}", scaled_root, BITS_PER_TABLE),
        (f"x{scale}_b{b_scaled}", scaled_root, b_scaled),
    ):
        emb = table(spark, root, "embeddings").select(
            "vec_id", _vec().alias("v")
        )
        n_cand = embedding_candidate_pairs(emb, bits).count()
        pipe = embedding_near_dup_pairs(emb, bits=bits)
        n_pairs = pipe.count()
        best = None
        for _ in range(runs):
            t0 = time.monotonic()
            embedding_near_dup_pairs(emb, bits=bits).write.format(
                "noop"
            ).mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out[tag] = {
            "bits": bits,
            "n_candidates": n_cand,
            "n_pairs": n_pairs,
            "wall": round(best, 3),
        }
        print(f"[scale] lsh A/B {tag}: cand={n_cand} pairs={n_pairs} "
              f"wall={best:.3f}s", file=sys.stderr)
    return out


def multiprobe_ab(
    spark, base_root: str, scaled_root: str, scale: int, runs: int,
    bits: int | None = None,
) -> dict:
    """Probe-strategy A/B on the registered near-dup pipeline: full
    radius-1 mask expansion vs the SET-BIT probe (identical candidate
    set — the equal-recall form).

    Recall here is exact and relative: the set-bit probe's verified
    pairs (cos >= threshold) are counted against full radius-1's — the
    hamming<=1 oracle contract — so ``pair_recall`` = 1.0 means
    equal recall by construction, not by sampling. Wall uses the headline
    noop-write min-of-runs methodology on the whole cand→verify
    pipeline. The absolute floor vs exact ground truth (29/59 on the
    hard cosine band at sf0.01) stays pinned in
    ``tests/test_estimator_properties.py``, untouched by this A/B.
    """
    from pyspark.sql import functions as F

    from spark_etl_pipeline_spark.operators.similarity import (
        COS_DUP_THRESHOLD,
        _pair_cosines,
        _with_nrm,
        embedding_candidate_pairs,
        embedding_probe_signatures,
        embedding_signatures,
        load_vectors,
        setbit_probe_signatures,
    )

    from spark_etl_pipeline_spark.operators.similarity import BITS_PER_TABLE

    b_eff = BITS_PER_TABLE if bits is None else bits

    def cand_from_probe(emb, probe_df):
        a, b = probe_df.alias("a"), embedding_signatures(emb, b_eff).alias("b")
        return (
            a.join(
                b,
                (F.col("a.t") == F.col("b.t"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
            )
            .distinct()
        )

    def verify(emb, cand):
        return _pair_cosines(cand, _with_nrm(emb)).filter(
            F.col("cos") >= COS_DUP_THRESHOLD
        )

    out: dict = {}
    for root_tag, root in (("base", base_root), (f"x{scale}", scaled_root)):
        emb = load_vectors(spark, root)
        variants = [
            ("full_radius1",
             lambda e: cand_from_probe(e, embedding_probe_signatures(e, b_eff)),
             lambda e: embedding_probe_signatures(e, b_eff)),
            ("setbit",
             lambda e: embedding_candidate_pairs(e, bits=b_eff),
             lambda e: setbit_probe_signatures(embedding_signatures(e, b_eff), b_eff)),
        ]
        full_pairs = None
        section = {}
        for tag, cand_fn, probe_fn in variants:
            probe_rows = probe_fn(emb).count()
            cand = cand_fn(emb)
            n_cand = cand.count()
            pairs = verify(emb, cand)
            n_pairs = pairs.count()
            if full_pairs is None:
                full_pairs = n_pairs
            best = None
            for _ in range(runs):
                t0 = time.monotonic()
                verify(emb, cand_fn(emb)).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            section[tag] = {
                "probe_rows": probe_rows,
                "n_candidates": n_cand,
                "n_pairs": n_pairs,
                "pair_recall_vs_full": round(n_pairs / full_pairs, 4)
                if full_pairs
                else None,
                "wall": round(best, 3),
            }
            print(
                f"[scale] multiprobe A/B {root_tag}/{tag}: rows={probe_rows} "
                f"cand={n_cand} pairs={n_pairs} wall={best:.3f}s",
                file=sys.stderr,
            )
        out[root_tag] = section
    return out


def ivf_stride_ab(
    spark, base_root: str, scaled_root: str, scale: int, runs: int
) -> dict:
    """Fixed-stride vs scaled-stride IVF at ``scale``× corpus size.

    ``sim_ivf_search``'s stand-in centroid set is every stride-th
    vec_id, so cell count k = n/stride. At fixed stride, the
    nearest-cell assignment fold costs n·k = n²/stride — QUADRATIC —
    and the broadcast centroid array grows ∝ n. Scaling the stride with
    the corpus holds k (and the fold's per-row cost) constant, trading
    per-cell occupancy (probe cost per query, n/k) instead — the IVF
    twin of the LSH b ≈ log2(n/β) occupancy rule. This measures the
    pinned stride, a √scale stride (k ∝ √n — the classic IVF sizing),
    and a scale-proportional stride (k fixed) on the same 10× corpus.
    """
    from spark_etl_pipeline_spark.operators.similarity import (
        CENTROID_STRIDE,
        _ivf_topk,
    )

    s0 = CENTROID_STRIDE
    sqrt_s = int(round(s0 * scale**0.5))
    grid = [
        ("base", base_root, s0),
        (f"x{scale}_fixed_stride", scaled_root, s0),       # k ∝ n
        (f"x{scale}_sqrt_stride", scaled_root, sqrt_s),    # k ∝ √n
        (f"x{scale}_scaled_stride", scaled_root, s0 * scale),  # k fixed
    ]
    out = {}
    for tag, root, stride in grid:
        _ivf_topk(spark, root, nprobe=1, stride=stride).schema
        best = None
        for _ in range(runs):
            t0 = time.monotonic()
            _ivf_topk(spark, root, nprobe=1, stride=stride).write.format(
                "noop"
            ).mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out[tag] = {"stride": stride, "wall": round(best, 3)}
        print(f"[scale] ivf A/B {tag}: stride={stride} wall={best:.3f}s",
              file=sys.stderr)
    return out


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--scale", type=int, default=10)
    parser.add_argument("--runs", type=int, default=2)
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    parser.add_argument(
        "--full",
        action="store_true",
        help=(
            "stage ALL tables and time the entire headline set "
            "(the default stages 4 tables and times the 6 most "
            "expensive queries); skips the LSH occupancy A/B"
        ),
    )
    parser.add_argument(
        "--ivf-ab",
        action="store_true",
        help=(
            "run ONLY the IVF stride A/B (fixed / sqrt / scaled stride "
            "at scale× corpus) on the --full staging and exit"
        ),
    )
    parser.add_argument(
        "--bits",
        type=int,
        default=None,
        help="override BITS_PER_TABLE for the multiprobe A/B "
             "(e.g. the rule-sized b=10 at 10x)",
    )
    parser.add_argument(
        "--multiprobe-ab",
        action="store_true",
        help=(
            "run ONLY the probe-strategy A/B (full radius-1 vs set-bit) "
            "on the near-dup pipeline at base and scale× embeddings, "
            "then exit"
        ),
    )
    args = parser.parse_args()
    if args.ivf_ab:
        args.full = True  # A/B reuses the full staging (embeddings)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from spark_etl_pipeline_spark.plans import registry
    from spark_etl_pipeline_spark.session import get_spark

    spark = get_spark("scale_bench")
    qs = registry.queries()

    tables = TABLES_FULL if args.full else TABLES
    if args.multiprobe_ab:
        tables = ["embeddings"]  # the A/B touches nothing else
    if args.full:
        names = [n for n in HEADLINE if n in qs]
    else:
        names = QUERIES

    # base-scale copy in the multi-file headline layout
    suffix = "_full" if args.full else ""
    base_root = f"/tmp/spark_graft_scale/base_{N_FILES}f{suffix}"
    scaled_root = f"/tmp/spark_graft_scale/x{args.scale}{suffix}"
    from spark_etl_pipeline_spark.plans.registry import table

    for name in tables:
        if os.path.exists(f"{base_root}/{name}.parquet/_SUCCESS"):
            continue
        table(spark, args.sf_dir, name).repartition(N_FILES).write.mode(
            "overwrite"
        ).parquet(f"{base_root}/{name}.parquet")
    t0 = time.monotonic()
    build_scaled(spark, args.sf_dir, scaled_root, args.scale, tables=tables)
    print(f"[scale] dataset staged in {time.monotonic() - t0:.1f}s",
          file=sys.stderr)

    if args.ivf_ab:
        report = {
            "data_scale": args.scale,
            "ivf_stride_ab": ivf_stride_ab(
                spark, base_root, scaled_root, args.scale, args.runs
            ),
        }
        spark.stop()  # JVM gc,alloc warnings go to stdout; keep JSON last
        print(json.dumps(report))
        return 0

    if args.multiprobe_ab:
        report = {
            "data_scale": args.scale,
            "multiprobe_ab": multiprobe_ab(
                spark, base_root, scaled_root, args.scale, args.runs,
                bits=args.bits,
            ),
        }
        spark.stop()  # JVM gc,alloc warnings go to stdout; keep JSON last
        print(json.dumps(report))
        return 0

    # Scale-CORRECTNESS check before timing: the replicas are disjoint
    # same-shaped components, so the exact graph query must return
    # exactly `scale`x the base counts per hop (n_parts and cents both
    # scale linearly; any deviation means the key offsetting leaked
    # edges across replicas or dropped rows).
    base_hops = {
        r["hop"]: (r["n_parts"], r["retail_cents"])
        for r in qs["graph_reachability"](spark, base_root).collect()
    }
    scaled_hops = {
        r["hop"]: (r["n_parts"], r["retail_cents"])
        for r in qs["graph_reachability"](spark, scaled_root).collect()
    }
    for hop, (n, cents) in base_hops.items():
        sn, scents = scaled_hops[hop]
        assert (sn, scents) == (n * args.scale, cents * args.scale), (
            f"hop {hop}: scaled {(sn, scents)} != {args.scale}x base {(n, cents)}"
        )
    print(f"[scale] graph_reachability is exactly {args.scale}x base "
          f"at every hop ({sorted(base_hops)})", file=sys.stderr)

    if args.full:
        # Second linearity witness on the relational side: q1's
        # per-group aggregates over `scale` disjoint replicas must be
        # exactly scale× the base counts/sums (grouping keys replicate,
        # integer-cents sums are exact — any deviation means the
        # offsetting leaked or dropped rows).
        b1 = {
            (r["l_returnflag"], r["l_linestatus"]): r["count_order"]
            for r in qs["q1_pricing_summary"](spark, base_root).collect()
        }
        s1 = {
            (r["l_returnflag"], r["l_linestatus"]): r["count_order"]
            for r in qs["q1_pricing_summary"](spark, scaled_root).collect()
        }
        assert s1 == {k: v * args.scale for k, v in b1.items()}, (b1, s1)
        print(f"[scale] q1_pricing_summary counts are exactly "
              f"{args.scale}x base in every group", file=sys.stderr)

    base = time_queries(spark, qs, base_root, args.runs, names=names)
    scaled = time_queries(spark, qs, scaled_root, args.runs, names=names)
    report = {
        "data_scale": args.scale,
        "full": args.full,
        "base": base,
        "scaled": scaled,
        "wall_ratio": {
            q: round(scaled[q] / base[q], 2) if base[q] > 0 else None
            for q in names
        },
    }
    if not args.full:
        report["lsh_occupancy_ab"] = lsh_occupancy_ab(
            spark, base_root, scaled_root, args.scale, args.runs
        )
    spark.stop()  # JVM gc,alloc warnings go to stdout; keep JSON last
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
