"""Physical-plan regression gates.

Correctness tests prove WHAT each query computes; these prove HOW —
the physical properties that make the plans viable at 100 TB. A
refactor that silently turns a bucketed join into a cartesian product
or a top-k into a full sort still passes the oracle at sf0.01; it fails
here.
"""

from __future__ import annotations

import functools

import pytest

from spark_etl_pipeline_spark.plans import registry
from tests.conftest import SF_CORRECTNESS

registry.load_all()


@functools.cache
def _executed_plan(spark, name: str) -> str:
    df = registry.REGISTRY[name].builder(spark, SF_CORRECTNESS)
    return df._jdf.queryExecution().executedPlan().toString()


def plan_of(spark, name: str) -> str:
    """The executed-plan string of a registered query, built once per
    module: several gates read every query's plan, and the tests here
    that change a conf restore it and never call this. A truncated plan
    (``... N more fields``) would hide columns from the regex gates, so
    it fails."""
    plan = _executed_plan(spark, name)
    assert "more fields" not in plan, (
        f"{name}: plan string truncated — raise "
        "spark.sql.debug.maxToStringFields in session.get_spark"
    )
    return plan


ALL_QUERIES = sorted(registry.REGISTRY)

# The one deliberate nested-loop: rel_range_join / sim_ivf_search join a
# broadcast micro-table (3 buckets / 10 centroids) on an inequality —
# broadcast-nested-loop over <=10 rows IS the right plan.
NESTED_LOOP_OK = {
    "rel_range_join",
    "sim_ivf_search",
    "sim_ivf_nprobe2",  # same broadcast centroid fold, top-2 slice
    "sim_topk_cosine",
    "rel_asof_join",
    "sim_kmeans",  # broadcast k-centroid assignment, like sim_ivf_search
    "sim_ivf_kmeans",  # same broadcast centroid folds inside kmeans_iterate
    "sim_ann_recall",  # composes sim_topk_cosine + sim_ivf_search
    "sim_ann_recall_nprobe2",  # same composition at nprobe=2
    "q22_dormant_customers",  # 1-row global-average broadcast, by design
    "q11_important_stock",  # 1-row global-total broadcast threshold, by design
    "events_heavy_hitters",  # 1-row global-count broadcast share, by design
    "events_value_deciles",  # 1-row decile-boundary broadcast, by design
    "text_pmi_bigrams",  # 1-row total-bigram-count broadcast, by design
    "docs_tfidf_topk",  # 1-row corpus-doc-count broadcast, by design
    "rel_rfm_segmentation",  # 1-row reference-date broadcast, by design
    "graph_triangles",  # 1-row edge-count x 1-row triangle-count broadcast, by design
    "events_value_winsorized",  # 1-row clip-boundary broadcast, by design
    "sim_ivf_quantized_rerank",  # k-means centroid-array single-row broadcast, by design
    "graph_clustering_coeff",  # 1-row wedge x triangle count broadcast, by design
    "rel_basket_rules",  # 1-row order-total broadcast, by design
    "rel_pareto_customers",  # 1-row grand-total broadcast, by design
    "docs_bm25_topk",  # 1-row (N, sum_dl) corpus-stats broadcast, by design
    "events_chi2_independence",  # 1-row grand-total broadcast, by design
    "docs_source_divergence",  # 1-row corpus-total broadcast, by design
    "rel_benford_deviation",  # 1-row digit-total broadcast, by design
    "events_survival_curve",  # 1-row user-total broadcast, by design
    "rel_budget_allocation",  # 1-row total + 1-row shortfall broadcast, by design
}
# rel_join_cross IS the cross-join parity query (tiny sides, on purpose)
CARTESIAN_OK = {"rel_join_cross"}


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_cartesian_product(spark, name):
    if name in CARTESIAN_OK:
        return
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in NESTED_LOOP_OK:
        assert "BroadcastNestedLoop" not in plan, (
            f"{name}: unexpected nested-loop join"
        )


def test_q3_topk_avoids_full_sort(spark):
    # orderBy+limit must compile to TakeOrderedAndProject, not Sort+Limit
    assert "TakeOrderedAndProject" in plan_of(spark, "q3_top_orders")


def test_sessionize_single_exchange(spark):
    # lag, the running boundary sum, AND the per-session rollup must all
    # reuse ONE user_id exchange — the whole operator is a single shuffle.
    plan = plan_of(spark, "events_sessionize")
    assert plan.count("Exchange") == 1


def test_q1_single_aggregate_exchange(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # partial agg before the exchange, final after — exactly one shuffle
    assert plan.count("Exchange") == 1
    assert "HashAggregate" in plan


def test_exists_decorrelates_to_semi_join(spark):
    plan = plan_of(spark, "rel_sql_exists")
    assert "LeftSemi" in plan, "correlated EXISTS must become a semi-join"


def test_q1_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q6_projection_pruned(spark):
    # q6 touches 4 columns; the scan must not read all 11
    plan = plan_of(spark, "q6_forecast_revenue")
    start = plan.index("ReadSchema")
    read = plan[start : start + 400]
    assert "l_extendedprice" in read and "l_returnflag" not in read


def test_broadcast_only_bounded_dims(spark):
    # q5: nation/region broadcast; supplier/customer/orders/lineitem not
    plan = plan_of(spark, "q5_region_revenue")
    assert "BroadcastExchange" in plan  # dims are broadcast (possibly by AQE)


def test_vocab_topk_never_windows_full_counts(spark):
    # top-K must be TakeOrderedAndProject (per-partition top-K, driver
    # merge); the vocab_id window may only ever see the K surviving rows.
    plan = plan_of(spark, "text_vocab_topk")
    assert "TakeOrderedAndProject" in plan, "top-K regressed to full sort"
    # The Window must sit ABOVE the TakeOrderedAndProject in the plan
    # tree (i.e. appear earlier in the printed top-down string): a window
    # below the limit would pull every distinct token into one task.
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), (
        "Window executes before the limit — full token set in one task"
    )


def test_partition_prune_lands_in_partition_filters(spark):
    # The status predicate must prune DIRECTORIES at plan time
    # (PartitionFilters), not filter rows after the scan.
    plan = plan_of(spark, "rel_partition_prune")
    start = plan.index("PartitionFilters")
    assert "o_orderstatus" in plan[start : start + 200], (
        "partition predicate not in PartitionFilters — scan reads all statuses"
    )


@pytest.mark.parametrize(
    "name", ["events_skew_salted_agg", "events_skew_salted_join"]
)
def test_salted_plans_exchange_on_salt_key(spark, name):
    # The whole point of salting: the shuffle must hash on the salt
    # column (hot keys fan out), and for the join the replicated side
    # must never collapse to a broadcast (that would no-op the salt).
    plan = plan_of(spark, name)
    salted_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "__salt" in ln
    ]
    assert salted_exchanges, f"{name}: no exchange hashes on __salt"
    if name == "events_skew_salted_join":
        assert "ShuffledHashJoin" in plan


def test_ann_hyperplane_bucket_sizes_never_window(spark):
    # Bucket sizes must be a groupBy("sig").count() broadcast back, not
    # count() OVER (PARTITION BY sig): sig has <=256 distinct values, so
    # a window would squeeze the whole corpus into <=256 tasks.
    plan = plan_of(spark, "sim_ann_hyperplane")
    assert "Window" not in plan, "bucket-size window caps parallelism at 256"
    assert "BroadcastExchange" in plan, "bucket counts should broadcast back"


@pytest.mark.parametrize("name", ["sim_ivf_search", "sim_kmeans"])
def test_centroid_assignment_is_shuffle_free(spark, name):
    # Nearest-centroid assignment folds per-row over a broadcast centroid
    # array; a regression to crossJoin + row_number would re-introduce an
    # N x k Exchange (hashpartitioning on vec_id) and a Window argmin.
    plan = plan_of(spark, name)
    assert "array_min" in plan, f"{name}: per-row argmin fold missing"
    for line in plan.splitlines():
        if "Exchange hashpartitioning(vec_id" in line:
            raise AssertionError(
                f"{name}: centroid assignment shuffles on vec_id:\n{line}"
            )


def test_repetition_filter_single_scan_no_join(spark):
    # All three gram metrics must come off ONE corpus scan (tagged
    # explode + stacked aggregates). A regression to per-metric branches
    # re-scans the corpus 3x and joins the results back on doc_id.
    plan = plan_of(spark, "text_repetition_filter")
    assert plan.count("Scan parquet") == 1, "repetition metrics re-scan corpus"
    assert "Join" not in plan, "metric branches joined instead of pivoted"
    assert "Window" not in plan


def test_incremental_dedup_prunes_to_delta_probe(spark):
    # The delta-batch predicate must reach the probe-side band branch as
    # a Filter on doc_id (pushed through the minhash aggregate to the
    # scan side), so the bucket join probes with the BATCH, not the
    # corpus; and the pair verification must never cartesian.
    plan = plan_of(spark, "docs_dedup_incremental")
    assert "(doc_id" in plan and "% 4)" in plan, "delta predicate missing"
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Row-level runtime filtering (SPARK-32268): when a selective
    dimension side feeds a shuffle join, Spark can inject a
    bloom-filter aggregate on the dim side and a ``might_contain``
    filter on the fact side — rows that cannot join die at the fact
    SCAN instead of riding the shuffle. This is a first-order 100 TB
    lever (the shuffle is the cost), so pin that the optimizer
    actually injects it on this engine's join shape when enabled.

    The scan-size threshold is lowered because the default (10GB)
    assumes production scans; the conf set is exactly what a cluster
    submit would carry.
    """
    from spark_etl_pipeline_spark.plans.registry import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, SF_CORRECTNESS, "lineitem")
        o = table(spark, SF_CORRECTNESS, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, "no runtime bloom filter injected"
        assert "bloom_filter_agg" in opt
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_like_filters_reach_the_scan(spark):
    # contains + prefix predicates must appear in PushedFilters so
    # parquet row-group stats can skip before decompression.
    plan = plan_of(spark, "rel_like_filter")
    assert "StringContains" in plan
    assert "StringStartsWith" in plan


def test_signature_store_probe_never_rescans_base_corpus(spark, tmp_path):
    """The 100 TB claim of the materialized signature store is that a
    delta ingest probes PARQUET SIGNATURES, not the corpus: once the
    base is hashed into the store, no probe plan may ever scan (let
    alone re-shingle) the base documents again. Pin that property: the
    probe's physical plan must read exactly the two store tables —
    bands once, shingles twice (one lookup per SIDE of each candidate
    pair: doc_a's array and doc_b's array) — and touch no other
    parquet file.
    """
    from spark_etl_pipeline_spark.operators.dedup import (
        build_signature_store,
        probe_signature_store,
    )
    from spark_etl_pipeline_spark.plans.registry import table

    store = str(tmp_path / "sigstore")
    base = table(spark, SF_CORRECTNESS, "documents").filter("doc_id % 4 != 0")
    build_signature_store(base, store)

    # synthetic delta: NOT derived from documents.parquet, so any
    # documents scan in the probe plan is a base-corpus rescan.
    delta = spark.createDataFrame(
        [(9_000_001, "the quick brown fox jumps over the lazy dog " * 8)],
        "doc_id long, text string",
    )
    # default 100-char metadata truncation drops the Location path the
    # assertions below count on
    saved = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        plan = (
            probe_signature_store(spark, store, delta)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", saved)
    assert "documents.parquet" not in plan, "probe rescans the base corpus"
    # Count SCAN NODES per table, not raw substring frequency: plan-text
    # rendering (Location truncation, InMemoryFileIndex formatting)
    # varies across Spark versions, but each parquet scan is exactly one
    # "Scan parquet"-marked line carrying its Location path.
    scan_lines = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    n_bands = sum("sigstore/bands" in ln for ln in scan_lines)
    n_shingles = sum("sigstore/shingles" in ln for ln in scan_lines)
    assert n_bands == 1, f"bands table scanned {n_bands}x, want exactly 1"
    assert n_shingles == 2, (
        f"shingles table scanned {n_shingles}x, "
        "want exactly 2 (doc_a-side and doc_b-side pair lookups)"
    )
    assert "CartesianProduct" not in plan


def test_cusum_prefix_form_single_exchange_no_arrays(spark):
    """The round-7 CUSUM rewrite's contract: the prefix-sum identity
    runs as two running windows over the daily aggregate — ONE data
    exchange (the event_type/day aggregate; the windows and final
    rollup reuse the event_type partitioning), and NO collect_list
    array build (ObjectHashAggregate), so the horizon is unbounded.
    """
    plan = plan_of(spark, "events_cusum_drift")
    assert "ObjectHashAggregate" not in plan, "array fold crept back in"
    import re

    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges <= 2, f"{n_exchanges} exchanges; expected <=2"


def test_unified_schema_read_keeps_pushdown_and_pruning(spark, tmp_path):
    """An explicit promoted footer-union schema (the widen-directory
    read, ``registry._unified_directory_schema``) must not cost the
    scan its filter pushdown or column pruning: Spark treats a
    user-provided schema exactly like an inferred one here, but a
    refactor that, say, reads-then-casts would silently lose both and
    still pass the oracle. q6 over a two-generation lineitem (old
    generation declares l_quantity FLOAT) is the probe: the filter on
    the WIDENED column itself must still reach PushedFilters, and
    ReadSchema must stay at the query's four columns under the
    promoted types."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "lineitem.parquet")
    base = registry.table(spark, SF_CORRECTNESS, "lineitem")
    base.filter(F.col("l_orderkey") % 3 != 0).write.mode(
        "overwrite"
    ).parquet(out)
    base.filter(F.col("l_orderkey") % 3 == 0).withColumn(
        "l_quantity", F.col("l_quantity").cast("float")
    ).select(*reversed(base.columns)).write.mode("append").parquet(out)

    df = registry.REGISTRY["q6_forecast_revenue"].builder(
        spark, str(tmp_path)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    i = plan.find("PushedFilters: [")
    assert i != -1 and "l_quantity" in plan[i : plan.find("]", i)], (
        "filter on the widened column was not pushed to the scan"
    )
    j = plan.find("ReadSchema: ")
    read = plan[j : plan.find("\n", j)]
    assert "l_quantity:double" in read, read  # promoted type at the scan
    # pruned: the 11-column table scans only the query's 4 columns
    assert read.count(":") <= 1 + 4, read


def test_small_files_coalesce_into_bounded_scan_partitions(spark, tmp_path):
    """The small-files problem, pinned: a table fragmented into 200 tiny
    part files must NOT become 200 scan tasks. Spark's file packing
    (``files.maxPartitionBytes`` + ``files.openCostInBytes``) bins tiny
    files into a bounded number of scan partitions; a session-conf
    regression (e.g. zeroing openCostInBytes) would silently turn a
    100-TB ingest of hourly micro-batches into per-file task storms.
    Rows must survive the fragmentation exactly."""
    base = registry.table(spark, SF_CORRECTNESS, "lineitem")
    out = str(tmp_path / "lineitem.parquet")
    base.repartition(200).write.mode("overwrite").parquet(out)
    df = registry.table(spark, str(tmp_path), "lineitem")
    n_parts = df.rdd.getNumPartitions()
    assert n_parts < 64, f"200 tiny files became {n_parts} scan tasks"
    assert df.count() == base.count()


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_quadratic_window_frames(spark, name):
    """No window frame may pair a MOVING lower bound with an unbounded
    upper bound: Spark's UnboundedFollowingWindowFunctionFrame re-scans
    the partition remainder for EVERY row — O(rows²) per key (r11
    measured a clean quadratic: 2.1/5.7/22.8 s at 20k/40k/80k rows per
    key, and ~100B row visits per key at an epoch-gate-bounded decade
    span). Whole-partition frames (unboundedpreceding,
    unboundedfollowing) are O(n) and allowed; forward lookups belong on
    a DESCENDING running frame (events_gap_fill_lerp is the worked
    example)."""
    import re

    plan = plan_of(spark, name)
    # The lower-bound capture is paren-aware (one nesting level): a
    # RangeFrame bound printed as a multi-arg call — e.g.
    # ``-cast(interval(1, 0) as ...)`` — contains commas that a plain
    # ``[^,]+`` would stop at, silently truncating the capture and
    # false-negating the gate (ADVICE r11).
    for m in re.finditer(
        r"specifiedwindowframe\(\w+, ((?:[^,()]|\((?:[^()]|\([^()]*\))*\))+),"
        r" unboundedfollowing",
        plan,
        re.I,
    ):
        lower = m.group(1).strip().lower()
        assert "unboundedpreceding" in lower, (
            f"{name}: window frame ({m.group(1).strip()}, "
            "unboundedfollowing) is O(rows^2) per key — rewrite over "
            "the descending order as a running frame"
        )


# ---------------------------------------------------------------------------
# Unbounded-aggregation-horizon audit (the quadratic-frame gate's sibling:
# per-key MEMORY instead of per-key TIME). Every per-group array build
# (collect_list / collect_set) and every exact-percentile buffer holds its
# whole group in one aggregator — fine when the per-key horizon is bounded
# by something that does NOT grow with the corpus, an executor OOM at 100×
# skew when it is. The gate below forces every such build through this
# documented-bound review: a new collect/percentile in any registered plan
# fails the sweep until its per-key horizon is written down here.
# ---------------------------------------------------------------------------

#: query -> why its array/percentile build's per-key horizon is bounded
#: (or, where genuinely corpus-coupled, the pinned rationale + the
#: documented at-scale swap).
_DOC_LEN = (
    "per-doc shingle set: horizon = shingles per DOCUMENT (doc length), "
    "invariant under corpus scale-up"
)
_DAY_GRAIN = (
    "per-event_type day-grain series: horizon = calendar days in the data "
    "window (time span, not event count); pre-reduced by a day-level "
    "aggregate before the collect"
)
_EXACT_PCTL = (
    "exact percentile kept for oracle parity (percentile/quantile_cont "
    "verified bit-identical); per-key horizon = group rows AFTER the "
    "documented pre-reduction; at 100 TB swap approx_percentile (t-digest, "
    "map-side combinable) per the events_mad_outliers docstring"
)
_K_CENTROIDS = (
    "k-centroid single-row collect for the broadcast fold: horizon = k "
    "(a constant knob), never corpus size"
)
ARRAY_BUILD_HORIZONS = {
    # --- shingle/signature sets: bounded by document length ---
    "dedup_containment": _DOC_LEN,
    "dedup_containment_onesided": _DOC_LEN,
    "dedup_minhash_calibration": _DOC_LEN,
    "dedup_minhash_lsh": _DOC_LEN,
    "dedup_ngram_jaccard": _DOC_LEN,
    "dedup_threshold_sweep": _DOC_LEN,
    "docs_dedup_incremental": _DOC_LEN,
    "docs_dedup_store": _DOC_LEN,
    "docs_dedup_passages": (
        "per-doc passage list (idx, ptext): horizon = passages per "
        "DOCUMENT (doc length), invariant under corpus scale-up"
    ),
    # --- day-grain series folds: bounded by calendar span ---
    "events_ewma": _DAY_GRAIN,
    "events_holt_backtest": _DAY_GRAIN,
    "events_holt_forecast": _DAY_GRAIN,
    "events_theilsen_trend": (
        "per-type day-grain slopes over a bounded month window (n<=31 "
        "days -> <=465 pairwise slopes, constant)"
    ),
    # --- constant-width builds ---
    "events_rolling_median": (
        "collect_list over a 6-PRECEDING window frame: horizon = 7 rows, "
        "constant"
    ),
    "docs_mixture_sample": (
        "corpus-level language histogram: horizon = language cardinality "
        "(bounded vocabulary, corpus-size-invariant)"
    ),
    "rel_higher_order_funcs": (
        "per-order lineitem array: horizon = order width (TPC-H-shaped "
        "data caps lines per order at 7), invariant under scale-up"
    ),
    # --- degree-oriented adjacency: sublinear bound ---
    "graph_triangles": (
        "degree-ordered oriented adjacency: |N+(v)| <= sqrt(2m) for every "
        "v (orientation sends each edge to its LOWER-degree endpoint), so "
        "the per-key array grows as the square root of edges, never as "
        "max degree"
    ),
    "graph_clustering_coeff": (
        "same degree-ordered oriented adjacency bound as graph_triangles: "
        "|N+(v)| <= sqrt(2m)"
    ),
    # --- k-bounded centroid folds ---
    "sim_ann_recall": _K_CENTROIDS,
    "sim_ann_recall_nprobe2": _K_CENTROIDS,
    "sim_ivf_kmeans": _K_CENTROIDS,
    "sim_ivf_nprobe2": _K_CENTROIDS,
    "sim_ivf_quantized_rerank": _K_CENTROIDS
    + "; the d0/val re-assembly array is horizon = embedding dim (fixed)",
    "sim_ivf_search": _K_CENTROIDS,
    "sim_kmeans": _K_CENTROIDS,
    # --- exact percentiles: pinned for oracle parity, approx swap owed ---
    "events_conversion_lag": _EXACT_PCTL
    + " (pre-reduced to one row per CONVERTED USER before the buffer)",
    "events_interarrival": _EXACT_PCTL
    + " (pre-reduced to per-user gap slices, corpus-size-independent)",
    "events_mad_outliers": _EXACT_PCTL,
    "events_value_deciles": (
        "percentile_disc boundary reduce: the buffer holds the GLOBAL "
        "value column (pinned: exact order statistics for oracle parity; "
        "at 100 TB swap approx_percentile) — the downstream binning is "
        "already the scale-safe broadcast-lambda form, never a global "
        "ntile window"
    ),
    "events_value_winsorized": (
        "percentile_disc clip boundaries: same pinned exact-order-"
        "statistics rationale as events_value_deciles"
    ),
    "rel_percentiles": _EXACT_PCTL,
    "rel_ship_lag": _EXACT_PCTL
    + " (5 priority groups; each buffers its group's lags)",
    # --- the one genuinely user-coupled build ---
    "events_user_sequences": (
        "per-user FULL ordered sequence IS the deliverable (sequence-"
        "modeling prep): horizon = events per user by the query's own "
        "contract; a hot user at 100x skew grows this row — the bounded "
        "training-prep form (fixed seq_len windows) is docs_pack_sequences, "
        "and callers wanting caps compose a per-user row_number limit "
        "upstream"
    ),
}

#: Aggregate functions whose ObjectHashAggregate buffer holds the whole
#: group (TypedImperativeAggregate with O(group) state). approx_percentile
#: deliberately NOT listed — its t-digest state is bounded.
_UNBOUNDED_AGG_RE = (
    r"\b(collect_list|collect_set|array_agg|listagg|percentile"
    r"|percentile_disc)\("
)

#: Queries whose documented per-group build sits BEHIND a
#: ``localCheckpoint`` boundary (r15 single-materialization of a
#: branch shared by several plan consumers): the checkpoint truncates
#: the printed plan to ``Scan ExistingRDD``, so the build is invisible
#: to the regex above even though the computation (and its memory
#: horizon) is unchanged. These entries stay in
#: ``ARRAY_BUILD_HORIZONS`` and the staleness arm accepts them only
#: while the plan actually shows a checkpoint scan — remove the
#: checkpoint and the normal both-way gate snaps back.
CHECKPOINT_HIDDEN_BUILDS = {
    # shingle_sets' collect_set feeds pair verification via a lazy
    # localCheckpoint (operators/dedup.py::incremental_survivors)
    "docs_dedup_incremental",
    # the k-centroid collect_list fold is shared by both assignment
    # sides via a lazy localCheckpoint (operators/similarity.py::
    # _ivf_topk, r16) — horizon unchanged (= k, a constant knob)
    "sim_ann_recall",
    "sim_ann_recall_nprobe2",
    "sim_ivf_nprobe2",
    "sim_ivf_search",
}


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_array_build_horizon_documented(spark, name):
    """Per-group array builds and exact-percentile buffers hold the whole
    group in ONE aggregator — per-key memory, the sibling of the
    quadratic-frame per-key time trap. Any registered plan that builds
    one must carry a documented per-key horizon in
    ``ARRAY_BUILD_HORIZONS`` (and entries must not go stale)."""
    import re

    plan = plan_of(spark, name)
    builds = sorted(
        {m.group(1) for m in re.finditer(_UNBOUNDED_AGG_RE, plan, re.I)}
    )
    if builds:
        assert name in ARRAY_BUILD_HORIZONS, (
            f"{name}: plan builds per-group state via {builds} with no "
            "documented per-key horizon — bound it (slice/top-k/"
            "approx_percentile) or add the bound rationale to "
            "ARRAY_BUILD_HORIZONS"
        )
    elif name in CHECKPOINT_HIDDEN_BUILDS:
        assert "Scan ExistingRDD" in plan, (
            f"{name}: listed in CHECKPOINT_HIDDEN_BUILDS but the plan "
            "shows no checkpoint scan — the build either reappeared in "
            "plan text (drop the entry here) or was genuinely removed "
            "(drop both entries)"
        )
    else:
        assert name not in ARRAY_BUILD_HORIZONS, (
            f"{name}: stale ARRAY_BUILD_HORIZONS entry — the plan no "
            "longer builds per-group array/percentile state"
        )
