"""Plan snapshots through ``jobs/query_job.py --explain``.

The plan-quality gates assert individual properties (no cartesian,
pushed filters, TakeOrderedAndProject, ...); this test pins the WHOLE
operator tree for the headline queries so a Spark upgrade or refactor
that reshapes a plan shows up as a readable snapshot diff instead of a
silent regression. Node sequences are normalized (names only — no plan
ids, no column lists) so the snapshot survives cosmetic churn.

Refresh after an intentional plan change:

    PLAN_SNAPSHOT_UPDATE=1 python -m pytest tests/test_plan_snapshots.py -q
"""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

import pytest

from jobs.query_job import main as query_job_main
from tests.conftest import SF_CORRECTNESS

SNAPSHOT_PATH = Path(__file__).parent / "plan_snapshots.json"

#: Headline queries: the bench set's expensive shapes plus one of each
#: plan family. Builders with side effects (store writes, stream
#: drains) are deliberately absent — --explain must stay read-only.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q6_forecast_revenue",
    "q5_region_revenue",
    "q21_waiting_supplier",
    "dedup_minhash_lsh",
    "dedup_containment_onesided",
    "docs_dedup_incremental",
    "sim_ivf_search",
    "rel_asof_join",
    "etl_events_pipeline",
    "stream_tumbling_counts",
    "events_skew_salted_agg",
    "rel_partition_prune",
    "events_sessionize",
    "events_gap_fill",
    # r12: the dense-spine lerp joins the headline set
    # (tools/scale_bench.py HEADLINE); its snapshot pins
    # the DESCENDING running frame (a regression to the O(n²)
    # unboundedFollowing shape reshapes the Window/Sort node sequence)
    "events_gap_fill_lerp",
    "text_pmi_bigrams",
    "docs_dedup_passages",
    "dq_audit",
    "events_attribution",
    "events_transition_matrix",
    "sim_ivf_quantized_rerank",
    "events_value_winsorized",
    "events_top_paths",
    "events_seasonality",
    "rel_pareto_customers",
    "docs_cap_per_source",
    "graph_reachability",
    "docs_bm25_topk",
    "docs_source_divergence",
    "events_mad_outliers",
    "events_chi2_independence",
    "events_delete_propagation",
    "rel_recursive_month_spine",
    "rel_variant_props",
    "text_tokenizer_fertility",
    "rel_basket_rules",
    "events_active_users",
    "rel_like_filter",
    "rel_lateral_topn",
    "events_cusum_drift",
    "events_ewma",
    "events_rolling_median",
    "rel_ship_lag",
    "rel_supplier_hhi",
    "events_interarrival",
    "rel_order_backlog",
    "docs_shingle_profile",
    "sim_threshold_profile",
    "docs_dedup_semantic",
    "mm_frame_dedup",
    "events_burst_users",
    "events_lateness_audit",
    "dedup_minhash_calibration",
    "events_holt_forecast",
    "events_holt_backtest",
    "events_theilsen_trend",
    "rel_benford_deviation",
    "events_markov_stationary",
    "events_segment_bitmask",
    "events_survival_curve",
    "docs_novelty_curve",
    "sim_embedding_drift",
    "rel_budget_allocation",
    "events_activity_streaks",
    "events_user_diversity",
    "events_new_vs_returning",
    "dedup_threshold_sweep",
    "rel_snapshot_reconcile",
    "events_conversion_lag",
]

_NODE_RE = re.compile(r"^[\s:+\-*]*([A-Za-z][A-Za-z0-9 ]*?)\s*\(\d+\)\s*$")


def plan_nodes(explain_out: str) -> list[str]:
    """The ordered operator-node names from ``explain('formatted')``.

    Only the tree section is read (lines like ``+- * HashAggregate (5)``);
    the per-node detail blocks below it carry column lists and codegen
    ids that churn without a semantic plan change.
    """
    nodes = []
    for line in explain_out.splitlines():
        m = _NODE_RE.match(line)
        if m:
            nodes.append(m.group(1).strip())
    return nodes


def _current(name: str, capsys) -> list[str]:
    rc = query_job_main(
        ["--query", name, "--sf-dir", SF_CORRECTNESS, "--explain"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    nodes = plan_nodes(out)
    assert nodes, f"{name}: no plan nodes parsed from --explain output"
    return nodes


@pytest.mark.parametrize("name", HEADLINE)
def test_plan_snapshot(spark, capsys, name):
    nodes = _current(name, capsys)
    if os.environ.get("PLAN_SNAPSHOT_UPDATE"):
        snaps = (
            json.loads(SNAPSHOT_PATH.read_text())
            if SNAPSHOT_PATH.exists()
            else {}
        )
        snaps[name] = nodes
        SNAPSHOT_PATH.write_text(
            json.dumps(dict(sorted(snaps.items())), indent=1) + "\n"
        )
        return
    snaps = json.loads(SNAPSHOT_PATH.read_text())
    assert name in snaps, (
        f"{name}: no snapshot recorded — run PLAN_SNAPSHOT_UPDATE=1 pytest "
        "tests/test_plan_snapshots.py"
    )
    assert nodes == snaps[name], (
        f"{name}: physical plan changed.\n"
        f"  recorded: {snaps[name]}\n"
        f"  current : {nodes}\n"
        "If intentional, refresh with PLAN_SNAPSHOT_UPDATE=1."
    )
