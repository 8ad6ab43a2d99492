#!/usr/bin/env python
"""Mechanically adjudicate a ``dup3`` contract-boundary sweep.

``dup3`` (every row tripled) deliberately VIOLATES the corpus contract
— doc_id / vec_id / event_id are declared unique — to map where the
contract boundary sits (COVERAGE.md, r8/r12). The boundary is a SET of
queries whose DuckDB verification mirrors legitimately diverge under
duplicate keys while the engine behaves set-sanely; r12 found the
composed ``dup3 -> drift_widen`` sweep additionally rerun-UNSTABLE
(20–23 divergers run to run) because three oracle mirrors order
duplicate-key window ties independently per pass, so WHICH of them
lands green changes with multi-file scan order. A bare diverger COUNT
therefore cannot adjudicate a rerun; this tool encodes the expected
SET with a per-query mechanism tag and checks set-membership stability
instead (VERDICT r12 task 4):

- every CORE query must diverge (one agreeing = the boundary moved =
  code drift on one side — investigate);
- every observed diverger must be CORE or, for the composed sweep,
  TIE_FLAKY (a new name = a new divergence class — investigate);
- TIE_FLAKY queries may land either way, each tagged with WHY.

Mechanism tags:

- ``uniqueness-keyed``: the oracle mirror is written against the
  unique-key contract (list-based Jaccard denominators, key-grain
  dedup/rank mirrors, per-key joins) and drifts when keys triple,
  while the engine's set-based operators are multiplicity-invariant.
- ``doc-grain-mirror``: the oracle aggregates at document grain where
  the engine documents per-input-row output (mm_payload_impurity's
  1500-vs-500, text_decontaminate's interleaved doc-grain 8-gram
  window) — the r8-documented class.
- ``two-pass-tie-flaky`` (composed sweep only): the oracle runs TWO
  window passes over a sort key dup3 makes non-unique; DuckDB orders
  the tied identical copies independently per pass and the
  multi-generation multi-file scan randomizes that order RUN TO RUN,
  so the oracle itself is flaky (rel_scd2_history rows 8016/8017/8018
  across runs) while the engine computes both passes over ONE sort,
  bit-stable across reruns. Genuinely underdetermined under the
  violated contract — there is no tiebreaker column; the ties ARE
  full-row duplicates.

Usage::

    python tools/adjudicate_dup3.py tests/dup3_sweeps.json \
        dup3_then_drift_widen_sf0_01 --sweep composed
    python tools/adjudicate_dup3.py tests/dup3_sweeps.json \
        dup3_refresh_sf0_01 --sweep plain

Exit 0 iff the observed set adjudicates clean; the JSON verdict names
any unexpected diverger / unexpected agreer for investigation.
"""

from __future__ import annotations

import argparse
import json
import sys

#: The stable boundary core (r8's 19 uniqueness divergers +
#: text_decontaminate, whose post-r8 rewrite moved it into the
#: boundary — re-measured on final r12 code, dup3_refresh_sf0_01).
#: These diverge under BOTH the plain and the composed sweep, every
#: run.
CORE = {
    "dedup_cluster_sizes": "uniqueness-keyed",
    "dedup_components": "uniqueness-keyed",
    "dedup_components_star": "uniqueness-keyed",
    "dedup_containment": "uniqueness-keyed",
    "dedup_containment_onesided": "uniqueness-keyed",
    "dedup_minhash_calibration": "uniqueness-keyed",
    "dedup_minhash_lsh": "uniqueness-keyed",
    "dedup_ngram_jaccard": "uniqueness-keyed",
    "dedup_threshold_sweep": "uniqueness-keyed",
    "docs_curation_pipeline": "uniqueness-keyed",
    "docs_dedup_corpus": "uniqueness-keyed",
    "docs_dedup_incremental": "uniqueness-keyed",
    "docs_dedup_passages": "uniqueness-keyed",
    "docs_dedup_store": "uniqueness-keyed",
    "docs_split_leakage_safe": "uniqueness-keyed",
    "docs_tfidf_topk": "uniqueness-keyed",
    "rel_asof_join": "uniqueness-keyed",
    "sim_kmeans": "uniqueness-keyed",
    "mm_payload_impurity": "doc-grain-mirror",
    "text_decontaminate": "doc-grain-mirror",
}

#: Composed-sweep-only MAYBE set: oracle-side two-pass window mirrors
#: whose duplicate-key tie order the multi-generation scan randomizes
#: run to run. Any subset of these may diverge on a given rerun; none
#: may diverge under the plain (single-generation) layout, whose scan
#: order happened to be stable in every recorded run.
#:
#: ``stream_session_drain`` joined the set on the first r13 rerun
#: (exactly the event this gate exists to adjudicate): its oracle's
#: pass 1 orders ties by (ts, event_id) while pass 2's cumulative SUM
#: orders by ts ALONE, and under dup3 the tie group contains
#: NON-identical rows (the one is_new=1 session marker vs its is_new=0
#: copies), so the marker's position within the tie — and therefore
#: session membership — is underdetermined. Isolation evidence
#: (2026-08-16): 6 same-corpus trials — engine bit-stable 6/6, oracle
#: produced a different result on trial 3 (an n_events=2 session,
#: impossible for a deterministic mirror of tripled rows); the other
#: five cumulative-window oracles in the registry were audited and are
#: tie-safe (their tied rows are identical copies, so the running sum
#: assigns the same value MULTISET under any tie order, or they
#: aggregate to unique keys before the window).
TIE_FLAKY = {
    "events_sessionize": "two-pass-tie-flaky",
    "rel_scd2_history": "two-pass-tie-flaky",
    "stream_session_windows": "two-pass-tie-flaky",
    "stream_session_drain": "two-pass-tie-flaky",
}


def observed_divergers(report: dict) -> set[str]:
    return {
        name
        for name, row in report.items()
        if isinstance(row, dict)
        and not (
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("values_match")
        )
    }


def adjudicate(report: dict, sweep: str) -> dict:
    observed = observed_divergers(report)
    allowed = set(CORE) | (set(TIE_FLAKY) if sweep == "composed" else set())
    unexpected_divergers = sorted(observed - allowed)
    unexpected_agreers = sorted(set(CORE) - observed)
    flaky_landed = sorted(observed & set(TIE_FLAKY))
    return {
        "sweep": sweep,
        "total": len(report),
        "observed_divergers": len(observed),
        "core_expected": len(CORE),
        "tie_flaky_landed": flaky_landed,
        "tie_flaky_tags": {n: TIE_FLAKY[n] for n in flaky_landed},
        "unexpected_divergers": unexpected_divergers,
        "unexpected_agreers": unexpected_agreers,
        "mechanisms": {
            n: CORE.get(n) or TIE_FLAKY.get(n) for n in sorted(observed)
        },
        "clean": not unexpected_divergers and not unexpected_agreers,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("artifact", help="sweep report JSON, e.g. tests/dup3_sweeps.json")
    p.add_argument("key", help="sweep key inside the artifact")
    p.add_argument(
        "--sweep",
        choices=("plain", "composed"),
        required=True,
        help=(
            "plain = single-generation dup3 (observed must equal CORE "
            "exactly); composed = dup3 -> drift_widen (CORE plus any "
            "subset of the tie-flaky three)"
        ),
    )
    a = p.parse_args(argv)
    with open(a.artifact) as fh:
        artifact = json.load(fh)
    if a.key not in artifact:
        raise SystemExit(f"{a.artifact}: no sweep key {a.key!r}")
    verdict = adjudicate(artifact[a.key], a.sweep)
    json.dump(verdict, sys.stdout, indent=1)
    print()
    return 0 if verdict["clean"] else 1


if __name__ == "__main__":
    sys.exit(main())
