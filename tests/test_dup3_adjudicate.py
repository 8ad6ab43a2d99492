"""Unit pins for tools/adjudicate_dup3.py (VERDICT r12 task 4).

Pure-Python — no Spark. The dup3 contract-boundary sweeps are
adjudicated as a SET with per-query mechanism tags, not a count: the
composed ``dup3 -> drift_widen`` sweep is rerun-unstable (20–23
divergers depending on which two-pass-tie-flaky oracles land), so a
bare count can neither pass nor fail a rerun mechanically. These pins
freeze the expected set and the adjudication rules against the r12
recorded sweeps (``tests/dup3_sweeps.json``) and synthetic drift cases.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "adjudicate_dup3",
    Path(__file__).resolve().parents[1] / "tools" / "adjudicate_dup3.py",
)
d3 = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(d3)


def _report(divergers: set[str], universe: list[str]) -> dict:
    ok = {"rows_match": True, "schema_match": True, "values_match": True}
    bad = {"rows_match": False, "schema_match": True, "values_match": False}
    return {n: (bad if n in divergers else dict(ok)) for n in universe}


UNIVERSE = sorted(set(d3.CORE) | set(d3.TIE_FLAKY) | {"q1", "q2", "q3"})


def test_expected_set_shape():
    """20 always-diverge core (19 r8 + text_decontaminate), 4 composed-
    only tie-flaky (the r12 three + stream_session_drain, which the
    first r13 rerun surfaced — engine bit-stable 6/6, oracle flaky);
    the two sets are disjoint."""
    assert len(d3.CORE) == 20
    assert len(d3.TIE_FLAKY) == 4
    assert not set(d3.CORE) & set(d3.TIE_FLAKY)
    assert d3.CORE["text_decontaminate"] == "doc-grain-mirror"
    assert d3.TIE_FLAKY["rel_scd2_history"] == "two-pass-tie-flaky"
    assert d3.TIE_FLAKY["stream_session_drain"] == "two-pass-tie-flaky"


def test_plain_sweep_exact_core_is_clean():
    out = d3.adjudicate(_report(set(d3.CORE), UNIVERSE), "plain")
    assert out["clean"] is True
    assert out["observed_divergers"] == 20
    assert out["tie_flaky_landed"] == []


def test_plain_sweep_rejects_tie_flaky_diverger():
    """The tie-flaky three never diverged under the single-generation
    layout (scan order stable in every recorded run) — one doing so is
    new behavior, not the documented class."""
    out = d3.adjudicate(
        _report(set(d3.CORE) | {"rel_scd2_history"}, UNIVERSE), "plain"
    )
    assert out["clean"] is False
    assert out["unexpected_divergers"] == ["rel_scd2_history"]


@pytest.mark.parametrize("landed", [set(), {"rel_scd2_history"},
                                    {"events_sessionize",
                                     "rel_scd2_history",
                                     "stream_session_windows"}])
def test_composed_sweep_any_tie_flaky_subset_is_clean(landed):
    out = d3.adjudicate(_report(set(d3.CORE) | landed, UNIVERSE), "composed")
    assert out["clean"] is True
    assert out["tie_flaky_landed"] == sorted(landed)


def test_unexpected_diverger_fails():
    out = d3.adjudicate(_report(set(d3.CORE) | {"q1"}, UNIVERSE), "composed")
    assert out["clean"] is False
    assert out["unexpected_divergers"] == ["q1"]


def test_core_query_agreeing_fails():
    """A core query landing GREEN means the boundary moved (code drift
    on one side) — as much a failure as a new diverger."""
    observed = set(d3.CORE) - {"dedup_minhash_lsh"}
    out = d3.adjudicate(_report(observed, UNIVERSE), "composed")
    assert out["clean"] is False
    assert out["unexpected_agreers"] == ["dedup_minhash_lsh"]


@pytest.mark.parametrize(
    "key,sweep",
    [("dup3_refresh_sf0_01", "plain"),
     ("dup3_then_drift_widen_sf0_01", "composed")],
)
def test_r12_recorded_artifacts_adjudicate_clean(key, sweep):
    """The r12 recorded sweeps are the calibration evidence: both must
    adjudicate clean mechanically (plain = exact core 20; composed =
    core + all three tie-flaky landed that run). ``dup3_sweeps.json``
    holds both sweeps verbatim from ``0dc33e4:REHEARSAL_r12_hostile.json``."""
    sweeps = Path(__file__).parent / "dup3_sweeps.json"
    artifact = json.loads(sweeps.read_text())
    out = d3.adjudicate(artifact[key], sweep)
    assert out["clean"] is True, out
