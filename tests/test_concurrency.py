"""Concurrent query execution: one session, many (query, sf_dir) calls.

At 100 TB a SparkSession is shared — notebooks, schedulers, and
thread-pooled job runners issue queries concurrently, often the same
query over different directories (delta vs base, today vs yesterday).
Registered builders must therefore hold NO session-global state.

The r12 audit found the one violation of that rule: seven builders
bound their inputs through ``createOrReplaceTempView`` + ``spark.sql``.
A temp view is a session-GLOBAL name, so two concurrent invocations of
one builder on different ``sf_dir``\\ s raced — measured 6 of 12
concurrent ``rel_sql_exists`` runs silently returning the OTHER
directory's rows (wrong data, no error: the worst failure class).
All seven now pass tables as parameterized ``spark.sql`` DataFrame
args (SPARK-44140), which bind in the query's own scope.

A full-registry lock-step sweep (a since-deleted tool,
``b001c7f:tools/rehearse_concurrent.py``) then found the second
violation of the same class: the eight
memory-sink streaming drains used FIXED ``queryName``\\ s — a streaming
query name and the memory-sink table behind it are also session-global
names — so concurrent invocations collided at ``start()``, and the
pre-start stop-by-name loop could kill the OTHER invocation's
in-flight drain (silent partial results). ``_drain_to_table`` now
uuid-suffixes every drain's name and drops the sink table after eager
materialization.

Pins:

- a static registry-wide gate: no registered builder (or anything it
  imports from the engine) may call ``createOrReplaceTempView`` /
  ``createTempView`` / ``createOrReplaceGlobalTempView`` outside the
  two documented session-global entry points
  (``registry.register_views`` — the ad-hoc SQL front door, documented
  last-writer-wins — and nothing else);
- a static gate on ``.queryName(``: only ``_drain_to_table`` (which
  uuid-suffixes) may name a streaming query;
- live races: the worst temp-view offender AND a memory-sink drain
  re-run concurrently on two directories with distinguishable results
  must match their per-dir serial baselines on every concurrent run.

The two static gates cover every registered builder for both failure
classes the sweep found; the live races check a sample.
"""

from __future__ import annotations

import pathlib
import re
from concurrent.futures import ThreadPoolExecutor

import pytest

from spark_etl_pipeline_spark.plans.registry import load_all, queries

PKG = pathlib.Path(__file__).resolve().parents[1] / "spark_etl_pipeline_spark"

#: The only engine functions allowed to create temp views: explicit,
#: documented session-global binding APIs a user opts into — never a
#: registered query builder (those must be concurrency-safe).
ALLOWED_VIEW_SITES = {("plans/registry.py", "register_views")}


def _enclosing_def(lines: list[str], idx: int) -> str:
    for j in range(idx, -1, -1):
        m = re.match(r"\s*def\s+(\w+)", lines[j])
        if m:
            return m.group(1)
    return "<module>"


def test_no_temp_views_outside_documented_entry_points():
    """Static gate: temp-view creation is forbidden in engine code
    except the whitelisted session-global entry points."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            stripped = line.split("#", 1)[0]
            if re.search(
                r"\.create(?:OrReplace)?(?:Global)?TempView\s*\(", stripped
            ):
                site = (rel, _enclosing_def(lines, i))
                if site not in ALLOWED_VIEW_SITES:
                    offenders.append(f"{rel}:{i + 1} in {site[1]}")
    assert not offenders, (
        "temp-view creation in engine code outside the documented "
        f"session-global entry points (concurrency hazard): {offenders}"
    )


#: The only engine function allowed to name a streaming query: it
#: uuid-suffixes the name per invocation, so it can never collide.
ALLOWED_QUERYNAME_SITES = {("streaming/windows.py", "_drain_to_table")}


def test_no_fixed_streaming_query_names():
    """Static gate: ``.queryName(`` only inside ``_drain_to_table``.

    A streaming query name (and the memory-sink table it backs) is a
    session-global name; a builder that names its query with a fixed
    string collides with a concurrent invocation of itself — the
    failure the eight memory-sink drains had before r12's fix."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            stripped = line.split("#", 1)[0]
            if re.search(r"\.queryName\s*\(", stripped):
                site = (rel, _enclosing_def(lines, i))
                if site not in ALLOWED_QUERYNAME_SITES:
                    offenders.append(f"{rel}:{i + 1} in {site[1]}")
    assert not offenders, (
        "fixed streaming query names outside _drain_to_table "
        f"(session-global collision hazard): {offenders}"
    )


@pytest.mark.parametrize(
    "name",
    [
        "rel_sql_exists",  # the measured pre-fix racer
        "rel_recursive_month_spine",  # recursive CTE through a param table
        "text_chunks_udtf",  # LATERAL UDTF through a param table
        "stream_tumbling_drain",  # memory-sink drain (fixed-name racer)
    ],
)
def test_same_query_concurrent_on_two_dirs(spark, name):
    """Live race: the same builder on two directories concurrently must
    return each directory's own rows, every time."""
    load_all()
    fn = queries()[name]
    dirs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

    def canon(df):
        pdf = df.toPandas()
        pdf = pdf.reindex(sorted(pdf.columns), axis=1).astype(str)
        return sorted(map(tuple, pdf.values))

    base = {d: canon(fn(spark, d)) for d in dirs}
    assert base[dirs[0]] != base[dirs[1]], (
        "probe corpora must produce distinguishable results for the "
        "race to be observable"
    )

    def run(i):
        d = dirs[i % 2]
        return d, canon(fn(spark, d))

    for _ in range(3):
        with ThreadPoolExecutor(2) as ex:
            for d, result in ex.map(run, range(2)):
                assert result == base[d], (
                    f"{name} returned another directory's data under "
                    f"concurrency (temp-view-style session-global state)"
                )
