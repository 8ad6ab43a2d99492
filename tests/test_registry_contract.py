"""Registry contract: the driver-facing surface can't silently rot.

The external correctness gate samples a PREFIX of ``queries()`` — a
typo in the curated emission lists would silently drop a query out of
verification, so the lists themselves are tested.
"""

from __future__ import annotations

from spark_etl_pipeline_spark.plans import registry
from tests.conftest import SF_CORRECTNESS

registry.load_all()

DRIVER_WINDOW = 50


def test_emission_lists_name_real_queries():
    for name in registry._EMIT_FIRST + registry._EMIT_LAST:
        assert name in registry.REGISTRY, f"emission list names unknown query {name!r}"


def test_emission_lists_are_disjoint():
    overlap = set(registry._EMIT_FIRST) & set(registry._EMIT_LAST)
    assert not overlap, f"queries in both emission lists: {overlap}"


def test_ordered_names_is_a_permutation_of_registry():
    names = registry._ordered_names()
    assert sorted(names) == sorted(registry.REGISTRY)


def test_priority_queries_fit_in_driver_window():
    names = registry._ordered_names()
    missing = set(registry._EMIT_FIRST) - set(names[:DRIVER_WINDOW])
    assert not missing, f"priority queries clipped from the driver window: {missing}"


def test_every_query_has_an_oracle():
    # the engine's standing bar: no rows-only checks hiding anywhere
    missing = [n for n, s in registry.REGISTRY.items() if s.oracle is None]
    assert not missing, f"queries without oracles: {missing}"


def test_queries_and_oracles_expose_same_names():
    assert list(registry.queries()) == list(registry.oracles())


def test_register_views_enables_raw_sql(spark, duck):
    """register_views makes every table a temp view with oracle-matching
    names — the same ad-hoc SQL runs on both engines unchanged."""
    from spark_etl_pipeline_spark.plans.registry import TABLES, register_views

    register_views(spark, SF_CORRECTNESS)
    sql = (
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
        "JOIN customer ON c_custkey = o_custkey "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    got = [(r[0], r[1]) for r in spark.sql(sql).collect()]
    want = [tuple(r) for r in duck.sql(sql).fetchall()]
    assert got == want
    for t in TABLES:
        assert spark.catalog.tableExists(t)


def test_doc_counts_are_derived():
    """Doc drift gate: every count the narrative docs assert (registered
    queries, plan snapshots, property-test tally, bench headline size)
    must equal the value derived from the code, so the docs can never
    claim more verification than exists."""
    import glob
    import json
    import re

    n_registry = len(registry.REGISTRY)

    coverage = open("COVERAGE.md").read()
    m = re.search(
        r"\*\*Totals\*\*: (\d+) registered queries, all (\d+) with DuckDB",
        coverage,
    )
    assert m, "COVERAGE.md Totals line missing"
    assert int(m.group(1)) == n_registry and int(m.group(2)) == n_registry

    # Second-axis tally is derived from CONTENT (the module-level
    # SECOND_AXIS_INDEPENDENT_REFERENCE marker), not the filename glob:
    # r10's deterministic gate (test_regex_membership.py) fell outside
    # the old ``test_*_properties.py`` pattern by naming choice, and a
    # future mis-named file would silently under-count. The naming
    # convention is still enforced one-way: every *_properties.py file
    # MUST carry the marker, so name and content can never disagree.
    n_property = 0
    marked = set()
    for p in glob.glob("tests/test_*.py"):
        src = open(p).read()
        if re.search(r"^SECOND_AXIS_INDEPENDENT_REFERENCE = True$", src, re.M):
            marked.add(p)
            n_property += len(re.findall(r"^def test", src, re.M))
    for p in glob.glob("tests/test_*_properties.py"):
        assert p in marked, (
            f"{p} is named *_properties.py but lacks the "
            "SECOND_AXIS_INDEPENDENT_REFERENCE marker"
        )
    m = re.search(r"(\d+) property tests drive operators", coverage)
    assert m, "COVERAGE.md second-axis tally missing"
    assert int(m.group(1)) == n_property

    arch = open("ARCHITECTURE.md").read()
    m = re.search(r"(\d+) queries are registered; all (\d+) have oracles", arch)
    assert m, "ARCHITECTURE.md registry line missing"
    assert int(m.group(1)) == n_registry and int(m.group(2)) == n_registry

    n_snapshots = len(json.load(open("tests/plan_snapshots.json")))
    m = re.search(r"operator tree of (\d+) headline queries", arch)
    assert m, "ARCHITECTURE.md snapshot line missing"
    assert int(m.group(1)) == n_snapshots

    import bench

    baseline = open("BASELINE.md").read()
    m = re.search(r"### .*— (\d+)-query headline set \(CURRENT baseline\)", baseline)
    assert m, "BASELINE.md current-baseline header missing"
    assert int(m.group(1)) == len(bench.HEADLINE)


def test_write_sink_partition_columns_exist(spark):
    """bench.py --sink parquet partitions each WRITE_SINK output by a
    declared column; a renamed output column would turn the write-path
    bench into an AnalysisException instead of a reading."""
    import bench

    qs = registry.queries()
    for name, part_col in bench.WRITE_SINK.items():
        assert name in qs, f"WRITE_SINK names unknown query {name!r}"
        cols = qs[name](spark, SF_CORRECTNESS).columns
        assert part_col in cols, (
            f"{name}: partition column {part_col!r} not in output {cols}"
        )


def test_json_string_cast_oracles_carry_integer_shape_guard():
    """Static gate for the DuckDB-coerces-where-Spark-rejects cast
    divergence (VERDICT r14 task 6): DuckDB's string->int TRY_CAST
    rounds '3.5' to 4 and parses '1e3' as 1000 where Spark's try_cast
    yields NULL for both, so ANY oracle that TRY_CASTs a JSON-extracted
    string must gate the cast behind a json_type whitelist, and — if it
    admits the VARCHAR type at all — restrict that arm to
    integer-shaped strings padded by exactly [\\x00-\\x20\\x7f] (the
    measured Spark strip class, regexp-stripped before the cast since
    DuckDB's own trim is narrower). The r13 fix closed the two known
    sites by hand; this gate keeps the next JSON consumer from
    reintroducing the class."""
    import re

    # the required guard fragments, byte-for-byte as the two audited
    # sites spell them (a semantically-equivalent-but-different guard
    # should be a deliberate, reviewed change — update both this gate
    # and the comment trail at rel_variant_props when that happens)
    shape_regex = r"'^[\x00-\x20\x7f]*[+-]?[0-9]+[\x00-\x20\x7f]*$'"
    pad_strip = r"'^[\x00-\x20\x7f]+|[\x00-\x20\x7f]+$'"

    offenders = []
    for name, spec in registry.REGISTRY.items():
        sql = spec.oracle or ""
        # every TRY_CAST whose argument expression involves a JSON
        # string extraction — conservative containment check: the cast
        # and the extraction appearing in the same oracle is enough to
        # demand the guard (false positives would only force an
        # explicit whitelist entry here, never hide a real site)
        if not re.search(r"TRY_CAST", sql, re.IGNORECASE):
            continue
        if "json_extract_string" not in sql:
            continue
        if "json_type" not in sql:
            offenders.append((name, "no json_type whitelist on the cast"))
            continue
        if "'VARCHAR'" in sql:
            if shape_regex not in sql:
                offenders.append(
                    (name, "VARCHAR arm without the integer-shape regex")
                )
            elif pad_strip not in sql:
                offenders.append(
                    (name, "VARCHAR arm without the pad-strip before cast")
                )
    assert not offenders, (
        "oracles TRY_CASTing JSON-extracted strings without the "
        f"integer-shape guard: {offenders}"
    )
    # the gate must actually be exercising something: the two audited
    # sites stay registered
    guarded = [
        n
        for n, s in registry.REGISTRY.items()
        if s.oracle and "json_extract_string" in s.oracle and "'VARCHAR'" in s.oracle
    ]
    assert {"rel_variant_props", "etl_events_pipeline"} <= set(guarded)


def test_r15_window_discharges_the_written_ledger():
    """The r15 rotation window (VERDICT r14 task 1) is pinned here so a
    hand-edit can't drift from the mechanical derivation: the 21
    exception-(a) leads from the r15/r16 ledger lead the window in
    order, every \\x0b-widened oracle whose latest driver row is r10 or
    r11 is IN the window (that's the "19 stalest" — the widened set
    splits 5/14/4/9 across r10/r11/r12/r13 rows), the 13 freshest
    widening leads are NOT (they lead r16), and the full 5-round
    staleness contract holds: no query's latest driver row may be
    older than 5 rounds behind once this window lands (oldest row
    becomes r11 at r15+1 vs the contract floor of r16-5=r11)."""
    import glob
    import json
    import re

    latest = {}
    for f in sorted(glob.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", f).group(1))
        for q, res in json.load(open(f)).items():
            if isinstance(res, dict) and res.get("rows_match"):
                latest[q] = rnd
    if max(latest.values(), default=0) != 14:
        return  # window already consumed by a later driver round

    window = list(registry._EMIT_FIRST)
    leads = [
        "rel_variant_props",
        "etl_events_pipeline",
        # 19 stalest \x0b-widening leads: all r10-row + all r11-row
        # widened oracles, oldest-driver-row-first
        "dedup_components_star",
        "docs_split_leakage_safe",
        "docs_tfidf_topk",
        "text_pmi_bigrams",
        "text_repetition_filter",
        "dedup_containment_onesided",
        "dedup_minhash_calibration",
        "dedup_minhash_lsh",
        "dedup_threshold_sweep",
        "docs_dedup_store",
        "docs_length_histogram",
        "docs_novelty_curve",
        "docs_pack_sequences",
        "docs_shingle_profile",
        "text_bpe_token_count",
        "text_fingerprint",
        "text_token_stats",
        "text_tokenizer_fertility",
        "text_vocab_topk",
    ]
    assert window[: len(leads)] == leads

    widened = {
        n for n, s in registry.REGISTRY.items() if s.oracle and r"\x0b" in s.oracle
    }
    assert len(widened) == 40, len(widened)
    stale = {n for n in widened if latest.get(n, 0) <= 11}
    fresh = widened - stale
    assert len(stale) == 19 and stale <= set(window)
    assert len(fresh) == 21  # 8 r14-row (evidenced) + 13 r16-ledger leads
    r16_leads = {n for n in fresh if latest[n] <= 13}
    assert len(r16_leads) == 13 and not (r16_leads & set(window))

    # 5-round contract: everything with an r10-or-older row is in-window
    overdue = {n for n in latest if latest[n] <= 10}
    assert overdue <= set(window), overdue - set(window)


def test_r16_window_discharges_the_written_ledger():
    """The r16 rotation window is pinned here so a hand-edit can't
    drift from the mechanical derivation (``python
    tools/plan_rotation.py --lead <the 13 r16-ledger names>``): the 13
    exception-(a) widening leads from the r16 ledger (the 4 r12-row +
    9 r13-row \\x0b-widened oracles) lead the window in ledger order,
    the staleness fill is exactly every r11-green row plus the oldest
    r12-green rows, and the 5-round contract holds (oldest row becomes
    r12 at r16+1 vs the contract floor of r17-5=r12)."""
    import glob
    import json
    import re

    latest = {}
    for f in sorted(glob.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", f).group(1))
        for q, res in json.load(open(f)).items():
            if isinstance(res, dict) and res.get("rows_match"):
                latest[q] = rnd
    if max(latest.values(), default=0) != 15:
        return  # window already consumed by a later driver round

    window = list(registry._EMIT_FIRST)
    leads = [
        "dedup_cluster_sizes",
        "docs_bm25_topk",
        "docs_dedup_passages",
        "docs_source_divergence",
        "dedup_components",
        "dedup_fuzzy_levenshtein",
        "dedup_simhash",
        "dedup_simhash_pairs",
        "text_chunking",
        "text_chunks_udtf",
        "text_decontaminate",
        "text_lang_id",
        "text_quality_score",
    ]
    assert window[: len(leads)] == leads
    # the leads ARE the r16 ledger: every \x0b-widened oracle whose
    # newest driver row is r12 or r13
    widened = {
        n for n, s in registry.REGISTRY.items() if s.oracle and r"\x0b" in s.oracle
    }
    assert {n for n in widened if latest.get(n, 0) in (12, 13)} == set(leads)

    # staleness fill: ALL r11 rows are in-window, and no row newer than
    # r12 rides along (the window is leads + r11 + oldest-r12 only)
    r11 = {n for n in latest if latest[n] == 11}
    assert r11 <= set(window)
    assert all(latest[n] <= 13 for n in window)

    # 5-round contract: everything with an r11-or-older row is in-window
    overdue = {n for n in latest if latest[n] <= 11}
    assert overdue <= set(window), overdue - set(window)


def test_table_plan_memo_eviction_and_unfingerprintable(spark, tmp_path):
    """The r16 memo hardening (ADVICE r15): one live fingerprint per
    path (a restage evicts the superseded plan), a directory with no
    recognizable part files is never cached, and a partitioned layout
    fingerprints its nested part files."""
    import os
    import shutil

    src = f"{SF_CORRECTNESS}/part.parquet"
    staged = tmp_path / "part.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, staged)
    else:
        staged.mkdir()
        shutil.copy(src, staged / "part-00000.parquet")

    # identical-object return while the directory is unchanged
    d1 = registry.table(spark, str(tmp_path), "part")
    d2 = registry.table(spark, str(tmp_path), "part")
    assert d1 is d2
    memo = registry._TABLE_PLAN_CACHE[spark]
    n_before = sum(1 for k in memo if k[0] == str(staged))
    assert n_before == 1

    # restage: fresh plan, and the superseded entry is evicted
    f = next(p for p in staged.iterdir() if p.suffix == ".parquet")
    os.utime(f, ns=(12345, 6789))
    d3 = registry.table(spark, str(tmp_path), "part")
    assert d3 is not d1
    assert sum(1 for k in memo if k[0] == str(staged)) == 1

    # nested (partitioned) layout fingerprints its part files
    nested = tmp_path / "nested" / "part.parquet"
    nested.mkdir(parents=True)
    shutil.copy(f, nested / "lang=en")  # wrong shape on purpose: a file
    shutil.rmtree(nested)
    nested.mkdir()
    sub = nested / "lang=en"
    sub.mkdir()
    shutil.copy(f, sub / "part-00000.parquet")
    fp = registry._table_fingerprint(str(nested))
    assert fp is not None and len(fp) == 1

    # no part files at all -> uncacheable, and table() must not memoize
    empty = tmp_path / "empty" / "part.parquet"
    empty.mkdir(parents=True)
    assert registry._table_fingerprint(str(empty)) is None
    assert registry._table_fingerprint(str(tmp_path / "missing")) is None


#: The only environment variables the engine package may read: where to
#: run and how big the driver is. Tuning policy (join strategies, row
#: caps, budgets) lives in module constants, not in the environment.
_DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "MASTER",
    "SPARK_MASTER",
}


def test_engine_reads_only_deployment_env_vars():
    import re
    from pathlib import Path

    import spark_etl_pipeline_spark

    any_read = re.compile(r"\benviron\b|\bgetenv\b")
    named_read = re.compile(
        r"""(?:\benviron\s*(?:\.get\s*\(|\[)|\bgetenv\s*\()\s*(['"])(\w+)\1"""
    )
    pkg = Path(spark_etl_pipeline_spark.__file__).parent
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text(encoding="utf-8")
        names = [m.group(2) for m in named_read.finditer(src)]
        where = path.relative_to(pkg.parent)
        if len(names) != len(any_read.findall(src)):
            bad.append(f"{where}: environment access without a literal name")
        bad += [f"{where}: {n}" for n in names if n not in _DEPLOYMENT_ENV]
    assert not bad, f"non-deployment environment reads: {bad}"
