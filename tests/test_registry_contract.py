"""Registry contract: the entry-point surface can't silently rot.

``queries()`` and ``oracles()`` expose every registered query in
registration order, each with a DuckDB oracle; the scripts and docs
that name registry queries are checked against the registry itself.
"""

from __future__ import annotations

from spark_etl_pipeline_spark.plans import registry
from tests.conftest import SF_CORRECTNESS

registry.load_all()


def test_every_query_has_an_oracle():
    # the engine's standing bar: no rows-only checks hiding anywhere
    missing = [n for n, s in registry.REGISTRY.items() if s.oracle is None]
    assert not missing, f"queries without oracles: {missing}"


def test_queries_and_oracles_expose_same_names():
    assert list(registry.queries()) == list(registry.oracles())


def test_queries_and_oracles_follow_registration_order():
    names = list(registry.REGISTRY)
    assert list(registry.queries()) == list(registry.oracles()) == names
    assert len(names) == 222


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

    from tools.scale_bench import HEADLINE

    baseline = open("BASELINE.md").read()
    m = re.search(r"### .*— (\d+)-query headline set \(CURRENT baseline\)", baseline)
    assert m, "BASELINE.md current-baseline header missing"
    assert int(m.group(1)) == len(HEADLINE)


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


#: Scripts outside the package that import engine names. Tools import
#: lazily inside functions, so a renamed or deleted operator surfaces
#: only when someone runs the tool — this scan surfaces it at test time.
_SCRIPT_GLOBS = ("tools/*.py", "perfbench/*.py", "jobs/*.py")


def test_script_imports_of_engine_names_resolve():
    import ast
    import importlib
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    bad, n = [], 0
    for path in sorted(p for g in _SCRIPT_GLOBS for p in root.glob(g)):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and (node.module or "").split(".")[0] == "spark_etl_pipeline_spark"
            ):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                n += 1
                if hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    bad.append(
                        f"{path.relative_to(root)}:{node.lineno}: "
                        f"{node.module}.{alias.name}"
                    )
    assert n > 0, "scan found no engine imports — the globs went stale"
    assert not bad, f"script imports naming missing engine objects: {bad}"


#: Root docs that describe this tree. The others narrate history
#: (CHANGES.md, ROADMAP.md) or describe other repositories (PAPER.md,
#: PAPERS.md, SURVEY.md, SNIPPETS.md), so they name files that are
#: not, or no longer, here.
_TREE_DOCS = (
    "README.md", "ARCHITECTURE.md", "BASELINE.md", "COVERAGE.md",
    "FIXTURES.md", "TESTDATA.md",
)


def test_cited_repo_paths_exist():
    """Every repo path a tracked script or tree doc cites exists, so a
    deleted tool or record cannot stay cited as if it were present.
    Checked: ``tools/*.py``, ``tests/*.py``, the ``tests/*.json``
    fixtures and the root ``*_rNN*.json`` records. A citation of a
    deleted file names its commit instead (``0dc33e4:tools/x.py``),
    which the lookbehind skips."""
    import re
    import subprocess
    from pathlib import Path

    cited = re.compile(
        r"(?<![\w/.:-])((?:tools|tests)/\w+\.py|tests/\w+\.json"
        r"|[A-Za-z]+_r\d\d\w*\.json)"
    )

    root = Path(__file__).resolve().parent.parent
    tracked = subprocess.run(
        ["git", "ls-files", "*.py", "*.md"],
        cwd=root, capture_output=True, text=True, check=True,
    ).stdout.split()
    files = [f for f in tracked if f.endswith(".py") or "/" in f]
    files += list(_TREE_DOCS)
    bad = []
    for f in files:
        text = (root / f).read_text(encoding="utf-8")
        for lineno, line in enumerate(text.splitlines(), 1):
            bad += [
                f"{f}:{lineno}: {m}"
                for m in cited.findall(line)
                if not (root / m).exists()
            ]
    assert len(files) > len(_TREE_DOCS), "git ls-files found no scripts"
    assert not bad, f"citations of missing repo paths: {bad}"


def test_round_loops_checkpoint_only_through_rounds():
    """One lineage rule for every iterative operator: a
    ``.localCheckpoint(`` call lexically inside a ``for``/``while`` body
    is a round loop with its own checkpoint rule; it belongs in
    ``operators.rounds``, the only place allowed to make one."""
    import ast
    from pathlib import Path

    import spark_etl_pipeline_spark

    pkg = Path(spark_etl_pipeline_spark.__file__).parent
    home = pkg / "operators" / "__init__.py"
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        allowed = set()
        for fn in ast.walk(tree):
            if path == home and getattr(fn, "name", None) == "rounds":
                allowed |= {id(n) for n in ast.walk(fn)}
        for loop in ast.walk(tree):
            if not isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
                continue
            bad += [
                f"{path.relative_to(pkg.parent)}:{node.lineno}"
                for stmt in loop.body
                for node in ast.walk(stmt)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
                and id(node) not in allowed
            ]
    assert not bad, f"localCheckpoint inside a loop outside rounds(): {bad}"


def test_shared_oracle_fragments_have_one_site():
    """The connected-components fixpoint and the usable-embeddings CTE
    are oracle fragments with one text each (``dedup.components_ctes``,
    ``similarity._DUCK_E``): a second copy under ``operators/`` is a
    kernel that can drift from the one every other oracle reads."""
    from pathlib import Path

    import spark_etl_pipeline_spark

    ops = Path(spark_etl_pipeline_spark.__file__).parent / "operators"
    for text in ("reach AS (", "embedding::DOUBLE[] AS v FROM embeddings"):
        sites = [
            f"{path.name}:{n}"
            for path in sorted(ops.rglob("*.py"))
            for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
            if text in line
        ]
        assert len(sites) == 1, f"{text!r} written at {len(sites)} sites: {sites}"
