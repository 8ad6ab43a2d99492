"""Query registry: every engine capability registers itself here.

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the
*equivalent ANSI SQL* that DuckDB can run on the same parquet tables —
keeping the two in one place is what keeps them in sync. The driver's
correctness gate (``__spark_entry__.queries()`` / ``oracle_sql()``) is
generated straight from this registry.

Determinism rules for oracle-checked queries (both sides must follow them):

- **Money/quantity aggregates use integer-cents arithmetic**:
  ``TRY_CAST(round(x * 100) AS BIGINT)`` before SUM, divide back at the end.
  Integer sums are associative, so Spark's partition-order float summation
  and DuckDB's sequential summation produce bit-identical results.
- **Averages** are computed as ``exact_integer_sum / count`` in *double*
  arithmetic (both engines perform one IEEE754 division on identical
  operands).
- **Timestamps** are emitted as formatted strings (Spark reads parquet
  timestamps at µs, DuckDB at ns — raw values would hash differently).
- **Top-k / ranking** always carries a unique-key tiebreak so the surviving
  rows are deterministic.
- Every computed column is aliased identically on both sides (the driver
  sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def _render_doc(fn: Builder) -> str:
    """Render a builder's docstring for the registry's ``doc`` field.

    Docstrings reference their module's spec constants as ``{CONST}``
    fields (and escape literal braces as ``{{...}}``) — f-string style,
    but a plain string so ``__doc__`` survives. Rendering happens here,
    once, at registration: known UPPER_CASE module globals are
    interpolated, doubled braces unescape, anything unresolvable is
    left verbatim (never an error).
    """
    import re

    doc = (fn.__doc__ or "").strip()
    consts = {
        k: v
        for k, v in fn.__globals__.items()
        if k.isupper() and isinstance(v, (int, float, str))
    }
    doc = re.sub(
        r"(?<!\{)\{([A-Z][A-Z0-9_]*)\}(?!\})",
        lambda m: str(consts.get(m.group(1), m.group(0))),
        doc,
    )
    return doc.replace("{{", "{").replace("}}", "}")


def register(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Decorator: add a (spark, sf_dir) -> DataFrame builder to the registry."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        spec = QuerySpec(name, fn, oracle, _render_doc(fn))
        REGISTRY[name] = spec
        if spec.doc:
            # Write the rendered doc back so ``help()`` / ``__doc__``
            # show interpolated constants, not literal ``{CONST}``
            # braces — the registry ``doc`` field and the live
            # docstring must never drift apart.
            fn.__doc__ = spec.doc
        return fn

    return deco


def _nanos_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), from the file footer.

    Spark's vectorized reader rejects nanosecond timestamps outright
    (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.nanosAsLong``
    is set — and then it surfaces them as raw nano longs. We sniff the
    footer driver-side (metadata-only read, no data IO) so ``table()`` can
    convert those columns back to real timestamps transparently.
    """
    import glob
    import os

    import pyarrow.parquet as pq
    import pyarrow.types as pat

    candidate = path
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return []
        candidate = files[0]
    try:
        schema = pq.read_schema(candidate)
        phys = pq.ParquetFile(candidate).schema
    except Exception:
        return []
    # Physical-type check matters: Spark-written INT96 timestamps ALSO
    # surface as timestamp[ns] in the arrow schema, but Spark reads
    # INT96 natively — only INT64 TIMESTAMP(NANOS) needs the
    # nanosAsLong repair. Treating INT96 as nanos would corrupt every
    # Spark-written table fed back through table(). Physical leaves are
    # keyed by their top-level path segment (array/struct leaves have
    # their own names, e.g. ``embedding.list.element``).
    int96 = {
        phys.column(i).path.split(".")[0]
        for i in range(len(phys.names))
        if phys.column(i).physical_type == "INT96"
    }
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type)
        and f.type.unit == "ns"
        and f.name not in int96
    ]


def _unified_directory_schema(path: str, nanos: list[str]):
    """Explicit Spark schema for a MULTI-GENERATION parquet directory,
    or ``None`` when every footer already agrees.

    A directory of part files can span INGEST GENERATIONS with
    different footers: a column added mid-ingest, column order permuted
    by a different writer, or a numeric column re-declared WIDER (float
    → double, int → bigint — the widen class). Default inference trusts
    ONE file's footer — listing-order dependent: the evolved column
    silently vanishes or analysis fails whenever the sampled file
    predates it. Spark's ``mergeSchema`` unions footers by name but
    HARD-FAILS on any type promotion (CANNOT_MERGE_SCHEMAS on
    float-vs-double), so heterogeneous directories instead get an
    EXPLICIT unified schema: arrow's permissive footer union (by-name
    null-fill + standard numeric promotion), handed to the reader,
    which Spark 4's parquet type widening reads natively from both
    generations. INT64-nano timestamp columns stay LongType here — the
    ``nanosAsLong`` surface ``table()`` repairs afterward.

    Cost model: one metadata-only footer read per file, driver-side —
    O(files), with an ADAPTIVE fan-out (measured at 10k/50k staged part
    files, BASELINE.md "Round-9 footer-union sniff"): a
    warm local footer costs ~0.07–0.2 ms of mostly GIL-held parse, so a
    thread pool only adds contention there (measured 2.5–7× SLOWER
    pooled than sequential — sequential 10k files ≈ 0.8 s, well inside
    a driver's startup budget even at 10⁵ files). On an object store
    each footer is a ~10–50 ms latency-bound round trip where 32
    in-flight reads cut 10⁴ files from minutes to seconds — so the
    sniff probes the first few footers and fans out only when the
    per-footer latency says IO-bound. Correctness needs EVERY footer —
    sampling is exactly the listing-order bug this exists to fix — so
    the scale escape hatch is not a cheaper sniff but skipping
    inference entirely: a 100-TB deployment fronting millions of files
    declares its schema in a metastore and passes it via
    ``sources.read_parquet(schema=...)`` (the promotion semantics there
    are exactly what this computes).
    """
    import glob
    import os
    import time
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if len(files) <= 1:
        return None  # zero or one footer: nothing to disagree
    probe, rest = files[:8], files[8:]
    samples = []
    schemas = []
    for f in probe:
        t0 = time.perf_counter()
        schemas.append(pq.read_schema(f))
        samples.append(time.perf_counter() - t0)
    # MEDIAN, not mean: the first probe read is often a one-time cold
    # outlier (page-cache miss, disk spin-up) that would flip a warm
    # local directory onto the pooled arm — the arm measured 2.5-7x
    # SLOWER there. The median ignores one cold read; a store whose
    # per-footer latency is genuinely high is high at every quantile.
    latency = sorted(samples)[len(samples) // 2]
    if rest:
        if latency >= 0.002:  # IO-latency-bound: threads hide the round trips
            workers = min(32, (os.cpu_count() or 4) * 4)
            with ThreadPoolExecutor(max_workers=workers) as pool:
                schemas += list(pool.map(pq.read_schema, rest))
        else:  # warm local metadata: GIL contention makes a pool a net loss
            schemas += [pq.read_schema(f) for f in rest]
    if not schemas or all(s.equals(schemas[0]) for s in schemas[1:]):
        return None  # homogeneous: one-footer inference is already safe
    unified = pa.unify_schemas(schemas, promote_options="permissive")
    fields = []
    for f in unified:
        if f.name in nanos:
            spark_type = T.LongType()  # read under nanosAsLong, repaired below
        else:
            spark_type = from_arrow_type(f.type)
        fields.append(T.StructField(f.name, spark_type, nullable=True))
    return T.StructType(fields)


#: Per-session memo of LAZY table plans (r15 optimization): the keyed
#: value is the unevaluated DataFrame returned by :func:`table` plus its
#: nanos-column list — metadata and a logical plan, NEVER data or
#: results (every action on the cached plan re-scans the parquet files,
#: exactly like a fresh read; this is the same class of reuse as
#: Spark's own per-session ``InMemoryFileIndex`` listing cache).
#:
#: Why: ``spark.read.parquet(path)`` costs a JVM round trip of
#: ~50-100 ms per call (file listing + footer schema inference), and
#: the python-side footer sniffs (`_nanos_columns`,
#: `_unified_directory_schema`) re-read up to 8 footers per call.
#: Builders call ``table()`` up to 8 times per plan and the bench
#: re-invokes every builder per timed pass, so the same directory was
#: being re-inferred hundreds of times per session — pure driver-side,
#: fully SEQUENTIAL cost (measured: q8_market_share spent 0.57 s of
#: its 0.83 s build inside ``table()``; guide §7.3 driver work).
#:
#: Staleness safety: the key carries a FINGERPRINT of the directory
#: (sorted part-file names + byte sizes + mtime_ns), so any rewrite,
#: append, or overwrite produces a different key and a fresh inference.
#: Sessions are weakly keyed — a stopped session's plans are never
#: handed out again and the memo dies with the session object.
from weakref import WeakKeyDictionary

_TABLE_PLAN_CACHE: "WeakKeyDictionary" = WeakKeyDictionary()


def _table_fingerprint(path: str) -> tuple | None:
    """(file, size, mtime_ns) triples identifying a table's on-disk
    state, or ``None`` when the state cannot be established — callers
    must then skip the memo entirely (r16, ADVICE r15: the old
    ``id(object())`` "unique" sentinel could be reused by the
    allocator, and a nested/partitioned directory with no top-level
    ``*.parquet`` files fingerprinted as the constant empty tuple —
    both could serve a stale plan)."""
    import glob
    import os

    try:
        if os.path.isdir(path):
            out = []
            # top-level part files plus one nesting level (partitioned
            # layouts); anything deeper is not a layout table() serves
            for pat in ("*.parquet", os.path.join("*", "*.parquet")):
                for f in sorted(glob.glob(os.path.join(path, pat))):
                    st = os.stat(f)
                    out.append((f, st.st_size, st.st_mtime_ns))
            # a directory with no recognizable part files is uncacheable
            return tuple(out) or None
        st = os.stat(path)
        return ((path, st.st_size, st.st_mtime_ns),)
    except OSError:
        # unreadable/missing (or a stat-then-read race): uncacheable
        return None


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table (TESTDATA.md layout) as a DataFrame.

    Nanosecond-timestamp parquet (the driver's ``events`` table) is read
    via the legacy nanos-as-long path and converted to microsecond
    timestamps with integer division (``ts div 1000`` — a double division
    would lose precision above 2^53 nanos ≈ 1970+104 days). Directories
    whose part-file footers disagree (schema drift / numeric widening
    mid-ingest) are read under an explicit unified schema — see
    :func:`_unified_directory_schema`.

    The returned LAZY plan is memoized per (session, path, on-disk
    fingerprint) — see :data:`_TABLE_PLAN_CACHE`; every action on it
    still reads the parquet files. Contract note: repeated calls for
    the same unchanged directory return the IDENTICAL DataFrame object
    (same expression IDs), so a builder joining two loads of one table
    directly would trip Spark's ambiguous-self-join detection — route
    self-joins through ``.alias()`` / renamed selects (as q7/q8 do).
    An unfingerprintable path (unreadable, or a directory with no
    recognizable part files) is never memoized.
    """
    import os

    from spark_etl_pipeline_spark.session import pin_session_utc

    # r11: batch results must be session-zone-independent, and Spark's
    # date_format/date_trunc on NTZ columns implicitly round-trip
    # through the session zone (wall clocks inside a DST gap come back
    # shifted) — pin UTC at the load path, the same runtime-hardening
    # this function already does for nanosAsLong. Full rationale and
    # both measured hazards: session.pin_session_utc.
    pin_session_utc(spark)

    path = f"{sf_dir}/{name}.parquet"
    memo = _TABLE_PLAN_CACHE.setdefault(spark, {})
    fp = _table_fingerprint(path)
    key = (path, fp)
    hit = memo.get(key) if fp is not None else None
    if hit is not None:
        df, nanos = hit
        if nanos:
            # the cached plan was built under nanosAsLong; re-pin it so a
            # conf flip elsewhere in the session can't break execution
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return df
    nanos = _nanos_columns(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if os.path.isdir(path):
        unified = _unified_directory_schema(path, nanos)
        if unified is not None:
            reader = reader.schema(unified)
    df = reader.parquet(path)
    for col in nanos:
        df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
    if fp is not None:
        # one live fingerprint per path: a restaged directory would
        # otherwise pin its superseded plans (and their JVM objects)
        # for the whole session (r16, ADVICE r15)
        for k in [k for k in memo if k[0] == path and k != key]:
            del memo[k]
        memo[key] = (df, nanos)
    return df


def store_dir(prefix: str) -> str:
    """A fresh temp directory for a builder's on-disk store, removed at
    interpreter exit. The DataFrame a store-backed builder returns reads
    its store lazily, so no earlier point is safe to remove it."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view named after itself.

    The raw-SQL entry point: after this, ``spark.sql("SELECT ... FROM
    lineitem JOIN orders ...")`` works directly — the same table names
    the DuckDB oracles use, so ad-hoc SQL can be cross-checked 1:1.
    Views go through :func:`table`, so the nanos-timestamp repair and
    every other load-path normalization apply to SQL users too.

    Concurrency note: temp views are session-GLOBAL, so this binding is
    last-writer-wins across threads — by design for an ad-hoc SQL
    entry point (one corpus per session). Registered query builders
    deliberately do NOT use views for exactly that reason: they pass
    tables as parameterized ``spark.sql`` DataFrame args so concurrent
    invocations on different ``sf_dir``\\ s cannot read each other's
    data (see ``rel_sql_exists``).
    """
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from spark_etl_pipeline_spark.operators import (  # noqa: F401
        dedup,
        graph,
        multimodal,
        profile,
        similarity,
        skew,
        text,
        timeseries,
        traindata,
    )
    from spark_etl_pipeline_spark.plans import etl, relational  # noqa: F401
    from spark_etl_pipeline_spark.sources import pysource  # noqa: F401
    from spark_etl_pipeline_spark.streaming import incremental, windows  # noqa: F401


def queries() -> dict[str, Builder]:
    load_all()
    return {name: spec.builder for name, spec in REGISTRY.items()}


def oracles() -> dict[str, str]:
    load_all()
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }
