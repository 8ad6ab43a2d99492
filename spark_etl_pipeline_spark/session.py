"""SparkSession factory.

Modernizes the reference's ``start_spark`` (reference
``dependencies/spark.py:18-114``): instead of env-sniffing + config-file
discovery through ``SparkFiles``, a plain function with explicit arguments
and scale-sane defaults (AQE on, Arrow on, shuffle partitions sized to the
machine rather than Spark's default 200).

The defaults are tuned for ``local[N]`` testing but every knob is the one
you would also set on a real cluster: AQE handles skew/coalesce at runtime,
Arrow accelerates every pandas-UDF exchange, and the session timezone is
pinned to UTC so timestamp semantics don't depend on the host.

One default is local-only: a driver JVM that ``get_spark`` launches on a
``local[...]`` master runs with C1 only (``LOCAL_DRIVER_JAVA_OPTIONS``),
because there the JIT compiler, not the operator kernels, is the largest
CPU cost of a short run; a run of more than about half a minute is
slower with it. Cluster masters and ``spark-submit`` never get it, so
executors and submitted jobs keep C2.

Every session holds the engine's whole generated-class working set in
Spark's codegen cache (``CODEGEN_CACHE_ENTRIES``): at Spark's default of
100 entries a pass over the corpus-curation queries evicts each class
before the next pass asks for it, so every pass compiled all of them
again. It is a static conf, read once per JVM; a session built outside
``get_spark`` sets it in its own builder or keeps the default.

Two sources of stderr noise are off in every session: the console
progress bar and the per-drain ``ResolveWriteToStream`` AQE warning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: JIT policy for a driver JVM that ``get_spark`` launches in local mode:
#: C1 only. In ``local[N]`` the driver JVM is also the executor, and a
#: short run spends more CPU compiling than computing: by the end of the
#: first job HotSpot's tiered compiler has used ~11 s of compile time in
#: ~9 s of JVM uptime, most of it C2, against ~2 s with C1 only. C1 code
#: is slower once warm, so the policy pays only while the JVM is young.
#: Measured on a 4-vCPU host (BASELINE.md, "driver JIT policy"): a
#: ``python jobs/*.py`` run of 11-25 s uses 27-54 % less CPU, but a
#: clickstream job over 1.5 M log rows (~40 s with C2) takes ~45 % more
#: time and ~40 % more CPU, and two-minute benchmark runs and the
#: 20-minute test session are slower too. Only a process that starts
#: Spark from plain ``python`` on a local master gets it:
#: ``spark-submit`` launches the JVM before ``get_spark`` runs, so a
#: submitted job keeps tiered C2 on any master. A long-lived local
#: session restores tiered C2 through ``extra_conf`` (see ``get_spark``).
LOCAL_DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"

#: Entries of Spark's generated-class cache
#: (``spark.sql.codegen.cache.maxEntries``, default 100). The cache is
#: LRU, and the engine generates its classes in the same order on every
#: pass, so a working set larger than the cache never hits: each pass
#: compiles every class again with Janino, and HotSpot then JIT-compiles
#: the fresh classes too. One ``corpus_curation`` pass generates 219
#: distinct classes and one pass over all 222 registry queries at
#: sf0.001 about 2,490; 4096 holds both. Measured on a 4-vCPU host: at
#: 100 a second pass over all registry queries compiled 3,278 classes,
#: at 4096 it compiled 91 (queries whose generated code holds a per-run
#: literal) and took 81 s instead of 101 s; ``corpus_curation``'s
#: ``cpu_s_per_op`` fell from 11.4 s to 7.7 s (median of ten alternated
#: perfbench pairs) with peak memory unchanged. The kept classes cost
#: about 10 MB of metaspace (194 MB against 184 MB after one pass).
CODEGEN_CACHE_ENTRIES = 4096

#: Logs "spark.sql.adaptive.enabled is not supported in streaming" at
#: WARN on every streaming drain, because AQE is on in every session here.
#: Spark just runs the stream without AQE, so the line is noise; this one
#: logger is raised to ERROR, the root level stays WARN.
_STREAMING_AQE_LOGGER = (
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream"
)


def default_parallelism() -> int:
    """CPU budget: honor the driver's SPARK_GRAFT_CPUS, else host CPUs."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def pin_session_utc(spark: SparkSession) -> None:
    """Pin ``spark.sql.session.timeZone=UTC``, loudly if it changes.

    The engine's declared time semantics are NTZ wall clocks with
    session-zone-INDEPENDENT results, and ``get_spark`` pins UTC for
    exactly that reason — but the external driver builds a BARE session
    (host zone), so the load paths must re-pin at runtime, the same
    pattern ``registry.table`` uses for ``nanosAsLong``. Two measured
    hazards, one per surface:

    - streaming (r10, Asia/Kathmandu sweep): the NTZ→LTZ event-time
      cast shifts internal micros by the zone offset, regrouping
      ``F.window``'s epoch-grid windows onto offset boundaries. Any
      non-whole-hour offset breaks it.
    - batch (r11, DST-transition sweep): ``date_format`` on a
      TIMESTAMP_NTZ column implicitly casts through the session zone,
      and ``date_trunc`` on NTZ RETURNS the zone-bound TIMESTAMP type
      — so a wall clock inside a DST spring-forward gap comes back
      shifted (Europe/Dublin: NTZ 01:30 renders as 02:30). Fixed-offset
      zones round-trip as identity at every instant, which is why the
      r9/r10 offset sweeps (New_York, Kathmandu, Chatham) could not
      catch it; only a session zone WITH transitions plus an in-gap
      instant does.

    The pin is session-wide and outlives the caller (stream analysis
    happens at ``start()``; batch plans resolve zone-bound casts at
    analysis time), so it cannot be scoped-and-restored — when the
    pre-existing zone differs, say so once on stderr so the override
    is observable instead of silent.
    """
    import sys

    prior = spark.conf.get("spark.sql.session.timeZone", None)
    if prior == "UTC":
        # steady path (every table() call repeats the pin): one
        # read-only RPC, no redundant conf.set round trip
        return
    if prior is not None:
        print(
            f"[session] timeZone {prior!r} -> 'UTC': the engine's NTZ "
            "semantics require a UTC session zone (see "
            "session.pin_session_utc); the pin is session-wide — "
            "restore it afterwards if other work on this session needs "
            f"{prior!r}",
            file=sys.stderr,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _cluster_master_configured() -> bool:
    """True when a master was supplied through the standard channels.

    ``spark-submit --master`` sets the ``spark.master`` Java system
    property (surfaced via SparkConf), and standalone/YARN setups export
    ``MASTER`` / ``SPARK_MASTER`` env vars — not a bespoke flag. Only when
    none of these are present do we default to ``local[N]``.
    """
    if os.environ.get("MASTER") or os.environ.get("SPARK_MASTER"):
        return True
    try:
        from pyspark import SparkConf

        return SparkConf().contains("spark.master")
    except Exception:
        return False


def get_spark(
    app_name: str = "spark_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Unlike the reference (which only applies config in "local dev" mode,
    ``dependencies/spark.py:62-85``), every config here but the JIT
    policy below is applied unconditionally — cluster submit scripts can
    still override any of it with ``--conf``, which takes precedence over
    builder defaults only when the session already exists.

    Only when the resolved master is ``local[...]`` (the default
    ``local[N]`` or a ``master="local..."`` argument) does the driver JVM
    get ``LOCAL_DRIVER_JAVA_OPTIONS`` (C1-only JIT). It goes through
    ``spark.driver.defaultJavaOptions`` rather than ``extraJavaOptions``
    so a caller's ``extraJavaOptions`` are appended, not replaced, and it
    is set before ``extra_conf`` so a caller can override it there (e.g.
    ``{"spark.driver.defaultJavaOptions": ""}`` restores tiered C2). When
    a JVM already exists (spark-submit, a second call) it is a no-op.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # In local[N] mode the driver JVM heap IS the whole executor
        # memory pool; Spark's 1g default GC-thrashes a 32-thread local
        # run the moment any shuffle holds tens of millions of rows
        # (measured: the triangle-count wedge join at sf0.1). 8g is
        # still a fraction of the host and matches ~256m/thread — on a
        # real cluster this knob is per-executor and set by the
        # submitter, so it only takes effect when the JVM starts here.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Every SQL execution stringifies its plan, and Spark truncates
        # any node wider than 25 fields (with a WARN). The widest
        # registered plan is the 33-column SimHash vote aggregate, so 64
        # keeps every plan whole and the warning silent.
        .config("spark.sql.debug.maxToStringFields", "64")
        # a static conf: it takes effect only when the session is created
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master is None and not _cluster_master_configured():
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
        if master.startswith("local"):
            builder = builder.config(
                "spark.driver.defaultJavaOptions", LOCAL_DRIVER_JAVA_OPTIONS
            )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(_STREAMING_AQE_LOGGER, log4j.Level.ERROR)
    return spark
