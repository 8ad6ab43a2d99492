"""Session factory defaults: the local-only driver JIT policy, the
generated-class cache size and the two stderr-noise fixes ``get_spark``
applies to every session."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark import SparkConf
from pyspark.sql import SparkSession

from spark_etl_pipeline_spark.plans import registry
from spark_etl_pipeline_spark.session import (
    _STREAMING_AQE_LOGGER,
    CODEGEN_CACHE_ENTRIES,
    LOCAL_DRIVER_JAVA_OPTIONS,
    get_spark,
)
from tests.conftest import SF_SMOKE

_JAVA_OPTS = "spark.driver.defaultJavaOptions"


@pytest.fixture
def captured_options(monkeypatch, spark):
    """Options of the builder ``get_spark`` hands to ``getOrCreate``.

    Models a fresh process: the live JVM's ``spark.master`` system
    property is hidden from ``SparkConf`` and no ``MASTER`` /
    ``SPARK_MASTER`` is set, so only the arguments and the test's own
    env decide the master. The stub returns the live session, so the
    rest of ``get_spark`` (log levels) runs as usual and no second JVM
    is started.
    """
    seen: dict[str, str] = {}

    def get_or_create(builder):
        seen.update(builder._options)
        return spark

    for var in ("MASTER", "SPARK_MASTER"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkConf, "contains", lambda self, key: False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    return seen


def _tiered_stop_level(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption("TieredStopAtLevel").getValue()


#: A fresh process, as ``python jobs/<job>.py`` starts one.
_PROBE = (
    "from spark_etl_pipeline_spark.session import get_spark\n"
    "from tests.test_session import _tiered_stop_level\n"
    "spark = get_spark('jit-probe')\n"
    "print(_tiered_stop_level(spark))\n"
    "spark.stop()\n"
)


def test_local_driver_runs_c1_only(spark):
    """A fresh ``python`` process that calls ``get_spark`` gets a C1-only
    driver JVM. The suite's own session opts out through ``extra_conf``
    (``tests/conftest.py``), so it runs tiered C2 (level 4)."""
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("MASTER", "SPARK_MASTER", "PYSPARK_SUBMIT_ARGS")
    }
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=Path(__file__).resolve().parents[1], env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-1] == "1"
    assert _tiered_stop_level(spark) == "4"


@pytest.mark.parametrize("master", [None, "local[2]"])
def test_local_master_gets_jit_policy(captured_options, master):
    get_spark("tests", master=master)
    assert captured_options["spark.master"].startswith("local[")
    assert captured_options[_JAVA_OPTS] == LOCAL_DRIVER_JAVA_OPTIONS


def test_cluster_master_gets_no_jit_policy(monkeypatch, captured_options):
    monkeypatch.setenv("MASTER", "spark://h:7077")
    get_spark("tests")
    assert "spark.master" not in captured_options
    assert _JAVA_OPTS not in captured_options


def test_extra_conf_overrides_jit_policy(captured_options):
    get_spark("tests", extra_conf={_JAVA_OPTS: ""})
    assert captured_options["spark.master"].startswith("local[")
    assert captured_options[_JAVA_OPTS] == ""


def test_console_progress_bar_off(spark):
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"


def test_streaming_aqe_warning_silenced_root_stays_warn(spark):
    # log4j makes a logger for any string, so first pin the name to the
    # class that logs the warning: a typo or a moved class fails here
    # instead of silently raising a logger nothing writes to.
    jvm = spark._jvm
    name = jvm.java.lang.Class.forName(_STREAMING_AQE_LOGGER).getName()
    log_manager = jvm.org.apache.logging.log4j.LogManager
    assert not log_manager.getLogger(name).isWarnEnabled()
    assert log_manager.getLogger(name).getLevel().toString() == "ERROR"
    assert log_manager.getRootLogger().getLevel().toString() == "WARN"


#: perfbench's ``corpus_curation`` pass (``perfbench/workloads.py``
#: ``CURATION``) without ``docs_bm25_topk``: its two broadcast query
#: stages finish in either order, AQE numbers their whole-stage codegen
#: ids (``*(3)``/``*(4)``) in that order, and the id is part of the
#: generated source, so some repeats compile new classes however
#: large the cache is.
_CURATION_PASS = (
    "docs_dedup_corpus", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embedding_cosine", "text_quality_score", "text_repetition_filter",
    "text_decontaminate", "docs_pack_sequences", "sim_ivf_search",
    "sim_kmeans",
)


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_curation_pass(spark):
    """A second pass over the curation queries compiles no class: the
    generated-class cache holds the whole pass. At Spark's default of
    100 entries the LRU cache evicts each class before the next pass
    asks for it again, and every pass compiles its ~200 classes anew."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    # the count is live: a literal no earlier plan holds is inlined into
    # the generated source, so this plan compiles at least one class
    before = _compiles(spark)
    probe = spark.range(1).selectExpr(f"id + {time.time_ns()}")
    probe.write.format("noop").mode("overwrite").save()
    assert _compiles(spark) > before
    registry.load_all()
    counts = []
    for _ in range(2):
        before = _compiles(spark)
        for name in _CURATION_PASS:
            df = registry.REGISTRY[name].builder(spark, SF_SMOKE)
            df.write.format("noop").mode("overwrite").save()
        counts.append(_compiles(spark) - before)
    assert counts[1] == 0, f"the second pass compiled {counts[1]} classes: {counts}"
