"""Session factory defaults: the local-only driver JIT policy and the two
stderr-noise fixes ``get_spark`` applies to every session."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import SparkConf
from pyspark.sql import SparkSession

from spark_etl_pipeline_spark.session import (
    _STREAMING_AQE_LOGGER,
    LOCAL_DRIVER_JAVA_OPTIONS,
    get_spark,
)

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
