from __future__ import annotations

import duckdb
import pytest

from spark_etl_pipeline_spark.plans.registry import TABLES
from spark_etl_pipeline_spark.session import get_spark

SF_CORRECTNESS = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # tiered C2: the C1-only local driver policy pays only in short runs,
    # and this session lives for the whole suite (BASELINE.md, "driver
    # JIT policy": tier-1 took 28 % longer with C1 only)
    s = get_spark(
        "tests", shuffle_partitions=8,
        extra_conf={"spark.driver.defaultJavaOptions": ""},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECTNESS}/{t}.parquet'"
        )
    yield con
    con.close()
