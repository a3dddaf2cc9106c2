"""Shared Spark session + DuckDB oracle fixtures.

One session-scoped local SparkSession keeps the whole suite inside a single
JVM; tests must not stop it.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from gcpde_spark.session import build_session

SF_SMALL = os.environ.get("GCPDE_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("GCPDE_ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
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
]


def _driver_memory() -> str:
    """A quarter of the machine's RAM, read from ``/proc/meminfo``."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{total_kb // 4 // 1024}m"


@pytest.fixture(scope="session")
def spark():
    # one task slot per core the run is given (SPARK_GRAFT_CPUS, else
    # all cores); the shuffle partition count stays fixed at 8 because
    # plan-shape tests assert it
    spark = build_session(
        app_name="gcpde_spark_tests",
        shuffle_partitions=8,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.driver.memory": _driver_memory(),
        },
    )
    yield spark


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the star-schema views registered (both SFs)."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()
