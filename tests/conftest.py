"""Shared Spark session for the test suite (one JVM per run)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from ffi_etl_spark.session import get_session

    # small local parallelism: tiny unit frames don't need 32 threads
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_session("tests", master="local[4]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def registry_builds(spark, sf_dir):
    """Every registered query built once at sf0.001, in registry order:
    name -> (analyzed schema, formatted physical plan). Both
    registry-wide sweeps (plan lint, nested output columns) assert on
    this one record; building all the queries takes minutes, so each
    sweep building them again doubled that."""
    import __spark_entry__ as entry_mod
    from tools.plan_lint import explain_formatted

    builds = {}
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_dir)
        builds[name] = (df.schema, explain_formatted(spark, df))
        spark.catalog.clearCache()
    return builds
