from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# small-scale dirs for tests; override with SPARK_GRAFT_TEST_SF_DIR
SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

from dffoo_data_pipeline_spark.plans.manual_tables import DATASETS_DIR  # noqa: E402

# Registered queries that read the reference's manual-table CSVs.
REFERENCE_QUERIES = ("abilities_followups_enriched", "bt_labeling_corrections")


def reference_present() -> bool:
    """Whether the reference checkout's datasets directory exists
    (SPARK_GRAFT_REFERENCE_DATASETS; its golden CSVs sit beside it)."""
    return os.path.isdir(DATASETS_DIR)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "reference: reads the reference checkout (SPARK_GRAFT_REFERENCE_DATASETS "
        "and the golden CSVs beside it); skipped when it is absent",
    )


def pytest_runtest_setup(item):
    if item.get_closest_marker("reference") and not reference_present():
        pytest.skip(
            f"reference datasets not found at {DATASETS_DIR} "
            "(set SPARK_GRAFT_REFERENCE_DATASETS); reference files are not vendored"
        )


@pytest.fixture(scope="session")
def spark():
    if os.environ.get("SPARK_GRAFT_STOCK_SESSION") == "1":
        # driver-twin sweep (PERF.md robustness matrix): a session built
        # the way a FOREIGN driver harness would build one — stock Spark
        # defaults (Arrow conversion off, 10 MB auto-broadcast, default
        # AQE, 200 shuffle partitions, host timezone), none of
        # session.get_spark's tuning.  Every registered query must be
        # value-exact here too; anything that silently depends on our
        # session conf is a latent driver-round failure.
        from pyspark.sql import SparkSession

        s = (
            SparkSession.builder.appName("stock-driver-twin")
            .master("local[32]")
            .config("spark.ui.enabled", "false")  # test-box hygiene only
            .getOrCreate()
        )
        yield s
        return
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from dffoo_data_pipeline_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECTNESS
