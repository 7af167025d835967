from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from citibike_deep_dive_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.001"  # parity tests run at the tiny sf


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "pipeline: the ingest pipeline's suite (sources, state, normalize, operators, "
        "pipeline, plan reuse, remote); run alone with `pytest -m pipeline tests/`",
    )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="citibike-tests", shuffle_partitions=8)
    yield spark
    spark.stop()
