from __future__ import annotations

import os
import sys

import pytest

# the checkout these tests belong to (not whatever copy is installed)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from geolake_spark.session import get_spark  # noqa: E402
from geolake_spark.sources import synth  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="geolake_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def synth_paths():
    return synth.ensure_local_tables(os.path.join(ROOT, "data"), "0.001")


@pytest.fixture(scope="session")
def pages(spark, synth_paths):
    return spark.read.parquet(synth_paths["pages"])


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-minute scale-evidence tests (run by default)")
