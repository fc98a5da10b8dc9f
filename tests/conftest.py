from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from exact_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="exact-spark-tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
