from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout these tests belong to, wherever it lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from btrblocks_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="btrblocks-tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
