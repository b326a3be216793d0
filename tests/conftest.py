from __future__ import annotations

import os
import sys

import pytest

TESTS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(TESTS)
sys.path.insert(0, ROOT)
# Executor python workers must be able to unpickle functions defined in
# test modules, and start the engine's daemon module → put this
# checkout + its tests on their import path before the JVM (and thus
# the python workers) start.
os.environ["PYTHONPATH"] = (
    f"{ROOT}:{TESTS}:" + os.environ.get("PYTHONPATH", "")
)

from map_reduce_engine_cdps_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
