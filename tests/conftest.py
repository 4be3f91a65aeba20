from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from cuttlefish_spark.session import get_spark  # noqa: E402

# sf0.001 keeps the suite fast; set SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01
# to run the oracle tests at the driver's correctness scale.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# The suite's session runs on local[8] unless SPARK_GRAFT_CPUS says otherwise.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cuttlefish-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR
