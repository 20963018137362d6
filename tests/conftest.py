from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    from capgemini_himss24_fhirbulkdata_demo_spark.session import get_spark

    s = get_spark(master="local[4]")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
