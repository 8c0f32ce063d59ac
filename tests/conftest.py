from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    # applyInPandas warns, then falls back to the grouped-map eval type, when
    # a group function's hints are partial (e.g. `pdf` annotated, `key` not):
    # a group function carries full hints or none
    config.addinivalue_line("filterwarnings", "error:Cannot infer the eval type from type hints:UserWarning")


@pytest.fixture(scope="session")
def spark():
    from terrakit_spark.session import get_spark

    s = get_spark(master="local[8]", app_name="terrakit_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def synth(spark, sf_dir):
    from terrakit_spark.catalog import _register_views

    _register_views(spark, sf_dir)
    return spark


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.util import duck_connect

    con = duck_connect(sf_dir)
    yield con
    con.close()
