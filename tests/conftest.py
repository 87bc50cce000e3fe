import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from seamdb_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        "seamdb_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/seamdb_test_warehouse"},
    )
    yield s


@pytest.fixture()
def engine(spark, tmp_path):
    from seamdb_spark.engine import Engine

    return Engine(spark, str(tmp_path / "warehouse"), database="db1", user="tester")


SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
