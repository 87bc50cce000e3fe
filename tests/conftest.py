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


def insert_forms(engine):
    """Yields ``insert(target, rows)`` once per INSERT form: as
    ``INSERT INTO <target> VALUES <rows>`` (checked on the driver), then
    as ``INSERT INTO <target> SELECT * FROM (VALUES <rows>) AS s``
    (checked by the distributed pipeline). The session database's
    tables, and so their serial counters, are dropped before each form,
    so a test body runs from the same state on both paths."""
    for form in ("values", "select"):
        for table in engine.store.list_tables(engine.database):
            engine.sql(f"DROP TABLE {table}")

        def insert(target: str, rows: str, form=form):
            if form == "values":
                return engine.sql(f"INSERT INTO {target} VALUES {rows}")
            return engine.sql(f"INSERT INTO {target} SELECT * FROM (VALUES {rows}) AS s")

        insert.form = form
        yield insert


SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
