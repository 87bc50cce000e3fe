"""Oracle dtype gate (round-6 lesson).

Round 6 shipped 3 driver-red rows (m21/t41/g07) whose Spark values were
bit-equal to the oracle's: DuckDB had typed an un-CAST integer division
over ``SUM(BIGINT)`` as HUGEINT (INT128), which the driver's hash
renders unlike Spark's BIGINT. These tests make that class of bug
impossible to reach the driver again:

* every registered oracle must type without a HUGEINT/UHUGEINT column
  (DuckDB binding only — no query execution, so the full 276-oracle
  sweep runs in seconds);
* the shared gate (``scripts/parity_check.oracle_dtype_problems``) must
  catch a seeded HUGEINT regression and a seeded int-vs-float split.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "scripts"))

from parity_check import oracle_dtype_problems  # noqa: E402
from seamdb_spark import TPCH_TABLES  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()


def test_no_registered_oracle_types_hugeint(duck):
    import __spark_entry__ as entrymod

    offenders = {}
    for name, sql in entrymod.oracle_sql().items():
        rel = duck.sql(sql)  # binds/plans; fetch not needed for types
        problems = oracle_dtype_problems(rel.columns, rel.types)
        if problems:
            offenders[name] = problems
    assert not offenders, f"HUGEINT oracle columns: {offenders}"


def test_gate_catches_seeded_hugeint(duck):
    # the exact round-6 shape: integer division over SUM(BIGINT)
    rel = duck.sql(
        "SELECT (1000 * SUM(l_quantity_raw)) // COUNT(*) AS milli "
        "FROM (SELECT CAST(l_quantity AS BIGINT) AS l_quantity_raw "
        "      FROM lineitem)"
    )
    problems = oracle_dtype_problems(rel.columns, rel.types)
    assert problems and "HUGEINT" in problems[0] and "milli" in problems[0]
    # and the CAST fix silences it
    rel2 = duck.sql(
        "SELECT CAST((1000 * SUM(l_quantity_raw)) // COUNT(*) AS BIGINT) "
        "AS milli FROM (SELECT CAST(l_quantity AS BIGINT) AS l_quantity_raw "
        "               FROM lineitem)"
    )
    assert oracle_dtype_problems(rel2.columns, rel2.types) == []


def test_gate_catches_int_vs_float_split(duck, spark):
    rel = duck.sql("SELECT CAST(1 AS BIGINT) AS v")
    sdf = spark.sql("SELECT CAST(1.0 AS DOUBLE) AS v")
    problems = oracle_dtype_problems(rel.columns, rel.types, sdf.schema)
    assert problems and "int-vs-float" in problems[0]
    sdf_ok = spark.sql("SELECT CAST(1 AS BIGINT) AS v")
    assert oracle_dtype_problems(rel.columns, rel.types, sdf_ok.schema) == []
