"""Unique-constraint + serial semantics, mirroring the reference's e2e
tests (reference: src/sql/mod.rs:277-368 nulls-distinct, :370-426
nulls-not-distinct; serial allocation src/sql/client.rs:276-307).

Each test body runs once per INSERT form (``insert_forms``): as a
VALUES list (checked on the driver) and as the same rows behind
``SELECT * FROM (VALUES …)`` (checked by the distributed pipeline).
Outcomes are the same on both paths."""

import pytest
from pyspark.errors import ArithmeticException

from tests.conftest import insert_forms

from seamdb_spark.errors import (
    NullViolationError,
    SerialOverflowError,
    TypeMismatchError,
    UniqueIndexError,
    UnsupportedError,
)


def _count(df) -> int:
    return df.collect()[0]["count"]


def _ids(engine, table="t") -> list[int]:
    return [r.id for r in engine.sql(f"SELECT id FROM {table} ORDER BY id").collect()]


def test_unique_nulls_distinct(engine):
    # ≙ reference: src/sql/mod.rs:277-368 — two NULLs coexist; a
    # duplicate non-null value is rejected.
    for insert in insert_forms(engine):
        engine.sql(
            "CREATE TABLE t (id serial PRIMARY KEY, v bigint UNIQUE NULLS DISTINCT)"
        )
        assert _count(insert("t (v)", "(1), (NULL)")) == 2
        assert _count(insert("t (v)", "(NULL)")) == 1
        with pytest.raises(UniqueIndexError):
            insert("t (v)", "(1)")
        with pytest.raises(UniqueIndexError):
            insert("t (v)", "(2), (2)")  # in-batch dup
        assert engine.sql("SELECT count(*) AS n FROM t").collect()[0].n == 3


def test_unique_nulls_not_distinct(engine):
    # ≙ reference: src/sql/mod.rs:370-426 — the second NULL conflicts.
    for insert in insert_forms(engine):
        engine.sql(
            "CREATE TABLE t (id serial PRIMARY KEY, v bigint UNIQUE NULLS NOT DISTINCT)"
        )
        insert("t (v)", "(1), (NULL)")
        with pytest.raises(UniqueIndexError):
            insert("t (v)", "(NULL)")
        with pytest.raises(UniqueIndexError):
            insert("t (v)", "(NULL), (NULL)")


def test_pk_duplicate_rejected_and_atomicity(engine):
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE t (id bigint PRIMARY KEY, v text)")
        insert("t", "(1, 'a'), (2, 'b')")
        with pytest.raises(UniqueIndexError):
            insert("t", "(3, 'c'), (1, 'dup')")
        # statement-level atomicity: the non-conflicting row 3 must NOT land
        assert engine.sql("SELECT count(*) AS n FROM t").collect()[0].n == 2


def test_multi_column_unique(engine):
    for insert in insert_forms(engine):
        engine.sql(
            "CREATE TABLE t (id serial PRIMARY KEY, a bigint, b text,"
            " UNIQUE (a, b))"
        )
        insert("t (a, b)", "(1, 'x'), (1, 'y')")
        with pytest.raises(UniqueIndexError):
            insert("t (a, b)", "(1, 'x')")
        # NULLS DISTINCT default: NULL in any key column never conflicts
        insert("t (a, b)", "(1, NULL)")
        insert("t (a, b)", "(1, NULL)")
        insert("t (a, b)", "(2, NULL), (2, NULL)")


def test_multi_column_unique_nulls_not_distinct(engine):
    for insert in insert_forms(engine):
        engine.sql(
            "CREATE TABLE t (id serial PRIMARY KEY, a bigint, b text,"
            " UNIQUE NULLS NOT DISTINCT (a, b))"
        )
        insert("t (a, b)", "(1, NULL), (NULL, NULL), (1, 'x')")
        for rows in ["(1, NULL)", "(NULL, NULL)", "(2, NULL), (2, NULL)", "(1, 'x')"]:
            with pytest.raises(UniqueIndexError):
                insert("t (a, b)", rows)
        assert _count(insert("t (a, b)", "(2, NULL), (NULL, 'x')")) == 2


def test_serial_continues_across_statements(engine):
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
        insert("t (v)", "('a'), ('b')")
        insert("t (v)", "('c')")
        assert _ids(engine) == [1, 2, 3]
        # explicit id is honored, not overwritten
        insert("t (id, v)", "(100, 'x')")
        assert engine.sql("SELECT max(id) AS m FROM t").collect()[0].m == 100


def test_serials_follow_statement_order(engine):
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE t (id bigserial PRIMARY KEY, v text)")
        insert("t (v)", ", ".join(f"('r{i}')" for i in range(40)))
        rows = engine.sql("SELECT id, v FROM t ORDER BY id").collect()
        assert [(r.id, r.v) for r in rows] == [(i + 1, f"r{i}") for i in range(40)]


def test_smallserial_overflow(engine):
    # ≙ reference: src/sql/client.rs:276-307 overflow errors
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE t (id smallserial PRIMARY KEY, v text)")
        engine.store._data["serials"]["db1.public.t.id"] = 2**15 - 1
        with pytest.raises(SerialOverflowError):
            insert("t (v)", "('boom')")


def test_next_serial_allocates_a_range(tmp_path):
    # A batch's serials are a range, not a list: an n-row INSERT holds
    # its ids in O(1) memory.
    from seamdb_spark.catalog import Metastore

    store = Metastore(str(tmp_path / "warehouse"))
    store._data["serials"]["db1.public.t.id"] = 5
    ids = store.next_serial("db1", "t", "id", "int64", count=1000)
    assert isinstance(ids, range)
    assert (ids[0], ids[-1], len(ids)) == (6, 1005, 1000)
    assert store.next_serial("db1", "t", "id", "int64")[0] == 1006
    store.next_serial("db1", "s", "id", "int16", count=2**15 - 1)
    with pytest.raises(SerialOverflowError):
        store.next_serial("db1", "s", "id", "int16")


def test_type_mismatch_and_nullability(engine):
    # ≙ reference: src/sql/client.rs:247-264
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE t (id bigint PRIMARY KEY, v bigint NOT NULL)")
        with pytest.raises(TypeMismatchError):
            insert("t", "(1, 'not a number')")
        with pytest.raises(NullViolationError):
            insert("t", "(1, NULL)")
        with pytest.raises(TypeMismatchError):
            insert("t (id)", "(1, 2)")


def test_smallint_overflow_is_a_cast_error(engine):
    # ANSI casts: a value out of smallint's range fails the cast before
    # any serial is taken or any row lands.
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE t (id serial PRIMARY KEY, s smallint)")
        with pytest.raises(ArithmeticException, match="CAST_OVERFLOW"):
            insert("t (s)", "(7), (40000)")
        insert("t (s)", "(7)")
        rows = engine.sql("SELECT id, s FROM t").collect()
        assert [(r.id, r.s) for r in rows] == [(1, 7)]


def test_null_check_precedes_unique_checks(engine):
    for insert in insert_forms(engine):
        engine.sql(
            "CREATE TABLE t (id bigint PRIMARY KEY, v bigint NOT NULL, u bigint UNIQUE)"
        )
        insert("t", "(1, 1, 5)")
        # clashes on id and u, duplicates on id and u, and a NULL in v
        with pytest.raises(NullViolationError):
            insert("t", "(1, 2, 5), (1, NULL, 5)")


@pytest.mark.parametrize(
    "rows, index",
    [
        ("(2, 1, 1)", "a"),  # clashes on a and b
        ("(2, 1, 7), (3, 9, 7)", "a"),  # a clashes, b duplicates
        ("(2, 5, 1), (3, 5, 9)", "a"),  # a duplicates, b clashes
        ("(2, 6, 1)", "b"),  # b clashes
        ("(2, 6, 8), (3, 7, 8)", "b"),  # b duplicates
        ("(1, 6, 8)", "id"),  # the key clashes
        ("(2, 1, 1), (2, 7, 9)", "id"),  # the key duplicates, a and b clash
    ],
)
def test_unique_errors_follow_index_order(engine, rows, index):
    # Declaration order decides which index reports, whatever kind of
    # violation each index has.
    for insert in insert_forms(engine):
        engine.sql(
            "CREATE TABLE t (id bigint PRIMARY KEY, a bigint UNIQUE, b bigint UNIQUE)"
        )
        insert("t", "(1, 1, 1)")
        with pytest.raises(UniqueIndexError, match=rf"\({index}\)$"):
            insert("t", rows)


def test_explicit_id_clashes_with_serial_key(engine):
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
        insert("t (id, v)", "(2, 'x')")
        with pytest.raises(UniqueIndexError):
            insert("t (v)", "('a'), ('b')")  # takes ids 1 and 2
        insert("t (v)", "('c')")
        assert _ids(engine) == [2, 3]


def test_rejected_insert_still_advances_the_serial(engine):
    # A rejected INSERT consumed its range, as a Postgres sequence does.
    for insert in insert_forms(engine):
        engine.sql(
            "CREATE TABLE t (id serial PRIMARY KEY, v text UNIQUE, n bigint NOT NULL)"
        )
        insert("t (v, n)", "('a', 1)")  # id 1
        with pytest.raises(UniqueIndexError):
            insert("t (v, n)", "('z', 1), ('z', 1)")  # ids 2, 3
        with pytest.raises(UniqueIndexError):
            insert("t (v, n)", "('a', 1)")  # id 4
        with pytest.raises(NullViolationError):
            insert("t (v, n)", "('y', NULL)")  # id 5
        insert("t (v, n)", "('b', 1)")
        assert _ids(engine) == [1, 6]


def test_float_keys_compare_nan_and_signed_zero_equal(engine):
    # Spark's key equality: NaN equals NaN, 0.0 equals -0.0.
    for insert in insert_forms(engine):
        nan, zero, neg_zero = (
            "CAST('NaN' AS DOUBLE)", "CAST('0.0' AS DOUBLE)", "CAST('-0.0' AS DOUBLE)"
        )
        engine.sql("CREATE TABLE t (id bigint PRIMARY KEY, x double precision UNIQUE)")
        for rows in [f"(1, {nan}), (2, {nan})", f"(1, {zero}), (2, {neg_zero})"]:
            with pytest.raises(UniqueIndexError):
                insert("t", rows)
        insert("t", f"(1, {nan}), (2, {neg_zero}), (3, 1.5)")
        for rows in [f"(4, {nan})", f"(4, {zero})", "(4, 1.5)"]:
            with pytest.raises(UniqueIndexError):
                insert("t", rows)
        assert _count(insert("t", f"(4, 2.5), (5, CAST('Infinity' AS DOUBLE))")) == 2


def test_multi_column_float_keys(engine):
    for insert in insert_forms(engine):
        nan = "CAST('NaN' AS DOUBLE)"
        engine.sql(
            "CREATE TABLE t (id bigint PRIMARY KEY, a bigint, x double precision,"
            " UNIQUE (a, x))"
        )
        with pytest.raises(UniqueIndexError):
            insert("t", f"(1, 1, {nan}), (2, 1, {nan})")
        insert("t", f"(1, 1, {nan}), (2, 1, CAST('-0.0' AS DOUBLE))")
        for rows in [f"(3, 1, {nan})", "(3, 1, CAST('0.0' AS DOUBLE))"]:
            with pytest.raises(UniqueIndexError):
                insert("t", rows)
        assert _count(insert("t", f"(3, 2, {nan})")) == 1


def test_bytea_keys_compare_by_bytes(engine):
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE t (id bigint PRIMARY KEY, b bytea UNIQUE)")
        with pytest.raises(UniqueIndexError):
            insert("t", "(1, X'0102'), (2, X'0102')")
        insert("t", "(1, X'0102'), (2, X'010200'), (3, X'')")
        for rows in ["(4, X'0102')", "(4, X'')"]:
            with pytest.raises(UniqueIndexError):
                insert("t", rows)
        assert _count(insert("t", "(4, X'01')")) == 1


def test_text_keys_with_quotes_and_backslashes(engine):
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE t (id bigint PRIMARY KEY, u text UNIQUE)")
        insert("t", "(1, 'it''s'), (2, 'a\\\\b'), (3, 'ü ✓')")
        for rows in ["(4, 'it''s')", "(4, 'a\\\\b')", "(4, 'ü ✓')"]:
            with pytest.raises(UniqueIndexError):
                insert("t", rows)
        assert _count(insert("t", "(4, 'its'), (5, 'a\\\\\\\\b')")) == 2


def test_values_checked_on_driver_select_distributed(engine, monkeypatch):
    import seamdb_spark.dml as dml

    calls = []
    validate = dml.validate_batch
    monkeypatch.setattr(
        dml, "validate_batch", lambda *a, **k: calls.append(1) or validate(*a, **k)
    )
    for insert in insert_forms(engine):
        calls.clear()
        engine.sql("CREATE TABLE t (id serial PRIMARY KEY, v text UNIQUE)")
        insert("t (v)", "('a'), ('b')")
        assert len(calls) == (0 if insert.form == "values" else 1)


def test_insert_on_conflict_rejected(engine):
    engine.sql("CREATE TABLE t (id bigint PRIMARY KEY)")
    with pytest.raises(UnsupportedError):
        engine.sql("INSERT INTO t VALUES (1) ON CONFLICT DO NOTHING")


def test_varchar_length_metadata_not_enforced(engine):
    # ≙ reference: varchar(n) stored as metadata only
    # (src/sql/postgresql/mod.rs:157-168; no insert-time check)
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE t (id bigint PRIMARY KEY, v varchar(3))")
        insert("t", "(1, 'longer than three')")
        assert engine.sql("SELECT v FROM t").collect()[0].v == "longer than three"
        desc = {r.column_name: r for r in engine.sql("DESCRIBE t").collect()}
        assert desc["v"].data_type == "string(3)"
