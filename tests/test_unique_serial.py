"""Unique-constraint + serial semantics, mirroring the reference's e2e
tests (reference: src/sql/mod.rs:277-368 nulls-distinct, :370-426
nulls-not-distinct; serial allocation src/sql/client.rs:276-307)."""

import pytest

from seamdb_spark.errors import (
    NullViolationError,
    SerialOverflowError,
    TypeMismatchError,
    UniqueIndexError,
    UnsupportedError,
)


def test_unique_nulls_distinct(engine):
    # ≙ reference: src/sql/mod.rs:277-368 — two NULLs coexist; a
    # duplicate non-null value is rejected.
    engine.sql(
        "CREATE TABLE t (id serial PRIMARY KEY, v bigint UNIQUE NULLS DISTINCT)"
    )
    assert engine.sql("INSERT INTO t (v) VALUES (1), (NULL)").collect()[0]["count"] == 2
    assert engine.sql("INSERT INTO t (v) VALUES (NULL)").collect()[0]["count"] == 1
    with pytest.raises(UniqueIndexError):
        engine.sql("INSERT INTO t (v) VALUES (1)")
    with pytest.raises(UniqueIndexError):
        engine.sql("INSERT INTO t (v) VALUES (2), (2)")  # in-batch dup
    assert engine.sql("SELECT count(*) AS n FROM t").collect()[0].n == 3


def test_unique_nulls_not_distinct(engine):
    # ≙ reference: src/sql/mod.rs:370-426 — the second NULL conflicts.
    engine.sql(
        "CREATE TABLE t (id serial PRIMARY KEY, v bigint UNIQUE NULLS NOT DISTINCT)"
    )
    engine.sql("INSERT INTO t (v) VALUES (1), (NULL)")
    with pytest.raises(UniqueIndexError):
        engine.sql("INSERT INTO t (v) VALUES (NULL)")
    with pytest.raises(UniqueIndexError):
        engine.sql("INSERT INTO t (v) VALUES (NULL), (NULL)")


def test_pk_duplicate_rejected_and_atomicity(engine):
    engine.sql("CREATE TABLE t (id bigint PRIMARY KEY, v text)")
    engine.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    with pytest.raises(UniqueIndexError):
        engine.sql("INSERT INTO t VALUES (3, 'c'), (1, 'dup')")
    # statement-level atomicity: the non-conflicting row 3 must NOT land
    assert engine.sql("SELECT count(*) AS n FROM t").collect()[0].n == 2


def test_multi_column_unique(engine):
    engine.sql(
        "CREATE TABLE t (id serial PRIMARY KEY, a bigint, b text,"
        " UNIQUE (a, b))"
    )
    engine.sql("INSERT INTO t (a, b) VALUES (1, 'x'), (1, 'y')")
    with pytest.raises(UniqueIndexError):
        engine.sql("INSERT INTO t (a, b) VALUES (1, 'x')")
    # NULLS DISTINCT default: NULL in any key column never conflicts
    engine.sql("INSERT INTO t (a, b) VALUES (1, NULL)")
    engine.sql("INSERT INTO t (a, b) VALUES (1, NULL)")


def test_serial_continues_across_statements(engine):
    engine.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
    engine.sql("INSERT INTO t (v) VALUES ('a'), ('b')")
    engine.sql("INSERT INTO t (v) VALUES ('c')")
    ids = [r.id for r in engine.sql("SELECT id FROM t ORDER BY id").collect()]
    assert ids == [1, 2, 3]
    # explicit id is honored, not overwritten
    engine.sql("INSERT INTO t (id, v) VALUES (100, 'x')")
    assert engine.sql("SELECT max(id) AS m FROM t").collect()[0].m == 100


def test_smallserial_overflow(engine):
    # ≙ reference: src/sql/client.rs:276-307 overflow errors
    engine.sql("CREATE TABLE t (id smallserial PRIMARY KEY, v text)")
    engine.store._data["serials"]["db1.public.t.id"] = 2**15 - 1
    with pytest.raises(SerialOverflowError):
        engine.sql("INSERT INTO t (v) VALUES ('boom')")


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
    engine.sql("CREATE TABLE t (id bigint PRIMARY KEY, v bigint NOT NULL)")
    with pytest.raises(TypeMismatchError):
        engine.sql("INSERT INTO t VALUES (1, 'not a number')")
    with pytest.raises(NullViolationError):
        engine.sql("INSERT INTO t VALUES (1, NULL)")
    with pytest.raises(TypeMismatchError):
        engine.sql("INSERT INTO t (id) VALUES (1, 2)")


def test_insert_on_conflict_rejected(engine):
    engine.sql("CREATE TABLE t (id bigint PRIMARY KEY)")
    with pytest.raises(UnsupportedError):
        engine.sql("INSERT INTO t VALUES (1) ON CONFLICT DO NOTHING")


def test_varchar_length_metadata_not_enforced(engine):
    # ≙ reference: varchar(n) stored as metadata only
    # (src/sql/postgresql/mod.rs:157-168; no insert-time check)
    engine.sql("CREATE TABLE t (id bigint PRIMARY KEY, v varchar(3))")
    engine.sql("INSERT INTO t VALUES (1, 'longer than three')")
    assert engine.sql("SELECT v FROM t").collect()[0].v == "longer than three"
    desc = {r.column_name: r for r in engine.sql("DESCRIBE t").collect()}
    assert desc["v"].data_type == "string(3)"
