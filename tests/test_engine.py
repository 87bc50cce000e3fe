"""End-to-end engine tests mirroring the reference's SQL e2e suite
(reference: src/sql/mod.rs:175-275 — create db/table, multi-row insert
returning count, multi-column ORDER BY with Postgres NULL placement,
session functions; :587-638 DDL descriptor assertions)."""

import pytest

from seamdb_spark.errors import (
    InvalidArgumentError,
    TableAlreadyExistsError,
    TableNotFoundError,
    UnsupportedError,
)


def _setup_table1(engine):
    engine.sql(
        """CREATE TABLE table1 (
            id serial PRIMARY KEY,
            count bigint,
            price double precision,
            description text
        )"""
    )


def test_create_database_result_strings(engine):
    assert engine.sql("CREATE DATABASE db2").collect()[0].result == "created"
    assert (
        engine.sql("CREATE DATABASE IF NOT EXISTS db2").collect()[0].result
        == "already exists"
    )
    with pytest.raises(Exception):
        engine.sql("CREATE DATABASE db2")


def test_create_table_and_describe(engine):
    _setup_table1(engine)
    assert (
        engine.sql("CREATE TABLE IF NOT EXISTS table1 (id int PRIMARY KEY)")
        .collect()[0]
        .result
        == "already exists"
    )
    with pytest.raises(TableAlreadyExistsError):
        engine.sql("CREATE TABLE table1 (id int PRIMARY KEY)")
    desc = {r.column_name: r for r in engine.sql("DESCRIBE table1").collect()}
    assert desc["id"].serial and not desc["id"].nullable
    assert desc["count"].data_type == "int64" and desc["count"].nullable
    assert desc["price"].data_type == "float64"
    assert desc["description"].data_type == "string"


def test_insert_returns_count_and_serial_assignment(engine):
    _setup_table1(engine)
    n = engine.sql(
        "INSERT INTO table1 (count, price, description) VALUES"
        " (4, 15.6, 'window'), (3, 0.8, 'door'), (8, 2.5, NULL)"
    ).collect()[0]["count"]
    assert n == 3
    rows = engine.sql("SELECT id, count, description FROM table1 ORDER BY id").collect()
    assert [r.id for r in rows] == [1, 2, 3]
    assert rows[2].description is None


def test_order_by_null_placement_matches_postgres(engine):
    # ≙ reference: src/sql/mod.rs:236-260 — under `count DESC` the NULL
    # count row sorts FIRST (Postgres default), id ASC ties.
    _setup_table1(engine)
    engine.sql(
        "INSERT INTO table1 (count, price, description) VALUES"
        " (4, 15.6, 'a'), (NULL, 0.8, 'b'), (4, 2.5, 'c')"
    )
    rows = engine.sql(
        "SELECT id, count FROM table1 ORDER BY count DESC, id ASC"
    ).collect()
    assert [r.id for r in rows] == [2, 1, 3]
    rows = engine.sql("SELECT id, count FROM table1 ORDER BY count ASC").collect()
    assert rows[-1]["count"] is None  # ASC → NULLS LAST


def test_insert_select_and_aggregates(engine):
    _setup_table1(engine)
    engine.sql(
        "INSERT INTO table1 (count, price, description) VALUES"
        " (4, 15.6, 'x'), (6, 2.0, 'y')"
    )
    n = engine.sql(
        "INSERT INTO table1 (count, price, description)"
        " SELECT count * 10, price, description FROM table1"
    ).collect()[0]["count"]
    assert n == 2
    agg = engine.sql(
        "SELECT sum(count) AS s, max(price) AS mx, count(*) AS n FROM table1"
    ).collect()[0]
    assert (agg.s, agg.n) == (4 + 6 + 40 + 60, 4)


def test_session_functions(engine):
    row = engine.sql(
        "SELECT current_catalog AS c, current_schema AS s,"
        " current_user AS u, inet_client_port() AS p"
    ).collect()[0]
    assert (row.c, row.s, row.u, row.p) == ("db1", "public", "tester", 0)


def test_single_statement_enforced(engine):
    with pytest.raises(InvalidArgumentError):
        engine.sql("SELECT 1; SELECT 2")
    with pytest.raises(InvalidArgumentError):
        engine.sql("   ")


def test_unsupported_statements(engine):
    for stmt in [
        "CREATE VIEW v AS SELECT 1",
        "CREATE INDEX i ON t (c)",
        "CREATE SCHEMA s",
        "CREATE FUNCTION f() RETURNS int",
        "CREATE EXTERNAL TABLE t (id int) LOCATION 'x'",
        "BEGIN",
        "COMMIT",
        "UPDATE t SET c = 1",
        "DELETE FROM t",
        "CREATE TEMP TABLE t (id int PRIMARY KEY)",
    ]:
        with pytest.raises(UnsupportedError):
            engine.sql(stmt)


def test_default_rejected(engine):
    # ≙ reference: src/sql/postgresql/mod.rs:192
    with pytest.raises(UnsupportedError):
        engine.sql("CREATE TABLE t (id int PRIMARY KEY, c int DEFAULT 5)")


def test_primary_key_mandatory(engine):
    # ≙ reference: src/sql/shared.rs:156-158
    with pytest.raises(InvalidArgumentError):
        engine.sql("CREATE TABLE t (id int, c text)")


def test_drop_table(engine):
    _setup_table1(engine)
    engine.sql("INSERT INTO table1 (count) VALUES (1)")
    assert engine.sql("DROP TABLE table1").collect()[0].result == "dropped"
    with pytest.raises(TableNotFoundError):
        engine.sql("SELECT * FROM table1")  # view gone after re-register
    assert (
        engine.sql("DROP TABLE IF EXISTS table1").collect()[0].result
        == "does not exist"
    )
    with pytest.raises(TableNotFoundError):
        engine.sql("DROP TABLE table1")


def test_pg_cast_rewrite(engine):
    row = engine.sql("SELECT '41'::int + 1 AS v, 2.5::text AS t").collect()[0]
    assert row.v == 42 and row.t in ("2.5",)


def test_show_tables(engine):
    _setup_table1(engine)
    engine.sql("CREATE TABLE zeta (id int PRIMARY KEY)")
    names = [r.table_name for r in engine.sql("SHOW TABLES").collect()]
    assert names == ["table1", "zeta"]


def test_explain_passthrough(engine):
    _setup_table1(engine)
    plan = engine.sql("EXPLAIN SELECT count FROM table1 WHERE count > 2").collect()
    assert "Filter" in plan[0][0] or "Scan" in plan[0][0]


def test_udf_registration_surface(engine, spark):
    # ≙ reference UDF registration API (state.register_udf,
    # src/sql/mod.rs:85-88; ContextProvider lookup :295-317) — Spark's
    # native surface is spark.udf.register, usable through engine.sql.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def double_it(s: pd.Series) -> pd.Series:
        return s * 2.0

    spark.udf.register("double_it", double_it)
    _setup_table1(engine)
    engine.sql("INSERT INTO table1 (count, price) VALUES (1, 2.5), (2, 10.0)")
    rows = engine.sql(
        "SELECT id, double_it(price) AS p2 FROM table1 ORDER BY id"
    ).collect()
    assert [r.p2 for r in rows] == [5.0, 20.0]


def test_large_insert_select_serial_uniqueness(engine, spark):
    # serial assignment must stay dense+unique on a multi-partition input
    engine.sql("CREATE TABLE big (id serial PRIMARY KEY, v bigint)")
    spark.range(0, 10000, 1, 8).createOrReplaceTempView("src10k")
    n = engine.sql("INSERT INTO big (v) SELECT id FROM src10k").collect()[0]["count"]
    assert n == 10000
    stats = engine.sql(
        "SELECT count(*) AS n, count(DISTINCT id) AS nd, min(id) AS lo,"
        " max(id) AS hi FROM big"
    ).collect()[0]
    assert (stats.n, stats.nd, stats.lo, stats.hi) == (10000, 10000, 1, 10000)


def test_information_schema(engine):
    _setup_table1(engine)
    engine.sql("CREATE TABLE other (x bigint PRIMARY KEY)")
    rows = engine.sql(
        "SELECT table_name, table_type FROM information_schema.tables"
        " ORDER BY table_name"
    ).collect()
    assert [r.table_name for r in rows] == ["other", "table1"]
    cols = engine.sql(
        "SELECT column_name, data_type, is_nullable"
        " FROM information_schema.columns WHERE table_name = 'table1'"
        " ORDER BY ordinal_position"
    ).collect()
    assert [c.column_name for c in cols] == ["id", "count", "price", "description"]
    assert cols[0].is_nullable == "NO" and cols[1].is_nullable == "YES"


def test_information_schema_full_surface(engine):
    # ≙ reference src/sql/mod.rs:82 — DataFusion's ENTIRE
    # information_schema is on: schemata/views/df_settings/routines/
    # parameters resolve too, and tables spans all databases.
    _setup_table1(engine)
    engine.sql("CREATE DATABASE isdb2")
    engine.sql("CREATE TABLE isdb2.public.t2 (x bigint PRIMARY KEY)")
    rows = engine.sql(
        "SELECT table_catalog, table_name FROM information_schema.tables"
        " ORDER BY table_catalog, table_name"
    ).collect()
    assert ("isdb2", "t2") in [(r.table_catalog, r.table_name) for r in rows]
    schemata = engine.sql(
        "SELECT catalog_name, schema_name FROM information_schema.schemata"
        " ORDER BY catalog_name, schema_name"
    ).collect()
    assert ("isdb2", "public") in [(r.catalog_name, r.schema_name) for r in schemata]
    assert engine.sql("SELECT * FROM information_schema.views").count() == 0
    tz = engine.sql(
        "SELECT value FROM information_schema.df_settings"
        " WHERE name = 'spark.sql.session.timeZone'"
    ).collect()
    assert tz[0].value == "UTC"
    fns = {
        r.routine_name
        for r in engine.sql(
            "SELECT routine_name FROM information_schema.routines"
        ).collect()
    }
    assert {"current_catalog", "current_schema", "current_user"} <= fns
    assert engine.sql("SELECT * FROM information_schema.parameters").count() == 0


def test_qualified_table_names(engine):
    # 3-level naming resolves: db.public.t, public.t, bare t
    _setup_table1(engine)
    engine.sql("INSERT INTO table1 (count) VALUES (7)")
    for name in ("table1", "public.table1", "db1.public.table1"):
        assert engine.sql(f"SELECT count(*) AS n FROM {name}").collect()[0].n == 1


def test_cross_database_qualified_names(engine):
    # ≙ reference: src/sql/mod.rs:120,130 — names resolve per-session
    # with default schema "public"; other databases reachable via
    # 3-part names in DDL, DML, and queries.
    from seamdb_spark.errors import DatabaseNotFoundError

    _setup_table1(engine)
    engine.sql("INSERT INTO table1 (count) VALUES (7)")
    engine.sql("CREATE DATABASE db2")
    engine.sql("CREATE TABLE db2.public.t2 (k bigint PRIMARY KEY, v text)")
    assert engine.sql("INSERT INTO db2.public.t2 VALUES (1, 'x'), (2, 'y')").collect()[
        0
    ]["count"] == 2
    assert engine.sql("SELECT count(*) AS n FROM db2.public.t2").collect()[0].n == 2
    # cross-database join with the session database's bare name
    joined = engine.sql(
        "SELECT t2.v FROM db2.public.t2 t2 JOIN table1 ON t2.k < table1.count"
        " ORDER BY t2.v"
    ).collect()
    assert [r.v for r in joined] == ["x", "y"]
    desc = {r.column_name for r in engine.sql("DESCRIBE db2.public.t2").collect()}
    assert desc == {"k", "v"}
    with pytest.raises(DatabaseNotFoundError):
        engine.sql("SELECT * FROM nosuch.public.t2")
    with pytest.raises(DatabaseNotFoundError):
        engine.sql("INSERT INTO nosuch.public.t2 VALUES (1, 'x')")
    with pytest.raises(DatabaseNotFoundError):
        engine.sql("CREATE TABLE db2.private.t3 (k bigint PRIMARY KEY)")
    engine.sql("DROP TABLE db2.public.t2")
    with pytest.raises(TableNotFoundError):
        engine.sql("DESCRIBE db2.public.t2")


def test_identifier_case_folding(engine):
    # Unquoted identifiers fold to lowercase (DataFusion/Postgres
    # normalization) — mixed-case DDL/DML/queries all hit one table.
    engine.sql("CREATE TABLE Foo (Id bigint PRIMARY KEY, Val text)")
    assert engine.sql("INSERT INTO FOO (ID, VAL) VALUES (1, 'a')").collect()[0][
        "count"
    ] == 1
    desc = {r.column_name for r in engine.sql("DESCRIBE Foo").collect()}
    assert desc == {"id", "val"}
    assert engine.sql("SELECT Val FROM foo").collect()[0].Val == "a"
    assert "foo" in [
        r.table_name for r in engine.sql("SHOW TABLES").collect()
    ]


def test_explicit_null_serial_rejected(engine):
    # ≙ reference client.rs prefill_row: serial fills only when the
    # column is OMITTED; an explicit NULL into a non-nullable serial is
    # a null violation, not a silent fill.
    from seamdb_spark.errors import NullViolationError

    engine.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
    with pytest.raises(NullViolationError):
        engine.sql("INSERT INTO t (id, v) VALUES (NULL, 'x')")
    # omitted column still auto-fills
    assert engine.sql("INSERT INTO t (v) VALUES ('y')").collect()[0]["count"] == 1
    assert engine.sql("SELECT id FROM t").collect()[0].id == 1



def _collect_counting_jobs(spark, df):
    """``df.collect()`` and the number of Spark jobs it ran, read from
    the status store under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"collect-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_statement_results_run_no_spark_job(engine, spark):
    # Catalog and DML results are built on the driver; reading them
    # must not schedule a job (they are local relations, not RDDs).
    from pyspark.sql import types as T

    def field(name, dtype):
        return T.StructField(name, dtype, False)

    result = T.StructType([field("result", T.StringType())])
    cases = [
        ("CREATE TABLE t (id serial PRIMARY KEY, v text)", result, [("created",)]),
        ("INSERT INTO t (v) VALUES ('a'), ('b')",
         T.StructType([field("count", T.LongType())]), [(2,)]),
        ("SHOW TABLES", T.StructType([field("table_name", T.StringType())]),
         [("t",)]),
        ("SHOW DATABASES", T.StructType([field("database_name", T.StringType())]),
         [("db1",)]),
        ("DESCRIBE t", T.StructType([
            field("column_name", T.StringType()),
            field("data_type", T.StringType()),
            field("nullable", T.BooleanType()),
            field("serial", T.BooleanType()),
        ]), [("id", "int32", False, True), ("v", "string", True, False)]),
    ]
    for stmt, schema, expected in cases:
        df = engine.sql(stmt)
        rows, jobs = _collect_counting_jobs(spark, df)
        assert jobs == 0, stmt
        # the JVM-side schema (a fresh projection), not the cached one
        assert df.select("*").schema == schema, stmt
        assert [tuple(r) for r in rows] == expected, stmt


def test_local_frame_keeps_row_checks(spark):
    from pyspark.sql import types as T

    from seamdb_spark.session import local_frame

    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("vec", T.ArrayType(T.LongType()), True),
    ])
    with pytest.raises(ValueError):
        local_frame(spark, [(None, "a", None)], schema)
    for bad in [("1", "a", None), (1, 2, None), (1.5, "a", None), (1, "a", ["x"])]:
        with pytest.raises(TypeError):
            local_frame(spark, [bad], schema)
    empty = local_frame(spark, [], schema)
    assert empty.select("*").schema == schema
    assert empty.collect() == []
    # A vanilla session (no build_session confs) has the Arrow conf off.
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [(1, "a", [1, 2]), (2, None, None)], schema)
        rows, jobs = _collect_counting_jobs(spark, df)
    finally:
        spark.conf.set(key, before)
    assert [tuple(r) for r in rows] == [(1, "a", [1, 2]), (2, None, None)]
    assert jobs == 0
    assert df.select("*").schema == schema


def test_information_schema_statement_pins_snapshots(engine, spark, tmp_path):
    # A query joining information_schema with a user table reads the
    # table's current snapshot, not whichever view was registered last.
    from seamdb_spark.engine import Engine

    q = (
        "SELECT count(*) AS n FROM t WHERE EXISTS"
        " (SELECT 1 FROM information_schema.tables WHERE table_name = 't')"
    )
    engine.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
    engine.sql("INSERT INTO t (v) VALUES ('a')")
    assert engine.sql("SELECT count(*) AS n FROM t").collect()[0].n == 1
    engine.sql("INSERT INTO t (v) VALUES ('b')")
    assert engine.sql(q).collect()[0].n == 2
    other = Engine(spark, str(tmp_path / "warehouse2"), database="db1")
    other.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
    assert other.sql(q).collect()[0].n == 0


def test_information_schema_name_inside_literal_unchanged(engine):
    row = engine.sql(
        "SELECT 'information_schema.tables' AS s, 'x' AS information_schema"
    ).collect()[0]
    assert (row.s, row.information_schema) == ("information_schema.tables", "x")


def _count_view_work(monkeypatch, spark):
    """Counters of ``spark.read.parquet`` calls and temp-view
    registrations, patched for the rest of the test."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {"parquet": 0, "views": 0}

    def counting(key, orig):
        def wrapped(*args, **kwargs):
            calls[key] += 1
            return orig(*args, **kwargs)
        return wrapped

    reader = type(spark.read)
    monkeypatch.setattr(reader, "parquet", counting("parquet", reader.parquet))
    monkeypatch.setattr(
        DataFrame, "createOrReplaceTempView",
        counting("views", DataFrame.createOrReplaceTempView),
    )
    return calls


def test_unchanged_tables_keep_their_views(engine, spark, monkeypatch):
    engine.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
    engine.sql("CREATE TABLE u (k bigint PRIMARY KEY)")
    engine.sql("INSERT INTO t (v) VALUES ('a'), ('b')")
    engine.sql("INSERT INTO u VALUES (1)")
    q = "SELECT count(*) AS n FROM t JOIN db1.public.u u ON t.id = u.k"
    assert engine.sql(q).collect()[0].n == 1
    calls = _count_view_work(monkeypatch, spark)
    assert engine.sql(q).collect()[0].n == 1
    assert calls == {"parquet": 0, "views": 0}
    # a commit re-points only the changed table's two views
    engine.sql("INSERT INTO u VALUES (2)")
    calls.update(parquet=0, views=0)  # the INSERT's own clash scan
    assert engine.sql(q).collect()[0].n == 2
    assert calls == {"parquet": 1, "views": 2}


def _files_read(engine, table):
    from urllib.parse import urlparse

    return {
        urlparse(r.f).path
        for r in engine.sql(f"SELECT DISTINCT input_file_name() AS f FROM {table}")
        .collect()
    }


def test_views_follow_every_snapshot_change(engine, spark, tmp_path):
    from seamdb_spark.engine import Engine
    from seamdb_spark.snapshots import TableSnapshots

    def n(eng, table="t"):
        return eng.sql(f"SELECT count(*) AS n FROM {table}").collect()[0].n

    engine.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
    engine.sql("INSERT INTO t (v) VALUES ('a')")
    assert n(engine) == 1
    engine.sql("INSERT INTO t (v) VALUES ('b'), ('c')")
    assert n(engine) == 3
    # compaction: same rows, new files; the view reads the new ones
    engine.compact("t")
    snaps = TableSnapshots(engine.store.table_dir("db1", "t"))
    assert _files_read(engine, "t") == set(snaps.current_files())
    assert n(engine) == 3
    # DROP then CREATE of the same name
    engine.sql("DROP TABLE t")
    engine.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
    assert n(engine) == 0
    engine.sql("INSERT INTO t (v) VALUES ('d')")
    assert n(engine) == 1
    # another warehouse with the same database and table name
    other = Engine(spark, str(tmp_path / "warehouse2"), database="db1")
    other.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
    other.sql("INSERT INTO t (v) VALUES ('x'), ('y')")
    assert n(other) == 2 and n(other, "db1.public.t") == 2
    assert n(engine) == 1 and n(engine, "db1.public.t") == 1
    # another session database: bare names re-point to its tables
    engine.sql("CREATE DATABASE db2")
    engine.sql("CREATE TABLE db2.public.t (id serial PRIMARY KEY, v text)")
    engine.sql("INSERT INTO db2.public.t (v) VALUES ('p'), ('q'), ('r')")
    in_db2 = Engine(spark, str(tmp_path / "warehouse"), database="db2")
    assert n(in_db2) == 3 and n(in_db2, "db1.public.t") == 1
    assert n(engine) == 1 and n(engine, "db2.public.t") == 3


def test_foreign_view_replacement_is_repaired(engine, spark):
    # Engine view names share the session's temp-view namespace; a view
    # that other code replaced is re-pointed on the next statement.
    engine.sql("CREATE TABLE t (id serial PRIMARY KEY, v text)")
    engine.sql("INSERT INTO t (v) VALUES ('a'), ('b')")
    assert engine.sql("SELECT count(*) AS n FROM t").collect()[0].n == 2
    spark.range(5).createOrReplaceTempView("t")
    spark.range(7).createOrReplaceTempView("db1__public__t")
    assert engine.sql("SELECT count(*) AS n FROM t").collect()[0].n == 2
    assert engine.sql("SELECT count(*) AS n FROM db1.public.t").collect()[0].n == 2
    spark.catalog.dropTempView("t")
    assert engine.sql("SELECT count(*) AS n FROM t").collect()[0].n == 2


def test_bench_trajectory_gate():
    """bench.py's regression gate (round-8): a query slower than
    max(2x, +2s) of its own last clean-run time fails; new queries,
    allowlisted queries, and other-SF baselines gate nothing."""
    import bench

    base = {"sf": 0.1, "queries": {"fast": 0.4, "slow": 5.0, "plan": 1.0}}
    # within bounds: small-query jitter is absorbed by the +2s guard,
    # big-query jitter by the 2x factor
    assert bench.check_regressions(
        {"fast": 1.1, "slow": 9.9, "brand_new": 99.0}, base, 0.1
    ) == []
    # breaches: fast needs > 2.4s, slow needs > 10s
    hits = bench.check_regressions({"fast": 2.5, "slow": 10.1}, base, 0.1)
    assert {h["query"] for h in hits} == {"fast", "slow"}
    assert hits[0]["bound"] == 2.4
    # allowlist exempts a deliberate plan change
    assert bench.check_regressions(
        {"plan": 50.0}, base, 0.1, allow={"plan": "reason recorded"}
    ) == []
    # a baseline recorded at another SF never gates
    assert bench.check_regressions({"fast": 99.0}, base, 0.001) == []
