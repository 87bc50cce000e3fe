"""Engine: the SQL entry point.

≙ PostgreSqlExecutor + SqlContext (reference: src/sql/mod.rs:77-155,
src/sql/context.rs:59-66): a session carries (database, user); each
``sql()`` call is exactly one statement, executed against a snapshot of
the catalog and table data resolved at statement start; DDL/DML are
intercepted before the relational planner exactly as the reference
intercepts CREATE TABLE before DataFusion
(reference: src/sql/postgresql/mod.rs:121-268).

Query lifecycle (≙ SURVEY.md §3.1):
  sql text → single-statement check → classify
    ├─ CREATE DATABASE/TABLE, DROP TABLE → metastore ops
    │    → 1-row ``result`` DataFrame ("created"/"already exists")
    ├─ INSERT → [… SELECT: pin snapshots, spark.sql] → dml.execute_insert
    │    (a VALUES list is checked on the driver, a SELECT distributed)
    │    → 1-row ``count`` DataFrame
    └─ query, information_schema included → pin the current table
       snapshots as temp views → dialect normalization (::casts,
       session functions, Postgres NULL ordering) → spark.sql
       [Catalyst = DataFusion's role]

Pinning (``_register_views``) reads each table's manifest once per
statement. A view is re-pointed only when its table's snapshot
identity (table dir, schema, manifest file list) changed, or when the
session's temp view of that name no longer holds the engine's plan;
an unchanged table keeps its parquet relation across statements.

Catalog and DML results (SHOW, DESCRIBE, information_schema, the
``result``/``count`` rows) are JVM local relations (``local_frame``):
collecting them runs no Spark job.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import sqlparse
from .catalog import DEFAULT_SCHEMA, Metastore
from .dml import execute_insert
from .errors import DatabaseNotFoundError, TableNotFoundError
from .session import local_frame
from .snapshots import TableSnapshots, recorded_bytes, segment_files

_RESULT_SCHEMA = T.StructType([T.StructField("result", T.StringType(), False)])
_COUNT_SCHEMA = T.StructType([T.StructField("count", T.LongType(), False)])


class _View(NamedTuple):
    """An engine temp view: the snapshot identity it shows, its frame,
    and the session's view relation right after the engine registered
    it (a JVM ``Option[TemporaryViewRelation]``)."""

    identity: tuple
    frame: DataFrame
    plan: object


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        database: str = "main",
        user: str = "root",
    ) -> None:
        self.spark = spark
        self.store = Metastore(warehouse_dir)
        self.database = database
        self.user = user
        # Engine-registered temp views: name -> _View, shared across all
        # Engine instances on the same session (temp views are
        # session-wide), so a dropped table's view stops resolving and a
        # view another Engine re-pointed is re-pointed back.
        if not hasattr(spark, "_seamdb_engine_views"):
            spark._seamdb_engine_views = {}
        self._views: dict[str, _View] = spark._seamdb_engine_views
        if not self.store.database_exists(database):
            self.store.create_database(database, if_not_exists=True)
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    # ------------------------------------------------------------ api
    def sql(self, text: str) -> DataFrame:
        stmt = sqlparse.single_statement(text)
        kind = sqlparse.classify(stmt)
        if kind == "create_database":
            name, if_not_exists = sqlparse.parse_create_database(stmt)
            return self._result(self.store.create_database(name, if_not_exists))
        if kind == "create_table":
            parsed = sqlparse.parse_create_table(stmt)
            db, table = self._resolve_table(parsed.name)
            parsed.descriptor.name = table
            return self._result(
                self.store.create_table(db, parsed.descriptor, parsed.if_not_exists)
            )
        if kind == "drop_table":
            name, if_exists = sqlparse.parse_drop_table(stmt)
            db, table = self._resolve_table(name)
            result = self.store.drop_table(db, table, if_exists)
            if result == "dropped":
                TableSnapshots(self.store.table_dir(db, table)).drop()
            return self._result(result)
        if kind == "insert":
            return self._insert(stmt)
        return self._query(stmt)

    def table(self, name: str, version: int | None = None) -> DataFrame:
        """Snapshot of a table as a DataFrame (library path). ``version``
        reads a retained historical snapshot — time travel, the batch
        analogue of the reference's MVCC read-at-timestamp."""
        desc = self.store.get_table(self.database, name)
        snaps = TableSnapshots(self.store.table_dir(self.database, name))
        return snaps.read(self.spark, desc.spark_schema(), version=version)

    def compact(self, name: str) -> int:
        """Rewrite the table's current snapshot (OPTIMIZE): appends
        accumulate small files; compaction coalesces the scan (no
        exchange) into ``segment_files`` of the manifest-recorded bytes
        (an unmeasured legacy snapshot keeps the scan's layout) and
        commits it as one overwrite. Readers pinned to older
        manifests are unaffected (their files are retained until GC).
        On a bucketed table the rewrite is hash-clustered, so compaction
        doubles as the migration that makes ALL segments prunable."""
        desc = self.store.get_table(self.database, name)
        snaps = TableSnapshots(self.store.table_dir(self.database, name))
        in_bytes = recorded_bytes(snaps.current_file_bytes().values())
        current = snaps.read(self.spark, desc.spark_schema())
        if in_bytes is not None:
            current = current.coalesce(segment_files(in_bytes))
        return snaps.commit(
            current, mode="overwrite",
            bucketing=snaps.current_extra().get("bucketing"),
        )

    def bucket_table(
        self, name: str, n_buckets: int, columns: list[str] | None = None
    ) -> None:
        """Declare hash-bucketing for a table's unique-key layout (the
        100 TB insert design, SCALING.md Engine §). ``columns`` defaults
        to the primary-key columns. Future INSERT segments are written
        hash-clustered on the key with per-file bucket ids in the
        manifest; unique-clash checks then scan only the buckets the
        batch touches. Existing segments stay unbucketed (always
        scanned) until ``compact()`` rewrites them clustered."""
        desc = self.store.get_table(self.database, name)
        if columns is None:
            pk = [ix for ix in desc.indexes if ix.kind == "primary_key"]
            if not pk:
                raise ValueError(f"table {name} has no primary key to bucket by")
            columns = list(pk[0].columns)
        for c in columns:
            desc.column(c)  # validates existence
        snaps = TableSnapshots(self.store.table_dir(self.database, name))
        snaps.set_extra({"bucketing": {"cols": columns, "n": int(n_buckets)}})

    # ------------------------------------------------------- internals
    def _resolve_table(self, ident: str) -> tuple[str, str]:
        """1/2/3-part name → (database, table) with unknown-db parity
        (reference: src/sql/mod.rs:120,130 resolves per-session)."""
        db, table = sqlparse.resolve_table_name(ident, self.database)
        if not self.store.database_exists(db):
            raise DatabaseNotFoundError(f"database {db} not found")
        return db, table

    def _check_query_databases(self, stmt: str) -> None:
        for db in sqlparse.qualified_databases(stmt):
            if not self.store.database_exists(db):
                raise DatabaseNotFoundError(f"database {db} not found")

    def _result(self, result: str) -> DataFrame:
        return local_frame(self.spark, [(result,)], _RESULT_SCHEMA)

    def _count(self, n: int) -> DataFrame:
        return local_frame(self.spark, [(n,)], _COUNT_SCHEMA)

    def _insert(self, stmt: str) -> DataFrame:
        parsed = sqlparse.parse_insert(stmt)
        db, table = self._resolve_table(parsed.table)
        desc = self.store.get_table(db, table)
        if parsed.values_sql is not None:
            input_df = self.spark.sql(f"VALUES {parsed.values_sql}")
        else:
            self._check_query_databases(parsed.select_sql)
            self._register_views()
            input_df = self.spark.sql(
                sqlparse.normalize_query(parsed.select_sql, self.database, self.user)
            )
        n = execute_insert(
            input_df,
            desc,
            parsed.columns,
            self.store,
            db,
            TableSnapshots(self.store.table_dir(db, table)),
        )
        return self._count(n)

    def _register_views(self) -> None:
        """Pin the statement's read snapshot: every table in every
        database is visible under its mangled ``db__public__t`` name,
        and tables of the session database additionally under their bare
        name, over the file list named by its manifest *now*
        (≙ Snapshot-semantics catalog reads, reference:
        src/sql/mod.rs:60-75).

        Each table's manifest is read once; its identity is (table dir,
        Spark schema, manifest file entries). A parquet relation is
        built only for an identity no view holds yet, and a view is
        re-pointed only when its identity changed (a commit, compaction,
        DROP + CREATE, another warehouse, another session database for a
        bare name) or the session's temp view no longer holds the plan
        the engine registered (other code replaced or dropped it).
        Views for dropped tables are removed so they stop resolving."""
        wanted: dict[str, tuple[str, str]] = {}
        for db in self.store.list_databases():
            for name in self.store.list_tables(db):
                wanted[sqlparse.mangle_view_name(db, name)] = (db, name)
                if db == self.database:
                    wanted[name] = (db, name)
        for stale in self._views.keys() - wanted.keys():
            self.spark.catalog.dropTempView(stale)
            del self._views[stale]
        frames = {v.identity: v.frame for v in self._views.values()}
        identities: dict[tuple[str, str], tuple] = {}
        catalog = self.spark._jsparkSession.sessionState().catalog()
        for view, key in wanted.items():
            if key not in identities:
                schema = self.store.get_table(*key).spark_schema()
                snaps = TableSnapshots(self.store.table_dir(*key))
                entries = snaps.current_file_entries()
                identity = (snaps.table_dir, schema.json(), tuple(entries))
                if identity not in frames:
                    frames[identity] = snaps.read(self.spark, schema, entries=entries)
                identities[key] = identity
            identity = identities[key]
            held = self._views.get(view)
            if (
                held is not None
                and held.identity == identity
                and catalog.getRawTempView(view).equals(held.plan)
            ):
                continue
            frames[identity].createOrReplaceTempView(view)
            self._views[view] = _View(
                identity, frames[identity], catalog.getRawTempView(view)
            )

    def _query(self, stmt: str) -> DataFrame:
        s = stmt.strip()
        low = s.lower()
        if re.match(r"show\s+tables\s*$", low):
            rows = [(t,) for t in self.store.list_tables(self.database)]
            return local_frame(
                self.spark, rows,
                T.StructType([T.StructField("table_name", T.StringType(), False)]),
            )
        if re.match(r"show\s+databases\s*$", low):
            rows = [(d,) for d in self.store.list_databases()]
            return local_frame(
                self.spark, rows,
                T.StructType([T.StructField("database_name", T.StringType(), False)]),
            )
        info_schema = "information_schema." in sqlparse._mask_literals(low)[0]
        m = re.match(r"describe\s+(table\s+)?([A-Za-z_][\w$.]*)\s*$", low)
        if m and not info_schema:
            desc = self.store.get_table(*self._resolve_table(m.group(2)))
            rows = [
                (
                    c.name,
                    c.kind + (f"({c.varchar_len})" if c.varchar_len else ""),
                    c.nullable,
                    c.serial,
                )
                for c in desc.columns
            ]
            schema = T.StructType(
                [
                    T.StructField("column_name", T.StringType(), False),
                    T.StructField("data_type", T.StringType(), False),
                    T.StructField("nullable", T.BooleanType(), False),
                    T.StructField("serial", T.BooleanType(), False),
                ]
            )
            return local_frame(self.spark, rows, schema)
        self._check_query_databases(s)
        self._register_views()
        if info_schema:
            s = self._register_information_schema(s)
        try:
            return self.spark.sql(
                sqlparse.normalize_query(s, self.database, self.user)
            )
        except Exception as e:  # map Spark's missing-relation error
            if "TABLE_OR_VIEW_NOT_FOUND" in str(e):
                raise TableNotFoundError(str(e)) from e
            raise

    # DataFusion 47 exposes these information_schema relations
    # (reference: src/sql/mod.rs:82 turns the whole schema on).
    _INFO_SCHEMA_VIEWS = (
        "tables", "columns", "schemata", "views", "df_settings",
        "routines", "parameters",
    )
    _INFO_SCHEMA_RE = re.compile(
        r"\binformation_schema\.(" + "|".join(_INFO_SCHEMA_VIEWS) + r")\b",
        re.IGNORECASE,
    )

    def _register_information_schema(self, stmt: str) -> str:
        """Full information_schema emulation (the reference enables
        DataFusion's entire information_schema,
        reference: src/sql/mod.rs:82): tables / columns / schemata /
        views / df_settings / routines / parameters, spanning every
        database in the metastore. Registers a metastore-backed temp
        view for each relation the statement names outside string
        literals and returns the statement with those names rewritten."""
        masked, _ = sqlparse._mask_literals(stmt)
        for name in {m.lower() for m in self._INFO_SCHEMA_RE.findall(masked)}:
            rows, schema = self._information_schema_relation(name)
            local_frame(self.spark, rows, schema).createOrReplaceTempView(
                f"information_schema__{name}"
            )
        return sqlparse._sub_outside_literals(
            self._INFO_SCHEMA_RE,
            lambda m: f"information_schema__{m.group(1).lower()}",
            stmt,
        )

    def _information_schema_relation(self, name: str) -> tuple[list, T.StructType]:
        """The rows and schema of one information_schema relation."""

        def s(*fields: str) -> T.StructType:
            return T.StructType(
                [T.StructField(f, T.StringType(), True) for f in fields]
            )

        dbs = self.store.list_databases()
        if name == "tables":
            rows = [
                (db, "public", t, "BASE TABLE")
                for db in dbs
                for t in self.store.list_tables(db)
            ]
            return rows, s("table_catalog", "table_schema", "table_name", "table_type")
        if name == "columns":
            rows = []
            for db in dbs:
                for t in self.store.list_tables(db):
                    desc = self.store.get_table(db, t)
                    for i, c in enumerate(desc.columns, start=1):
                        rows.append(
                            (db, "public", t, c.name, i, c.kind,
                             "YES" if c.nullable else "NO")
                        )
            return rows, T.StructType(
                [
                    T.StructField("table_catalog", T.StringType(), False),
                    T.StructField("table_schema", T.StringType(), False),
                    T.StructField("table_name", T.StringType(), False),
                    T.StructField("column_name", T.StringType(), False),
                    T.StructField("ordinal_position", T.IntegerType(), False),
                    T.StructField("data_type", T.StringType(), False),
                    T.StructField("is_nullable", T.StringType(), False),
                ]
            )
        if name == "schemata":
            # One "public" schema per database plus information_schema
            # itself (matches the reference: MemorySchemaProvider
            # registered at database creation, src/sql/context.rs:47-49).
            rows = [(db, "public", self.user) for db in dbs] + [
                (db, "information_schema", self.user) for db in dbs
            ]
            return rows, s("catalog_name", "schema_name", "schema_owner")
        if name == "views":
            # CREATE VIEW is rejected at parse time (sqlparse unsupported
            # list) — the relation exists and is always empty, like a
            # fresh DataFusion context.
            return [], s("table_catalog", "table_schema", "table_name", "definition")
        if name == "df_settings":
            # DataFusion's df_settings ≙ the session's SQL configuration.
            rows = [
                (k, str(v)) for k, v in sorted(self.spark.conf.getAll.items())
                if k.startswith("spark.sql.")
            ]
            return rows, s("name", "value")
        if name == "routines":
            # Session scalar functions (≙ A12-A15) — the registerable-UDF
            # surface; Spark built-ins are not enumerated, like DataFusion
            # lists only registered functions.
            rows = [
                (self.database, "public", fname, "FUNCTION", rtype, "SCALAR")
                for fname, rtype in (
                    ("current_catalog", "utf8"),
                    ("current_schema", "utf8"),
                    ("current_user", "utf8"),
                    ("inet_client_port", "int32"),
                )
            ]
            return rows, s(
                "routine_catalog", "routine_schema", "routine_name",
                "routine_type", "data_type", "function_type",
            )
        return [], s(
            "specific_catalog", "specific_schema", "specific_name",
            "ordinal_position", "parameter_mode", "data_type",
        )
