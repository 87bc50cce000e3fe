"""Metastore: databases / schemas / tables + serial counters.

≙ the reference's KV-backed catalog — the ``_databases`` table with a
``(parent_id, name)`` unique naming index holding protobuf descriptor
blobs (reference: src/sql/client.rs:445-564), plus the serial-counter
keys ``t<table_id>c<column_id>`` bumped via KV ``increment``
(reference: src/protos/sql.rs:119-126, src/sql/client.rs:276-307).

Here: one JSON document under the warehouse dir, mutated only on the
driver (DDL/DML are driver-coordinated in Spark), written with an
atomic tmp+rename swap. Every database gets a default ``public`` schema
(reference: src/sql/context.rs:47-49, src/sql/client.rs:118-166 creates
db + public schema atomically).
"""

from __future__ import annotations

import json
import os

from .errors import (
    DatabaseAlreadyExistsError,
    DatabaseNotFoundError,
    SerialOverflowError,
    TableAlreadyExistsError,
    TableNotFoundError,
)
from .types import SERIAL_MAX, TableDescriptor

CATALOG_FILE = "_catalog.json"
DEFAULT_SCHEMA = "public"


class Metastore:
    def __init__(self, warehouse_dir: str) -> None:
        self.warehouse_dir = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)
        self._path = os.path.join(warehouse_dir, CATALOG_FILE)
        self._data = self._load()

    # ------------------------------------------------------------ io
    def _load(self) -> dict:
        try:
            with open(self._path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"databases": {}, "serials": {}}

    def _save(self) -> None:
        tmp = self._path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._data, f, indent=1)
        os.replace(tmp, self._path)

    # ------------------------------------------------------ databases
    def create_database(self, name: str, if_not_exists: bool = False) -> str:
        """Returns "created" / "already exists" mirroring the reference's
        result strings (reference: src/sql/plan/create_table.rs:194-199
        pattern, src/sql/plan/catalog.rs:29-93)."""
        if name in self._data["databases"]:
            if if_not_exists:
                return "already exists"
            raise DatabaseAlreadyExistsError(f"database {name} already exists")
        self._data["databases"][name] = {"schemas": {DEFAULT_SCHEMA: {"tables": {}}}}
        self._save()
        return "created"

    def database_exists(self, name: str) -> bool:
        return name in self._data["databases"]

    def list_databases(self) -> list[str]:
        return sorted(self._data["databases"])

    # --------------------------------------------------------- tables
    def _schema_dict(self, database: str, schema: str = DEFAULT_SCHEMA) -> dict:
        try:
            db = self._data["databases"][database]
        except KeyError:
            raise DatabaseNotFoundError(f"database {database} not found") from None
        try:
            return db["schemas"][schema]
        except KeyError:
            raise DatabaseNotFoundError(
                f"schema {database}.{schema} not found"
            ) from None

    def create_table(
        self,
        database: str,
        desc: TableDescriptor,
        if_not_exists: bool = False,
        schema: str = DEFAULT_SCHEMA,
    ) -> str:
        tables = self._schema_dict(database, schema)["tables"]
        if desc.name in tables:
            if if_not_exists:
                return "already exists"
            raise TableAlreadyExistsError(f"table {desc.name} already exists")
        tables[desc.name] = desc.to_json()
        self._save()
        return "created"

    def get_table(
        self, database: str, name: str, schema: str = DEFAULT_SCHEMA
    ) -> TableDescriptor:
        tables = self._schema_dict(database, schema)["tables"]
        try:
            return TableDescriptor.from_json(tables[name])
        except KeyError:
            raise TableNotFoundError(f"table {name} not found") from None

    def drop_table(
        self,
        database: str,
        name: str,
        if_exists: bool = False,
        schema: str = DEFAULT_SCHEMA,
    ) -> str:
        tables = self._schema_dict(database, schema)["tables"]
        if name not in tables:
            if if_exists:
                return "does not exist"
            raise TableNotFoundError(f"table {name} not found")
        del tables[name]
        self._data["serials"] = {
            k: v
            for k, v in self._data["serials"].items()
            if not k.startswith(f"{database}.{schema}.{name}.")
        }
        self._save()
        return "dropped"

    def list_tables(self, database: str, schema: str = DEFAULT_SCHEMA) -> list[str]:
        return sorted(self._schema_dict(database, schema)["tables"])

    def table_dir(self, database: str, name: str, schema: str = DEFAULT_SCHEMA) -> str:
        return os.path.join(self.warehouse_dir, database, schema, name)

    # -------------------------------------------------------- serials
    def next_serial(
        self,
        database: str,
        table: str,
        column: str,
        kind: str,
        count: int = 1,
        schema: str = DEFAULT_SCHEMA,
    ) -> range:
        """Allocate ``count`` consecutive serial values (≙ KV increment,
        reference: src/sql/client.rs:276-307) with per-kind overflow
        checks. A ``range``, so a huge batch costs O(1) memory."""
        key = f"{database}.{schema}.{table}.{column}"
        current = self._data["serials"].get(key, 0)
        top = current + count
        if top > SERIAL_MAX[kind]:
            raise SerialOverflowError(
                f"serial column {column} overflows {kind} (next={top})"
            )
        self._data["serials"][key] = top
        self._save()
        return range(current + 1, top + 1)
