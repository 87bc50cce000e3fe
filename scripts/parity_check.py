"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin on the same
sf dir, compares row count, column names, and values (order-insensitive,
exact for non-floats, 1e-9 relative for floats), and prints a verdict
per query. Use before committing operator changes:

    python scripts/parity_check.py [sf_dir] [query ...]

``--digest FILE`` skips the oracles and writes one ``<query> <sha256>``
line per query instead: the hash of the Spark rows after ``normalize``
(plus the column names and types). Two checkouts' files then differ
exactly where their results do:

    python scripts/parity_check.py --digest old.txt SF_DIR   # old checkout
    python scripts/parity_check.py --digest new.txt SF_DIR   # new checkout
    diff old.txt new.txt
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import tempfile
import time

import duckdb

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from seamdb_spark import TPCH_TABLES  # noqa: E402
from seamdb_spark.session import build_session  # noqa: E402


# DuckDB's default memory limit is 80% of RAM, which one oracle can fill
# beside the Spark JVM on a 16 GB box. Bound it, and let operators that
# can spill do so into the run's temporary dir, with the spill capped
# too. s16's layered CTE does not spill and still fails, now at 4GB.
DUCK_MEMORY_LIMIT = "4GB"
DUCK_SPILL_LIMIT = "8GB"


def duck_connection(sf_dir: str, scratch: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={
        "memory_limit": DUCK_MEMORY_LIMIT,
        "temp_directory": os.path.join(scratch, "duckdb_spill"),
        "max_temp_directory_size": DUCK_SPILL_LIMIT,
    })
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, then rows; round-trip floats via repr-ish."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(row):
        out = []
        for i in order:
            v = row[i]
            out.append("\0NULL" if v is None else str(v))
        return out

    projected = [tuple(row[i] for i in order) for row in rows]
    return sorted(projected, key=lambda r: [str(x) if x is not None else "\0" for x in r])


def digest(spark_df) -> str:
    """sha256 of the normalized rows, column names and column types."""
    cols = spark_df.columns
    h = hashlib.sha256(repr(sorted(spark_df.dtypes)).encode())
    for row in normalize([tuple(r) for r in spark_df.collect()], cols):
        h.update(repr(row).encode() + b"\n")
    return h.hexdigest()


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        if not (isinstance(a, float) and isinstance(b, float)):
            # int-vs-double divergence renders differently (1 vs 1.0) and
            # fails the driver's hash gate — mirror that strictness here.
            return False
        if math.isnan(a) and math.isnan(b):
            return True
        # BIT-exact, like the driver's hash over rendered values: the
        # engine's determinism machinery (dround, int64 fixed-point) is
        # supposed to deliver identical doubles — isclose would hide
        # exactly the divergences the driver flags.
        return repr(a) == repr(b)
    return str(a) == str(b)


# Driver-hash dtype gate (round-6 lesson): DuckDB promotes SUM(BIGINT) to
# HUGEINT (INT128), and an un-CAST integer division over it stays HUGEINT.
# The driver's value hash renders INT128 unlike Spark's BIGINT (the
# pandas/Arrow fetch turns it into float/object), so a query can be
# value-equal here yet hash-red at the driver. Fail fast on any oracle
# that emits one, and on any int-vs-float column split between the two
# engines (1 vs 1.0 renders differently).
_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_DUCK_FLOAT = {"FLOAT", "DOUBLE"}
_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}
_SPARK_FLOAT = {"float", "double"}


def oracle_dtype_problems(duck_cols, duck_types, spark_schema=None) -> list[str]:
    """Gate on oracle result dtypes; spark_schema (StructType) optional."""
    problems = []
    for c, t in zip(duck_cols, duck_types):
        ts = str(t).upper()
        if "HUGEINT" in ts:
            problems.append(
                f"oracle column `{c}` is {ts} (INT128) — the driver hash "
                f"renders it unlike Spark BIGINT; CAST(... AS BIGINT)"
            )
    if spark_schema is not None:
        smap = {f.name: f.dataType.simpleString() for f in spark_schema.fields}
        for c, t in zip(duck_cols, duck_types):
            ss = smap.get(c)
            if ss is None:
                continue
            ts = str(t).upper()
            if (ts in _DUCK_INT and ss in _SPARK_FLOAT) or (
                ts in _DUCK_FLOAT and ss in _SPARK_INT
            ):
                problems.append(
                    f"column `{c}`: oracle {ts} vs spark {ss} — int-vs-float "
                    f"renders differently (1 vs 1.0) in the driver hash"
                )
    return problems


def compare(name: str, spark_df, oracle_rows, oracle_cols) -> list[str]:
    problems = []
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    if sorted(s_cols) != sorted(oracle_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} oracle={sorted(oracle_cols)}")
        return problems
    if len(s_rows) != len(oracle_rows):
        problems.append(f"row count: spark={len(s_rows)} oracle={len(oracle_rows)}")
    a = normalize(s_rows, s_cols)
    b = normalize(oracle_rows, list(oracle_cols))
    exact_mismatch = 0
    for ra, rb in zip(a, b):
        if not all(values_equal(x, y) for x, y in zip(ra, rb)):
            exact_mismatch += 1
            if exact_mismatch <= 3:
                problems.append(f"row diff:\n  spark : {ra}\n  oracle: {rb}")
    if exact_mismatch > 3:
        problems.append(f"... {exact_mismatch} differing rows total")
    return problems


def main() -> int:
    args = sys.argv[1:]
    digest_path = None
    if "--digest" in args:
        i = args.index("--digest")
        digest_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    only = [a for a in args if "/" not in a]

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    import os

    master = os.environ.get("PARITY_MASTER", "local[8]")
    shuffle = int(os.environ.get("PARITY_SHUFFLE", "8"))
    spark = build_session("parity_check", master=master, shuffle_partitions=shuffle)
    scratch = tempfile.TemporaryDirectory(prefix="parity_check_")
    con = duck_connection(sf_dir, scratch.name)

    failed, passed, skipped = [], [], []
    digests = []
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if digest_path is not None:
                digests.append(f"{name} {digest(df)}")
                print(f"[digest] {name} ({time.time()-t0:.1f}s)")
                passed.append(name)
                continue
            if name not in oracles:
                n = df.count()
                skipped.append(name)
                print(f"[rows-only] {name}: {n} rows ({time.time()-t0:.1f}s)")
                continue
            rel = con.sql(oracles[name])
            oracle_cols = list(rel.columns)
            oracle_types = list(rel.types)
            oracle_rows = rel.fetchall()
            problems = oracle_dtype_problems(oracle_cols, oracle_types, df.schema)
            problems += compare(name, df, oracle_rows, oracle_cols)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {e}"]
            if digest_path is not None:
                digests.append(f"{name} EXCEPTION:{type(e).__name__}")
        dt = time.time() - t0
        if problems:
            failed.append(name)
            print(f"[FAIL] {name} ({dt:.1f}s)")
            for p in problems:
                print(f"    {p}")
        else:
            passed.append(name)
            print(f"[ok]   {name} ({dt:.1f}s)")

    con.close()
    scratch.cleanup()
    if digest_path is not None:
        with open(digest_path, "w") as f:
            f.write("\n".join(digests) + "\n")
    print(
        f"\n{len(passed)} ok, {len(failed)} failed, {len(skipped)} rows-only"
        + (f"\nFAILED: {failed}" if failed else "")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
