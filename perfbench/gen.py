"""Seeded input generators for the benchmark workloads.

Everything the engine sees is made here from ``--seed``: a TPC-H-shaped
star schema for ``sql_read``; for ``sql_write`` an event source, a
document feed and embedding batches. The same seed gives byte-identical
tables and the same operation sequence.

Money-like values are multiples of 1/4 and discounts/taxes multiples of
1/64, so every sum and product the queries take is exact in binary
floating point: results hash identically on every pass and match DuckDB
exactly, whatever order Spark adds partial aggregates in.
"""

from __future__ import annotations

import datetime as _dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sql_read tables (~1/80 of TPC-H sf1: lineitem ~48k).
# Every loaded table costs one INSERT (~2.5 s of per-statement floor) in
# the set-up, so three tables are loaded: ``nation`` is folded into
# ``customer`` (name and region columns), ``supplier`` into ``lineitem``
# (the supplier's nation key), and ``part`` only prices lineitem.
SIZES = {
    "nation": 25,
    "supplier": 200,
    "customer": 2000,
    "part": 4000,
    "orders": 12000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = (
    "quick brown fox jumps over lazy dog final deposits carefully regular "
    "accounts sleep furiously ironic requests pending packages"
).split()
_EPOCH = _dt.date(1992, 1, 1)
_DAYS = (_dt.date(1998, 8, 2) - _EPOCH).days

# DDL of every sql_read table: (name, [(column, ddl type)], primary key).
TPCH_DDL = [
    ("customer", [("c_custkey", "bigint"), ("c_name", "text"),
                  ("c_nationkey", "bigint"), ("c_nationname", "text"),
                  ("c_regionname", "text"), ("c_acctbal", "double precision"),
                  ("c_mktsegment", "text"), ("c_comment", "text")],
     ["c_custkey"]),
    ("orders", [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
                ("o_orderstatus", "text"), ("o_totalprice", "double precision"),
                ("o_orderdate", "bigint"), ("o_orderpriority", "text")],
     ["o_orderkey"]),
    ("lineitem", [("l_orderkey", "bigint"), ("l_linenumber", "int"),
                  ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
                  ("l_suppnationkey", "bigint"),
                  ("l_quantity", "double precision"),
                  ("l_extendedprice", "double precision"),
                  ("l_discount", "double precision"),
                  ("l_tax", "double precision"), ("l_returnflag", "text"),
                  ("l_linestatus", "text"), ("l_shipdate", "text"),
                  ("l_commitdate", "text"), ("l_receiptdate", "text")],
     ["l_orderkey", "l_linenumber"]),
]
# Engine column kinds of the DDL types above (what DESCRIBE reports).
DDL_KIND = {"bigint": "int64", "int": "int32", "text": "string",
            "double precision": "float64"}


def create_table_sql(name: str, cols: list, pk: list) -> str:
    body = ", ".join(f"{c} {t}" for c, t in cols)
    return f"CREATE TABLE {name} ({body}, PRIMARY KEY ({', '.join(pk)}))"


def _day_text(days: np.ndarray) -> pa.Array:
    """Days since 1992-01-01 as 'YYYY-MM-DD' text."""
    return pa.array((np.datetime64(_EPOCH, "D") + days).astype(str))


def _day_int(days: np.ndarray) -> np.ndarray:
    """Days since 1992-01-01 as YYYYMMDD integers."""
    text = (np.datetime64(_EPOCH, "D") + days).astype(str)
    return np.char.replace(text, "-", "").astype(np.int64)


def _words(rng: np.random.Generator, n: int, k: int) -> list[str]:
    picks = rng.integers(0, len(WORDS), size=(n, k))
    return [" ".join(WORDS[i] for i in row) for row in picks]


def _quarters(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Uniform multiples of 0.25 in [lo, hi)."""
    return rng.integers(lo * 4, hi * 4, size=n).astype(np.float64) / 4.0


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """The sql_read tables, in TPCH_DDL column order."""
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    supp_nation = rng.integers(0, n["nation"], n["supplier"])
    comments = _words(rng, n["customer"], 3)
    null_comment = rng.random(n["customer"]) < 0.1
    cust_nation = rng.integers(0, n["nation"], n["customer"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(1, n["customer"] + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n["customer"] + 1)],
        "c_nationkey": cust_nation,
        "c_nationname": [f"NATION{i:02d}" for i in cust_nation],
        "c_regionname": [REGIONS[i % len(REGIONS)] for i in cust_nation],
        "c_acctbal": _quarters(rng, -999, 9999, n["customer"]),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
        "c_comment": [None if z else c for c, z in zip(comments, null_comment)],
    })
    retail = _quarters(rng, 900, 2000, n["part"])
    n_orders = n["orders"]
    order_day = rng.integers(0, _DAYS - 151, n_orders)
    lines_per = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines_per)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    n_lines = len(l_orderkey)
    l_partkey = rng.integers(1, n["part"] + 1, n_lines)
    l_suppkey = rng.integers(1, n["supplier"] + 1, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    ship = np.repeat(order_day, lines_per) + rng.integers(1, 122, n_lines)
    commit = np.repeat(order_day, lines_per) + rng.integers(30, 91, n_lines)
    receipt = ship + rng.integers(1, 31, n_lines)
    cutoff = (_dt.date(1995, 6, 17) - _EPOCH).days
    returned = rng.random(n_lines) < 0.5
    flags = np.where(receipt <= cutoff, np.where(returned, "R", "A"), "N")
    status = np.where(ship > cutoff, "O", "F")
    out["lineitem"] = pa.table({
        "l_orderkey": l_orderkey,
        "l_linenumber": l_linenumber,
        "l_partkey": l_partkey,
        "l_suppkey": l_suppkey,
        "l_suppnationkey": supp_nation[l_suppkey - 1],
        "l_quantity": qty,
        "l_extendedprice": qty * retail[l_partkey - 1],
        "l_discount": rng.integers(0, 7, n_lines).astype(np.float64) / 64.0,
        "l_tax": rng.integers(0, 6, n_lines).astype(np.float64) / 64.0,
        "l_returnflag": flags.tolist(),
        "l_linestatus": status.tolist(),
        "l_shipdate": _day_text(ship),
        "l_commitdate": _day_text(commit),
        "l_receiptdate": _day_text(receipt),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n["customer"] + 1, n_orders),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _quarters(rng, 1000, 400000, n_orders),
        "o_orderdate": _day_int(order_day),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    return out


def write_parquet(tables: dict[str, pa.Table], directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(directory, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


# ------------------------------------------------------------- sql_write
EVENTS_ROWS = 50_000
SELECT_ROWS = 5_000
VALUES_ROWS = 50
DUP_ROWS = 20


def events_table(seed: int) -> pa.Table:
    """The sql_write source: event_id 0..EVENTS_ROWS-1 (dense)."""
    rng = np.random.default_rng(seed + 1)
    return pa.table({
        "event_id": np.arange(EVENTS_ROWS, dtype=np.int64),
        "user_id": rng.integers(1, 5000, EVENTS_ROWS),
        "value": _quarters(rng, 0, 1000, EVENTS_ROWS),
        "kind": [("view", "click", "cart", "buy")[i]
                 for i in rng.integers(0, 4, EVENTS_ROWS)],
    })


def write_cycle(rng: random.Random) -> list[str]:
    """One sql_write cycle: five INSERTs, each followed by two reads of
    the growing table, and the index ingest, in a seeded order; then a
    compaction and a read. Two samples of each accepted INSERT kind and
    eleven reads keep single slow calls from setting heavy_s and
    light_s."""
    writes = ["insert_select", "insert_select", "insert_values",
              "insert_values", "insert_dup", "stream_admit"]
    rng.shuffle(writes)
    ops: list[str] = []
    for w in writes:
        ops += [w] if w == "stream_admit" else [w] + ["read_after_write"] * 2
    return ops + ["compact", "read_after_write"]


# The untimed warm-up: every sql_write operation once.
WRITE_WARMUP = ["insert_select", "read_after_write", "insert_values",
                "read_after_write", "insert_dup", "stream_admit",
                "compact", "read_after_write"]


def op_sequence_iter(rng: random.Random):
    """The endless sql_write operation sequence: the warm-up, then
    cycles in an order drawn from ``rng``."""
    yield from WRITE_WARMUP
    while True:
        yield from write_cycle(rng)


def values_rows(rng: random.Random, tag: str, n: int) -> list[tuple]:
    """(k, u, v, note) rows; ~10% NULL ``u`` (NULLS DISTINCT admits
    them all)."""
    rows = []
    for i in range(n):
        u = None if rng.random() < 0.1 else f"{tag}-{i}"
        note = " ".join(rng.choice(WORDS) for _ in range(3))
        rows.append((rng.randrange(1, 10**6), u, rng.randrange(0, 4000) / 4, note))
    return rows


def sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


# ------------------------------------------------ sql_write index ingest
DOC_WORDS = 24        # words per document: 22 distinct 3-word shingles
DOC_VOCAB = 5000      # random documents share no shingle in practice
SEED_DOCS = 1000      # indexed in the set-up
BATCH_DOCS = 200      # new documents per streamed feed file
BATCH_EXACT = 10      # of those: exact copies of earlier documents
BATCH_NEAR = 10       # of those: copies with one word replaced
BATCH_RESENT = 10     # extra rows per file: re-sent earlier rows
VEC_DIM = 8
VEC_CLUSTERS = 16
SEED_VECS = 1000      # IVF training set
BATCH_VECS = 200      # embeddings arriving with each feed file


def shingles(text: str) -> frozenset[str]:
    """The 3-word shingles the LSH index hashes (split on single
    spaces, as ``dedup_index.shingle_arrays`` does)."""
    toks = text.split(" ")
    return frozenset(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2))


class DocFeed:
    """The document feed of ``sql_write``'s ``stream_admit``: a seed
    corpus, then batches of new documents (ids continue densely) mixed
    with exact copies and one-word edits of earlier documents under new
    ids, and with re-sent rows (an earlier row again, same id and text)
    that the stream's id dedup must drop. Each batch carries the pairs
    the near-duplicate lookups must and may return."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed + 2)
        vocab_rng = random.Random(seed + 3)
        letters = "abcdefghijklmnopqrstuvwxyz"
        words: set[str] = set()
        while len(words) < DOC_VOCAB:
            words.add("".join(vocab_rng.choice(letters)
                              for _ in range(vocab_rng.randint(3, 9))))
        self.vocab = sorted(words)
        self.texts: dict[int, str] = {}
        self.by_shingle: dict[str, set[int]] = {}
        self.next_id = 1
        self.last_rows: list[tuple[int, str]] = []

    def _random_text(self) -> str:
        return " ".join(self.rng.choice(self.vocab) for _ in range(DOC_WORDS))

    def _add(self, doc_id: int, text: str) -> None:
        self.texts[doc_id] = text
        for sh in shingles(text):
            self.by_shingle.setdefault(sh, set()).add(doc_id)

    def seed_docs(self) -> list[tuple[int, str]]:
        rows = []
        for _ in range(SEED_DOCS):
            rows.append((self.next_id, self._random_text()))
            self._add(*rows[-1])
            self.next_id += 1
        return rows

    def batch(self) -> dict:
        """rows: (doc_id, text) in feed order, re-sent rows included;
        new: the ids admitted; and, as (a, b) pairs with a < b that
        involve a new document: same_shingles (identical shingle sets:
        equal MinHash signatures, so LSH must pair them) and
        share_shingle (the only pairs LSH can return)."""
        earlier = list(self.texts)
        kinds = (["exact"] * BATCH_EXACT + ["near"] * BATCH_NEAR
                 + ["random"] * (BATCH_DOCS - BATCH_EXACT - BATCH_NEAR))
        self.rng.shuffle(kinds)
        rows = []
        for kind in kinds:
            if kind == "random":
                text = self._random_text()
            else:
                words = self.texts[self.rng.choice(earlier)].split(" ")
                if kind == "near":
                    i = self.rng.randrange(DOC_WORDS)
                    words[i] = self.rng.choice(
                        [w for w in self.vocab[:50] if w != words[i]])
                text = " ".join(words)
            rows.append((self.next_id, text))
            self.next_id += 1
        for doc_id, text in rows:
            self._add(doc_id, text)
        same_shingles, share = set(), set()
        for doc_id, text in rows:
            mine = shingles(text)
            for other in set().union(*(self.by_shingle[sh] for sh in mine)):
                if other == doc_id:
                    continue
                pair = (min(doc_id, other), max(doc_id, other))
                share.add(pair)
                if shingles(self.texts[other]) == mine:
                    same_shingles.add(pair)
        pool = self.last_rows or rows
        feed = rows + [self.rng.choice(pool) for _ in range(BATCH_RESENT)]
        self.rng.shuffle(feed)
        self.last_rows = rows
        return {"rows": feed, "new": [r[0] for r in rows],
                "same_shingles": same_shingles, "share_shingle": share}


def docs_table(rows: list[tuple[int, str]]) -> pa.Table:
    """Feed rows in the streaming documents layout."""
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": ["en"] * len(rows),
        "source": ["feed"] * len(rows),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })


class VecFeed:
    """Embedding batches for ``stream_admit``: points around fixed,
    well-separated cluster anchors, components multiples of 1/64."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed + 4)
        self.anchors = self.rng.integers(-40, 41, size=(VEC_CLUSTERS, VEC_DIM)) * 4
        self.next_id = 0

    def batch(self, n: int) -> pa.Table:
        cl = self.rng.integers(0, VEC_CLUSTERS, n)
        noise = self.rng.integers(-64, 65, size=(n, VEC_DIM)) / 64.0
        emb = (self.anchors[cl] + noise).astype(np.float32)
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pa.table({
            "vec_id": ids,
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        })
