"""The benchmark workloads: each is a closed loop of engine operations
issued by one client thread through ``Engine.sql`` and
``Engine.compact``.

A workload exposes

- ``setup()``: build a fresh warehouse and make the workload ready
  (timed once, cold, by the runner for ``setup_s``);
- ``prepare()``: untimed reference work done once after set-up;
- ``ops()``: an endless iterator of ``Op``; the first ``warmup_ops``
  of them form the untimed warm-up pass, and the rest repeat a cycle of
  ``cycle_len`` operations;
- ``check(op, result)``: whether the operation's result is correct,
  called outside the timed region;
- ``final_check()``: end-of-run invariants.

An operation's ``check`` may leave a ``detail`` dict in ``op.info``;
the runner keeps it in the operation's record for the traced run.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator

from . import gen


@dataclass
class Op:
    kind: str            # statement or operation name
    cls: str | None      # "light", "heavy" or None (counted only in totals)
    run: Callable[[], object]
    rows: Callable[[object], int] = lambda result: 0
    info: dict = field(default_factory=dict)


def _canon(v):
    if isinstance(v, float):
        return float(f"{v:.12g}")
    return v


def rows_digest(rows: list) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(_canon(v) for v in r)).encode())
    return h.hexdigest()


def rows_match(got: list, want: list) -> bool:
    """Row-by-row equality, numbers compared with a relative tolerance
    of 1e-9 (DuckDB and Spark may round an average differently in the
    last place)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
                    and not isinstance(a, bool):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


class _Workload:
    warmup_ops = 0

    def __init__(self, spark, seed: int, workdir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.engine = None
        self.setup_detail: dict[str, float] = {}  # set-up phase -> seconds

    def _fresh_engine(self):
        from seamdb_spark.engine import Engine

        self.engine = Engine(self.spark, os.path.join(self.workdir, "warehouse"))
        return self.engine

    def prepare(self) -> None:
        pass

    def final_check(self) -> list[str]:
        return []


# ------------------------------------------------------------ sql_read
def _read_statements(ok: int, ck: int) -> list[tuple[str, str, str, str | None]]:
    """(name, class, engine SQL, DuckDB SQL). A DuckDB SQL of None means
    the expected rows come from the schema (catalog statements); "same"
    means the engine text runs unchanged on DuckDB."""
    revenue = "sum(l_extendedprice * (1 - l_discount))"
    return [
        ("pk_lookup", "light",
         "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders"
         f" WHERE o_orderkey = {ok}", "same"),
        ("show_tables", "light", "SHOW TABLES", None),
        ("describe", "light", "DESCRIBE lineitem", None),
        ("info_schema", "light",
         "SELECT column_name, data_type, is_nullable FROM information_schema.columns"
         " WHERE table_name = 'orders' ORDER BY ordinal_position", None),
        ("session_fns", "light",
         "SELECT current_user AS u, current_schema() AS s", None),
        ("three_part", "light",
         "SELECT c_custkey, c_name, c_acctbal FROM main.public.customer"
         f" WHERE c_custkey = {ck}",
         "SELECT c_custkey, c_name, c_acctbal FROM customer"
         f" WHERE c_custkey = {ck}"),
        ("q1_pricing", "heavy",
         "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,"
         " sum(l_extendedprice) AS sum_base, " + revenue + " AS sum_disc,"
         " sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,"
         " avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS n"
         " FROM lineitem WHERE l_shipdate <= '1998-09-02'"
         " GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
         "same"),
        ("q3_shipping", "heavy",
         "SELECT l_orderkey, " + revenue + " AS revenue, o_orderdate"
         " FROM customer, orders, lineitem WHERE c_mktsegment = 'BUILDING'"
         " AND c_custkey = o_custkey AND l_orderkey = o_orderkey"
         " AND o_orderdate < 19950315 AND l_shipdate > '1995-03-15'"
         " GROUP BY l_orderkey, o_orderdate"
         " ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10", "same"),
        ("q4_exists", "heavy",
         "SELECT o_orderpriority, count(*) AS order_count FROM orders"
         " WHERE o_orderdate >= 19930701 AND o_orderdate < 19931001 AND EXISTS"
         " (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey"
         " AND l_commitdate < l_receiptdate)"
         " GROUP BY o_orderpriority ORDER BY o_orderpriority", "same"),
        ("q5_local_supplier", "heavy",
         "SELECT c_nationname, " + revenue + " AS revenue"
         " FROM customer, orders, lineitem"
         " WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey"
         " AND l_suppnationkey = c_nationkey AND c_regionname = 'ASIA'"
         " AND o_orderdate >= 19940101"
         " AND o_orderdate < 19950101 GROUP BY c_nationname"
         " ORDER BY revenue DESC, c_nationname", "same"),
        ("q6_forecast", "heavy",
         "SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem"
         " WHERE l_shipdate >= '1994-01-01' AND l_shipdate < '1995-01-01'"
         " AND l_discount BETWEEN 0.046875 AND 0.078125 AND l_quantity < 24",
         "same"),
        ("q10_returned", "heavy",
         "SELECT c_custkey, c_name, " + revenue + " AS revenue, c_acctbal,"
         " c_nationname FROM customer, orders, lineitem WHERE c_custkey = o_custkey"
         " AND l_orderkey = o_orderkey AND o_orderdate >= 19931001"
         " AND o_orderdate < 19940101 AND l_returnflag = 'R'"
         " GROUP BY c_custkey, c_name, c_acctbal, c_nationname"
         " ORDER BY revenue DESC, c_custkey LIMIT 20", "same"),
        ("window_rank", "heavy",
         "SELECT c_nationkey, c_custkey, c_acctbal, rk FROM (SELECT c_nationkey,"
         " c_custkey, c_acctbal, rank() OVER (PARTITION BY c_nationkey"
         " ORDER BY c_acctbal DESC, c_custkey) AS rk FROM customer) t"
         " WHERE rk <= 3 ORDER BY c_nationkey, rk, c_custkey", "same"),
        ("pg_casts", "heavy",
         "SELECT substr(l_shipdate, 1, 4)::int AS yr, count(*)::bigint AS n,"
         " sum(l_quantity)::bigint AS qty FROM lineitem"
         " GROUP BY substr(l_shipdate, 1, 4) ORDER BY yr", "same"),
        ("null_order", "heavy",
         "SELECT c_custkey, c_comment FROM customer WHERE c_nationkey < 5"
         " ORDER BY c_comment DESC, c_custkey LIMIT 40",
         "SELECT c_custkey, c_comment FROM customer WHERE c_nationkey < 5"
         " ORDER BY c_comment DESC NULLS FIRST, c_custkey LIMIT 40"),
    ]


class SqlRead(_Workload):
    """Bulk-load the TPC-H-shaped tables, then cycle a fixed list of
    Postgres-dialect SELECTs (order and lookup keys set by the seed).
    Nothing is written after set-up."""

    name = "sql_read"
    # A cycle runs each scan once and each point statement this many
    # times: point statements take ~0.3 s, so one sample each leaves
    # light_s at the mercy of a single slow call, and three cost ~4 s.
    light_repeats = 3

    def __init__(self, spark, seed: int, workdir: str) -> None:
        super().__init__(spark, seed, workdir)
        self.paths = gen.write_parquet(
            gen.tpch_tables(seed), os.path.join(workdir, "src")
        )
        rng = random.Random(seed)
        stmts = _read_statements(
            ok=rng.randrange(1, gen.SIZES["orders"] + 1),
            ck=rng.randrange(1, gen.SIZES["customer"] + 1),
        )
        rng.shuffle(stmts)
        self.statements = stmts
        self.warmup_ops = len(stmts)
        self.cycle = [s for s in stmts
                      for _ in range(self.light_repeats if s[1] == "light" else 1)]
        rng.shuffle(self.cycle)
        self.cycle_len = len(self.cycle)
        self.reference: dict[str, list] = {}
        self.digests: dict[str, tuple[int, str]] = {}

    def setup(self) -> None:
        eng = self._fresh_engine()
        for name, cols, pk in gen.TPCH_DDL:
            t = time.perf_counter()
            eng.sql(gen.create_table_sql(name, cols, pk)).collect()
            self.spark.read.parquet(self.paths[name]).createOrReplaceTempView(
                f"src_{name}"
            )
            eng.sql(f"INSERT INTO {name} SELECT * FROM src_{name}").collect()
            self.setup_detail[name] = time.perf_counter() - t

    def _catalog_expected(self, name: str) -> list:
        ddl = {t: (cols, pk) for t, cols, pk in gen.TPCH_DDL}
        if name == "show_tables":
            return [(t,) for t in sorted(ddl)]
        if name == "describe":
            cols, pk = ddl["lineitem"]
            return [(c, gen.DDL_KIND[t], c not in pk, False) for c, t in cols]
        if name == "info_schema":
            cols, pk = ddl["orders"]
            return [(c, gen.DDL_KIND[t], "NO" if c in pk else "YES")
                    for c, t in cols]
        if name == "session_fns":
            return [(self.engine.user, "public")]
        raise KeyError(name)

    def prepare(self) -> None:
        """Reference answers: DuckDB over the generated parquet for
        queries, the declared schema for catalog statements."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            for name, path in self.paths.items():
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
            for name, _cls, sql, ref in self.statements:
                if ref is None:
                    self.reference[name] = self._catalog_expected(name)
                else:
                    q = sql if ref == "same" else ref
                    self.reference[name] = [tuple(r) for r in con.execute(q).fetchall()]
        finally:
            con.close()

    def ops(self) -> Iterator[Op]:
        """The warm-up runs every statement once; then the cycle."""
        def op(stmt) -> Op:
            name, cls, sql, _ref = stmt
            return Op(name, cls, lambda: self.engine.sql(sql).collect(), rows=len)

        yield from map(op, self.statements)
        while True:
            yield from map(op, self.cycle)

    def check(self, op: Op, result) -> bool:
        rows = [tuple(r) for r in result]
        seen = self.digests.get(op.kind)
        if seen is None:
            # first execution: against the reference, then pinned by hash
            ok = rows_match(rows, self.reference[op.kind])
            if ok:
                self.digests[op.kind] = (len(rows), rows_digest(rows))
            return ok
        return seen == (len(rows), rows_digest(rows))


# ----------------------------------------------------------- sql_write
WRITE_DDL = (
    "CREATE TABLE w (id bigserial PRIMARY KEY, k bigint NOT NULL,"
    " u text UNIQUE NULLS DISTINCT, v double precision, note text)"
)
READ_W = "SELECT count(*) AS n, count(u) AS nu, sum(k) AS sk, max(id) AS mx FROM w"


class SqlWrite(_Workload):
    """A fixed, seeded cycle of INSERT ... SELECT, INSERT ... VALUES,
    rejected duplicate INSERTs, reads of the growing table and
    compactions, plus incremental index ingest: a streamed document
    feed admitted into an LSH near-duplicate index, with embedding
    batches folded into an IVF index. The benchmark keeps a
    model of the table and of the indexed corpora and checks every
    operation against it."""

    name = "sql_write"
    warmup_ops = len(gen.WRITE_WARMUP)
    cycle_len = len(gen.write_cycle(random.Random(0)))

    def __init__(self, spark, seed: int, workdir: str) -> None:
        super().__init__(spark, seed, workdir)
        src = os.path.join(workdir, "src")
        self.events_path = gen.write_parquet(
            {"events": gen.events_table(seed)}, src)["events"]
        self.order_rng = random.Random(seed)    # the operation sequence
        self.rng = random.Random(seed + 1)      # the rows each operation writes
        self.doc_feed = gen.DocFeed(seed)
        self.vec_feed = gen.VecFeed(seed)
        self.ingest_dir = os.path.join(workdir, "ingest")
        self.feed_dir = os.path.join(workdir, "feed")
        os.makedirs(os.path.join(self.feed_dir, "documents.parquet"))
        self.seed_paths = gen.write_parquet({
            "seed_docs": gen.docs_table(self.doc_feed.seed_docs()),
            "seed_vecs": self.vec_feed.batch(gen.SEED_VECS),
        }, src)
        self.n_feed = 0
        self._reset_model()

    def setup(self) -> None:
        from seamdb_spark.errors import UniqueIndexError

        self.UniqueIndexError = UniqueIndexError
        t = time.perf_counter()
        eng = self._fresh_engine()
        eng.sql(WRITE_DDL).collect()
        self.spark.read.parquet(self.events_path).createOrReplaceTempView("ev")
        self.setup_detail["table"] = time.perf_counter() - t
        t = time.perf_counter()
        self._setup_indexes()
        self.setup_detail["indexes"] = time.perf_counter() - t

    def _setup_indexes(self) -> None:
        """Seed corpora committed to snapshot tables, and the two
        indexes built over them by their first refresh."""
        from pyspark.sql import types as T

        from seamdb_spark import session
        from seamdb_spark.dedup_index import IncrementalLSHIndex
        from seamdb_spark.ivf_index import IncrementalIVFIndex
        from seamdb_spark.snapshots import TableSnapshots

        d = self.ingest_dir
        self.doc_schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
        self.vec_schema = T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ])
        self.docs = TableSnapshots(os.path.join(d, "docs"))
        self.docs.commit(self.spark.read.schema(self.doc_schema).parquet(
            self.seed_paths["seed_docs"]), mode="overwrite")
        self.lsh = IncrementalLSHIndex.over_snapshots(
            self.spark, os.path.join(d, "docs"), self.doc_schema, "doc_id",
            "text", os.path.join(d, "lsh"))
        self.vecs = TableSnapshots(os.path.join(d, "vecs"))
        self.vecs.commit(self.spark.read.schema(self.vec_schema).parquet(
            self.seed_paths["seed_vecs"]), mode="overwrite")
        # retrain_permille=1000 never re-centres (moves <= indexed), so
        # every timed refresh takes the incremental path
        self.ivf = IncrementalIVFIndex(
            self.spark, os.path.join(d, "vecs"), self.vec_schema,
            os.path.join(d, "ivf"), retrain_permille=1000)
        built = session.run_concurrently(self.lsh.refresh, self.ivf.refresh)
        want = [("incremental", gen.SEED_DOCS), ("train", gen.SEED_VECS)]
        got = [(b["mode"], b.get("n_new_docs", b.get("n_new_vecs"))) for b in built]
        if got != want:
            raise RuntimeError(f"index build returned {got}, expected {want}")
        self.n_docs, self.n_vecs = gen.SEED_DOCS, gen.SEED_VECS

    def _reset_model(self) -> None:
        """The benchmark's model of table ``w``."""
        self.n_rows = 0
        self.n_u = 0
        self.sum_k = 0
        self.allocated = 0          # serial values handed out so far
        self.max_id = None
        self.id_ranges: list[tuple[int, int]] = []
        self.committed_u: list[str] = []
        self.version = 0
        self.n_ops = 0

    def _accepted(self, rows: list[tuple]) -> None:
        """Fold an accepted INSERT's (k, u, ...) rows into the model."""
        n = len(rows)
        lo = self.allocated + 1
        self.allocated += n
        if self.id_ranges is not None:
            self.id_ranges.append((lo, self.allocated))
        self.max_id = self.allocated
        self.n_rows += n
        us = [r[1] for r in rows if r[1] is not None]
        self.n_u += len(us)
        self.committed_u.extend(us[:3])
        self.sum_k += sum(r[0] for r in rows)

    def _insert_select(self, tag: str) -> Op:
        lo = self.rng.randrange(0, gen.EVENTS_ROWS - gen.SELECT_ROWS)
        hi = lo + gen.SELECT_ROWS
        sql = (
            f"INSERT INTO w (k, u, v, note) SELECT event_id, concat('{tag}-',"
            f" event_id), value, kind FROM ev WHERE event_id >= {lo}"
            f" AND event_id < {hi}"
        )
        rows = [(k, f"{tag}-{k}") for k in range(lo, hi)]
        return Op("insert_select", "heavy",
                  lambda: self.engine.sql(sql).collect()[0]["count"],
                  rows=lambda n: n, info={"rows": rows})

    def _values_sql(self, rows: list[tuple]) -> str:
        body = ", ".join(
            "(" + ", ".join(gen.sql_literal(v) for v in r) + ")" for r in rows
        )
        return f"INSERT INTO w (k, u, v, note) VALUES {body}"

    def _insert_values(self, tag: str) -> Op:
        rows = gen.values_rows(self.rng, tag, gen.VALUES_ROWS)
        sql = self._values_sql(rows)
        return Op("insert_values", "heavy",
                  lambda: self.engine.sql(sql).collect()[0]["count"],
                  rows=lambda n: n, info={"rows": rows})

    def _insert_dup(self, tag: str) -> Op:
        rows = gen.values_rows(self.rng, tag, gen.DUP_ROWS)
        if self.committed_u and self.rng.random() < 0.5:
            clash = self.rng.choice(self.committed_u)       # vs the table
        else:
            clash = f"{tag}-dup"                            # within the batch
            rows[0] = (rows[0][0], clash, rows[0][2], rows[0][3])
        rows[-1] = (rows[-1][0], clash, rows[-1][2], rows[-1][3])
        sql = self._values_sql(rows)

        def run():
            try:
                self.engine.sql(sql).collect()
            except self.UniqueIndexError:
                return "rejected"
            return "accepted"

        return Op("insert_dup", None, run, info={"rows": rows})

    def _read(self) -> Op:
        return Op("read_after_write", "light",
                  lambda: self.engine.sql(READ_W).collect())

    def _compact(self) -> Op:
        return Op("compact", None, lambda: self.engine.compact("w"))

    def _lookup(self, index, ids) -> set[tuple[int, int]]:
        """The near-duplicate pairs ``index`` holds for the batch ids."""
        return {(r.doc_a, r.doc_b)
                for r in index.new_candidate_pairs(ids, bounded=True).collect()}

    def _stream_admit(self) -> Op:
        """One feed file and its embeddings land; a streaming query
        (file source, id dedup in state, availableNow) admits the file
        through foreachBatch: an exactly-once commit to the corpus;
        then, concurrently, the LSH refresh and the embedding commit
        plus IVF refresh; then the LSH lookup of the batch (the e49
        consumer's steps)."""
        from seamdb_spark import session
        from seamdb_spark.streaming.events import stream_documents

        batch = self.doc_feed.batch()
        self.n_feed += 1
        gen.write_parquet(
            {f"part-{self.n_feed:05d}": gen.docs_table(batch["rows"])},
            os.path.join(self.feed_dir, "documents.parquet"))
        vec_path = gen.write_parquet(
            {f"vecs-{self.n_feed:05d}": self.vec_feed.batch(gen.BATCH_VECS)},
            os.path.join(self.workdir, "src"))[f"vecs-{self.n_feed:05d}"]

        def ivf_ingest():
            self.vecs.commit(self.spark.read.schema(self.vec_schema).parquet(vec_path))
            return self.ivf.refresh()

        def run():
            out: dict = {"batches": []}

            def consume(bdf, bid):
                b = bdf.select("doc_id", "text").persist()
                try:
                    ids = b.select("doc_id")
                    committed = self.docs.commit_once(b, bid)
                    refreshed = session.run_concurrently(self.lsh.refresh, ivf_ingest)
                    out["batches"].append({
                        "bid": bid, "committed": committed, "refresh": refreshed,
                        "pairs": self._lookup(self.lsh, ids),
                    })
                finally:
                    b.unpersist()

            q = (stream_documents(self.spark, self.feed_dir)
                 .dropDuplicates(["doc_id"])
                 .writeStream.foreachBatch(consume)
                 .option("checkpointLocation",
                         os.path.join(self.ingest_dir, "checkpoint"))
                 .trigger(availableNow=True)
                 .start())
            q.awaitTermination()
            out["progress"] = q.recentProgress
            return out

        return Op("stream_admit", "heavy", run,
                  rows=lambda out: len(batch["new"]) + gen.BATCH_VECS,
                  info={"batch": batch})

    def ops(self) -> Iterator[Op]:
        for kind in gen.op_sequence_iter(self.order_rng):
            self.n_ops += 1
            tag = f"o{self.n_ops}"
            if kind == "insert_select":
                yield self._insert_select(tag)
            elif kind == "insert_values":
                yield self._insert_values(tag)
            elif kind == "insert_dup":
                yield self._insert_dup(tag)
            elif kind == "stream_admit":
                yield self._stream_admit()
            elif kind == "compact":
                yield self._compact()
            else:
                yield self._read()

    def _check_admit(self, op: Op, out: dict) -> bool:
        batch = op.info["batch"]
        new = set(batch["new"])
        progress = [
            {"rows": p["numInputRows"], **p["durationMs"],
             "state_commit_ms": sum(s.get("commitTimeMs", 0)
                                    for s in p.get("stateOperators", []))}
            for p in out["progress"]
        ]
        modes = []
        ok = (len(out["batches"]) == 1
              and sum(p["rows"] for p in progress) == len(batch["rows"]))
        for b in out["batches"]:
            modes += [r["mode"] for r in b["refresh"]]
            lsh, ivf = b["refresh"]
            ok = (ok and b["committed"]
                  and (lsh["mode"], lsh["n_new_docs"]) == ("incremental", len(new))
                  and (ivf["mode"], ivf["n_new_vecs"], ivf["n_indexed"])
                  == ("incremental", gen.BATCH_VECS, self.n_vecs + gen.BATCH_VECS)
                  # LSH: equal shingle sets always collide, and only
                  # documents sharing a shingle can
                  and batch["same_shingles"] <= b["pairs"] <= batch["share_shingle"])
        op.info["detail"] = {"stream": progress, "refresh_modes": modes}
        if ok:
            self.n_docs += len(new)
            self.n_vecs += gen.BATCH_VECS
        return ok

    def check(self, op: Op, result) -> bool:
        if op.kind in ("insert_select", "insert_values"):
            ok = result == len(op.info["rows"])
            if ok:
                self._accepted(op.info["rows"])
            return ok
        if op.kind == "insert_dup":
            # a rejected INSERT still consumed its serial range (as a
            # Postgres sequence does), and committed nothing
            self.allocated += len(op.info["rows"])
            return result == "rejected"
        if op.kind == "compact":
            ok = isinstance(result, int) and result > self.version
            self.version = result if isinstance(result, int) else self.version
            return ok
        if op.kind == "stream_admit":
            return self._check_admit(op, result)
        (row,) = result
        return (row["n"], row["nu"], row["sk"] or 0, row["mx"]) == (
            self.n_rows, self.n_u, self.sum_k, self.max_id
        )

    def resync(self) -> None:
        """After an unexpected failure the model may be stale (a failed
        INSERT may or may not have committed): reload it from the
        table so later checks judge later operations only."""
        row = self.engine.sql(READ_W).collect()[0]
        self.n_rows, self.n_u, self.sum_k, self.max_id = (
            row["n"], row["nu"], row["sk"] or 0, row["mx"]
        )
        self.allocated = max(self.allocated, row["mx"] or 0)
        self.id_ranges = None  # id layout unknown from here on
        self.n_docs = self.docs.read(self.spark, self.doc_schema).count()
        self.n_vecs = self.vecs.read(self.spark, self.vec_schema).count()

    def final_check(self) -> list[str]:
        problems = []
        ids = sorted(r[0] for r in self.engine.sql("SELECT id FROM w").collect())
        if self.id_ranges is not None:
            want = [i for lo, hi in self.id_ranges for i in range(lo, hi + 1)]
            if ids != want:
                problems.append("ids are not exactly the serial ranges of accepted inserts")
        elif len(ids) != len(set(ids)):
            problems.append("duplicate ids")
        row = self.engine.sql(
            "SELECT count(u) AS a, count(DISTINCT u) AS b FROM w"
        ).collect()[0]
        if row["a"] != row["b"]:
            problems.append("duplicate unique key u")
        return problems + self._check_indexes()

    def _check_indexes(self) -> list[str]:
        """Each index equals a full derivation over its whole corpus,
        and the corpora hold exactly the admitted documents and the
        ingested vectors."""
        from pyspark.sql import functions as F

        from seamdb_spark import session
        from seamdb_spark.dedup_index import band_rows
        from seamdb_spark.operators.similarity import _qemb, assign_cells

        docs = self.docs.read(self.spark, self.doc_schema)
        vecs = self.vecs.read(self.spark, self.vec_schema)
        cells = assign_cells(_qemb(vecs), self.ivf._cdf(self.ivf.centroids()))

        def rows(df) -> set[tuple]:
            return set(map(tuple, df.collect()))

        def ids(df, col) -> tuple[int, int]:
            r = df.agg(F.count("*"), F.countDistinct(col)).collect()[0]
            return r[0], r[1]

        checks = [
            ("corpus document ids", lambda: ids(docs, "doc_id"),
             lambda: (self.n_docs, self.n_docs)),
            ("LSH index", lambda: rows(self.lsh.index()),
             lambda: rows(band_rows(docs, "doc_id", "text"))),
            ("IVF index", lambda: rows(self.ivf.index().select("vec_id", "cid")),
             lambda: rows(cells.select("vec_id", "cid"))),
            ("vector ids", lambda: ids(self.ivf.index(), "vec_id"),
             lambda: (self.n_vecs, self.n_vecs)),
        ]
        got = session.run_concurrently(*(c[1] for c in checks))
        want = session.run_concurrently(*(c[2] for c in checks))
        return [f"{name} differs from its full derivation or the model"
                for (name, _, _), g, w in zip(checks, got, want) if g != w]


WORKLOADS = {w.name: w for w in (SqlRead, SqlWrite)}
