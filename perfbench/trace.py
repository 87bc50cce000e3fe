"""Tracing for the traced run, recorded from the benchmark's own code.

``Tracer.install()`` wraps the public entry points of each engine layer
(sqlparse, catalog, engine, dml, snapshots, the dedup and IVF indexes,
``session.run_concurrently``) with span-recording wrappers; nothing
under ``seamdb_spark/`` is edited, and ``uninstall()`` restores the
originals. A span records its name, start, end, parent span (in the
same thread) and the operation it ran under; spans stay in memory and
are written out once, at the end of the run. Spark's work is read per
run from the driver's in-process status store (jobs, stages, tasks,
task time, bytes), over the job ids issued inside the timed window.
Streaming figures come from each query's progress reports, which the
workload keeps with the operation that ran the query.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread stack of open spans
        self._lock = threading.Lock()
        self.op_id: int | None = None
        self.counts: dict[int | None, Counter] = defaultdict(Counter)
        self._undo: list[tuple[object, str, object]] = []
        self._quiet = 0  # >0 while the tracer's own bookkeeping runs

    # ------------------------------------------------------------ spans
    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    @property
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _begin(self, name: str, jobs: bool) -> dict:
        span = {
            "op": self.op_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name, "t0": time.perf_counter(), "t1": None,
        }
        if jobs:
            span["job0"] = self.next_job_id()
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        self._stack.append(span)
        return span

    def _end(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        if "job0" in span:
            span["job1"] = self.next_job_id()
        self._stack.pop()

    def _inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self._stack)

    def count(self, key: str, n: float = 1) -> None:
        if not self._quiet:
            with self._lock:
                self.counts[self.op_id][key] += n

    def _patch(self, owner, attr: str, wrapper_of) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(wrapper_of(orig)))
        self._undo.append((owner, attr, orig))

    def span(self, owner, attr: str, name: str, jobs: bool = False,
             on_call=None) -> None:
        """Record a span around every call of ``owner.attr``; with
        ``jobs``, also the Spark job ids issued during the call.
        ``on_call(*args)`` runs first and may add counts."""
        tracer = self

        def wrapper_of(orig):
            def wrapped(*args, **kwargs):
                if tracer._quiet:
                    return orig(*args, **kwargs)
                if on_call is not None:
                    on_call(*args)
                sp = tracer._begin(name, jobs)
                try:
                    return orig(*args, **kwargs)
                finally:
                    tracer._end(sp)
            return wrapped

        self._patch(owner, attr, wrapper_of)

    def counter(self, owner, attr: str, key: str) -> None:
        tracer = self

        def wrapper_of(orig):
            def wrapped(*args, **kwargs):
                tracer.count(key)
                return orig(*args, **kwargs)
            return wrapped

        self._patch(owner, attr, wrapper_of)

    # ----------------------------------------------------------- layers
    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        import seamdb_spark.dml as dml
        import seamdb_spark.engine as engine
        import seamdb_spark.session as session
        import seamdb_spark.sqlparse as sqlparse
        from perfbench.workloads import SqlWrite
        from seamdb_spark.catalog import Metastore
        from seamdb_spark.dedup_index import _IncrementalTextIndex
        from seamdb_spark.ivf_index import IncrementalIVFIndex
        from seamdb_spark.snapshots import TableSnapshots

        for fn in ("single_statement", "classify", "parse_create_database",
                   "parse_create_table", "parse_drop_table", "parse_insert",
                   "normalize_query", "resolve_table_name", "qualified_databases"):
            self.span(sqlparse, fn, f"sqlparse.{fn}")
        for fn in ("database_exists", "list_databases", "list_tables",
                   "get_table", "table_dir", "create_database", "create_table",
                   "drop_table", "next_serial"):
            self.span(Metastore, fn, f"catalog.{fn}")
        self.span(engine.Engine, "sql", "engine.sql")
        self.span(engine.Engine, "_register_views", "engine.register_views")
        self.span(engine.Engine, "compact", "engine.compact")
        # engine.py binds execute_insert by name: patch that binding
        self.span(engine, "execute_insert", "dml.execute_insert", jobs=True)
        self.span(dml, "assign_serials", "dml.assign_serials")
        self.span(dml, "validate_batch", "dml.validate_batch")
        self.span(TableSnapshots, "read", "snapshots.read",
                  on_call=self._count_read_files)
        self.span(TableSnapshots, "_gc", "snapshots.gc")
        self.span(TableSnapshots, "commit_once", "snapshots.commit_once")
        self._patch(TableSnapshots, "commit", self._commit_wrapper)
        self.span(_IncrementalTextIndex, "refresh", "dedup_index.refresh")
        # a lookup builds its plan in new_candidate_pairs and runs it on
        # collect: the workload's _lookup holds both
        self.span(SqlWrite, "_lookup", "dedup_index.lookup")
        self.span(IncrementalIVFIndex, "refresh", "ivf_index.refresh")
        self.span(session, "run_concurrently", "session.run_concurrently")
        self.counter(TableSnapshots, "_read_manifest", "manifest_reads")
        self.counter(ClassicDataFrame, "createOrReplaceTempView", "views")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _files(self, snaps) -> dict[str, int]:
        self._quiet += 1
        try:
            return {
                p: os.path.getsize(p) for p in snaps.current_files()
                if os.path.exists(p)
            }
        finally:
            self._quiet -= 1

    def _count_read_files(self, snaps, *args) -> None:
        self.count("snapshot_reads")
        self.count("files_per_read", len(self._files(snaps)))

    def _commit_wrapper(self, orig):
        tracer = self

        def wrapped(snaps, df, mode="append", *args, **kwargs):
            if tracer._quiet:
                return orig(snaps, df, mode, *args, **kwargs)
            before = tracer._files(snaps)
            sp = tracer._begin("snapshots.commit", jobs=False)
            try:
                result = orig(snaps, df, mode, *args, **kwargs)
            finally:
                tracer._end(sp)
            after = tracer._files(snaps)
            new = {p: s for p, s in after.items() if p not in before}
            tracer.count("files_written", len(new))
            tracer.count("bytes_written", sum(new.values()))
            if tracer._inside("ivf_index.refresh"):
                tracer.count("ivf_commits")
                tracer.count("ivf_files", len(new))
            if mode == "append":
                tracer.count("bytes_appended", sum(new.values()))
            return result

        return wrapped

    # ------------------------------------------------------ spark store
    def _drain_listener_bus(self) -> None:
        try:
            self._sc.listenerBus().waitUntilEmpty()
        except Exception:  # private API: fall back to a short grace period
            time.sleep(1.0)

    def spark_work(self, job0: int, job1: int) -> dict:
        """Totals over jobs [job0, job1) from the status store."""
        self._drain_listener_bus()
        store = self._sc.statusStore()
        seen: set[int] = set()
        tot = Counter()
        for jid in range(job0, job1):
            try:
                sids = store.job(jid).stageIds()
            except Exception:  # evicted from the store: counted, not hidden
                tot["jobs_missing"] += 1
                continue
            tot["jobs"] += 1
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # never attempted (skipped)
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["executor_run_ms"] += sd.executorRunTime()
                tot["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["input_bytes"] += sd.inputBytes()
                tot["output_bytes"] += sd.outputBytes()
        return dict(tot)

    def gc_ms(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        beans = mf.getGarbageCollectorMXBeans()
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

    # ----------------------------------------------------------- report
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["t1"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        return {
            s["id"]: (s["t1"] - s["t0"]) - child[s["id"]]
            for s in self.spans if s["t1"] is not None
        }

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def layer_metrics(tracer: Tracer, ops: list[dict], spark_tot: dict,
                  window_s: float, cores: int) -> dict:
    """Per-layer numbers over the timed operations ``ops`` (records with
    ``id``, ``kind`` and ``latency``). Times and counts are means per
    timed operation unless the name says otherwise."""
    ids = {o["id"] for o in ops}
    n = max(1, len(ops))
    selft = tracer.self_times()
    dur = defaultdict(float)
    calls = Counter()
    inserts = jobs_in_inserts = 0
    sql_time = defaultdict(float)
    for s in tracer.spans:
        if s["op"] not in ids or s["t1"] is None:
            continue
        name = s["name"]
        calls[name] += 1
        if name.startswith("sqlparse."):
            dur["sqlparse"] += selft[s["id"]]
        dur[name] += s["t1"] - s["t0"]
        if name == "engine.sql":
            sql_time[s["op"]] += s["t1"] - s["t0"]
        if name == "dml.execute_insert":
            inserts += 1
            jobs_in_inserts += s["job1"] - s["job0"]
    counts = Counter()
    for op_id in ids:
        counts.update(tracer.counts.get(op_id, Counter()))
    n_stmt = max(1, calls["engine.sql"])
    exec_s = sum(o["latency"] - sql_time[o["id"]] for o in ops if sql_time[o["id"]])
    n_compact = max(1, calls["engine.compact"])
    appended = counts["bytes_appended"]
    m = {
        "sqlparse.s": dur["sqlparse"] / n_stmt,
        "catalog.calls_per_stmt": sum(v for k, v in calls.items()
                                      if k.startswith("catalog.")) / n_stmt,
        "catalog.next_serial_s": dur["catalog.next_serial"] / n,
        "engine.sql_s": dur["engine.sql"] / n_stmt,
        "engine.register_views_s": dur["engine.register_views"] / n_stmt,
        "engine.views_per_stmt": counts["views"] / n_stmt,
        "exec_s": exec_s / n_stmt,
        "snapshots.manifest_reads_per_stmt": counts["manifest_reads"] / n_stmt,
        "snapshots.read_s": dur["snapshots.read"] / n,
        "snapshots.commit_s": dur["snapshots.commit"] / n,
        "snapshots.files_written": counts["files_written"] / n,
        "snapshots.bytes_written": counts["bytes_written"] / n,
        "snapshots.write_amp": (counts["bytes_written"] / appended) if appended else 0.0,
        "snapshots.gc_s": dur["snapshots.gc"] / n,
        "snapshots.live_files": counts["files_per_read"] / max(1, counts["snapshot_reads"]),
        "compact.s": dur["engine.compact"] / n_compact,
        "compact.bytes_rewritten": (counts["bytes_written"] - appended) / n_compact,
        "dml.assign_serials_s": dur["dml.assign_serials"] / n,
        "dml.validate_s": dur["dml.validate_batch"] / n,
        "dml.jobs_per_insert": (jobs_in_inserts / inserts) if inserts else 0.0,
        "trace.spans_per_op": sum(calls.values()) / n,
    }
    for key in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
                "output_bytes"):
        m[f"spark.{key}"] = spark_tot.get(key, 0) / n
    m.update(ingest_metrics(ops, dur, calls, counts))
    m["spark.jobs_missing"] = float(spark_tot.get("jobs_missing", 0))
    m["spark.slot_util"] = spark_tot.get("executor_run_ms", 0) / (
        1000.0 * window_s * cores
    )
    return m


def ingest_metrics(ops: list[dict], dur: dict, calls: Counter,
                   counts: Counter) -> dict:
    """The index-ingest layers: times per call of each index entry
    point, refresh modes, and the streaming figures each stream
    operation's query reported (means per micro-batch)."""
    modes = Counter()
    progress = []
    for o in ops:
        detail = o.get("detail") or {}
        modes.update(detail.get("refresh_modes", []))
        progress += detail.get("stream", [])

    def per_call(name: str) -> float:
        return dur[name] / calls[name] if calls[name] else 0.0

    def per_batch(key: str) -> float:
        return statistics.mean(p.get(key, 0) for p in progress) if progress else 0.0

    n_stream = sum(1 for o in ops if o["kind"] == "stream_admit")
    return {
        "dedup_index.refresh_s": per_call("dedup_index.refresh"),
        "dedup_index.lookup_s": per_call("dedup_index.lookup"),
        "ivf_index.refresh_s": per_call("ivf_index.refresh"),
        "ivf_index.files_per_commit": (counts["ivf_files"] / counts["ivf_commits"])
        if counts["ivf_commits"] else 0.0,
        "snapshots.commit_once_s": per_call("snapshots.commit_once"),
        "session.run_concurrently_s": per_call("session.run_concurrently"),
        "refresh.incremental": float(modes["incremental"]),
        "refresh.other": float(sum(modes.values()) - modes["incremental"]),
        "stream.batches": len(progress) / n_stream if n_stream else 0.0,
        "stream.planning_ms": per_batch("queryPlanning"),
        "stream.add_batch_ms": per_batch("addBatch"),
        "stream.wal_commit_ms": per_batch("walCommit"),
        "stream.state_commit_ms": per_batch("state_commit_ms"),
    }
