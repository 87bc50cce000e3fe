"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import random
import re
import types
from pathlib import Path

from perfbench import gen, stats, steadiness
from perfbench.workloads import SqlRead, SqlWrite, rows_digest, rows_match

ROOT = Path(__file__).resolve().parent.parent


# ------------------------------------------------------------ tail rule
def test_tail_leaves_exactly_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]
    value, pct, n = stats.tail(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for s in samples if s > value) == 10


def test_tail_is_order_independent_and_uses_the_highest_such_percentile():
    samples = [float(i) for i in range(20)]
    random.Random(0).shuffle(samples)
    value, pct, n = stats.tail(samples)
    assert (value, pct, n) == (9.0, 50.0, 20)
    # one rank higher would leave only nine samples beyond
    assert sum(1 for s in samples if s > 10.0) == 9


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([3.0] + [5.0] * 10) == (3.0, 100 / 11, 11)


# ------------------------------------------------------ seeded sequences
def _kinds(seed: int, n: int) -> list[str]:
    return list(itertools.islice(gen.op_sequence_iter(random.Random(seed)), n))


def test_seed_gives_the_same_write_sequence():
    assert _kinds(7, 60) == _kinds(7, 60)
    assert _kinds(7, 60) != _kinds(8, 60)
    assert _kinds(7, len(gen.WRITE_WARMUP)) == gen.WRITE_WARMUP


def test_write_workload_ops_follow_the_seeded_sequence(tmp_path):
    def ops(seed, sub):
        w = SqlWrite(None, seed, str(tmp_path / sub))
        return [(o.kind, o.info.get("rows"), o.info.get("batch"))
                for o in itertools.islice(w.ops(), 40)]

    first, again = ops(3, "a"), ops(3, "b")
    assert first == again
    assert [k for k, _, _ in first] == _kinds(3, 40)


def test_every_write_cycle_has_each_operation():
    cycle = gen.write_cycle(random.Random(1))
    assert sorted(set(cycle)) == ["compact", "insert_dup", "insert_select",
                                  "insert_values", "read_after_write",
                                  "stream_admit"]
    assert sorted(set(gen.WRITE_WARMUP)) == sorted(set(cycle))


def test_seed_gives_the_same_read_inputs(tmp_path):
    a = SqlRead(None, 5, str(tmp_path / "a"))
    b = SqlRead(None, 5, str(tmp_path / "b"))
    assert a.statements == b.statements
    for name in a.paths:
        assert Path(a.paths[name]).read_bytes() == Path(b.paths[name]).read_bytes()
    assert SqlRead(None, 6, str(tmp_path / "c")).statements != a.statements


def test_read_warmup_runs_each_statement_once_and_the_cycle_repeats_points(tmp_path):
    w = SqlRead(None, 1, str(tmp_path))
    ops = list(itertools.islice(w.ops(), w.warmup_ops + 2 * w.cycle_len))
    names = [s[0] for s in w.statements]
    assert [o.kind for o in ops[:w.warmup_ops]] == names
    assert len(set(names)) == len(names)
    cycle = [o.kind for o in ops[w.warmup_ops:w.warmup_ops + w.cycle_len]]
    assert cycle == [o.kind for o in ops[w.warmup_ops + w.cycle_len:]]
    for name, cls, _sql, _ref in w.statements:
        assert cycle.count(name) == (w.light_repeats if cls == "light" else 1)


# ------------------------------------------------------ index ingest feeds
def test_doc_feed_is_seeded_and_its_pairs_are_consistent():
    def batches(seed):
        f = gen.DocFeed(seed)
        return f.seed_docs(), f.batch(), f.batch()

    a, b = batches(4), batches(4)
    assert a == b and a != batches(5)
    seed_docs, first, second = a
    texts = dict(seed_docs) | dict(first["rows"]) | dict(second["rows"])
    for batch, lo in ((first, gen.SEED_DOCS + 1),
                      (second, gen.SEED_DOCS + gen.BATCH_DOCS + 1)):
        assert batch["new"] == list(range(lo, lo + gen.BATCH_DOCS))
        assert len(batch["rows"]) == gen.BATCH_DOCS + gen.BATCH_RESENT
        new = set(batch["new"])
        assert batch["same_shingles"] <= batch["share_shingle"]
        assert len(batch["same_shingles"]) >= gen.BATCH_EXACT
        for x, y in batch["share_shingle"]:
            assert x < y and (x in new or y in new)
            assert gen.shingles(texts[x]) & gen.shingles(texts[y])
        for x, y in batch["same_shingles"]:
            assert gen.shingles(texts[x]) == gen.shingles(texts[y])
    # the second file re-sends rows of the first, which the stream drops
    resent = [r for r in second["rows"] if r[0] not in set(second["new"])]
    assert len(resent) == gen.BATCH_RESENT and set(resent) <= set(first["rows"])


def test_vec_feed_is_seeded_and_ids_are_dense():
    a, b = gen.VecFeed(2), gen.VecFeed(2)
    t1, t2 = a.batch(5), a.batch(3)
    assert t1.equals(b.batch(5))
    assert t1.column("vec_id").to_pylist() + t2.column("vec_id").to_pylist() \
        == list(range(8))
    assert not t1.equals(gen.VecFeed(3).batch(5))


def test_generated_money_values_sum_exactly():
    t = gen.tpch_tables(1)["lineitem"]
    price = t.column("l_extendedprice").to_pylist()
    disc = t.column("l_discount").to_pylist()
    total = sum(p * (1 - d) for p, d in zip(price, disc))
    assert total == sum(reversed([p * (1 - d) for p, d in zip(price, disc)]))


# ---------------------------------------------------------- metric names
def _bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_are_valid_and_unique():
    bench = _bench()
    names = [m["name"] for sec in ("end_to_end", "per_layer") for m in bench[sec]]
    names += [w["name"] for w in bench["workloads"]]
    valid = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    assert all(valid.fullmatch(n) for n in names)
    assert len(names) == len(set(names))


def test_setup_metric_is_declared_with_the_largest_bound():
    e2e = {m["name"]: m for m in _bench()["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


# ------------------------------------------------------- result checking
def test_rows_match_tolerates_last_place_rounding_only():
    assert rows_match([(1, 0.1 + 0.2, "a")], [(1, 0.3, "a")])
    assert not rows_match([(1, 0.31, "a")], [(1, 0.3, "a")])
    assert not rows_match([(1, None)], [(1, 0.0)])
    assert not rows_match([(1,)], [(1,), (2,)])


def test_rows_digest_is_order_sensitive():
    assert rows_digest([(1, "a"), (2, None)]) == rows_digest([(1, "a"), (2, None)])
    assert rows_digest([(1, "a"), (2, None)]) != rows_digest([(2, None), (1, "a")])


# ------------------------------------------------- tracer leaves no residue
def _fake_spark():
    sc = types.SimpleNamespace(_jsc=types.SimpleNamespace(sc=lambda: None))
    return types.SimpleNamespace(sparkContext=sc)


def test_tracer_uninstall_restores_every_patched_entry_point():
    import seamdb_spark.engine as engine
    import seamdb_spark.sqlparse as sqlparse
    from pyspark.sql.classic.dataframe import DataFrame

    from perfbench.trace import Tracer
    from seamdb_spark.snapshots import TableSnapshots

    before = (engine.execute_insert, sqlparse.classify,
              TableSnapshots.commit, DataFrame.createOrReplaceTempView)
    tracer = Tracer(_fake_spark())
    tracer.install()
    assert engine.execute_insert is not before[0]
    tracer.uninstall()
    after = (engine.execute_insert, sqlparse.classify,
             TableSnapshots.commit, DataFrame.createOrReplaceTempView)
    assert after == before


def test_spans_in_worker_threads_keep_their_own_parents():
    import threading

    from perfbench.trace import Tracer

    tracer = Tracer(_fake_spark())
    outer = tracer._begin("outer", jobs=False)
    inner: list[dict] = []

    def worker():
        inner.append(tracer._begin("worker", jobs=False))
        tracer._end(inner[0])

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    tracer._end(outer)
    assert inner[0]["parent"] is None and outer["parent"] is None
    assert tracer._stack == []


def test_ingest_metrics_aggregate_refresh_modes_and_stream_progress():
    from collections import Counter

    from perfbench.trace import ingest_metrics

    ops = [
        {"kind": "stream_admit", "detail": {
            "refresh_modes": ["incremental", "incremental"],
            "stream": [{"queryPlanning": 40, "addBatch": 5000, "walCommit": 60,
                        "state_commit_ms": 600}]}},
        {"kind": "stream_admit", "detail": {"refresh_modes": ["retrain"]}},
        {"kind": "read_after_write", "detail": None},
    ]
    dur = Counter({"dedup_index.refresh": 3.0, "ivf_index.refresh": 2.0})
    calls = Counter({"dedup_index.refresh": 2, "ivf_index.refresh": 1})
    m = ingest_metrics(ops, dur, calls, Counter({"ivf_files": 3, "ivf_commits": 2}))
    assert (m["refresh.incremental"], m["refresh.other"]) == (2.0, 1.0)
    assert (m["dedup_index.refresh_s"], m["ivf_index.refresh_s"]) == (1.5, 2.0)
    assert m["ivf_index.files_per_commit"] == 1.5
    assert (m["stream.batches"], m["stream.add_batch_ms"]) == (0.5, 5000)
    assert m["dedup_index.lookup_s"] == 0.0


def test_span_self_time_subtracts_children():
    from perfbench.trace import Tracer

    tracer = Tracer(_fake_spark())
    tracer.spans = [
        {"id": 0, "parent": None, "t0": 0.0, "t1": 10.0},
        {"id": 1, "parent": 0, "t0": 1.0, "t1": 4.0},
        {"id": 2, "parent": 0, "t0": 5.0, "t1": 6.0},
        {"id": 3, "parent": 1, "t0": 2.0, "t1": 3.0},
    ]
    assert tracer.self_times() == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


def test_sqlparse_wrapper_records_spans_under_the_current_operation():
    import seamdb_spark.sqlparse as sqlparse

    from perfbench.trace import Tracer

    tracer = Tracer(_fake_spark())
    tracer.install()
    try:
        tracer.op_id = 42
        assert sqlparse.classify("SELECT 1") == "query"
    finally:
        tracer.uninstall()
    (span,) = tracer.spans
    assert (span["name"], span["op"], span["parent"]) == ("sqlparse.classify", 42, None)


# ---------------------------------------------------------- steadiness
def test_steadiness_flags_spread_and_disagreement():
    metrics = [{"name": "x_s", "better": "lower", "bound": 0.1}]
    steady = {"w": {"x_s": [1.0, 1.01, 0.99, 1.0, 1.02, 0.98]}}
    slower = {"w": {"x_s": [1.2, 1.21, 1.19, 1.2, 1.22, 1.18]}}
    noisy = {"w": {"x_s": [1.0, 2.0, 0.5, 1.5, 0.7, 1.9]}}
    assert steadiness.report([steady], metrics)[1]
    assert steadiness.report([steady, steady], metrics)[1]
    assert not steadiness.report([steady, slower], metrics)[1]
    assert steadiness.report([slower, steady], metrics)[1]  # better is fine
    assert not steadiness.report([noisy], metrics)[1]
    # set-up time is held to its bound like every other metric
    setup = [{"name": "setup_s", "better": "lower", "bound": 0.1}]
    assert not steadiness.report([{"w": {"setup_s": noisy["w"]["x_s"]}}], setup)[1]


def test_quartiles_match_the_statistics_module():
    import statistics

    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    assert stats.quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
