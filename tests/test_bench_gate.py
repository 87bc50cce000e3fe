"""Unit tests for the bench trajectory gate (bench.check_regressions):
the max(2x, +2s) bound, new-query and allowlist exemptions, and the
SF-mismatch guard that keeps a local sf0.01 iteration from gating (or
poisoning) the sf0.1 trajectory."""

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from bench import check_regressions


def test_bound_is_max_of_double_and_plus_two():
    baseline = {"sf": 0.1, "queries": {"fast": 0.5, "slow": 10.0}}
    # fast: bound = max(1.0, 2.5) = 2.5 — +2s dominates small queries
    assert check_regressions({"fast": 2.4}, baseline, 0.1) == []
    out = check_regressions({"fast": 2.6}, baseline, 0.1)
    assert [r["query"] for r in out] == ["fast"] and out[0]["bound"] == 2.5
    # slow: bound = max(20.0, 12.0) = 20.0 — 2x dominates heavy queries
    assert check_regressions({"slow": 19.9}, baseline, 0.1) == []
    assert check_regressions({"slow": 20.1}, baseline, 0.1)[0]["bound"] == 20.0


def test_new_queries_and_allowlist_are_exempt():
    baseline = {"sf": 0.1, "queries": {"old": 1.0}}
    # a query with no baseline entry never gates
    assert check_regressions({"brand_new": 99.0}, baseline, 0.1) == []
    # an allowlisted deliberate plan change never gates
    assert (
        check_regressions(
            {"old": 99.0}, baseline, 0.1, allow={"old": "reworked plan"}
        )
        == []
    )
    # without the allowlist entry the same time fails
    assert check_regressions({"old": 99.0}, baseline, 0.1)


def test_baseline_at_other_sf_gates_nothing():
    baseline = {"sf": 0.1, "queries": {"q": 1.0}}
    assert check_regressions({"q": 99.0}, baseline, 0.01) == []
    assert check_regressions({"q": 99.0}, {}, 0.1) == []


def test_improvements_never_flag():
    baseline = {"sf": 0.1, "queries": {"q": 84.5}}
    # the t49 case: a 60x improvement passes, and the next clean run
    # advances the baseline down so the bound tightens with it
    assert check_regressions({"q": 1.4}, baseline, 0.1) == []


def test_materializer_entries_get_cold_build_bounds():
    """Round-11 (VERDICT r10 #6): a materializer's recorded time is a
    cold artifact build; first touch on a cold driver VM carries FS
    noise the steady-state bound doesn't (p18: 2.6s local, 5.3s on the
    driver's cold VM — flagged at bound 5.2, and the retime crash cost
    round 10 its whole bench record). Materializer entries are bounded
    by max(3x, +5s) of their own cold history instead."""
    baseline = {"sf": 0.1, "queries": {"p18": 2.6}}
    # the exact r10 driver scenario: 5.3s no longer flags
    assert check_regressions(
        {"p18": 5.3}, baseline, 0.1, materializer_names={"p18"}
    ) == []
    # but a real 3x+ regression still does (bound = max(7.8, 7.6))
    out = check_regressions(
        {"p18": 7.9}, baseline, 0.1, materializer_names={"p18"}
    )
    assert [r["query"] for r in out] == ["p18"] and out[0]["bound"] == 7.8
    # non-materializers keep the strict bound
    assert check_regressions({"p18": 5.3}, baseline, 0.1)


def test_retime_crash_keeps_record_and_flags(tmp_path):
    """Round-11 (VERDICT r10 #1/#2): a retime that raises must neither
    kill the process nor lose the record — the flagged sample is kept,
    the error is recorded, persist_results still lands the complete
    file, and the query stays gate-flagged (a non-re-runnable build is
    a real defect, visible instead of fatal)."""
    import json

    from bench import persist_results, run_gate_retimes

    class Boom(Exception):
        pass

    def crashing_query(spark, sf_dir):
        raise Boom("table nat already exists")

    class FakeDF:
        def count(self):
            return 1

    timings = {"good": 1.0, "bad": 9.0}
    queries = {
        "bad": crashing_query,
        "good": lambda spark, sf_dir: FakeDF(),
    }
    regressions = [{"query": "bad", "prev": 3.0, "now": 9.0, "bound": 8.0}]
    gate_retimes, retime_errors = run_gate_retimes(
        regressions, queries, spark=None, sf_dir="/nowhere",
        timings=timings, materializers={"bad": ["bad_layout"]},
        materialized={},
    )
    # crash contained: flagged sample kept, error recorded
    assert timings["bad"] == 9.0
    assert "Boom" in retime_errors["bad"]
    assert gate_retimes["bad"]["retime_error"] == retime_errors["bad"]
    # the complete record still lands on disk
    out = tmp_path / "results.json"
    persist_results(
        str(out), 0.1, timings, {}, {"bad": ["bad_layout"]},
        gate_retimes, retime_errors, regressions, {},
    )
    rec = json.loads(out.read_text())
    assert rec["queries"] == timings and rec["retime_errors"]["bad"]
    assert rec["n_queries"] == 2 and rec["value"] == 10.0


def test_persist_runs_before_retime_loop():
    """The full record must be on disk before any retime executes —
    round 10 lost 359s of timings to one retime crash because
    persistence only happened at the end. Source-order guard: main()'s
    first persist call precedes the run_gate_retimes call."""
    import bench

    src = open(bench.__file__).read()
    body = src[src.index("def main(") :]
    assert body.index("summary = persist(") < body.index("run_gate_retimes(")


def test_bench_skip_list_names_registered_queries():
    """Every bench skip entry must name a registered query — a renamed
    or deleted query would otherwise leave a stale skip that silently
    stops gating nothing (or, worse, lets a rename re-enter the bench
    unnoticed as a 'new' query with no baseline)."""
    import importlib
    import inspect

    import bench
    from seamdb_spark.operators.registry import QUERIES

    importlib.reload(bench)
    src = inspect.getsource(bench.main)
    # the skip dict's keys appear verbatim in main(); cross-check each
    # quoted d/s/x-prefixed key-looking token against the registry
    import re

    keys = set(re.findall(r'"([a-z]\d{2}_[a-z0-9_]+)":', src))
    assert keys, "skip dict not found in bench.main"
    unknown = sorted(k for k in keys if k not in QUERIES)
    assert not unknown, f"bench skip entries name unknown queries: {unknown}"


def test_merge_baseline_steady_vs_unsteady():
    """Round-12 (VERDICT r11 #1 follow-through): a steady clean run
    rewrites history verbatim; an unsteady clean run must keep every
    existing entry untouched (no poisoning) while still seeding
    entries for never-seen queries (no permanently ungated query), and
    drops entries for queries no longer benched."""
    from bench import merge_baseline

    timings = {"old": 2.0, "new": 5.0}
    baseline = {"sf": 0.1, "queries": {"old": 1.0, "gone": 9.9}}
    assert merge_baseline(timings, baseline, steady=True) == timings
    out = merge_baseline(timings, baseline, steady=False)
    assert out == {"old": 1.0, "new": 5.0}
    # empty/missing baseline: unsteady still seeds everything
    assert merge_baseline(timings, {}, steady=False) == timings
