"""Pins for the driver-side job-overlap introduced in round 14.

The streaming ingest gates (e49-e52) submit their independent
per-micro-batch legs from a thread pool (``session.run_concurrently``),
and first-touch memo builders can now run on those threads — so the
ordering/exception contract of the helper and the thread-safety of the
session-memo registry are load-bearing operator internals.
"""

import threading

import pytest

from seamdb_spark.operators.materialize import (
    _MATERIALIZED,
    materialized_value,
)
from seamdb_spark.session import run_concurrently


def test_run_concurrently_returns_results_in_submission_order():
    assert run_concurrently(lambda: "a", lambda: "b", lambda: "c") == [
        "a", "b", "c",
    ]


def test_run_concurrently_propagates_failures():
    def boom():
        raise RuntimeError("leg failed")

    with pytest.raises(RuntimeError, match="leg failed"):
        run_concurrently(lambda: 1, boom)


def test_run_concurrently_actually_overlaps():
    """Two legs that each wait for the other only finish if both run
    at the same time — serial execution would deadlock (bounded by the
    barrier timeout, which then fails the test)."""
    barrier = threading.Barrier(2, timeout=10)
    assert run_concurrently(barrier.wait, barrier.wait) is not None


def test_run_concurrently_legs_keep_the_callers_job_group(spark):
    """Job groups are per thread; each leg runs its jobs under the
    caller's group, so a tagged phase counts the jobs of its legs."""
    import uuid

    sc = spark.sparkContext
    group = f"legs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run_concurrently(
            lambda: spark.range(0, 10, 1, 2).collect(),
            lambda: spark.range(0, 20, 1, 2).collect(),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def test_memo_registry_safe_under_concurrent_first_touch(spark):
    """Concurrent first-touch builds of DISTINCT keys (the e49 base
    build: band-rows hint on one thread, simhash hint on the other)
    must not race _prune's iteration against an insert, and each key
    must build exactly once."""
    builds: list[str] = []

    def toucher(key: str):
        def build():
            builds.append(key)
            return f"value-{key}"

        return lambda: materialized_value(spark, "/sf", key, build)

    keys = [f"concurrency_test_{i}" for i in range(8)]
    try:
        results = run_concurrently(*[toucher(k) for k in keys])
        assert results == [f"value-{k}" for k in keys]
        assert sorted(builds) == sorted(keys)
        # second touch from threads: all memo reads, no rebuilds
        results2 = run_concurrently(*[toucher(k) for k in keys])
        assert results2 == results
        assert len(builds) == len(keys)
    finally:
        app_id = spark.sparkContext.applicationId
        for k in keys:
            _MATERIALIZED.pop((app_id, "/sf", k), None)
