"""Session-scoped materialized intermediates (materialized-view analogue).

Several operators share expensive deterministic sub-pipelines (the
simhash near-dup graph feeds d03/d09/d13/d14/g01; the quantized
embedding corpus and its Lloyd centroids feed s03/d06/d17/s09).
Recomputing them per query is what a database without materialized
views would do; this memo is the engine-side equivalent: compute once
per (session, sf_dir), localCheckpoint the result (always pairs/labels
/centroid-sized, never corpus-sized), and let every dependent operator
start from it. The pipelines are deterministic, so reuse cannot change
any result — the DuckDB parity oracles are unaffected.

Entries are keyed by applicationId and pruned when the session
changes, so a dead session's cached blocks are never referenced. On a
cluster the same role is played by a writeback table (``checkpoint()``
or CREATE MATERIALIZED VIEW); see SCALING.md.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MATERIALIZED: dict[tuple[str, str, str], object] = {}
# Registry access is locked: the streaming ingest gates run independent
# refresh chains from a thread pool (guide §2.6), and two first-touch
# builders materializing DIFFERENT keys concurrently would otherwise
# race _prune's iteration against the other thread's insert. Builders
# run OUTSIDE the lock (they submit Spark jobs); per-key duplicate
# builds cannot happen in practice because concurrent consumers touch
# distinct keys (band rows vs simhash sigs).
_MATERIALIZED_LOCK = threading.Lock()

# External-layout counterpart of _prune: j02/j03 write session-
# namespaced bucketed/partitioned copies under a shared /tmp root
# (namespacing prevents two live sessions racing on one path, but
# means mode=overwrite never reclaims a dead session's directory).
# Reclamation is two-sided: an atexit hook removes THIS session's
# directories on clean exit, and each new reservation best-effort
# prunes sibling directories untouched for 24h (crashed sessions) —
# long enough that no plausibly-live session loses its layout.
_EXTERNAL_STALE_SECONDS = 24 * 3600
_EXTERNAL_RESERVED: set[str] = set()


def session_tag(spark: SparkSession, sf_dir: str) -> str:
    """``<sf_dir>_<applicationId>`` folded to ``[0-9a-z_]``: the name a
    stateful operator gives its session's external layout (a ``<root>/
    <tag>`` dir) and catalog tables, so two live sessions, or two scale
    factors in one session, never share a path or a table name."""
    app = re.sub(r"[^0-9a-z]+", "_", spark.sparkContext.applicationId.lower())
    return re.sub(r"[^0-9a-z]+", "_", sf_dir.lower()).strip("_") + "_" + app


def session_external_dir(root: str, tag: str) -> str:
    """Reserve ``<root>/<tag>`` for this session's external table data."""
    path = os.path.join(root, tag)
    try:
        # Liveness refresh FIRST: a directory's mtime only advances when
        # direct children change, so a >24h session that merely READS its
        # layout would otherwise look stale to a concurrent new session's
        # prune below. Touching on every reservation call (queries re-call
        # this on each run) keeps live sessions out of the stale window.
        if os.path.isdir(path):
            os.utime(path)
        now = time.time()
        for name in os.listdir(root):
            sib = os.path.join(root, name)
            if name != tag and (
                now - os.path.getmtime(sib) > _EXTERNAL_STALE_SECONDS
            ):
                shutil.rmtree(sib, ignore_errors=True)
    except OSError:
        pass
    if path not in _EXTERNAL_RESERVED:
        _EXTERNAL_RESERVED.add(path)
        atexit.register(shutil.rmtree, path, True)
    return path


def fresh_external_dir(root: str, tag: str) -> str:
    """``session_external_dir``, wiped: stateful materializer ``build()``s
    call this instead so a RE-ENTERED build — the bench gate-retime
    evicts the memo and re-runs the builder inside the same session
    (bench.py), exactly what crashed the round-10 driver bench with
    ``TableAlreadyExistsError`` at p18's second ``CREATE TABLE`` — always
    starts from an empty layout and reproduces the exact first-build
    commit/refresh sequence (train→incremental for the index builders,
    v1..vN for the snapshot builders). The path is applicationId-
    namespaced, so wiping it can never touch another live session."""
    path = session_external_dir(root, tag)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _prune(app_id: str) -> None:
    for stale in [k for k in _MATERIALIZED if k[0] != app_id]:
        del _MATERIALIZED[stale]


def materialized_df(
    spark: SparkSession, sf_dir: str, key: str, builder: Callable[[], DataFrame]
) -> DataFrame:
    """Build-once DataFrame, localCheckpointed (blocks live with the session)."""
    app_id = spark.sparkContext.applicationId
    mkey = (app_id, sf_dir, key)
    with _MATERIALIZED_LOCK:
        df = _MATERIALIZED.get(mkey)
        if df is not None:
            return df
        _prune(app_id)
    df = builder().localCheckpoint()
    with _MATERIALIZED_LOCK:
        return _MATERIALIZED.setdefault(mkey, df)


def materialized_value(
    spark: SparkSession, sf_dir: str, key: str, builder: Callable[[], object]
) -> object:
    """Build-once driver-side value (e.g. a centroid table — always O(1))."""
    app_id = spark.sparkContext.applicationId
    mkey = (app_id, sf_dir, key)
    with _MATERIALIZED_LOCK:
        val = _MATERIALIZED.get(mkey)
        if val is not None:
            return val
        _prune(app_id)
    val = builder()
    with _MATERIALIZED_LOCK:
        return _MATERIALIZED.setdefault(mkey, val)
