"""Phase-level cost decomposition for the composite gates (e49-e52,
IVF family): wraps the index/snapshot primitives with timing shims,
runs the named query once on a bench-config session, and prints a
per-call cost table. Diagnostic only — never imported by the engine.

    python scripts/profile_phases.py e49_streaming_admission_parity
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from seamdb_spark.session import build_session  # noqa: E402

CALLS: dict[str, list[float]] = defaultdict(list)


def timed(label: str, fn):
    def wrapper(*a, **kw):
        t0 = time.time()
        out = fn(*a, **kw)
        CALLS[label].append(time.time() - t0)
        return out
    return wrapper


def main() -> None:
    names = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"

    import __spark_entry__ as entrymod
    from seamdb_spark import dedup_index, ivf_index, snapshots

    # shim the primitives; a name that no longer exists raises, so a
    # rename cannot silently drop its rows from the table
    for cls, meths in (
        (snapshots.TableSnapshots, ["commit", "commit_once"]),
        (snapshots.Incremental, ["delta", "read_source"]),
        (dedup_index._IncrementalTextIndex, ["refresh", "_derive_of"]),
        (dedup_index.IncrementalLSHIndex, ["new_candidate_pairs"]),
        (dedup_index.IncrementalSimHashIndex, ["new_candidate_pairs"]),
        (ivf_index.IncrementalIVFIndex,
         ["refresh", "drift_report", "_quant_of", "_stats_of",
          "_train_commit"]),
    ):
        for m in meths:
            if m not in cls.__dict__:
                raise AttributeError(f"{cls.__name__} defines no {m!r}")
            wrapped = timed(f"{cls.__name__}.{m}", getattr(cls, m))
            if isinstance(cls.__dict__[m], staticmethod):
                wrapped = staticmethod(wrapped)
            setattr(cls, m, wrapped)

    queries = entrymod.queries()
    spark = build_session("seamdb_phase_profile")
    from seamdb_spark.sources import load_table

    queries["q01_pricing_summary"](spark, sf_dir).count()
    for t in ("documents", "embeddings", "events"):
        load_table(spark, sf_dir, t).count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf.assign(np_ok=__import__("numpy").int64(1)) for pdf in it),
        schema="id long, np_ok long",
    ).count()

    for name in names:
        CALLS.clear()
        t0 = time.time()
        queries[name](spark, sf_dir).count()
        total = time.time() - t0
        print(f"\n==== {name}: {total:.2f}s total ====")
        shimmed = 0.0
        for label, ts in sorted(CALLS.items(), key=lambda kv: -sum(kv[1])):
            shimmed += sum(ts)
            print(f"  {label:45s} n={len(ts):3d} sum={sum(ts):7.2f}s "
                  f"each={'/'.join(f'{t:.2f}' for t in ts[:8])}")
        print(f"  [unattributed]                                sum={total - shimmed:7.2f}s"
              "  (note: nested shims double-count)")
    spark.stop()


if __name__ == "__main__":
    main()
