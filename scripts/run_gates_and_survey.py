"""Run the layout-building gates, then survey every snapshot layout
BEFORE the session exits (atexit wipes session-namespaced dirs) —
evidence collection for snapshots.commit() output sizing (guide §6).

    python scripts/run_gates_and_survey.py [query ...]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from seamdb_spark.session import build_session  # noqa: E402
from scripts.profile_layouts import survey  # noqa: E402

DEFAULT = [
    "p14_schema_migration", "p15_incremental_rollup",
    "p16_incremental_lsh_index", "p18_compaction_equivalence",
    "p19_retention_gc", "p24_incremental_eval_decontam",
    "p25_index_compaction_rebuild", "p26_incremental_simhash_index",
    "p28_ivf_compaction_rebuild", "p20_incremental_ivf_index",
    "p30_bucket_pruned_unique_clash", "p31_legacy_bucket_migration",
    "e49_streaming_admission_parity", "e50_outoforder_admission",
    "e51_periodic_finalization", "e52_compaction_during_ingest",
    "e48_checkpoint_restart_parity",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    names = sys.argv[1:] or [n for n in DEFAULT if n in queries]
    spark = build_session("gates_survey")
    queries["q01_pricing_summary"](spark, sf_dir).count()
    for name in names:
        t0 = time.time()
        queries[name](spark, sf_dir).count()
        print(f"[ran] {name} {time.time()-t0:.1f}s", flush=True)

    rows = []
    for r in sorted(glob.glob("/tmp/seamdb_*")):
        rows.extend(survey(r))
    rows.sort(key=lambda r: -r["n_files"])
    for r in rows:
        print(json.dumps(r))
    print(
        json.dumps(
            {
                "tables": len(rows),
                "files": sum(r["n_files"] for r in rows),
                "files_le_64k": sum(r["files_le_64k"] for r in rows),
                "bytes": sum(r["bytes_total"] for r in rows),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
