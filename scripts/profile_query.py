"""Per-query profiling harness for the optimization rounds.

Times named queries on a warm bench-config session with the SAME
methodology as bench.py (wall of .count(); min-of-2 above 3 s for
non-materializers; a query that materializes a session artifact is
timed cold like the bench does) and optionally dumps
``explain("formatted")`` to plans/<out>/<query>_<tag>.txt.

    python scripts/profile_query.py [--explain-dir plans/r14] [--tag before] \
        [--sf-dir /root/testdata/sf0.1] query [query ...]

Timing-only by default; --explain-dir writes the plan files the judge
checks optimization claims against.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from seamdb_spark.session import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--tag", default="profile")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    unknown = [q for q in args.queries if q not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = build_session("seamdb_profile")
    sf_dir = args.sf_dir

    # bench.py's warm-up: flagship + table families + python worker pool
    from seamdb_spark.sources import load_table

    queries["q01_pricing_summary"](spark, sf_dir).count()
    for t in ("documents", "embeddings", "events"):
        load_table(spark, sf_dir, t).count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf.assign(np_ok=__import__("numpy").int64(1)) for pdf in it),
        schema="id long, np_ok long",
    ).count()

    from seamdb_spark.operators.materialize import _MATERIALIZED

    out = {}
    for name in args.queries:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        before = set(_MATERIALIZED)
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.count()
        t = round(time.time() - t0, 3)
        new_keys = sorted(k[2] for k in set(_MATERIALIZED) - before)
        samples = [t]
        if not new_keys:
            for _ in range(max(0, args.runs - 1)):
                t0 = time.time()
                fn(spark, sf_dir).count()
                samples.append(round(time.time() - t0, 3))
        out[name] = {
            "time": min(samples),
            "samples": samples,
            "materialized": new_keys,
        }
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            path = os.path.join(args.explain_dir, f"{name}_{args.tag}.txt")
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted")
            with open(path, "w") as f:
                f.write(df._jdf.queryExecution().explainString(mode))
        spark.sparkContext.setJobDescription(None)
        print(f"[timed] {name}: {out[name]}", flush=True)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
