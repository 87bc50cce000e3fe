"""Interleaved A/B of runtime-settable conf variants over the bench
tail families (round 15, VERDICT #1b): same session, alternating
passes (A B B A), per-query wall of .count() like bench.py.

    python scripts/ab_conf_tail.py [prefix ...]   # default q t x
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from seamdb_spark.session import build_session  # noqa: E402

VARIANTS = {
    "base": {},
    "pfirst_off": {
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 << 20),
    },
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    prefixes = tuple(sys.argv[1:] or ["q", "t", "x"])

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    skip = {
        "d07_dedup_jaccard_prefix_filtered", "d04_dedup_ngram_jaccard",
        "d05_embedding_neardup", "s14_ann_recall_audit",
        "d35_cosine_prefix_filtered",
    }
    names = [
        n for n in sorted(queries)
        if n.startswith(prefixes) and n not in skip
    ]
    spark = build_session("ab_conf_tail")
    from seamdb_spark.sources import load_table

    queries["q01_pricing_summary"](spark, sf_dir).count()
    for t in ("documents", "embeddings", "events"):
        load_table(spark, sf_dir, t).count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()

    defaults = {
        k: spark.conf.get(k) for v in VARIANTS.values() for k in v
    }

    def run_pass(variant: str) -> dict[str, float]:
        for k, dv in defaults.items():
            spark.conf.set(k, VARIANTS[variant].get(k, dv))
        out = {}
        for n in names:
            t0 = time.time()
            queries[n](spark, sf_dir).count()
            out[n] = round(time.time() - t0, 3)
        return out

    order = (os.environ.get("AB_ORDER") or "base,pfirst_off,pfirst_off,base").split(",")
    passes = []
    for i, v in enumerate(order):
        t0 = time.time()
        res = run_pass(v)
        passes.append((v, res))
        print(
            json.dumps(
                {"pass": i, "variant": v, "n": len(res),
                 "total": round(sum(res.values()), 2),
                 "wall": round(time.time() - t0, 2)}
            ),
            flush=True,
        )
    agg: dict[str, list[float]] = {}
    for v, res in passes:
        agg.setdefault(v, []).append(sum(res.values()))
    print(json.dumps({v: [round(x, 2) for x in xs] for v, xs in agg.items()}))
    # per-query min across the two passes of each variant
    per = {}
    for n in names:
        per[n] = {
            v: round(min(res[n] for vv, res in passes if vv == v), 3)
            for v in VARIANTS
        }
    minsums = {
        v: round(sum(d[v] for d in per.values()), 2) for v in VARIANTS
    }
    print(json.dumps({"per_query_min_sums": minsums}))
    worst = sorted(
        per.items(), key=lambda kv: kv[1]["pfirst_off"] - kv[1]["base"]
    )
    print("biggest wins (base - pfirst_off):")
    for n, d in worst[-8:][::-1]:
        print(f"  {n}: {d}")
    print("biggest losses:")
    for n, d in worst[:8]:
        print(f"  {n}: {d}")
    spark.stop()


if __name__ == "__main__":
    main()
