"""d35 prefix-filter PRUNING spot-check on a skewed-weight corpus.

Round 13 proved d35's LOSSLESSNESS (driver row + pytest pin vs the
candidate-blind all-pairs truth) but honestly measured its candidate
stage degenerating to ~all-pairs on the driver fixture, whose bigram
weights are near-uniform (SCALING.md round-13 §). This script supplies
the missing half of the story (VERDICT r13 "Next round" #3): on the
data shape the filter exists for — idf² mass concentrated in a few
rare terms, i.e. every real-world corpus — the Bayardo prefix rule
must prune candidates to ≪ C(N,2) while still emitting EXACTLY the
all-pairs truth.

Corpus: Zipf(1.0) word frequencies over a 20k vocabulary with a small
stopword band, so bigram document frequencies are heavy-tailed: a few
stop-pair bigrams appear in a large fraction of docs (idf² ~ 1e7),
while most content bigrams are df 1-2 (idf² = 1e12, the D22_IDF_CAP).
A doc's 25%-mass prefix is then a handful of SHORT-POSTING rare terms,
which is exactly the regime where prefix(x) ⋈ all(y) output collapses.
Planted near-dup pairs (every 50th doc copies its predecessor with a
2-word tail change) keep the recall-1 comparison non-vacuous.

Run:  python scripts/d35_pruning_spotcheck.py [n_docs ...]
Defaults: 1000 3000 (3× step shows candidate growth ~linear in N on
skewed data vs ~N² on flat data). Each row prints one JSON line;
record the table in SCALE_SPOTCHECK.md.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import shutil
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from seamdb_spark.session import build_session  # noqa: E402

SEED = 20260816
VOCAB = 20_000
STOPWORDS = 40
DOC_WORDS = 24
DUP_EVERY = 50  # every 50th doc is a near-copy of its predecessor


def build_corpus(n_docs: int, out: str) -> None:
    if os.path.exists(out + "/_DONE"):
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    rng = random.Random(SEED + n_docs)
    # Zipf(1.0) cumulative distribution over the content vocabulary
    weights = [1.0 / r for r in range(1, VOCAB + 1)]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    total = cum[-1]

    def zipf_word() -> str:
        r = bisect.bisect_left(cum, rng.random() * total)
        return f"w{r:06d}"

    rows = []
    prev_words: list[str] | None = None
    for d in range(n_docs):
        if prev_words is not None and d % DUP_EVERY == 0:
            words = list(prev_words)
            words[-2] = zipf_word()
            words[-1] = zipf_word()
        else:
            words = [
                f"the{rng.randrange(STOPWORDS)}" if i % 3 == 0 else zipf_word()
                for i in range(DOC_WORDS)
            ]
        prev_words = words
        rows.append((d, " ".join(words)))

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        out + "/documents.parquet",
    )
    with open(out + "/_DONE", "w") as f:
        f.write("ok\n")


def truth_rows(sf_dir: str) -> set[tuple]:
    from seamdb_spark.operators.dedup import _d35_oracle

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS"
        f" SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return {
        (int(a), int(b), int(nc), round(float(cs), 6))
        for a, b, nc, cs in con.execute(_d35_oracle()).fetchall()
    }


def measure(spark, n_docs: int) -> dict:
    from seamdb_spark.operators.dedup import (
        _d22_weighted,
        _d35_candidates,
        d35_cosine_prefix_filtered,
    )

    out = f"/tmp/seamdb_d35_zipf/{n_docs}"
    build_corpus(n_docs, out)
    cand = (
        _d35_candidates(spark, out).select("doc_a", "doc_b").distinct().count()
    )
    # the candidate-BLIND baseline the oracle scores: every pair
    # sharing at least one term
    w = _d22_weighted(spark, out).select("doc_id", "th")
    sharing = (
        w.alias("a")
        .join(w.alias("b"), "th")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .count()
    )
    got = {
        (int(r["doc_a"]), int(r["doc_b"]), int(r["n_common"]),
         round(float(r["cosine_sim"]), 6))
        for r in d35_cosine_prefix_filtered(spark, out).collect()
    }
    want = truth_rows(out)
    all_pairs = n_docs * (n_docs - 1) // 2
    return {
        "n_docs": n_docs,
        "all_pairs": all_pairs,
        "term_sharing_pairs": sharing,
        "prefix_candidates": cand,
        "cand_over_all_pairs": round(cand / all_pairs, 5),
        "cand_over_sharing": round(cand / max(1, sharing), 5),
        "output_pairs": len(got),
        "matches_all_pairs_truth": got == want,
        "cand_per_doc": round(cand / n_docs, 2),
    }


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [1000, 3000]
    spark = build_session("seamdb_d35_pruning")
    out = []
    for n in sizes:
        rec = measure(spark, n)
        out.append(rec)
        print(json.dumps(rec), flush=True)
    print(json.dumps({"d35_pruning_spotcheck": out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
