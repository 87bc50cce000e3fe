"""Bucketed unique-check spot-check — O(touched buckets) at 10×.

VERDICT r12 "Next round" #6: p30/p31 pin the pruning CORRECTNESS
(matching-bucket files only, legacy files always included); this
measures the pruning's SCALE claim directly — the clash probe's
scanned-file count and wall time as a function of (a) table size
(base vs 10×) and (b) batch key locality (a small batch whose keys
touch few buckets vs a scattered batch touching every bucket).

Protocol: a hash-clustered snapshot table (BUCKETS xxhash64 buckets,
SEGMENTS append commits — the shape a long-lived ingest table has),
then for each batch shape run the EXACT probe the distributed
``dml.execute_insert`` path runs (derive the batch's bucket set,
bucket-restricted snapshots.read, left-semi clash check capped at 1)
and audit the files the pruned read touches via input_file_name(),
p30's audit.

Scale claim under test: scanned files ≈ SEGMENTS × touched_buckets —
independent of table row count for a locality-keyed batch — while the
unpruned probe reads every file. Wall time for the pruned probe grows
only with rows inside the touched buckets (table_rows / BUCKETS ×
touched), i.e. a 10× table costs the locality batch ~1× in files and
~10×/BUCKETS in rows, not 10× in files.

Usage: python scripts/bucket_scale_spotcheck.py [k_factor]
Prints one JSON line per (scale, batch-shape) cell, then a summary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from seamdb_spark.session import build_session  # noqa: E402
from seamdb_spark.snapshots import TableSnapshots  # noqa: E402

BUCKETS = 64
SEGMENTS = 8
BASE_ROWS = 100_000
LOCAL_BATCH = 16      # << BUCKETS: touches at most 16 buckets
SCATTER_BATCH = 5_000  # >> BUCKETS: touches (virtually) all buckets


def bucket_of(col):
    return F.pmod(F.xxhash64(col), F.lit(BUCKETS)).cast("int")


def build_table(spark, root: str, rows: int) -> TableSnapshots:
    snaps = TableSnapshots(root)
    per_seg = rows // SEGMENTS
    for s in range(SEGMENTS):
        seg = (
            spark.range(s * per_seg, (s + 1) * per_seg)
            .select(
                F.col("id").alias("k"),
                F.concat(F.lit("v"), F.col("id")).alias("payload"),
            )
        )
        snaps.commit(
            seg,
            mode="overwrite" if s == 0 else "append",
            extra={"bucketing": {"cols": ["k"], "n": BUCKETS}},
            bucketing={"cols": ["k"], "n": BUCKETS},
        )
    return snaps


def probe(spark, snaps: TableSnapshots, schema, batch_keys, pruned: bool):
    """The distributed ``dml.execute_insert`` clash probe, instrumented."""
    batch = spark.createDataFrame([(int(k),) for k in batch_keys], "k long")
    # The batch's TRUE bucket set, in both branches (ADVICE r13: the
    # unpruned row used to report touched_buckets=BUCKETS, misstating
    # the baseline's locality — the batch touches the same buckets
    # either way; what differs is whether the SCAN exploits that).
    # Computed outside the timed section: it's reporting, and in the
    # pruned branch the timed probe re-derives it as the engine does.
    touched = {
        r[0] for r in batch.select(bucket_of(F.col("k")).alias("b"))
        .distinct().collect()
    }
    t0 = time.time()
    if pruned:
        buckets = {
            r[0] for r in batch.select(bucket_of(F.col("k")).alias("b"))
            .distinct().collect()
        }
        table_side = snaps.read(spark, schema, buckets=buckets)
    else:
        table_side = snaps.read(spark, schema)
    clash = (
        batch.join(table_side.select("k"), batch["k"] == table_side["k"],
                   "left_semi")
        .limit(1)
        .count()
    )
    wall = round(time.time() - t0, 3)
    # files_scanned: second, untimed enumeration of the same pruned
    # read — wall_sec above times only the probe itself.
    files = {
        r[0]
        for r in table_side.select(F.input_file_name()).distinct().collect()
    }
    return {
        "wall_sec": wall,
        "clash": clash > 0,
        "files_scanned": len(files),
        "batch_touched_buckets": len(touched),
        "scan_bucket_limit": len(touched) if pruned else BUCKETS,
    }


def main() -> None:
    k_factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = build_session("seamdb_bucket_spotcheck")
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    out = []
    for scale, rows in (("base", BASE_ROWS), (f"{k_factor}x", BASE_ROWS * k_factor)):
        root = f"/tmp/seamdb_bucket_spot/{scale}"
        shutil.rmtree(root, ignore_errors=True)
        snaps = build_table(spark, root, rows)
        total_files = len(snaps.current_files())
        # clash batches: first key exists (clash=True expected), rest fresh
        local_keys = [0] + [rows * 10 + i for i in range(LOCAL_BATCH - 1)]
        scatter_keys = [0] + [rows * 10 + i for i in range(SCATTER_BATCH - 1)]
        for shape, keys in (("locality", local_keys), ("scattered", scatter_keys)):
            for pruned in (True, False):
                rec = {
                    "scale": scale,
                    "rows": rows,
                    "total_files": total_files,
                    "batch": shape,
                    "batch_size": len(keys),
                    "pruned": pruned,
                    **probe(spark, snaps, schema, keys, pruned),
                }
                out.append(rec)
                print(json.dumps(rec), flush=True)
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"bucket_spotcheck": out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
