"""The incremental-maintenance contract every consumer of
``snapshots.source_delta`` keeps (the rollup, the LSH, SimHash and Eval
text indexes, the IVF index): lost lineage and a vanished segment
rebuild to what a fresh build computes, a refresh with nothing new is a
noop that commits nothing, and a source rewritten empty leaves an empty
state. Plus the Spark job counts of the refresh paths, pinned."""

import json
import os

import pytest
from pyspark.sql import types as T

from seamdb_spark.dedup_index import (
    IncrementalEvalIndex,
    IncrementalLSHIndex,
    IncrementalSimHashIndex,
    band_rows,
)
from seamdb_spark.ivf_index import IncrementalIVFIndex
from seamdb_spark.rollups import ContinuousRollup
from seamdb_spark.session import local_frame
from seamdb_spark.snapshots import TableSnapshots
from test_engine import _counting_jobs

DOCS = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)
VECS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)
_TEXTS = [
    [
        "the quick brown fox jumps over the lazy dog again and again today",
        "the quick brown fox jumps over the lazy dog again and again tonight",
        "completely different content about spark shuffles and partitions here",
    ],
    [
        "the quick brown fox jumps over the lazy dog again and again today",
        "fresh unrelated text mentioning parquet manifests and snapshots only",
    ],
]


def _text_index(cls):
    def make(engine, base, name):
        return cls.over_snapshots(
            engine.spark, base + "/docs", DOCS, "doc_id", "text", f"{base}/{name}"
        )

    return make, lambda i: [(10 * i + j, t) for j, t in enumerate(_TEXTS[i])]


def _ivf(engine, base, name):
    return IncrementalIVFIndex(
        engine.spark, base + "/vecs", VECS, f"{base}/{name}", retrain_permille=1000
    )


def _vecs(i):
    if i == 0:
        return [(v, [10.0 + (v % 3) * 0.25, 10.0, 0.0, 0.0]) for v in range(8)] + [
            (8 + v, [-10.0 - (v % 3) * 0.25, -10.0, 0.0, 0.0]) for v in range(8)
        ]
    return [(100 + v, [1.0 + v * 0.5, 2.0, 0.0, 0.0]) for v in range(6)]


def _rollup(engine, base, name):
    if "metrics" not in engine.store.list_tables(engine.database):
        engine.sql(
            "CREATE TABLE metrics (id serial PRIMARY KEY,"
            " bucket bigint, value double precision)"
        )
    return ContinuousRollup(
        engine, name, "metrics", keys=[("bucket", "bucket")], sum_cols=["value"]
    )


def _metrics(i):
    return [(10 * i + j, j % 2, float(10 * i + j)) for j in range(3)]


CONSUMERS = {
    "rollup": (_rollup, _metrics),
    "lsh": _text_index(IncrementalLSHIndex),
    "simhash": _text_index(IncrementalSimHashIndex),
    "eval": _text_index(IncrementalEvalIndex),
    "ivf": (_ivf, _vecs),
}


@pytest.fixture(params=sorted(CONSUMERS))
def consumer(request, engine, tmp_path):
    """(make(state name) -> consumer over one shared source, commit(i):
    append batch ``i`` to that source)."""
    make, rows = CONSUMERS[request.param]
    base = str(tmp_path / "c")

    def build(name="state"):
        return make(engine, base, name)

    src = build()

    def commit(i):
        src.source.commit(local_frame(engine.spark, rows(i), src.source_schema()))

    return build, commit


def _rows(c):
    frame = c.read() if isinstance(c, ContinuousRollup) else c.index()
    return sorted(tuple(r) for r in frame.collect())


def _same_as_fresh_build(c, build):
    fresh = build("fresh")
    fresh.refresh()
    return _rows(c) == _rows(fresh)


def test_lost_lineage_rebuilds(consumer):
    build, commit = consumer
    c = build()
    commit(0)
    assert c.refresh()["mode"] in ("incremental", "train")
    path = os.path.join(c.state.table_dir, "manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    del manifest["extra"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    commit(1)
    assert c.refresh()["mode"] == "rebuild"
    assert _same_as_fresh_build(c, build)


def test_vanished_segment_rebuilds(consumer, spark):
    build, commit = consumer
    c = build()
    commit(0)
    c.refresh()
    commit(1)
    assert c.refresh()["mode"] == "incremental"
    # compaction: every processed segment leaves the manifest
    src = c.source
    src.commit(src.read(spark, c.source_schema()).coalesce(1), mode="overwrite")
    out = c.refresh()
    assert out["mode"] == "rebuild" and out["files_read"] == 1
    assert _same_as_fresh_build(c, build)


def test_nothing_new_is_a_noop_that_commits_nothing(consumer):
    build, commit = consumer
    c = build()
    assert c.refresh()["mode"] == "noop"  # an empty source
    assert c.state.current_version() == 0
    commit(0)
    c.refresh()
    version = c.state.current_version()
    out = c.refresh()
    assert out["mode"] == "noop" and out["files_read"] == 0
    assert c.state.current_version() == version


def test_source_rewritten_empty_empties_the_state(consumer):
    build, commit = consumer
    c = build()
    commit(0)
    c.refresh()
    assert _rows(c)
    src = c.source
    src._publish({"version": src.current_version() + 1, "files": []})
    assert c.refresh()["mode"] == "rebuild"
    assert _rows(c) == []
    assert c.state.current_extra()["processed"] == []
    assert c.refresh()["mode"] == "noop"


def test_refresh_job_counts(engine, spark, tmp_path):
    """The Spark jobs each refresh path runs (local session, tiny
    inputs). A change here is a change in the refresh's work."""
    base = str(tmp_path)
    docs = [(10 * i + j, t) for i in (0, 1) for j, t in enumerate(_TEXTS[i])]
    hint = band_rows(local_frame(spark, docs, DOCS), "doc_id", "text")
    hint = hint.localCheckpoint(eager=True)

    def jobs(c):
        out, n = _counting_jobs(spark, c.refresh)
        return out["mode"], n

    for name, derive_hint, want in (
        ("lsh", None, 3), ("lsh_hint", lambda: hint, 4)
    ):
        src = TableSnapshots(f"{base}/{name}/docs")
        lsh = IncrementalLSHIndex.over_snapshots(
            spark, src.table_dir, DOCS, "doc_id", "text",
            f"{base}/{name}/state", derive_hint=derive_hint,
        )
        for i in (0, 1):
            src.commit(local_frame(spark, docs[3 * i:3 + 2 * i], DOCS))
            assert jobs(lsh) == ("incremental", want), name

    ivf = _ivf(engine, base, "ivf_state")
    ivf.source.commit(local_frame(spark, _vecs(0), VECS))
    assert jobs(ivf) == ("train", 21)
    ivf.source.commit(local_frame(spark, _vecs(1), VECS))
    assert jobs(ivf) == ("incremental", 11)
    assert jobs(ivf) == ("noop", 0)

    rollup = _rollup(engine, base, "m")
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (1, 10.0), (2, 5.0)")
    assert jobs(rollup) == ("incremental", 2)
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (2, 7.0), (3, 1.5)")
    assert jobs(rollup) == ("incremental", 3)
