"""Per-file sizes in the snapshot manifest and the one commit-sizing
rule (``snapshots.segment_files``) that index and compaction commits
apply to them: sizes come from the manifest, never from a filesystem
call, and manifests written before sizes were recorded still work."""

import json
import os

from pyspark.sql import types as T

from seamdb_spark.snapshots import (
    MANIFEST,
    SEG_TARGET_BYTES,
    TableSnapshots,
    clone_layout,
    recorded_bytes,
    segment_files,
)

from tests.test_dedup_index import _BATCH1, _BATCH2, _insert, _ivf_fixture, _setup

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType()),
    ]
)


def test_segment_files_boundaries(monkeypatch):
    assert segment_files(0) == 1
    assert segment_files(SEG_TARGET_BYTES - 1) == 1
    assert segment_files(SEG_TARGET_BYTES) == 2
    assert segment_files(3 * SEG_TARGET_BYTES + 5) == 4
    # no core-count cap: 100 TB of input on a 2-core budget still
    # writes ~bytes/64 MB files
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    tb100 = 100 * 1024**4
    assert segment_files(tb100) == tb100 // SEG_TARGET_BYTES + 1 == 1_638_401


def test_recorded_bytes_is_unmeasured_with_a_legacy_entry():
    assert recorded_bytes([]) == 0
    assert recorded_bytes([3, 4]) == 7
    assert recorded_bytes([3, None]) is None


def _on_disk(sizes):
    return {p: os.path.getsize(p) for p in sizes}


def test_commit_records_on_disk_bytes_and_clone_keeps_them(spark, tmp_path):
    src = str(tmp_path / "src")
    plain = TableSnapshots(os.path.join(src, "plain"))
    plain.commit(spark.createDataFrame([(1, "a"), (2, "bb")], _SCHEMA))
    plain.commit(spark.createDataFrame([(3, "ccc")], _SCHEMA))
    bucketed = TableSnapshots(os.path.join(src, "bucketed"))
    bucketed.commit(
        spark.createDataFrame([(i, "x" * i) for i in range(20)], _SCHEMA),
        bucketing={"cols": ["id"], "n": 4},
    )
    assert all(b is not None for _, b in bucketed.current_file_entries())
    originals = {}
    for name, snaps in (("plain", plain), ("bucketed", bucketed)):
        sizes = snaps.current_file_bytes()
        assert sizes and list(sizes) == snaps.current_files()
        assert sizes == _on_disk(sizes)
        originals[name] = sorted(sizes.values())

    dst = str(tmp_path / "dst")
    clone_layout(src, dst)
    for name in ("plain", "bucketed"):
        cloned = TableSnapshots(os.path.join(dst, name))
        sizes = cloned.current_file_bytes()
        assert all(p.startswith(dst) for p in sizes)
        assert sizes == _on_disk(sizes)
        assert sorted(sizes.values()) == originals[name]
        assert cloned.read(spark, _SCHEMA).count() == (3 if name == "plain" else 20)


def _added(snaps, before):
    return [f for f in snaps.current_files() if f not in before]


def test_sized_commits_never_stat_files(engine, spark, tmp_path, monkeypatch):
    """An LSH refresh, IVF train/incremental/retrain commits and
    Engine.compact size their output from manifest bytes alone: with
    os.path.getsize failing they still succeed, one file each."""
    lsh = _setup(engine)
    _insert(engine, _BATCH1)
    snaps, ivf, schema, b1, b2 = _ivf_fixture(spark, tmp_path / "a", 1000)
    r_snaps, r_ivf, _, _, _ = _ivf_fixture(spark, tmp_path / "b", 0)
    for s in (snaps, r_snaps):
        s.commit(spark.createDataFrame(b1, schema), mode="overwrite")

    def no_stat(path):
        raise OSError(f"no stat: {path}")

    monkeypatch.setattr(os.path, "getsize", no_stat)

    out = lsh.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 3
    assert len(lsh.state.current_files()) == 1

    assert ivf.refresh()["mode"] == "train"
    assert len(ivf.state.current_files()) == 1
    snaps.commit(spark.createDataFrame(b2, schema))
    before = ivf.state.current_files()
    assert ivf.refresh()["mode"] == "incremental"
    assert len(_added(ivf.state, before)) == 1

    assert r_ivf.refresh()["mode"] == "train"
    r_snaps.commit(spark.createDataFrame(b2, schema))
    assert r_ivf.refresh()["mode"] == "retrain"
    assert len(r_ivf.state.current_files()) == 1

    _insert(engine, _BATCH2)
    docs = TableSnapshots(engine.store.table_dir("db1", "docs"))
    assert len(docs.current_files()) > 1
    engine.compact("docs")
    assert len(docs.current_files()) == 1
    assert engine.sql("SELECT count(*) AS n FROM docs").collect()[0].n == 5


def _strip_sizes(snaps):
    """Rewrite the current manifest the way it was written before sizes
    were recorded: every file entry a plain path."""
    path = os.path.join(snaps.table_dir, MANIFEST)
    with open(path) as f:
        m = json.load(f)
    m["files"] = snaps.current_files()
    with open(path, "w") as f:
        json.dump(m, f)


def test_legacy_plain_path_manifest_reads_refreshes_compacts(
    engine, spark, tmp_path
):
    lsh = _setup(engine)
    _insert(engine, _BATCH1)
    _insert(engine, _BATCH2)
    docs = TableSnapshots(engine.store.table_dir("db1", "docs"))
    _strip_sizes(docs)
    assert set(docs.current_file_bytes().values()) == {None}
    assert engine.sql("SELECT count(*) AS n FROM docs").collect()[0].n == 5

    out = lsh.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 5
    _insert(engine, ["one more document about legacy manifests and sizes"])
    out = lsh.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 1

    _strip_sizes(docs)
    engine.compact("docs")
    sizes = docs.current_file_bytes()
    assert sizes and sizes == _on_disk(sizes)  # the rewrite is sized
    assert engine.sql("SELECT count(*) AS n FROM docs").collect()[0].n == 6
    out = lsh.refresh()
    assert out["mode"] == "rebuild" and out["n_new_docs"] == 6
    assert {r.doc_id for r in lsh.index().collect()} == set(range(1, 7))

    snaps, ivf, schema, b1, b2 = _ivf_fixture(spark, tmp_path, 1000)
    snaps.commit(spark.createDataFrame(b1, schema), mode="overwrite")
    _strip_sizes(snaps)
    assert ivf.refresh()["mode"] == "train"
    snaps.commit(spark.createDataFrame(b2, schema))
    _strip_sizes(snaps)
    out = ivf.refresh()
    assert out["mode"] == "incremental" and out["n_indexed"] == len(b1) + len(b2)

