"""Incremental rollup maintenance: after every refresh, the stored
state must equal a full recompute over the source snapshot, refreshes
must scan only the newly appended segments, and history rewrites
(compaction) must trigger a sound full rebuild."""

from seamdb_spark.rollups import ContinuousRollup


def _setup(engine):
    engine.sql(
        "CREATE TABLE metrics (id serial PRIMARY KEY, bucket bigint, value double precision)"
    )
    return ContinuousRollup(
        engine,
        "metrics_by_bucket",
        "metrics",
        keys=[("bucket", "bucket")],
        sum_cols=["value"],
    )


def _full_recompute(engine):
    df = engine.table("metrics")
    rows = {}
    for r in df.collect():
        n, s = rows.get(r.bucket, (0, 0.0))
        rows[r.bucket] = (n + 1, s + r.value)
    return rows


def _state(rollup):
    return {
        r.bucket: (r.n_rows, round(r.sum_value, 9), round(r.avg_value, 9))
        for r in rollup.read().collect()
    }


def test_incremental_refresh_equals_full_recompute(engine):
    rollup = _setup(engine)

    engine.sql("INSERT INTO metrics (bucket, value) VALUES (1, 10.0), (1, 20.0), (2, 5.0)")
    out = rollup.refresh()
    assert out["mode"] == "incremental" and out["files_read"] >= 1
    expect = _full_recompute(engine)
    got = _state(rollup)
    assert set(got) == set(expect)
    for b, (n, s) in expect.items():
        assert got[b][0] == n and abs(got[b][1] - s) < 1e-9
        assert abs(got[b][2] - s / n) < 1e-9

    # Second batch: refresh must scan ONLY the new segment's files.
    snaps_before = set(rollup.source.current_files())
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (2, 7.0), (3, 1.5)")
    snaps_after = set(rollup.source.current_files())
    out = rollup.refresh()
    assert out["mode"] == "incremental"
    assert out["files_read"] == len(snaps_after - snaps_before)
    expect = _full_recompute(engine)
    got = _state(rollup)
    assert set(got) == set(expect)
    for b, (n, s) in expect.items():
        assert got[b][0] == n and abs(got[b][1] - s) < 1e-9


def test_noop_refresh_reads_nothing(engine):
    rollup = _setup(engine)
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (1, 1.0)")
    assert rollup.refresh()["mode"] == "incremental"
    again = rollup.refresh()
    assert again == {"mode": "noop", "files_read": 0}


def test_processed_list_commits_atomically_with_state(engine):
    # The processed-file list lives INSIDE the state snapshot manifest
    # (one os.replace): after any refresh they are from the same commit.
    rollup = _setup(engine)
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (1, 3.0), (2, 4.0)")
    rollup.refresh()
    assert sorted(rollup.state.current_extra()["processed"]) == sorted(
        rollup.source.current_files()
    )


def test_lost_lineage_rebuilds_instead_of_double_counting(engine):
    # State exists but the processed list is missing (e.g. metadata from
    # a foreign writer): incremental diff is unsound, refresh must
    # rebuild — NOT re-merge already-counted segments.
    import json
    import os

    rollup = _setup(engine)
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (1, 10.0), (1, 20.0)")
    rollup.refresh()
    mpath = os.path.join(rollup.state.table_dir, "manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    manifest.pop("extra")
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (2, 5.0)")
    out = rollup.refresh()
    assert out["mode"] == "rebuild"
    expect = _full_recompute(engine)
    got = _state(rollup)
    assert set(got) == set(expect)
    for b, (n, s) in expect.items():
        assert got[b][0] == n and abs(got[b][1] - s) < 1e-9  # no double count


def test_source_emptied_by_rewrite_empties_rollup(engine):
    # History rewrite that leaves the source EMPTY must commit an empty
    # state (not keep serving stale aggregates).
    rollup = _setup(engine)
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (1, 2.0)")
    rollup.refresh()
    assert _state(rollup)
    snaps = rollup.source
    snaps._publish({"version": snaps.current_version() + 1, "files": []})
    out = rollup.refresh()
    assert out["mode"] == "rebuild"
    assert _state(rollup) == {}
    assert rollup.state.current_extra()["processed"] == []


def test_compaction_triggers_rebuild_and_stays_correct(engine):
    rollup = _setup(engine)
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (1, 2.0), (2, 4.0)")
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (1, 8.0)")
    rollup.refresh()
    engine.compact("metrics")  # rewrites history: processed files vanish
    engine.sql("INSERT INTO metrics (bucket, value) VALUES (3, 9.0)")
    out = rollup.refresh()
    assert out["mode"] == "rebuild"
    expect = _full_recompute(engine)
    got = _state(rollup)
    assert set(got) == set(expect)
    for b, (n, s) in expect.items():
        assert got[b][0] == n and abs(got[b][1] - s) < 1e-9
