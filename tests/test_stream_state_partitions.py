"""Focused pins for stream_state_partitions (input estimation through
the Hadoop FileSystem that counts only parquet bytes, floor-never-beats-
cap) and the _shuffle_partitions_during single-scope guard (ADVICE r14).

The sizing pins need a SparkSession; the scope guard is plain Python.
"""

from __future__ import annotations

import logging
import os

import pytest

from seamdb_spark.streaming.events import (
    _shuffle_partitions_during,
    stream_state_partitions,
)

SF_DIR = "/root/testdata/sf0.001"


def test_fixture_value_is_floored_small_input(monkeypatch, spark):
    # sf0.001 events is far under 16 MB -> ceil(size/16MB) == 1, floored
    # at min(8, cap); with the default 32-core budget that is 8.
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert stream_state_partitions(spark, SF_DIR) == 8


def test_cap_beats_floor(monkeypatch, spark):
    # ADVICE r14: the old max(8, min(cap, ...)) let the 8 floor override
    # a 4-core budget; the cap must win.
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert stream_state_partitions(spark, SF_DIR) == 4


def test_remote_uri_without_filesystem_returns_none(spark, caplog):
    # Un-measurable input: no FileSystem for the scheme on this
    # classpath (no hadoop-aws jar, so the lookup fails before any
    # connection). None = "keep the session's core-count default",
    # never a pinned 8, and the failure is logged once.
    with caplog.at_level(logging.WARNING, "seamdb_spark.streaming.events"):
        assert stream_state_partitions(spark, "s3a://bucket/sf100") is None
    assert [r.getMessage() for r in caplog.records] == [
        "cannot size s3a://bucket/sf100/events.parquet via Hadoop FS"
    ]


def test_missing_path_returns_none(tmp_path, spark):
    assert stream_state_partitions(spark, str(tmp_path)) is None


def test_nested_directory_walked_recursively(monkeypatch, tmp_path, spark):
    # A partitioned layout (part=*/...parquet) must be sized from ALL
    # nested parquet bytes; the old non-recursive listdir read 0.
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    d = tmp_path / "events.parquet" / "part=0"
    d.mkdir(parents=True)
    f = d / "chunk.parquet"
    f.touch()
    os.truncate(f, 200 << 20)  # 200 MB nested (sparse)
    got = stream_state_partitions(spark, str(tmp_path))
    assert got == 13  # ceil(200MB / 16MB), above the floor, under the cap


def test_hadoop_and_local_sizing_count_only_parquet(monkeypatch, tmp_path, spark):
    # One 200 MB parquet file beside 400 MB each of checksum and marker
    # files on a local path: the Hadoop listing sees only the parquet
    # bytes, so the count is ceil(200MB / 16MB) = 13 (counting the side
    # files would give 32, the cap).
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    d = tmp_path / "events.parquet"
    d.mkdir()
    for name, size in (("part-0.parquet", 200 << 20),
                       (".part-0.parquet.crc", 400 << 20),
                       ("_SUCCESS", 400 << 20)):
        f = d / name
        f.touch()
        os.truncate(f, size)  # sparse
    assert stream_state_partitions(spark, str(tmp_path)) == 13


class _FakeConf:
    def __init__(self):
        self.vals = {"spark.sql.shuffle.partitions": "32"}
        self.fail_set = False

    def get(self, k):
        return self.vals[k]

    def set(self, k, v):
        if self.fail_set:
            raise RuntimeError("conf.set failed")
        self.vals[k] = v


class _FakeSpark:
    def __init__(self):
        self.conf = _FakeConf()


def test_shuffle_scope_is_exclusive():
    spark = _FakeSpark()
    with _shuffle_partitions_during(spark, 8):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        with pytest.raises(RuntimeError, match="conf-scoped stream"):
            with _shuffle_partitions_during(spark, 4):
                pass  # pragma: no cover
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    # scope released: a new scope may enter again
    with _shuffle_partitions_during(spark, 6):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "6"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_none_scope_is_noop_and_unguarded():
    spark = _FakeSpark()
    with _shuffle_partitions_during(spark, None):
        # no override, no lock taken: a real scope may coexist
        with _shuffle_partitions_during(spark, 8):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_shuffle_scope_releases_lock_when_conf_raises():
    # A conf error inside __enter__ (or the restore in __exit__) must
    # not leave the scope lock held: the next scope can still enter.
    spark = _FakeSpark()
    spark.conf.fail_set = True
    with pytest.raises(RuntimeError, match="conf.set failed"):
        with _shuffle_partitions_during(spark, 8):
            pass  # pragma: no cover
    ok = _FakeSpark()
    with _shuffle_partitions_during(ok, 6):
        assert ok.conf.get("spark.sql.shuffle.partitions") == "6"
    assert ok.conf.get("spark.sql.shuffle.partitions") == "32"

    # restore raises in __exit__: the error surfaces, the lock is freed
    spark = _FakeSpark()
    with pytest.raises(RuntimeError, match="conf.set failed"):
        with _shuffle_partitions_during(spark, 8):
            spark.conf.fail_set = True
    with _shuffle_partitions_during(ok, 4):
        assert ok.conf.get("spark.sql.shuffle.partitions") == "4"
