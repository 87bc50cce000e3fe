"""Focused pins for stream_state_partitions (portable input
estimation that counts only parquet bytes, floor-never-beats-cap) and
the _shuffle_partitions_during single-scope guard (ADVICE r14).

Plain Python logic: only the Hadoop-FS sizing pin needs a SparkSession.
"""

from __future__ import annotations

import os

import pytest

from seamdb_spark.streaming.events import (
    _shuffle_partitions_during,
    stream_state_partitions,
)

SF_DIR = "/root/testdata/sf0.001"


def test_fixture_value_is_floored_small_input(monkeypatch):
    # sf0.001 events is far under 16 MB -> ceil(size/16MB) == 1, floored
    # at min(8, cap); with the default 32-core budget that is 8.
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert stream_state_partitions(SF_DIR) == 8


def test_cap_beats_floor(monkeypatch):
    # ADVICE r14: the old max(8, min(cap, ...)) let the 8 floor override
    # a 4-core budget; the cap must win.
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert stream_state_partitions(SF_DIR) == 4


def test_remote_uri_returns_none_without_session(monkeypatch):
    # Un-measurable input (no session to reach the scheme's FS with):
    # None = "keep the session's core-count default", never a pinned 8.
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    assert stream_state_partitions("s3://bucket/sf100") is None


def test_missing_path_returns_none(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    assert stream_state_partitions(str(tmp_path)) is None


def test_nested_directory_walked_recursively(monkeypatch, tmp_path):
    # A partitioned layout (part=*/...parquet) must be sized from ALL
    # nested parquet bytes; the old non-recursive listdir read 0.
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    d = tmp_path / "events.parquet" / "part=0"
    d.mkdir(parents=True)
    f = d / "chunk.parquet"
    f.touch()
    os.truncate(f, 200 << 20)  # 200 MB nested (sparse)
    got = stream_state_partitions(str(tmp_path))
    assert got == 13  # ceil(200MB / 16MB), above the floor, under the cap


def test_hadoop_and_local_sizing_count_only_parquet(monkeypatch, tmp_path, spark):
    # One 200 MB parquet file beside 400 MB each of checksum and marker
    # files: both sizing paths see only the parquet bytes, so the count
    # is ceil(200MB / 16MB) = 13 with or without a session (counting
    # the side files would give 32, the cap).
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    d = tmp_path / "events.parquet"
    d.mkdir()
    for name, size in (("part-0.parquet", 200 << 20),
                       (".part-0.parquet.crc", 400 << 20),
                       ("_SUCCESS", 400 << 20)):
        f = d / name
        f.touch()
        os.truncate(f, size)  # sparse
    assert stream_state_partitions(str(tmp_path)) == 13
    assert stream_state_partitions(str(tmp_path), spark=spark) == 13


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
