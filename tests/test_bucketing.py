"""Bucketed co-located joins (the 100 TB strategy for repeated
large-large joins on a stable key) and the bucketed unique-index insert
path (SCALING.md Engine §): hash-clustered segments let the per-insert
unique-clash check scan O(touched buckets) instead of O(table). The
unique tests run each INSERT as a VALUES list and as the equivalent
SELECT (``insert_forms``): the driver-side and distributed checks."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, insert_forms

from seamdb_spark.errors import UniqueIndexError
from seamdb_spark.snapshots import TableSnapshots
from seamdb_spark.sources import load_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        lineitem.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    old_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count("*").alias("n"))
        plan = _plan(joined)
        # the join itself reads bucketed data: no shuffle before the SMJ
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        # and the answer matches the unbucketed join
        expected = (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_threshold)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def _snaps(engine, name="users"):
    return TableSnapshots(engine.store.table_dir(engine.database, name))


def _setup_bucketed(engine, n_buckets=8):
    engine.sql("CREATE TABLE users (id bigint PRIMARY KEY, name text)")
    engine.bucket_table("users", n_buckets)
    return _snaps(engine)


def test_bucketed_insert_records_file_buckets(engine):
    snaps = _setup_bucketed(engine)
    engine.sql("INSERT INTO users VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    entries = snaps.current_file_entries()
    assert entries and all(b is not None and 0 <= b < 8 for _, b in entries)
    # data reads back complete and schema-clean (no __bucket leakage)
    rows = {(r.id, r.name) for r in engine.table("users").collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    assert engine.table("users").columns == ["id", "name"]


def test_bucket_pruned_read_skips_untouched_files(engine):
    snaps = _setup_bucketed(engine)
    engine.sql("INSERT INTO users VALUES " + ", ".join(
        f"({i}, 'u{i}')" for i in range(64)
    ))
    entries = snaps.current_file_entries()
    buckets_present = {b for _, b in entries}
    assert len(buckets_present) > 1, "fixture should span several buckets"
    one = next(iter(buckets_present))
    pruned = snaps.read(
        engine.spark, engine.store.get_table("db1", "users").spark_schema(),
        buckets={one},
    )
    full = engine.table("users")
    assert pruned.count() < full.count()
    # pruning is sound: every key the pruned read returns hashes to the
    # requested bucket, and no key in that bucket was dropped
    expect = {
        r.id
        for r in full.withColumn(
            "b", F.pmod(F.xxhash64("id"), F.lit(8)).cast("int")
        ).filter(F.col("b") == one).collect()
    }
    assert {r.id for r in pruned.collect()} == expect


def test_bucketed_unique_check_still_enforces(engine):
    for insert in insert_forms(engine):
        _setup_bucketed(engine)
        insert("users", "(1, 'a'), (2, 'b')")
        with pytest.raises(UniqueIndexError):
            insert("users", "(2, 'dup')")
        # non-clashing insert still lands
        insert("users", "(3, 'c')")
        assert engine.table("users").count() == 3


def test_bucketed_table_checks_unbucketed_unique_column(engine):
    # Only indexes on the bucket columns can prune: a clash on another
    # unique column must be found in any bucket.
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE users (id bigint PRIMARY KEY, name text UNIQUE)")
        engine.bucket_table("users", 8)
        insert("users", ", ".join(f"({i}, 'u{i}')" for i in range(32)))
        with pytest.raises(UniqueIndexError, match=r"\(name\)"):
            insert("users", "(100, 'u7')")
        with pytest.raises(UniqueIndexError, match=r"\(id\)"):
            insert("users", "(7, 'fresh')")
        insert("users", "(100, 'fresh')")
        assert engine.table("users").count() == 33


def test_legacy_unbucketed_segments_still_checked(engine):
    # Rows inserted BEFORE bucketing was declared carry no bucket id;
    # the pruned clash check must still see them (and compact() migrates
    # them into clustered, prunable segments).
    for insert in insert_forms(engine):
        engine.sql("CREATE TABLE users (id bigint PRIMARY KEY, name text)")
        insert("users", "(10, 'legacy')")
        engine.bucket_table("users", 8)
        with pytest.raises(UniqueIndexError):
            insert("users", "(10, 'dup-of-legacy')")
        insert("users", "(11, 'new')")
        engine.compact("users")
        snaps = _snaps(engine)
        assert all(b is not None for _, b in snaps.current_file_entries())
        with pytest.raises(UniqueIndexError):
            insert("users", "(10, 'still-dup')")
        assert {r.id for r in engine.table("users").collect()} == {10, 11}


def test_j05_salt_expansion_and_skew(spark):
    """The j05 skew-stress plan must actually exercise the salted
    SHUFFLE path: (1) the physical join is a shuffle join keyed on
    (key, salt) — not a broadcast that would bypass the salt; (2) the
    derived key is genuinely zipf-skewed (the hot rank holds several
    times the uniform share); (3) per-(key, salt) shards split the hot
    rank's rows S ways, none dominant."""
    from seamdb_spark.operators.relational import (
        J05_RANKS,
        J05_SALTS,
        j05_zipf_salted_join,
        _j05_key_case,
    )

    out = j05_zipf_salted_join(spark, SF_SMOKE)
    plan = _plan(out)
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin [key" not in plan
    # formatted plans list join keys in the detail block: both key AND
    # salt must participate, i.e. "Left keys [2]: [key#N, salt#M]"
    import re

    assert re.search(r"Left keys \[2\]: \[key#\d+L?, salt#\d+L?\]", plan), plan

    docs = load_table(spark, SF_SMOKE, "documents")
    h_sql = (
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT)"
    )
    keyed = docs.select(
        F.expr(
            f"transform(array({h_sql}), h -> {_j05_key_case('h')})[0]"
        ).alias("key"),
        (
            F.expr(
                "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), 's')),"
                " 1, 8), 16, 10) AS BIGINT)"
            )
            % J05_SALTS
        ).alias("salt"),
    )
    n_total = keyed.count()
    by_key = {r.key: r.n for r in keyed.groupBy("key").count().withColumnRenamed("count", "n").collect()}
    hot = max(by_key.values())
    # zipf rank 1 expects ~24% of rows at R=32; uniform would be ~3%
    assert by_key[1] == hot and hot > 4 * (n_total / J05_RANKS)
    # the salt splits the hot key's rows across S shards, none dominant
    shards = [
        r.n
        for r in keyed.filter(F.col("key") == 1)
        .groupBy("salt")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    ]
    assert len(shards) == J05_SALTS and max(shards) < hot / 2


def test_bucketed_segment_writes_one_file_per_bucket(engine):
    """The clustered-write guarantee (round 13): a bucketed commit
    repartitions rows onto their bucket before the partitioned write,
    so a segment holds at most ONE file per touched bucket — without
    it every upstream task wrote a file into every bucket directory
    (tasks x n_buckets small files per segment, measured 16k files on
    a 100k-row table in the bucket spot-check)."""
    snaps = _setup_bucketed(engine)
    # a many-partition batch spanning every bucket: the pre-fix shape
    # would write ~tasks x buckets files
    engine.sql("INSERT INTO users VALUES " + ", ".join(
        f"({i}, 'u{i}')" for i in range(256)
    ))
    entries = snaps.current_file_entries()
    buckets_present = {b for _, b in entries}
    assert len(buckets_present) > 1, "fixture should span several buckets"
    # one file per (segment, bucket): no bucket id repeats within the
    # single committed segment (typical segments sit far below the
    # SEG_MAX_RECORDS_PER_FILE rotation cap — see the test below for
    # the skew-split path)
    assert len(entries) == len(buckets_present)


def test_bucketed_segment_splits_oversized_bucket(engine, monkeypatch):
    """Skew guard (ADVICE r13): a bucket whose row set exceeds
    SEG_MAX_RECORDS_PER_FILE rotates across several files instead of
    one monster file, the manifest records every file under its bucket
    id, and reads are unchanged — one-file-per-bucket is the typical
    shape, not an invariant."""
    import seamdb_spark.snapshots as snapshots_mod

    monkeypatch.setattr(snapshots_mod, "SEG_MAX_RECORDS_PER_FILE", 10)
    snaps = _setup_bucketed(engine)
    # 256 rows over 8 buckets ≈ 32/bucket, far over the patched cap of
    # 10 — every populated bucket must rotate into multiple files
    engine.sql("INSERT INTO users VALUES " + ", ".join(
        f"({i}, 'u{i}')" for i in range(256)
    ))
    entries = snaps.current_file_entries()
    assert all(b is not None for _, b in entries)
    per_bucket: dict[int, int] = {}
    for _, b in entries:
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert max(per_bucket.values()) > 1
    # and the table still reads back complete through the manifest —
    # multi-file buckets are invisible to readers
    schema = engine.store.get_table(engine.database, "users").spark_schema()
    assert snaps.read(engine.spark, schema).count() == 256
