"""Streaming ↔ batch agreement: the streaming plans must produce the
batch answers when run to completion over the finite fixture."""

import pytest

from tests.conftest import SF_SMOKE

from seamdb_spark import streaming as st
from seamdb_spark.operators.events import e01_hourly_rollup
from seamdb_spark.sources import load_table

from pyspark.sql import functions as F


def test_hourly_rollup_stream_matches_batch(spark):
    out = st.run_stream_to_memory(
        st.hourly_rollup_stream(spark, SF_SMOKE), "hourly_test", "complete"
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 2))
        for r in out.collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in e01_hourly_rollup(spark, SF_SMOKE).collect()
    }
    assert got == batch


def test_session_window_stream_event_conservation(spark):
    out = st.run_stream_to_memory(
        st.session_window_stream(spark, SF_SMOKE), "sessions_test", "complete"
    )
    total_events = out.agg(F.sum("n_events")).collect()[0][0]
    n_raw = load_table(spark, SF_SMOKE, "events").count()
    assert total_events == n_raw
    rows = out.collect()
    assert all(r.session_start <= r.session_end for r in rows)
    # sessions for one user never overlap
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2
    # FULL batch equality (round 8): e41 registers the same native
    # session_window aggregation as a batch query with a DuckDB
    # oracle, so the streaming result must match the oracle-checked
    # batch result row-for-row on the shared columns
    from seamdb_spark.operators.registry import QUERIES

    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in QUERIES["e41_native_session_window"](
            spark, SF_SMOKE
        ).collect()
    }
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in rows
    }
    assert got == batch


def test_stateful_running_totals(spark):
    out = st.run_stream_to_memory(
        st.user_running_totals_stream(spark, SF_SMOKE), "totals_test", "update"
    )
    # last update per user == full batch aggregate
    ev = load_table(spark, SF_SMOKE, "events")
    batch = {
        r.user_id: (r.n, round(r.total, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    got = {}
    for r in out.collect():  # update mode: later rows supersede earlier
        got[r.user_id] = (r.n_events, round(r.total_value, 6))
    assert got == batch


def test_stream_stream_join_matches_batch(spark):
    out = st.run_stream_to_memory(
        st.click_purchase_join_stream(spark, SF_SMOKE), "ssj_test", "append"
    )
    ev = load_table(spark, SF_SMOKE, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts < p_ts"),
    )
    got = {(r.purchase_id, r.click_id) for r in out.collect()}
    want = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_doc_dedup_stream_first_seen_wins(spark):
    out = st.run_stream_to_memory(
        st.doc_dedup_stream(spark, SF_SMOKE), "docdedup_test", "append"
    )
    rows = out.collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    n_distinct = docs.select(F.md5("text")).distinct().count()
    # exactly one survivor per distinct content hash
    assert len(rows) == n_distinct
    assert len({r.content_hash for r in rows}) == n_distinct


def test_funnel_stream_matches_batch(spark):
    from seamdb_spark.operators.events import e07_funnel_steps

    out = st.run_stream_to_memory(
        st.funnel_stage_stream(spark, SF_SMOKE), "funnel_test", "update"
    )
    # last update per user == the batch funnel (single-batch replay, so
    # each user appears once, but take the max stage defensively)
    got = {}
    for r in out.collect():
        got[r.user_id] = (r.view_us, r.click_us, r.purchase_us, r.funnel_stage)
    batch = {
        r.user_id: (
            None if r.view_ts is None else int(r.view_ts.timestamp() * 1_000_000),
            None if r.click_ts is None else int(r.click_ts.timestamp() * 1_000_000),
            None
            if r.purchase_ts is None
            else int(r.purchase_ts.timestamp() * 1_000_000),
            r.funnel_stage,
        )
        for r in e07_funnel_steps(spark, SF_SMOKE).collect()
    }
    assert got == batch


def test_attribution_stream_matches_batch(spark):
    from seamdb_spark.operators.events import e10_last_touch_attribution

    out = st.run_stream_to_memory(
        st.attribution_stream(spark, SF_SMOKE), "attr_test", "append"
    )
    got = {
        r.purchase_event_id: (r.channel, r.lag_us, round(r.value, 2))
        for r in out.collect()
    }
    batch = {
        r.purchase_event_id: (r.channel, r.lag_us, r.revenue)
        for r in e10_last_touch_attribution(spark, SF_SMOKE).collect()
    }
    assert got == batch and len(batch) > 0


def test_transitions_stream_matches_batch(spark):
    from seamdb_spark.operators.events import e11_event_transitions

    out = st.run_stream_to_memory(
        st.transitions_stream(spark, SF_SMOKE), "trans_test", "append"
    )
    got = {
        (r.prev_type, r.next_type): r.n
        for r in out.groupBy("prev_type", "next_type").count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    batch = {
        (r.prev_type, r.next_type): r.n
        for r in e11_event_transitions(spark, SF_SMOKE).collect()
    }
    assert got == batch and len(batch) > 0


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    # Restarting a checkpointed stream over an unchanged source must
    # process nothing new (file-source offsets are committed to the
    # checkpoint) — the exactly-once resumption contract a production
    # ingest relies on after driver restarts.
    ckpt = str(tmp_path / "ckpt")

    def run_once(qname):
        df = st.hourly_rollup_stream(spark, SF_SMOKE)
        q = (
            df.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.lastProgress
        return spark.sql(f"SELECT * FROM {qname}").count(), progress

    n1, p1 = run_once("ckpt_run1")
    assert n1 > 0
    # The first run must actually ingest the fixture through the SOURCE
    # (not just show rows in the memory sink) — otherwise the second
    # run's numInputRows == 0 check would pass vacuously.
    assert p1 is not None and p1["numInputRows"] > 0
    n2, p2 = run_once("ckpt_run2")
    # second run replays NO input (offsets committed); with complete
    # output mode and no new data the sink table stays empty
    assert p2 is None or p2["numInputRows"] == 0
    assert n2 == 0


def test_hopping_rollup_stream_matches_batch(spark):
    from seamdb_spark.operators.events import e16_hopping_windows

    out = st.run_stream_to_memory(
        st.hopping_rollup_stream(spark, SF_SMOKE), "hopping_test", "complete"
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_millis)
        for r in out.collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_millis)
        for r in e16_hopping_windows(spark, SF_SMOKE).collect()
    }
    assert got == batch


def test_cms_grid_stream_matches_batch(spark):
    out = st.run_stream_to_memory(
        st.cms_grid_stream(spark, SF_SMOKE), "cms_test", "complete"
    )
    got = {(r.r, r.pos): r.cell_cnt for r in out.collect()}
    # batch grid: same update pipeline over the batch table
    from seamdb_spark.operators.hashing import md5_prefix_long
    from seamdb_spark.operators.text import CMS_DEPTH, CMS_WIDTH

    toks = load_table(spark, SF_SMOKE, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    rows = F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
    batch = (
        toks.select("token", F.explode(rows).alias("r"))
        .select(
            "r",
            (
                md5_prefix_long(
                    F.concat(F.col("r").cast("string"), F.lit("|"), F.col("token"))
                )
                % CMS_WIDTH
            ).alias("pos"),
        )
        .groupBy("r", "pos")
        .count()
    )
    want = {(r.r, r.pos): r["count"] for r in batch.collect()}
    assert got == want and len(got) > 0


def test_bitmap_distinct_stream_matches_batch(spark):
    out = st.run_stream_to_memory(
        st.bitmap_distinct_stream(spark, SF_SMOKE), "bitmap_test", "complete"
    )
    got = {(str(r.day), r.word_idx): r.wbits for r in out.collect()}
    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.select(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            (F.col("user_id") / 63).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))").alias("bit"),
        )
        .groupBy("day", "word_idx")
        .agg(F.bit_or("bit").alias("wbits"))
    )
    want = {(str(r.day), r.word_idx): r.wbits for r in batch.collect()}
    assert got == want and len(got) > 0
    # bit_count over the words == exact distinct per day
    exact = {
        str(r.day): r.n
        for r in ev.select(F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    from collections import defaultdict
    per_day = defaultdict(int)
    for (day, _), w in got.items():
        per_day[day] += bin(w & ((1 << 63) - 1)).count("1")
    assert dict(per_day) == exact


def test_interarrival_stream_matches_batch(spark):
    """Streaming gap profile: the last update per user must equal the
    batch e19 integer columns (n_gaps/min/max/mean inputs) exactly."""
    import __spark_entry__ as entry_mod

    out = st.run_stream_to_memory(
        st.interarrival_stream(spark, SF_SMOKE), "interarrival_test", "update"
    )
    got = {}
    for r in out.collect():  # update mode: later rows supersede earlier
        got[r.user_id] = (r.n_gaps, r.min_gap_us, r.max_gap_us, r.sum_gap_us)
    batch = entry_mod.queries()["e19_interarrival_profile"](
        spark, SF_SMOKE
    ).collect()
    assert batch
    for r in batch:
        assert got[r.user_id][0] == r.n_gaps
        assert got[r.user_id][1] == r.min_gap_us
        assert got[r.user_id][2] == r.max_gap_us
        assert got[r.user_id][3] // r.n_gaps == r.mean_gap_us


def test_decontaminate_stream_matches_batch_d15(spark):
    """Streaming Bloom decontamination must agree with batch d15 on
    every column for every flagged doc (identical kernels: same
    bitmap construction, same probe expression, same exact join)."""
    import __spark_entry__ as entry_mod
    from seamdb_spark.streaming.events import (
        decontaminate_stream,
        run_stream_to_memory,
    )

    got = {
        r.doc_id: (r.n_bloom_hits, r.n_exact_hits, r.n_false_pos, r.drop_doc)
        for r in run_stream_to_memory(
            decontaminate_stream(spark, SF_SMOKE), "decon_stream"
        ).collect()
    }
    want = {
        r.doc_id: (r.n_bloom_hits, r.n_exact_hits, r.n_false_pos, r.drop_doc)
        for r in entry_mod.queries()["d15_bloom_prefilter"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want and want


def test_group_sample_stream_matches_batch_x12(spark):
    """Streaming per-source sample: after draining the feed, the last
    update per source must equal x12's batch membership exactly
    (same hash order, same ranks)."""
    from seamdb_spark.operators import QUERIES
    from seamdb_spark.streaming.events import (
        group_sample_stream,
        run_stream_to_memory,
    )
    from tests.conftest import SF_SMOKE

    rows = run_stream_to_memory(
        group_sample_stream(spark, SF_SMOKE), "group_sample_q", "update"
    ).collect()
    # update-mode emits one full snapshot per (source, batch); the memory
    # sink appends in batch order, so the TRAILING rows per source are
    # the final snapshot
    emitted = {}
    for r in rows:
        emitted.setdefault(r.source, []).append((r.sample_rank, r.doc_id))
    batch = {}
    for r in QUERIES["x12_uniform_group_sample"](spark, SF_SMOKE).collect():
        batch.setdefault(r.source, set()).add((r.sample_rank, r.doc_id))
    assert set(emitted) == set(batch)
    for src, pairs in emitted.items():
        k = len(batch[src])
        final = set(pairs[-k:])  # the last full snapshot
        assert final == batch[src], src


def test_log2_histogram_stream_matches_batch_x14(spark):
    from seamdb_spark.streaming.events import log2_histogram_stream

    out = st.run_stream_to_memory(
        log2_histogram_stream(spark, SF_SMOKE), "x14_test", "complete"
    )
    got = {(r.source, r.k): r.c for r in out.collect()}
    # batch grid: the same bucket pipeline over the batch table
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "source", F.size(F.split("text", " ")).cast("long").alias("v")
    )
    bounds = spark.range(41).select(
        F.col("id").cast("long").alias("k"),
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(id AS INT)) AS BIGINT)").alias("lo"),
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(id + 1 AS INT)) - 1 AS BIGINT)").alias("hi"),
    )
    batch = (
        docs.join(F.broadcast(bounds), (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
        .groupBy("source", "k")
        .count()
    )
    want = {(r.source, r.k): r["count"] for r in batch.collect()}
    assert got == want and len(got) > 0


def test_frequency_cap_stream_matches_batch_x15(spark):
    from seamdb_spark.operators.events import X15_CAP
    from seamdb_spark.streaming.events import frequency_cap_stream

    out = st.run_stream_to_memory(
        frequency_cap_stream(spark, SF_SMOKE), "freq_cap_q", "update"
    )
    # LAST update per user (the memory sink appends every update; the
    # final row per user carries the end-of-stream state)
    rows = out.collect()
    last = {}
    for r in rows:
        last[r.user_id] = (r.n_seen, r.n_kept, r.capped)
    batch = {
        r.user_id: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(last) == set(batch)
    for uid, n in batch.items():
        n_seen, n_kept, capped = last[uid]
        assert n_seen == n
        assert n_kept == min(n, X15_CAP)
        assert capped == (n > X15_CAP)


def test_kmv_sketch_stream_matches_batch_x16(spark):
    """The streaming KMV states must equal the batch KMV construction
    hash-for-hash, and x16's A-not-B estimate must be derivable from
    the two final sketches alone (sketch-only read-off, no raw data)."""
    from seamdb_spark.operators.events import KMV_K, X11_A, X11_B, _KMV_SCALE
    from seamdb_spark.operators.hashing import md5_prefix_long
    from seamdb_spark.streaming.events import kmv_sketch_stream

    out = st.run_stream_to_memory(
        kmv_sketch_stream(spark, SF_SMOKE), "kmv_q", "update"
    )
    last = {}
    for r in out.collect():  # memory sink appends; last row per type wins
        last[r.event_type] = r
    ev = load_table(spark, SF_SMOKE, "events").filter(
        F.col("event_type").isin(X11_A, X11_B)
    )
    batch = {}
    for t in (X11_A, X11_B):
        hs = sorted(
            r.h
            for r in ev.filter(F.col("event_type") == t)
            .select(md5_prefix_long(F.col("user_id").cast("string")).alias("h"))
            .distinct()
            .collect()
        )[:KMV_K]
        batch[t] = hs
    for t in (X11_A, X11_B):
        assert list(last[t].hashes) == batch[t]
        assert last[t].k_used == len(batch[t])
        assert last[t].kth_min == (max(batch[t]) if batch[t] else 0)
    # sketch-only A-not-B read-off equals x16's estimate columns
    a, b = set(batch[X11_A]), set(batch[X11_B])
    merged = sorted(a | b)[:KMV_K]
    k_used = len(merged)
    n_a_only = sum(1 for h in merged if h in a and h not in b)
    est_u = (
        float(k_used)
        if k_used < KMV_K
        else (KMV_K - 1) * _KMV_SCALE / max(merged)
    )
    from seamdb_spark.operators.events import x16_kmv_anotb

    row = x16_kmv_anotb(spark, SF_SMOKE).collect()[0]
    assert row.k_used == k_used and row.n_a_only == n_a_only
    assert abs(row.est_a_not_b - round(est_u * n_a_only / k_used, 6)) < 1e-6


def test_lsh_candidates_stream_matches_batch_p17(spark):
    """The streaming per-batch LSH candidate lookup must equal p17's
    batch kernel exactly: stateless row-local banding on the feed side
    (array_min over the shingle array) produces the same signatures as
    the groupBy-based batch banding, and the stream-static band join
    yields the same candidate pair set as new_candidate_pairs against
    the maintained index."""
    import __spark_entry__ as entry_mod
    from seamdb_spark.streaming.events import (
        lsh_candidates_stream,
        run_stream_to_memory,
    )

    got = {
        (r.doc_a, r.doc_b)
        for r in run_stream_to_memory(
            lsh_candidates_stream(spark, SF_SMOKE), "lsh_stream", "append"
        ).collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in entry_mod.queries()["p17_incremental_batch_candidates"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want and want  # non-empty: the fixture plants near-dups


def test_watermark_drops_late_events_across_microbatches(spark, tmp_path):
    """True watermark semantics need MULTIPLE micro-batches — a
    single availableNow replay of the fixture never advances the
    watermark mid-stream, so the suite's watermarked queries only
    exercised state bounding, not lateness. Spark's contract is
    one-sided: in-watermark data is never dropped, beyond-watermark
    data is dropped best-effort — deterministically only once the
    window's state has been EVICTED. Three files delivered
    one-per-trigger pin exactly that: batch 1 seeds an hour-0 cohort
    plus an hour-10 event (watermark advances to hour 8 for batch 2);
    batch 2 is a fresh event whose processing evicts-and-emits the
    hour-0 window (end 01:00 < watermark 08:00); batch 3 is a LATE
    hour-0 event arriving after eviction — the state operator's late
    filter must drop it rather than re-open the window, so append
    mode emits the hour-0 window EXACTLY ONCE with batch 1's count."""
    import datetime as dt
    import time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    base = dt.datetime(2024, 1, 1)
    src = tmp_path / "feed"
    src.mkdir()
    batches = [
        [(base + dt.timedelta(minutes=m), 1) for m in (5, 10, 15)]
        + [(base + dt.timedelta(hours=10), 2)],
        [(base + dt.timedelta(hours=10, minutes=30), 2)],
        [(base + dt.timedelta(minutes=30), 3)],  # late: hour 0
    ]
    for i, rows in enumerate(batches, start=1):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"batch{i}")
        )
        time.sleep(1.1)  # distinct mtimes fix the file-source order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wm_late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 3  # one file per trigger, 3 triggers
    rows = spark.sql("SELECT * FROM wm_late_test").collect()
    got: dict = {}
    for r in rows:
        got.setdefault(r.window_start, []).append(r.n)
    # hour-0 window appended EXACTLY ONCE, with batch 1's three events:
    # the batch-3 event, though in-window, arrived after eviction and
    # was dropped by the late filter (not re-opened, not re-emitted)
    assert got.get(base) == [3], got
    # the hour-10 window stays open (watermark ends at hour 8:30)
    assert (base + dt.timedelta(hours=10)) not in got


def test_stateful_totals_under_rocksdb_state_store(spark):
    """The at-scale state backend: HDFS-backed (default) state stores
    hold all state on the executor heap — fine for the fixture, a
    memory wall at 100 TB (billions of keys). Production stateful
    pipelines run RocksDBStateStoreProvider (native store, spill to
    local disk, changelog checkpointing). The provider is a config
    swap, not a semantics change — pinned here by running the e47
    applyInPandasWithState kernel under RocksDB and requiring the
    exact batch answer (counts integer-exact, totals to 1e-6)."""
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = st.run_stream_to_memory(
            st.user_running_totals_stream(spark, SF_SMOKE),
            "rocksdb_totals_test",
            "update",
        )
        w = __import__("pyspark.sql", fromlist=["Window"]).Window
        latest = (
            out.withColumn(
                "rk",
                F.row_number().over(
                    w.partitionBy("user_id").orderBy(F.col("n_events").desc())
                ),
            )
            .filter(F.col("rk") == 1)
        )
        got = {
            r.user_id: (r.n_events, round(r.total_value, 6))
            for r in latest.collect()
        }
        batch = {
            r.user_id: (r.n_events, round(r.total_value, 6))
            for r in load_table(spark, SF_SMOKE, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
            .collect()
        }
        assert got == batch
    finally:
        if default is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, default)


def test_stream_sources_accept_directory_layout(spark, tmp_path):
    """The stream sources take either fixture layout: the driver's
    single file (filename-glob branch) or a DIRECTORY of part files —
    the normal production layout, and what the 10x scale fixture uses
    (scripts/scale_spotcheck.py). Pin the directory branch with a tiny
    dir-layout sf_dir: the streamed totals must equal the batch
    aggregate over the same rows."""
    sf = str(tmp_path / "sfdir")
    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    ev.repartition(3).write.parquet(sf + "/events.parquet")
    import os

    assert os.path.isdir(sf + "/events.parquet")
    out = st.run_stream_to_memory(
        st.stream_events(spark, sf)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v")),
        "dir_layout_totals_test",
        "complete",
    )
    got = {r.user_id: (r.n, round(r.v, 6)) for r in out.collect()}
    want = {
        r.user_id: (r.n, round(r.v, 6))
        for r in spark.read.parquet(sf + "/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert got == want and got


def test_ordered_feed_names_and_spaces_its_slices(spark, tmp_path):
    # e49-e52's feed: one file per slice, named by position, mtimes 2 s
    # apart (the FileStreamSource replay order), staging dirs removed.
    import os

    from seamdb_spark.operators.pipeline import _write_ordered_feed

    df = spark.range(30).withColumnRenamed("id", "doc_id")
    src = str(tmp_path / "src")
    conds = [F.col("doc_id") < 10, F.col("doc_id").between(10, 19),
             F.col("doc_id") >= 20]
    _write_ordered_feed(df, src, conds)

    names = sorted(n for n in os.listdir(src) if not n.startswith("."))
    assert names == ["00_slice.parquet", "01_slice.parquet", "02_slice.parquet"]
    mtimes = [os.stat(os.path.join(src, n)).st_mtime for n in names]
    assert [round(b - a, 3) for a, b in zip(mtimes, mtimes[1:])] == [2.0, 2.0]
    assert not any(p.name.startswith("src__stage") for p in tmp_path.iterdir())
    for i, n in enumerate(names):
        ids = {r.doc_id for r in spark.read.parquet(os.path.join(src, n)).collect()}
        assert ids == set(range(10 * i, 10 * i + 10))
