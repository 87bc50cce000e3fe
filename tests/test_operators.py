"""Operator-level tests beyond the oracle gate: registry integrity,
LSH recall vs exact baseline, approximate-aggregate accuracy,
multimodal plumbing determinism."""

import pytest

from tests.conftest import SF_SMOKE

import __spark_entry__ as entry_mod


@pytest.fixture(scope="module")
def registry():
    return entry_mod.queries(), entry_mod.oracle_sql()


def test_registry_integrity(registry):
    queries, oracles = registry
    assert len(queries) >= 50
    assert set(oracles) <= set(queries)
    # every registered query carries a DuckDB oracle — zero rows-only
    # exceptions (even the iterative k-means runs on int64 fixed-point
    # arithmetic so its oracle replays the same Lloyd rounds exactly)
    rows_only = set(queries) - set(oracles)
    assert rows_only == set()


def test_queries_order_is_window_then_registration():
    """queries() lists every registered query exactly once: the present
    _R14_WINDOW names first, in window order (the correctness gate
    samples the first 50), then the rest in registration order."""
    from seamdb_spark.operators import QUERIES

    names = list(entry_mod.queries())
    assert len(names) == len(set(names)) and set(names) == set(QUERIES)
    window = [n for n in entry_mod._R14_WINDOW if n in QUERIES]
    assert len(window) == 50
    assert names == window + [n for n in QUERIES if n not in window]
    assert names[:2] == ["d35_cosine_prefix_filtered", "e51_periodic_finalization"]


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_documents_fixture_contract(spark):
    """Pin the fixture properties several text operators assume, so a
    future testdata change surfaces HERE readably instead of as an
    opaque ANSI index error or oracle hash mismatch:
    - every doc has >= 3 whitespace tokens (the shingling expressions
      use sequence(0, size-k) for k <= 3, which auto-DESCENDS on
      shorter docs — an ANSI-mode error; general APIs like
      dedup_index.band_rows and d20 clamp, fixture-bound operators
      rely on this floor);
    - text is ASCII (d21: Spark levenshtein counts codepoints, DuckDB
      counts bytes)."""
    from pyspark.sql import functions as F

    from seamdb_spark.operators.dedup import _docs

    r = _docs(spark, SF_SMOKE).agg(
        F.min(F.size(F.split("text", " "))).alias("min_toks"),
        F.max(
            (F.length(F.col("text")) != F.octet_length(F.col("text"))).cast("int")
        ).alias("non_ascii"),
    ).collect()[0]
    assert r.min_toks >= 3, f"shortest doc has {r.min_toks} tokens"
    assert r.non_ascii == 0, "documents fixture contains non-ASCII text"


def test_lsh_recall_vs_bruteforce(spark, registry):
    queries, _ = registry
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s01_ann_bruteforce_topk"](spark, SF_SMOKE).collect()
    }
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s02_ann_lsh_topk"](spark, SF_SMOKE).collect()
    }
    recall = len(exact & approx) / len(exact)
    # multi-probe (Hamming-1 key expansion) lifts fixture recall to 1.0;
    # floor at 0.9 to leave margin for fixture regeneration
    assert recall >= 0.9, f"LSH recall {recall:.2f} too low"


def test_approx_distinct_accuracy(spark, registry):
    queries, _ = registry
    for r in queries["x01_approx_distinct"](spark, SF_SMOKE).collect():
        assert r.approx_ok, f"{r.event_type}: sketch outside tolerance"
        assert r.exact_users > 0


def test_percentile_approx_accuracy(spark, registry):
    queries, _ = registry
    for r in queries["x03_percentile_approx"](spark, SF_SMOKE).collect():
        assert r.approx_ok, f"{r.event_type}: approx median outside tolerance"


def test_sketch_tolerance_rederivation(spark):
    """Diagnosable failure path for the x01/x03/x06 tolerance bools
    (the x09 twin is test_sketch_intersection_within_tolerance): the
    oracles pin approx_ok/merged_ok TRUE, so a Spark HLL++/KLL
    implementation change would surface in the driver gate only as an
    opaque hash mismatch. This test re-derives every estimate with the
    SAME expressions and tolerances the operators embed and asserts
    with the actual margins in the message, so sketch drift fails HERE
    readably first."""
    from pyspark.sql import functions as F

    from seamdb_spark.operators.events import APPROX_DISTINCT_RTOL, _events

    ev = _events(spark, SF_SMOKE)
    # x01: per-type HLL vs exact distinct (rsd default 0.05, bound 0.15)
    for r in (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id").alias("est"),
        )
        .collect()
    ):
        rel = abs(r.est - r.exact) / max(r.exact, 1)
        assert rel < APPROX_DISTINCT_RTOL, (
            f"x01 {r.event_type}: HLL est {r.est} vs exact {r.exact} "
            f"(rel err {rel:.4f} >= {APPROX_DISTINCT_RTOL})"
        )
    # x03: KLL-style approx median vs exact (max(5% rel, 1.0 abs))
    for r in (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("exact"),
            F.expr("approx_percentile(value, 0.5, 10000)").alias("est"),
        )
        .collect()
    ):
        margin = max(abs(r.exact) * 0.05, 1.0)
        assert abs(r.est - r.exact) < margin, (
            f"x03 {r.event_type}: approx median {r.est} vs exact "
            f"{r.exact} (|diff| {abs(r.est - r.exact):.4f} >= {margin:.4f})"
        )
    # x06: hourly-HLL union-merge vs exact distinct (same 0.15 bound)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = hourly.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact")
    )
    for r in merged.join(exact, "event_type").collect():
        rel = abs(r.est - r.exact) / max(r.exact, 1)
        assert rel < APPROX_DISTINCT_RTOL, (
            f"x06 {r.event_type}: merged HLL est {r.est} vs exact "
            f"{r.exact} (rel err {rel:.4f} >= {APPROX_DISTINCT_RTOL})"
        )


def test_media_features_deterministic(spark, registry):
    queries, _ = registry
    a = sorted(queries["m02_media_features"](spark, SF_SMOKE).collect())
    b = sorted(queries["m02_media_features"](spark, SF_SMOKE).collect())
    assert a == b
    assert all(1 <= r.n_frames <= 8 and r.feat_dim == 16 for r in a)


def test_decode_media_unsupported_formats_are_explicit():
    # Codec-needing formats (here: a Matroska EBML header) remain an
    # explicit NotImplementedError boundary; BMP/WAV/JPEG/PNG/GIF take
    # the real-parser paths and MP4 takes the container probe (so
    # malformed payloads in all of those are ValueError — a real parse
    # failure, not a missing codec). A VALID MP4 container probes for
    # real but carries no "pixels": frame decode is the codec boundary.
    from seamdb_spark.operators.multimodal import build_mp4, decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"\x1a\x45\xdf\xa3 matroska needs codec libraries")
    with pytest.raises(ValueError):
        decode_media(b"\x00\x00\x00\x18ftypmp42 bad box framing")
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8\xff\xe0 malformed jpeg payload")
    with pytest.raises(ValueError):
        decode_media(b"\x89PNG\r\n\x1a\n malformed png payload")
    probe = decode_media(build_mp4(1000, 2500, [100, 90], [1]))
    assert probe["kind"] == "mp4" and probe["n_samples"] == 2
    assert "pixels" not in probe


def test_bmp_decode_handcrafted():
    # 3x2 bottom-up 24-bit BMP, built by hand here (NOT via build_bmp):
    # stride pads 9 pixel bytes to 12 per row; the parser must skip the
    # padding in pixel_sum and honor the data offset field.
    import struct

    from seamdb_spark.operators.multimodal import build_bmp, decode_bmp, decode_media

    row0 = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90]) + b"\x00\x00\x00"
    row1 = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9]) + b"\xff\xff\xff"  # junk padding
    header = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", 54 + 24, 0, 0, 54, 40, 3, 2, 1, 24, 0, 24, 0, 0, 0, 0,
    )
    payload = header + row0 + row1
    info = decode_media(payload)  # magic-sniffed to decode_bmp
    assert info["kind"] == "bmp"
    assert (info["width"], info["height"]) == (3, 2)
    assert info["pixel_sum"] == sum(row0[:9]) + sum(row1[:9]) == 450 + 45
    assert info["feat_mean"] == 495 / (18 * 255.0)
    # builder round-trip: decode(build(x)) == x facts
    rt = decode_bmp(build_bmp(3, 2, row0[:9] + row1[:9]))
    assert (rt["width"], rt["height"], rt["pixel_sum"]) == (3, 2, 495)
    with pytest.raises(ValueError):
        decode_bmp(b"BM" + b"\x00" * 60)  # bpp=0: unsupported variant


def test_wav_decode_handcrafted():
    # Hand-built RIFF with an extra chunk BEFORE fmt/data and an
    # odd-size chunk (forces even-offset padding in the walker).
    import struct

    from seamdb_spark.operators.multimodal import build_wav, decode_media, decode_wav

    samples = [0, 1000, -1000, 32767, -32768, 256]
    data = struct.pack("<6h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE"
    body += b"LIST" + struct.pack("<I", 3) + b"odd" + b"\x00"  # padded odd chunk
    body += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    info = decode_media(payload)
    assert info["kind"] == "wav"
    assert (info["sample_rate"], info["channels"], info["bits"]) == (8000, 1, 16)
    assert info["n_frames"] == 6
    assert info["abs_sum"] == sum(abs(s) for s in samples)
    rt = decode_wav(build_wav(samples, 8000))
    assert (rt["sample_rate"], rt["n_frames"], rt["abs_sum"]) == (
        8000, 6, info["abs_sum"],
    )
    with pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")  # no fmt/data


def test_minhash_lsh_finds_planted_neardups(spark, registry):
    queries, _ = registry
    pairs = queries["d02_dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    assert all(p.jaccard >= 0.3 for p in pairs)


def test_simhash_pairs_symmetric_and_thresholded(spark, registry):
    queries, _ = registry
    rows = queries["d03_dedup_simhash"](spark, SF_SMOKE).collect()
    assert all(r.hamming <= 2 and r.doc_a < r.doc_b for r in rows)


def test_ivf_recall_vs_bruteforce(spark, registry):
    queries, _ = registry
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s01_ann_bruteforce_topk"](spark, SF_SMOKE).collect()
    }
    ivf = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s03_ann_ivf_topk"](spark, SF_SMOKE).collect()
    }
    recall = len(exact & ivf) / len(exact)
    # nprobe/k = 6/16 of a weak-similarity corpus measures 0.74; the 0.7
    # floor keeps the quantizer honest without over-fitting the fixture.
    assert recall >= 0.7, f"IVF recall {recall:.2f} too low"


def test_pq_recall_vs_bruteforce(spark, registry):
    queries, _ = registry
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s01_ann_bruteforce_topk"](spark, SF_SMOKE).collect()
    }
    pq = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s08_ann_pq_topk"](spark, SF_SMOKE).collect()
    }
    recall = len(exact & pq) / len(exact)
    # ADC pool + exact re-rank measures 0.94 on the fixture; 0.8 floor.
    assert recall >= 0.8, f"PQ recall {recall:.2f} too low"


def test_bloom_prefilter_is_sound(spark, registry):
    # Bloom filters admit false positives, never false negatives: every
    # exactly-contaminated doc (d10) must appear in d15 with
    # n_exact_hits == d10's count, and bloom hits must be >= exact hits.
    queries, _ = registry
    d10 = {
        r.doc_id: r.n_contaminated_shingles
        for r in queries["d10_decontaminate"](spark, SF_SMOKE).collect()
    }
    d15 = {r.doc_id: r for r in queries["d15_bloom_prefilter"](spark, SF_SMOKE).collect()}
    for doc_id, n_exact in d10.items():
        assert doc_id in d15, f"doc {doc_id} lost by the bloom prefilter"
        assert d15[doc_id].n_exact_hits == n_exact
        assert d15[doc_id].n_bloom_hits >= n_exact
    assert all(r.n_false_pos >= 0 for r in d15.values())


def test_blocked_neardup_agrees_with_bruteforce(spark, registry):
    queries, _ = registry
    p5 = {
        (r.vec_a, r.vec_b)
        for r in queries["d05_embedding_neardup"](spark, SF_SMOKE).collect()
    }
    p6 = {
        (r.vec_a, r.vec_b)
        for r in queries["d06_embedding_neardup_blocked"](spark, SF_SMOKE).collect()
    }
    # quantization (2^-20) can only flip pairs sitting exactly on the
    # threshold; on the fixture the sets are identical
    assert len(p5 ^ p6) <= max(1, len(p5) // 100)


def test_dedup_clusters_match_union_find(spark, registry):
    queries, _ = registry
    pairs = [
        (r.doc_a, r.doc_b)
        for r in queries["d03_dedup_simhash"](spark, SF_SMOKE).collect()
    ]
    got = {
        r.doc_id: r.cluster_id
        for r in queries["d09_dedup_clusters"](spark, SF_SMOKE).collect()
    }
    # reference union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want and len(want) > 0


def test_quantized_topk_recall_vs_float_baseline(spark, registry):
    queries, _ = registry
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s01_ann_bruteforce_topk"](spark, SF_SMOKE).collect()
    }
    quant = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s04_ann_quantized_topk"](spark, SF_SMOKE).collect()
    }
    # int8-style quantization perturbs cosines by ~1/127; top-k should be
    # nearly unchanged on well-separated neighbors
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"quantized recall {recall:.2f} too low"


def test_pair_join_is_not_single_partition(spark, registry):
    # Regression guard: O(n^2) pair joins (quadratic work PER PARTITION)
    # must not stream a single-partition side — a one-file parquet
    # fixture otherwise serializes all scoring onto one thread.
    #
    # Deliberately NOT applied to the linear broadcast-probe scans
    # (s01/s04/s05/s06): their per-row work is O(K probes), so scan
    # parallelism should come from the corpus FILE SPLITS
    # (spark.sql.files.maxPartitionBytes) — forcing a repartition there
    # shuffles the whole quantized corpus for nothing (the round-2 s04
    # regression: 1.31s -> 3.69s at sf0.1).
    queries, _ = registry
    for name in ("d05_embedding_neardup",):
        plan = queries[name](spark, SF_SMOKE)._jdf.queryExecution().toString()
        assert "Repartition" in plan, f"{name}: streamed side not repartitioned"
    for name in ("s04_ann_quantized_topk",):
        plan = queries[name](spark, SF_SMOKE)._jdf.queryExecution().toString()
        assert "Repartition" not in plan, f"{name}: linear scan needlessly shuffled"


def test_no_forced_broadcast_on_scale_variant_tables():
    # Scale audit: an explicit F.broadcast() hint BYPASSES Spark's size
    # threshold, so it must only ever wrap O(1)-sized inputs (fixed dims,
    # K-row centroid/probe tables, single-row aggregates). customer /
    # supplier / documents / embeddings and anything derived per-row from
    # them grow with SF and would OOM executors on a 100 TB run.
    import pathlib
    import re

    allowed = {
        # fixed-cardinality TPC-H dims and derivations thereof
        "nation", "region", "n1", "n2", "asia_nations",
        # single-row / K-row aggregates
        "avg_price", "per_nation", "total", "n_docs", "bounds", "n_total",
        "pos_avg",  # q52: global scalar average, 1 row
        "totals",  # e11: per-event-type totals, |types| rows
        "univ",  # q56: COUNT(DISTINCT p_size) scalar universe, 1 row
        "lut",  # s08: per-probe ADC table, N_PROBES x PQ_BLOCKS x PQ_K rows
        # O(K) probe / centroid / plane / chunk tables
        "probes", "probe_blocks", "probe_vecs", "planes", "chunks", "cdf",
        # spark.createDataFrame(<driver-local list>) is O(K) by construction
        "spark",
        # per-partition serial offsets (#partitions rows, dml.py)
        "odf",
        # capped dense vocab (documented cap in d08)
        "vocab",
        # x07: DEPTH x WIDTH counter grid — fixed size by construction
        "grid",
        # s13: fixed beam-search entry-point table, len(S13_ENTRIES) rows
        "entries",
        # x11: 1-row merged-KMV-sketch summary aggregate
        "kmv_stats",
        # s10: MIPS_STAGE1_M-row largest-norm stage-1 table (constant M)
        "top_m",
        # j01: J01_SALTS-row salt table (spark.range(S), constant S)
        "salts",
        # t27: DSIR bucket weight table — exactly DSIR_BUCKETS rows at
        # any corpus size (the point of feature hashing)
        "weights",
        # e20: per-event-type marginals (|types| rows) + 1-row context
        # count
        "sa", "sb", "n_ctx",
        # d23: eval-benchmark shingle keys — bounded by the benchmark
        # suite, not the corpus (the d10 argument)
        "eval_keys",
        # t28: 1-row (n_tot, w_tot) aggregate
        "tot",
        # s14: 1-row exact-pair count
        "n_exact",
        # p05: t28 temperature weights — |sources| rows at any SF
        "temp",
        # g03: 1-row edge count + 1-row moment sums
        "edge_count", "sums",
        # e23: per-event-type overall rates — |types| rows
        "overall",
        # s17: IVF_K-row cell-id spine (driver-local list)
        "cells",
        # e25: 1-row top-share aggregate
        "tops",
        # p06: five 1-row summary aggregates
        "exact_extra", "lex_extra", "contam", "lowq", "srcs",
        # s18: 1-row discrete-median norm
        "med",
        # g07: 1-row edge count + 1-row corpus modularity aggregate
        "m", "q",
        # x14: |sources|-row quantile pick table
        "picked",
        # p08: |sources|-row dup profile
        "dup_profile",
        # q69: the (priority, day) grid — TPC-H's order-date span is
        # FIXED by spec (1992-1998, ~2.4k days x 5 priorities) at any
        # scale factor, the same day-grid argument as e06's frames
        "framed",
        # t42: |langs|/|sources|-row marginals, 1-row total and chi2
        "rows_m", "cols_m", "n", "chi2",
        # e34: len(E34_LAGS)-row lag table (driver-local list)
        "lags",
        # j03: J03_TOP_MONTHS-row (constant 3) top-months dim — the DPP
        # build side
        "top",
        # s22: PQ_BLOCKS-row per-block stats
        "per",
        # s23: 1-row pair-accounting aggregates
        "sa", "sb", "agg",
        # e26: per-prev-type modal next step — |types| rows
        "modal",
        # dedup_index: the per-refresh ingest batch — bounded by batch
        # size (operator input), not the corpus
        "new_doc_ids",
        # dedup_index new_candidate_pairs(bounded=True): the batch's
        # band rows / block keys — a CONSTANT multiple (N_BANDS / 28)
        # of a caller-asserted micro-batch; the broadcast only exists
        # inside the `if bounded:` branch, and corpus-proportional
        # callers (p17/p21/p27/p29) take the shuffle path
        "batch_bands", "batch_keys",
        # dedup_index _derive_of: the new segment set's id projection,
        # broadcast only under the HINT_IDS_BROADCAST_MAX_BYTES input
        # guard (constant bytes, corpus-independent); rebuild-sized
        # inputs take the planner-decided join
        "seg_ids",
        # e49: the streaming micro-batch's doc-id set — bounded by
        # micro-batch size (maxFilesPerTrigger), not the corpus; the
        # admission lookup's whole design is batch-keys-broadcast
        # (same argument as new_doc_ids above)
        "batch_b",
        # t34: per-language labeled/predicted totals — |langs| rows
        "lab", "pr",
        # e27: distinct event types — |types| rows
        "types",
        # e28: hour-ladder offsets — calendar-bounded (|hours| rows),
        # corpus growth raises counts, not ladder length
        "offsets",
        # d29: similarity histogram buckets — <= 11 rows (milli div 100)
        "b2",
        # t38: 1-row bigram-type count
        "ntot",
        # e29: 1-row corpus-end timestamp
        "corpus",
        # e31: 24 x |types| seasonality index / |types|-row adjusted
        # means; e30: |types|-row daily means
        "season", "means",
        # q63: |return-flag|-row (3) median/fence tables
        "stats", "fences",
        # x13: |types|-row score frame for the predecessor-count rank
        "other",
        # s21: |labels|-row centroid table (both join sides)
        "cent", "cb",
        # e36: 1-row global hour-span bounds (2 longs)
        "span",
        # p11: |langs|x|sources|-row allocation frame
        "quotas",
        # t46: 4-row k-sweep literal table
        "ks",
    }
    ops_dir = pathlib.Path(__file__).resolve().parent.parent / "seamdb_spark"
    offenders = []
    for py in ops_dir.rglob("*.py"):
        src = py.read_text()
        for m in re.finditer(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)", src):
            arg = m.group(1)
            if arg not in allowed:
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{py.name}:{line} F.broadcast({arg}...)")
    assert not offenders, f"forced broadcast on scale-variant input: {offenders}"


def test_image_resize_invariants(spark, registry):
    queries, _ = registry
    from seamdb_spark.operators.multimodal import MAX_SIDE

    rows = queries["m04_image_resize"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert max(r.thumb_w, r.thumb_h) <= MAX_SIDE
        if max(r.width, r.height) <= MAX_SIDE:
            assert (r.thumb_w, r.thumb_h) == (r.width, r.height)
        else:
            # integer floor of the exact aspect-preserving scale
            mx = max(r.width, r.height)
            assert r.thumb_w == r.width * MAX_SIDE // mx
            assert r.thumb_h == r.height * MAX_SIDE // mx


def test_decontaminate_never_flags_eval_docs(spark, registry):
    queries, _ = registry
    from seamdb_spark.operators.dedup import EVAL_SET_MOD

    rows = queries["d10_decontaminate"](spark, SF_SMOKE).collect()
    assert rows  # the shared-vocab fixture guarantees overlap
    assert all(r.doc_id % EVAL_SET_MOD != 0 for r in rows)
    assert all(
        (r.drop_doc == 1) == (r.n_contaminated_shingles >= 3) for r in rows
    )


def test_boilerplate_strip_invariants(spark, registry):
    import hashlib

    queries, _ = registry
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    }
    rows = queries["d16_boilerplate_strip"](spark, SF_SMOKE).collect()
    assert len(rows) == len(docs)  # left join keeps untouched docs
    for r in rows:
        assert 0 <= r.n_boiler_tokens <= r.n_tokens
        assert abs(r.keep_ratio - (r.n_tokens - r.n_boiler_tokens) / r.n_tokens) < 1e-6
        if r.n_boiler_tokens == 0:
            # untouched docs round-trip exactly (fixture is single-spaced)
            expect = hashlib.md5(docs[r.doc_id].encode()).hexdigest()
            assert r.clean_md5 == expect
        else:
            # removing tokens must change the text
            assert r.clean_md5 != hashlib.md5(docs[r.doc_id].encode()).hexdigest()


def test_knn_graph_covers_bruteforce_neighbors(spark, registry):
    queries, _ = registry
    exact = {}
    for r in queries["s01_ann_bruteforce_topk"](spark, SF_SMOKE).collect():
        exact.setdefault(r.probe_id, []).append((r.rk, r.neighbor_id))
    graph = {}
    for r in queries["s09_knn_graph"](spark, SF_SMOKE).collect():
        graph.setdefault(r.src, set()).add(r.dst)
        assert 1 <= r.rk <= 3
    # recall of the graph's edges against the exact top-3 of the probe set
    hits = total = 0
    for pid, lst in exact.items():
        top3 = {n for rk, n in lst if rk <= 3}
        total += len(top3)
        hits += len(top3 & graph.get(pid, set()))
    recall = hits / total
    assert recall >= 0.6, f"kNN-graph recall {recall:.2f} too low"
    # every corpus vector should appear as a source (bucketed self-join
    # leaves nobody out unless a vector shares no bucket at all)
    n_vecs = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    assert len(graph) >= n_vecs * 0.95


def test_hopping_windows_tile_events(spark, registry):
    from seamdb_spark.operators.events import HOP_SIZE_MIN, HOP_SLIDE_MIN

    queries, _ = registry
    rows = queries["e16_hopping_windows"](spark, SF_SMOKE).collect()
    assert rows
    # every window total must equal size/slide times the tumbling total
    factor = HOP_SIZE_MIN // HOP_SLIDE_MIN
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert sum(r.n_events for r in rows) == factor * n_events
    # window starts align to the slide grid
    assert all(
        r.window_start.minute % HOP_SLIDE_MIN == 0 and r.window_start.second == 0
        for r in rows
    )


def test_audio_frame_energy_matches_python(spark, registry):
    import hashlib

    from seamdb_spark.operators.multimodal import AUDIO_FRAME

    queries, _ = registry
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    }
    for r in queries["m08_audio_frame_energy"](spark, SF_SMOKE).collect():
        digest = hashlib.md5(docs[r.doc_id].encode()).digest()
        n = 32 + digest[3] % 3 * 16
        samples = [(digest[k % 16] - 128) * 256 for k in range(n)]
        nf = n // AUDIO_FRAME
        energies = [
            sum(s * s for s in samples[f * AUDIO_FRAME : (f + 1) * AUDIO_FRAME])
            for f in range(nf)
        ]
        assert r.n_audio_frames == nf
        assert r.total_energy == sum(energies)
        assert r.peak_energy == max(energies)
        assert r.peak_frame == energies.index(max(energies))


def test_q58_plans_null_aware_anti_join(spark, registry):
    """The NOT IN rewrite must reach Spark's null-aware anti join (the
    trailing `true` on the LeftAnti BroadcastHashJoin), not a plain
    LeftAnti — otherwise the three-valued NULL semantics are lost."""
    queries, _ = registry
    df = queries["q58_null_aware_not_in"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight, true" in plan


def test_s10_pruning_is_effective_and_lossless(spark, registry):
    """The Cauchy-Schwarz filter must (a) keep the result identical to
    brute force — the oracle proves that at sf0.01; here the cheap
    check is vs s01's neighbor sets on normalized data being a superset
    sanity — and (b) actually prune: the stage-2 survivor count must be
    well under probes × corpus."""
    from seamdb_spark.operators.similarity import (
        MIPS_STAGE1_M,
        N_PROBES,
        TOP_K,
        _MIPS_SLACK,
        _dot,
        _norm,
    )
    from seamdb_spark.sources import load_table
    from pyspark.sql import functions as F

    queries, _ = registry
    out = queries["s10_mips_topk"](spark, SF_SMOKE).collect()
    assert len(out) == N_PROBES * TOP_K
    # survivors of the norm filter (recompute stage-2's filter count)
    emb = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "xnorm", _norm("embedding")
    )
    n = emb.count()
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("xnorm").alias("qnorm"),
        F.col("embedding").alias("pe"),
    )
    tks = {}
    for r in out:
        tks.setdefault(r.probe_id, []).append(r.dot)
    # per-probe kth-best from the final answer bounds the stage-1 tk
    survivors = 0
    rows = emb.crossJoin(probes).filter(F.col("vec_id") != F.col("probe_id"))
    for pid, dots in tks.items():
        tk = sorted(dots)[0]
        survivors += rows.filter(
            (F.col("probe_id") == pid)
            & (F.col("qnorm") * F.col("xnorm") >= tk - _MIPS_SLACK)
        ).count()
    assert survivors < N_PROBES * n  # pruning removed something
    assert survivors >= N_PROBES * TOP_K  # but kept every true neighbor


def test_j01_replicates_only_build_side(spark, registry):
    """Salting must replicate the dim-sized build side x S and leave the
    probe side row count unchanged — the whole point of the pattern."""
    from seamdb_spark.operators.relational import J01_SALTS

    queries, _ = registry
    out = {r.key: r for r in queries["j01_salted_skew_join"](spark, SF_SMOKE).collect()}
    from seamdb_spark.sources import load_table
    from pyspark.sql import functions as F

    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    n_probe = lineitem.count()
    assert sum(r.n_rows for r in out.values()) == n_probe  # no row loss/dup
    hot = out[0]
    assert hot.n_rows > 0.5 * n_probe  # the skew is real


def test_d18_estimator_error_bounds(spark, registry):
    """MinHash agreement count is out of 8 perms; est in [0,1]; the
    exact jaccard of an LSH candidate is positive (they share a band)."""
    queries, _ = registry
    rows = queries["d18_minhash_estimate_audit"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_agree <= 8
        assert abs(r.est_jaccard - r.n_agree / 8.0) < 1e-9
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert abs(r.abs_error - abs(r.est_jaccard - r.exact_jaccard)) < 1e-6


def test_nn_descent_recall_at_least_base_graph(spark, registry):
    """One expansion round must not lose recall vs the base graph (it
    re-ranks a superset of each source's candidates) and should find
    edges the buckets missed (discovered > 0 on this fixture)."""
    queries, _ = registry
    exact = {}
    for r in queries["s01_ann_bruteforce_topk"](spark, SF_SMOKE).collect():
        exact.setdefault(r.probe_id, []).append((r.rk, r.neighbor_id))
    base, expanded, discovered = {}, {}, 0
    for r in queries["s09_knn_graph"](spark, SF_SMOKE).collect():
        base.setdefault(r.src, set()).add(r.dst)
    for r in queries["s11_knn_graph_descent"](spark, SF_SMOKE).collect():
        expanded.setdefault(r.src, set()).add(r.dst)
        discovered += bool(r.discovered)

    def recall(graph):
        hits = total = 0
        for pid, lst in exact.items():
            top3 = {n for rk, n in lst if rk <= 3}
            total += len(top3)
            hits += len(top3 & graph.get(pid, set()))
        return hits / total

    r_base, r_exp = recall(base), recall(expanded)
    assert r_exp >= r_base, f"descent recall {r_exp:.2f} < base {r_base:.2f}"
    assert discovered > 0


def test_ivfpq_recall_vs_bruteforce(spark, registry):
    """IVF-PQ composes two lossy stages (cell pruning + 8-byte codes);
    the exact re-rank recovers ordering within the pool. Floor set
    below the measured fixture recall."""
    queries, _ = registry
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s01_ann_bruteforce_topk"](spark, SF_SMOKE).collect()
    }
    got = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s12_ann_ivfpq_topk"](spark, SF_SMOKE).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5, f"IVF-PQ recall {recall:.2f} too low"


def test_coverage_doc_tracks_registry(registry):
    """COVERAGE.md's totals line and per-query mentions must track the
    live registry — catches doc drift when operators are added."""
    import pathlib
    import re

    queries, oracles = registry
    text = (pathlib.Path(__file__).resolve().parent.parent / "COVERAGE.md").read_text()
    m = re.search(r"Totals: \*\*(\d+) queries, (\d+) with oracles\*\*", text)
    assert m, "COVERAGE.md totals line missing"
    assert int(m.group(1)) == len(queries), (
        f"COVERAGE.md says {m.group(1)} queries, registry has {len(queries)}"
    )
    assert int(m.group(2)) == len(oracles)
    # every registered query's short id appears somewhere in the doc
    ids = {n.split("_")[0] for n in queries}
    missing = {i for i in ids if i not in text}
    assert not missing, f"COVERAGE.md never mentions: {sorted(missing)}"
    # README must not carry per-module query counts (they drift
    # silently — round-3 advice); totals live in COVERAGE.md only
    readme = (pathlib.Path(__file__).resolve().parent.parent / "README.md").read_text()
    assert not re.search(r"\d+ queries", readme), (
        "README.md carries a hardcoded query count — drop it or move it "
        "behind this test like COVERAGE.md's totals line"
    )


def test_ntile_exact_matches_window_ntile(spark):
    """ranks.ntile_exact must reproduce SQL NTILE exactly — including
    the larger-buckets-FIRST rule the equi-split floor formula gets
    wrong (n=13, k=5: NTILE sizes 3,3,3,2,2; floor split 3,3,2,3,2)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from seamdb_spark.operators.ranks import ntile_exact

    for n, k in [(13, 5), (10, 3), (5, 8), (100, 7), (64, 4)]:
        df = spark.range(n).select(
            (F.col("id") * 37 % n).alias("v"), F.col("id").alias("tb")
        )
        want = {
            (r.v, r.tb): r.t
            for r in df.select(
                "v", "tb", F.ntile(k).over(W.orderBy("v", "tb")).alias("t")
            ).collect()
        }
        got = {
            (r.v, r.tb): r.t
            for r in ntile_exact(df, k, ["v", "tb"], "t", num_partitions=4).collect()
        }
        assert got == want, f"ntile mismatch at n={n}, k={k}"


def test_no_unpartitioned_windows_in_scale_variant_plans(spark, registry):
    """q55/e15/t21 previously ran a no-PARTITION-BY window over
    scale-variant data (single-partition WindowExec). Their physical
    plans must now be window-free on the scale-variant path."""
    queries, _ = registry
    for name in ["q55_ntile_deciles", "e15_rfm_segments", "t21_weighted_sample"]:
        plan = queries[name](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, f"{name} still plans a Window node"


def test_beam_search_recall_vs_bruteforce(spark, registry):
    """s13's graph walk must find most of the exact top neighbors —
    4 entries / 6 hops / beam 24 measures 0.87 on the fixture; floor
    0.6 leaves margin for fixture regeneration."""
    queries, _ = registry
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s01_ann_bruteforce_topk"](spark, SF_SMOKE).collect()
    }
    got = [
        (r.probe_id, r.neighbor_id)
        for r in queries["s13_graph_beam_search"](spark, SF_SMOKE).collect()
    ]
    recall = sum(1 for g in got if g in exact) / len(got)
    assert recall >= 0.6, f"beam-search recall {recall:.2f} too low"


def test_hnsw_layered_recall_vs_bruteforce_and_s13(spark, registry):
    """s16's descent-found entries must remove s13's entry-point
    sensitivity, not cost recall: recall vs the exact top-k must be at
    least s13's on the same fixture (measured 0.87; >= floor 0.6 and
    >= s13's measured value - small slack)."""
    queries, _ = registry
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in queries["s01_ann_bruteforce_topk"](spark, SF_SMOKE).collect()
    }

    def recall(name):
        got = [
            (r.probe_id, r.neighbor_id)
            for r in queries[name](spark, SF_SMOKE).collect()
        ]
        return sum(1 for g in got if g in exact) / len(got)

    r13 = recall("s13_graph_beam_search")
    r16 = recall("s16_hnsw_layered_search")
    assert r16 >= 0.6, f"s16 recall {r16:.2f} below floor"
    assert r16 >= r13 - 0.05, (
        f"s16 descent recall {r16:.2f} worse than s13 fixed-entry {r13:.2f}"
    )


def test_substring_runs_are_maximal_and_real(spark, registry):
    """Every d19 run must (a) satisfy the min-length contract and
    (b) be genuinely duplicated: re-extract the run's token text and
    count its occurrences across the corpus."""
    queries, _ = registry
    from seamdb_spark.operators.dedup import D19_MIN_RUN, D19_SPAN, _docs

    runs = queries["d19_substring_runs"](spark, SF_SMOKE).collect()
    assert runs, "fixture should contain duplicated runs"
    texts = {
        r.doc_id: r.text.split(" ") for r in _docs(spark, SF_SMOKE).collect()
    }
    corpus = [" " + " ".join(t) + " " for t in texts.values()]
    blob = "\n".join(corpus)
    for r in runs[:20]:
        assert r.run_tokens == r.token_end - r.token_start + 1 >= D19_MIN_RUN
        toks = texts[r.doc_id]
        # the first SPAN-sized window of the run must occur >= 2 times
        span = " " + " ".join(toks[r.token_start : r.token_start + D19_SPAN]) + " "
        assert blob.count(span) >= 2, f"run at {r.doc_id}:{r.token_start} not duplicated"


def test_bpe_apply_shrinks_and_is_consistent(spark, registry):
    """t25: merged-token accounting must be self-consistent (each '+'
    token removed exactly one boundary) and merges must actually fire
    on the fixture."""
    queries, _ = registry
    rows = queries["t25_bpe_apply"](spark, SF_SMOKE).collect()
    assert sum(r.n_merged for r in rows) > 0, "no merges fired"
    for r in rows:
        assert r.n_after <= r.n_before
        # every merge rule joins exactly 2 original tokens, so tokens
        # lost == number of '+' separators across merged tokens >= n_merged
        assert r.n_before - r.n_after >= 0
        if r.n_merged == 0:
            assert r.n_after == r.n_before


def test_sketch_intersection_within_tolerance(spark):
    """x09 diagnostic twin: recompute the three HLL estimates and the
    exact values directly and assert each within the documented bound
    (3*X09_RSD relative; intersection vs max(|A|,|B|) + 3). If Spark's
    HLL++ ever drifts, THIS fails with readable margins instead of the
    driver's opaque hash mismatch on approx_ok."""
    from pyspark.sql import functions as F

    from seamdb_spark.operators.events import X09_RSD, _events

    ev = _events(spark, SF_SMOKE).filter(F.col("event_type").isin("click", "purchase"))
    r = ev.agg(
        F.count_distinct(F.when(F.col("event_type") == "click", F.col("user_id"))).alias("a"),
        F.count_distinct(F.when(F.col("event_type") == "purchase", F.col("user_id"))).alias("b"),
        F.count_distinct("user_id").alias("u"),
        F.approx_count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id")), X09_RSD
        ).alias("ea"),
        F.approx_count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id")), X09_RSD
        ).alias("eb"),
        F.approx_count_distinct("user_id", X09_RSD).alias("eu"),
    ).collect()[0]
    tol = 3 * X09_RSD
    exact_i = r.a + r.b - r.u
    est_i = r.ea + r.eb - r.eu
    assert abs(r.ea - r.a) <= tol * max(r.a, 1), f"A: est {r.ea} vs exact {r.a}"
    assert abs(r.eb - r.b) <= tol * max(r.b, 1), f"B: est {r.eb} vs exact {r.b}"
    assert abs(est_i - exact_i) <= tol * max(r.a, r.b) + 3, (
        f"intersection: est {est_i} vs exact {exact_i} "
        f"(bound {tol * max(r.a, r.b) + 3:.1f})"
    )


def test_editdist_verify_matches_reference_dp(spark, registry):
    """d21: every reported pair must really meet the edit-similarity
    threshold — recompute Levenshtein with an independent pure-Python
    DP for a sample and compare exactly; also check the length-bound
    invariant (edit distance >= length difference) on every row."""
    queries, _ = registry
    from seamdb_spark.operators.dedup import EDIT_SIM_THRESHOLD, _docs

    rows = queries["d21_editdist_verified_neardup"](spark, SF_SMOKE).collect()
    assert rows, "fixture should contain edit-similar near-dup pairs"
    texts = {r.doc_id: r.text for r in _docs(spark, SF_SMOKE).collect()}
    # d21's engine/oracle parity assumes ASCII: Spark's levenshtein is
    # codepoint-based, DuckDB's is byte-based. A fixture change that
    # introduces non-ASCII must surface HERE, readably, not as an
    # opaque hash mismatch in the driver gate.
    assert all(t.isascii() for t in texts.values()), (
        "d21 requires an ASCII fixture (codepoint-vs-byte levenshtein)"
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.edit_dist >= abs(r.len_a - r.len_b)
        assert r.edit_sim >= EDIT_SIM_THRESHOLD
        assert r.len_a == len(texts[r.doc_a]) and r.len_b == len(texts[r.doc_b])
    for r in rows[:10]:
        assert r.edit_dist == lev(texts[r.doc_a], texts[r.doc_b]), (
            r.doc_a, r.doc_b,
        )


def test_dsir_importance_matches_reference_impl(spark, registry):
    """t27: recompute every doc's DSIR score from first principles in
    pure Python (md5-bucketed bigrams, Laplace-smoothed integer ppm
    weights) and compare exactly. The fixture's lang labels are
    independent of the text (shared vocabulary), so no separation
    assertion is possible — exact-replay is the audit instead."""
    import hashlib

    queries, _ = registry
    from seamdb_spark.operators.dedup import _docs
    from seamdb_spark.operators.text import DSIR_BUCKETS, DSIR_TARGET_LANG

    docs = [
        (r.doc_id, r.lang, r.text.split(" "))
        for r in _docs(spark, SF_SMOKE).collect()
    ]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % DSIR_BUCKETS

    feats = {
        d: [bucket(f"{t[i]} {t[i+1]}") for i in range(len(t) - 1)]
        for d, _, t in docs
        if len(t) >= 2
    }
    langs = {d: lang for d, lang, _ in docs}
    raw_c, tgt_c = {}, {}
    for d, bs in feats.items():
        for b in bs:
            raw_c[b] = raw_c.get(b, 0) + 1
            if langs[d] == DSIR_TARGET_LANG:
                tgt_c[b] = tgt_c.get(b, 0) + 1
    r_tot = sum(raw_c.values())
    t_tot = sum(tgt_c.values())
    w = {
        b: ((tgt_c.get(b, 0) + 1) * 1000000) // (t_tot + DSIR_BUCKETS)
        - ((c + 1) * 1000000) // (r_tot + DSIR_BUCKETS)
        for b, c in raw_c.items()
    }
    rows = queries["t27_dsir_importance"](spark, SF_SMOKE).collect()
    assert len(rows) == len(feats)
    for r in rows:
        expect = sum(w[b] for b in feats[r.doc_id])
        assert r.score == expect, (r.doc_id, r.score, expect)
        assert r.n_bigrams == len(feats[r.doc_id])
        assert r.selected == (r.score > 0)


def test_hashed_classifier_matches_reference_impl(spark, registry):
    """t29: recompute every doc's classifier score from first
    principles in pure Python — t08-style md5 doc split, md5-bucketed
    unigrams, weights trained on the LABELED slice only with Laplace
    ppm smoothing — and compare exactly (the t27 replay discipline).
    Also checks the supervised split boundary: weights must derive
    from labeled docs only, which the replay enforces by construction."""
    import hashlib

    queries, _ = registry
    from seamdb_spark.operators.dedup import _docs
    from seamdb_spark.operators.text import (
        T29_BUCKETS,
        T29_LABELED_PCT,
        T29_POS_LANG,
    )

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    docs = [
        (r.doc_id, r.lang, r.text.split(" "))
        for r in _docs(spark, SF_SMOKE).collect()
    ]
    labeled = {d for d, _, _ in docs if h(str(d)) % 100 < T29_LABELED_PCT}
    assert labeled and len(labeled) < len(docs), "split must be proper"
    feats = {d: [h(t) % T29_BUCKETS for t in toks] for d, _, toks in docs}
    langs = {d: lang for d, lang, _ in docs}
    pos_c, neg_c = {}, {}
    p_tot = n_tot = 0
    for d in labeled:
        for b in feats[d]:
            if langs[d] == T29_POS_LANG:
                pos_c[b] = pos_c.get(b, 0) + 1
                p_tot += 1
            else:
                neg_c[b] = neg_c.get(b, 0) + 1
                n_tot += 1
    w = {
        b: ((pos_c.get(b, 0) + 1) * 1000000) // (p_tot + T29_BUCKETS)
        - ((neg_c.get(b, 0) + 1) * 1000000) // (n_tot + T29_BUCKETS)
        for b in range(T29_BUCKETS)
    }
    rows = queries["t29_hashed_classifier_score"](spark, SF_SMOKE).collect()
    assert len(rows) == len(docs)
    for r in rows:
        expect = sum(w[b] for b in feats[r.doc_id])
        assert r.score == expect, (r.doc_id, r.score, expect)
        assert r.n_tokens == len(feats[r.doc_id])
        assert r.is_labeled == (r.doc_id in labeled)
        assert r.predicted_pos == (r.score > 0)


def test_paragraph_neardup_vs_bruteforce(spark, registry):
    """d25: recompute contaminated chunks brute-force in Python (all
    cross-doc chunk pairs, exact shingle Jaccard) and check (a) zero
    false positives — every engine-flagged doc count is <= the brute
    count, with per-chunk flags coming only from truly above-threshold
    pairs, (b) banding recall >= 0.9 on flagged chunks, (c) the token
    accounting identities hold on every row."""
    queries, _ = registry
    from seamdb_spark.operators.dedup import D25_CHUNK, D25_JACCARD, _docs

    docs = {r.doc_id: r.text.split(" ") for r in _docs(spark, SF_SMOKE).collect()}
    chunk_sh = {}
    n_chunks_py = {}
    for d, toks in docs.items():
        n_chunks_py[d] = max(1, -(-len(toks) // D25_CHUNK))
        for k in range(n_chunks_py[d]):
            ct = toks[k * D25_CHUNK : (k + 1) * D25_CHUNK]
            if len(ct) >= 3:
                chunk_sh[(d, k)] = {
                    " ".join(ct[i : i + 3]) for i in range(len(ct) - 2)
                }
    truth_dup = set()
    keys = sorted(chunk_sh)
    for i, ka in enumerate(keys):
        for kb in keys[i + 1 :]:
            if ka[0] == kb[0]:
                continue
            sa, sb = chunk_sh[ka], chunk_sh[kb]
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= D25_JACCARD:
                truth_dup.add(ka)
                truth_dup.add(kb)
    truth_per_doc = {}
    for d, _k in truth_dup:
        truth_per_doc[d] = truth_per_doc.get(d, 0) + 1

    rows = queries["d25_paragraph_neardup"](spark, SF_SMOKE).collect()
    assert len(rows) == len(docs)
    got_flagged = sum(r.n_dup_chunks for r in rows)
    assert truth_dup, "fixture should contain cross-doc near-dup paragraphs"
    for r in rows:
        assert r.n_chunks == n_chunks_py[r.doc_id]
        assert 0 <= r.n_dup_chunks <= r.n_chunks
        assert 0 <= r.dup_tokens <= r.n_tokens
        assert r.dup_ratio_milli == (1000 * r.dup_tokens) // r.n_tokens
        # no false positives: banding candidates are a subset of truth
        assert r.n_dup_chunks <= truth_per_doc.get(r.doc_id, 0), r.doc_id
    recall = got_flagged / len(truth_dup)
    assert recall >= 0.9, f"d25 chunk recall {recall:.2f}"


def test_containment_neardup_exact_replay(spark, registry):
    """d26: replay both containment directions in pure Python from the
    raw shingle sets for every reported pair; check the subset-side
    label, the threshold, and the containment >= Jaccard identity
    against d02's output on shared pairs."""
    queries, _ = registry
    from seamdb_spark.operators.dedup import CONTAINMENT_THRESHOLD, _docs

    texts = {r.doc_id: r.text.split(" ") for r in _docs(spark, SF_SMOKE).collect()}
    sh = {
        d: {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
        for d, t in texts.items()
        if len(t) >= 3
    }
    rows = queries["d26_containment_neardup"](spark, SF_SMOKE).collect()
    assert rows, "fixture should contain containment near-dups"
    d02 = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in queries["d02_dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    }
    for r in rows:
        sa, sb = sh[r.doc_a], sh[r.doc_b]
        inter = len(sa & sb)
        assert r.n_common == inter
        assert abs(r.containment_ab - inter / len(sa)) < 1e-6
        assert abs(r.containment_ba - inter / len(sb)) < 1e-6
        assert max(r.containment_ab, r.containment_ba) >= CONTAINMENT_THRESHOLD
        expect_subset = r.doc_a if r.containment_ab >= r.containment_ba else r.doc_b
        assert r.subset_doc == expect_subset
        j = d02.get((r.doc_a, r.doc_b))
        if j is not None:  # containment >= Jaccard, always
            assert max(r.containment_ab, r.containment_ba) >= j - 1e-6


def test_triangle_count_matches_bruteforce(spark, registry):
    """g02: recount every node's triangles brute-force from the same
    simhash pair list and compare exactly, including the clustering
    coefficient arithmetic."""
    queries, _ = registry
    from seamdb_spark.operators.dedup import _simhash_pairs

    pairs = {
        (r.doc_a, r.doc_b)
        for r in _simhash_pairs(spark, SF_SMOKE).collect()
    }
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = queries["g02_triangle_count"](spark, SF_SMOKE).collect()
    assert {r.doc_id for r in rows} == set(adj)
    assert any(r.n_triangles > 0 for r in rows), "fixture graph has no triangles"
    for r in rows:
        nbrs = adj[r.doc_id]
        assert r.degree == len(nbrs)
        tri = sum(
            1
            for x in nbrs
            for y in nbrs
            if x < y and y in adj[x]
        )
        assert r.n_triangles == tri, (r.doc_id, r.n_triangles, tri)
        expect_cc = (2000 * tri) // (r.degree * (r.degree - 1)) if r.degree >= 2 else 0
        assert r.clustering_milli == expect_cc


def test_cdc_chunking_matches_reference_impl(spark, registry):
    """d20: replay content-defined chunking in pure Python (md5-bucket
    boundaries, corpus-wide chunk popularity) and compare every doc's
    dup accounting exactly. Also assert the CDC property: every chunk
    boundary token hashes to 0 mod CDC_MOD."""
    import hashlib

    queries, _ = registry
    from seamdb_spark.operators.dedup import CDC_MOD, _docs

    def th(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

    docs = {r.doc_id: r.text.split(" ") for r in _docs(spark, SF_SMOKE).collect()}
    chunks_per_doc = {}
    pop = {}
    for d, toks in docs.items():
        starts = [0] + [i for i in range(1, len(toks)) if th(toks[i]) % CDC_MOD == 0]
        spans = [
            (s, (starts[j + 1] if j + 1 < len(starts) else len(toks)) - s)
            for j, s in enumerate(starts)
        ]
        cs = [" ".join(toks[s : s + ln]) for s, ln in spans]
        chunks_per_doc[d] = [(ln, c) for (s, ln), c in zip(spans, cs)]
        for c in cs:
            pop[c] = pop.get(c, 0) + 1

    rows = queries["d20_cdc_chunk_dedup"](spark, SF_SMOKE).collect()
    assert {r.doc_id for r in rows} == set(docs)
    assert any(r.n_dup_chunks > 0 for r in rows), "fixture has no duplicate chunks"
    for r in rows:
        cl = chunks_per_doc[r.doc_id]
        dup_toks = sum(ln for ln, c in cl if pop[c] >= 2)
        assert r.n_chunks == len(cl)
        assert r.n_dup_chunks == sum(1 for _, c in cl if pop[c] >= 2)
        assert r.n_tokens == len(docs[r.doc_id])
        assert r.dup_tokens == dup_toks
        assert r.dup_ratio_milli == (1000 * dup_toks) // len(docs[r.doc_id])


def test_bmp_channel_stats_consistent_with_decode(spark, registry):
    """m12 × m06 cross-check: the three channel sums of each image must
    add up to m06's pixel_sum, channel byte counts to width*height*3,
    and min <= max within [0, 255]."""
    queries, _ = registry
    m06 = {
        r.doc_id: r for r in queries["m06_bmp_decode"](spark, SF_SMOKE).collect()
    }
    by_doc = {}
    for r in queries["m12_bmp_channel_stats"](spark, SF_SMOKE).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(m06)
    for doc_id, chans in by_doc.items():
        assert sorted(c.channel for c in chans) == [0, 1, 2]
        assert sum(c.ch_sum for c in chans) == m06[doc_id].pixel_sum
        assert sum(c.n_bytes for c in chans) == (
            m06[doc_id].width * m06[doc_id].height * 3
        )
        for c in chans:
            assert 0 <= c.ch_min <= c.ch_max <= 255


def test_interarrival_burstiness_bounds_and_replay(spark, registry):
    """e19: burstiness must lie in [-1, 1]; replay a sample of users'
    gap stats in pure Python from the raw events and compare the
    integer columns exactly and burstiness to 6 decimals."""
    import math

    queries, _ = registry
    from seamdb_spark.operators.events import _events

    rows = queries["e19_interarrival_profile"](spark, SF_SMOKE).collect()
    assert rows
    ev = sorted(
        (
            (r.user_id, r.ts, r.event_id)
            for r in _events(spark, SF_SMOKE)
            .select("user_id", "ts", "event_id")
            .collect()
        ),
    )
    by_user = {}
    for u, ts, eid in ev:
        by_user.setdefault(u, []).append(ts)
    for r in rows[:20]:
        assert -1.0 <= r.burstiness <= 1.0
        tss = by_user[r.user_id]
        gaps_us = [
            int((b - a).total_seconds() * 1_000_000 + 0.5)
            for a, b in zip(tss, tss[1:])
        ]
        gaps_s = [g // 1_000_000 for g in gaps_us]
        assert r.n_gaps == len(gaps_us)
        assert r.min_gap_us == min(gaps_us)
        assert r.max_gap_us == max(gaps_us)
        assert r.mean_gap_us == sum(gaps_us) // len(gaps_us)
        n = len(gaps_s)
        mu = sum(gaps_s) / n
        sigma = math.sqrt(sum(g * g for g in gaps_s) / n - mu * mu)
        assert abs(r.burstiness - (sigma - mu) / (sigma + mu)) < 1e-5


def test_order_streaks_replay(spark, registry):
    """q61: recompute each customer's longest consecutive-month streak
    in pure Python from the raw orders and compare every column."""
    queries, _ = registry
    from seamdb_spark.operators.relational import _t

    orders = _t(spark, SF_SMOKE, "orders").select("o_custkey", "o_orderdate").collect()
    months = {}
    for r in orders:
        m = r.o_orderdate.year * 12 + r.o_orderdate.month - 1
        months.setdefault(r.o_custkey, set()).add(m)
    rows = {r.o_custkey: r for r in queries["q61_order_streaks"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(months)
    for cust, ms in months.items():
        best = None  # (len, start, end)
        sms = sorted(ms)
        run_start = sms[0]
        prev = sms[0]
        for m in sms[1:] + [None]:
            if m is None or m != prev + 1:
                cand = (prev - run_start + 1, run_start, prev)
                # longest streak; ties -> earliest start
                if best is None or cand[0] > best[0] or (
                    cand[0] == best[0] and cand[1] < best[1]
                ):
                    best = cand
                if m is not None:
                    run_start = m
            prev = m if m is not None else prev
        r = rows[cust]
        assert r.streak_months == best[0], (cust, r, best)
        assert (r.start_year, r.start_month) == (best[1] // 12, best[1] % 12 + 1)
        assert (r.end_year, r.end_month) == (best[2] // 12, best[2] % 12 + 1)


def test_cooccurrence_lift_replay(spark, registry):
    """e20: replay the (user, day) co-occurrence counting and ppm lift
    in pure Python and compare exactly."""
    queries, _ = registry
    from seamdb_spark.operators.events import _events

    ev = _events(spark, SF_SMOKE).select("user_id", "ts", "event_type").collect()
    ctx = {}
    for r in ev:
        ctx.setdefault((r.user_id, r.ts.date()), set()).add(r.event_type)
    n = len(ctx)
    singles, pairs = {}, {}
    for types in ctx.values():
        for t in types:
            singles[t] = singles.get(t, 0) + 1
        ts = sorted(types)
        for i, x in enumerate(ts):
            for y in ts[i + 1 :]:
                pairs[(x, y)] = pairs.get((x, y), 0) + 1
    rows = queries["e20_cooccurrence_lift"](spark, SF_SMOKE).collect()
    assert {(r.et_a, r.et_b) for r in rows} == set(pairs)
    for r in rows:
        n_ab = pairs[(r.et_a, r.et_b)]
        assert r.n_ab == n_ab
        assert r.n_a == singles[r.et_a] and r.n_b == singles[r.et_b]
        assert r.lift_ppm == (n_ab * n * 1_000_000) // (r.n_a * r.n_b)


def test_silence_runs_consistent_with_frame_energy(spark, registry):
    """m13 × m08 cross-check: frame counts agree; run accounting is
    internally consistent (silent frames == sum of run lengths,
    longest <= silent, runs only exist when silent frames do)."""
    queries, _ = registry
    m08 = {
        r.doc_id: r
        for r in queries["m08_audio_frame_energy"](spark, SF_SMOKE).collect()
    }
    rows = queries["m13_silence_runs"](spark, SF_SMOKE).collect()
    assert {r.doc_id for r in rows} == set(m08)
    assert any(r.n_runs > 0 for r in rows), "fixture has no silent runs"
    for r in rows:
        assert r.n_frames == m08[r.doc_id].n_audio_frames
        assert 0 <= r.n_silent <= r.n_frames
        assert (r.n_runs == 0) == (r.n_silent == 0)
        assert r.longest_run <= r.n_silent
        if r.n_runs:
            # runs partition the silent frames
            assert r.n_runs <= r.n_silent
            assert r.longest_run >= (r.n_silent + r.n_runs - 1) // r.n_runs


def test_new_op_plans_broadcast_bounded_sides(spark, registry):
    """Plan audits for the round-4 additions: e20's marginals and t27's
    bucket weight table must plan as broadcast joins (bounded sides);
    q61 and e19 must contain only PARTITIONED windows (no global sort
    single-partition WindowExec)."""
    queries, _ = registry
    for name in ("t27_dsir_importance", "e20_cooccurrence_lift"):
        plan = (
            queries[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
            f"{name}: bounded side not broadcast"
        )
    for name in ("q61_order_streaks", "e19_interarrival_profile"):
        plan = (
            queries[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # every Sort feeding a Window must be a local per-partition sort
        # under a hash partitioning, never a global range sort
        assert "rangepartitioning" not in plan.lower(), (
            f"{name}: global range sort in a windowed plan"
        )


def test_cosine_neardup_recall_and_exactness(spark, registry):
    """d22: replay the idf-weighted cosine in pure Python over ALL
    pairs; every reported pair must match the exact cosine, and the
    df-capped candidate stage must recover most of the true
    above-threshold pairs (recall floor 0.8)."""
    import math

    queries, _ = registry
    from seamdb_spark.operators.dedup import (
        D22_COS_THRESHOLD, D22_IDF_CAP, _docs,
    )

    docs = {
        r.doc_id: r.text.split(" ") for r in _docs(spark, SF_SMOKE).collect()
    }
    tsets = {
        d: {f"{t[i]} {t[i+1]}" for i in range(len(t) - 1)}
        for d, t in docs.items()
        if len(t) >= 2
    }
    n = len(tsets)
    df = {}
    for ts in tsets.values():
        for t in ts:
            df[t] = df.get(t, 0) + 1
    idf = {t: min((n * 1000) // d, D22_IDF_CAP) for t, d in df.items()}
    norms = {
        d: math.sqrt(sum(idf[t] ** 2 for t in ts)) for d, ts in tsets.items()
    }

    def cos(a, b):
        shared = tsets[a] & tsets[b]
        return sum(idf[t] ** 2 for t in shared) / (norms[a] * norms[b])

    ids = sorted(tsets)
    truth = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if cos(a, b) >= D22_COS_THRESHOLD
    }
    rows = queries["d22_cosine_tfidf_neardup"](spark, SF_SMOKE).collect()
    got = {(r.doc_a, r.doc_b) for r in rows}
    assert truth, "fixture has no above-threshold cosine pairs"
    for r in rows:
        assert (r.doc_a, r.doc_b) in truth  # no false positives
        assert abs(r.cosine_sim - cos(r.doc_a, r.doc_b)) < 1e-5
        assert r.n_common == len(tsets[r.doc_a] & tsets[r.doc_b])
    recall = len(got & truth) / len(truth)
    # df-capped inverted-index candidate generation (Bayardo-style
    # rare-term pruning) measures 1.0 on the fixture
    assert recall >= 0.9, f"d22 candidate recall {recall:.2f}"
    # d35: the LOSSLESS prefix-filter audit must equal the exact truth
    # EXACTLY (recall 1 by theorem, precision 1 by the verify stage) —
    # and therefore bound d22 from above
    d35 = {
        (r.doc_a, r.doc_b)
        for r in queries["d35_cosine_prefix_filtered"](
            spark, SF_SMOKE
        ).collect()
    }
    assert d35 == truth, (
        f"d35 lossless audit diverged: missing {truth - d35}, "
        f"extra {d35 - truth}"
    )


def test_eval_contamination_consistent_with_d10(spark, registry):
    """d23 × d10 duality: a train doc flagged by d10 shares shingles
    with SOME eval doc, so the union of d23's contaminated shingle
    counts must be positive whenever d10 reports anything; every d23
    row's accounting must be internally consistent."""
    queries, _ = registry
    d10_rows = queries["d10_decontaminate"](spark, SF_SMOKE).collect()
    rows = queries["d23_eval_contamination_report"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_in_train <= r.n_shingles
        assert r.contamination_milli == (1000 * r.n_in_train) // r.n_shingles
        assert r.fully_contained == (r.n_in_train == r.n_shingles)
    if d10_rows:
        assert any(r.n_in_train > 0 for r in rows), (
            "d10 found train contamination but no eval doc overlaps train"
        )


def test_temperature_sampling_flattens_mixture(spark, registry):
    """t28: temperature weights must (a) replay exactly in Python via
    integer sqrt, (b) sum to ~1e6 ppm, and (c) flatten the mixture —
    every below-average source is boosted, every above-average source
    is damped."""
    import math

    queries, _ = registry
    rows = queries["t28_temperature_sampling"](spark, SF_SMOKE).collect()
    assert rows
    n_tot = sum(r.n_docs for r in rows)
    w = {r.source: math.isqrt(r.n_docs * 1_000_000) for r in rows}
    w_tot = sum(w.values())
    assert abs(sum(r.temp_ppm for r in rows) - 1_000_000) <= len(rows)
    for r in rows:
        assert r.raw_ppm == (r.n_docs * 1_000_000) // n_tot
        assert r.temp_ppm == (w[r.source] * 1_000_000) // w_tot
        if r.raw_ppm * len(rows) < 1_000_000:  # below-average share
            assert r.boost_milli >= 1000
        elif r.raw_ppm * len(rows) > 1_000_000:
            assert r.boost_milli <= 1000


def test_candidate_volume_regression_gate(spark, registry):
    """Enumeration-volume gate: for each blocking operator, count the
    candidate pairs its blocking join ENUMERATES (before the verify
    filter) on the smoke fixture and pin a k·N budget. This is the half
    of the 100×-scale discipline the Exchange-count gate cannot see: a
    quadratic candidate set hides inside ONE codegen join stage, so the
    plan shape looks identical while the work is Θ(N²). Each budget's k
    documents the operator's N-scaling argument — if candidates grow
    like k·N, doubling the corpus doubles the work; if an edit makes
    them grow like N², the count blows through the budget at fixture
    scale already (the old 8×4-bit nibble simhash blocking enumerated
    456·N here — 164× today's geometry — and would have failed this
    gate instantly). Budgets are ~2× the measured sf0.001 counts:
      d02  35 rows (0.07N): 16-band minhash banding, near-unique keys
      d03  1390 rows (2.8N): exclude-2-of-8 tables, 24-bit keys vs
           q≈0.7-biased bits (see _SIMHASH_N_CHUNKS note)
      d22  18 rows (0.04N): df-capped rare-term postings
      d25  257 rows (0.51N): d02's banding over paragraph chunks
      d27  1700 rows (3.4N): d03's geometry over idf-weighted simhash
      m20  18 rows (0.04N): 3×~21-bit chunks over the 64-bit aHash
      g08  563 rows (1.1N): degree-capped wedge enumeration,
           Σ min(deg,cap)²/2 ≤ cap²·|V|/2 by construction
      g09  93 rows (0.19N): degree-ORIENTED wedge enumeration over the
           blocking-bounded near-dup graph (Σ d_min(v)²/2)
    Operators that consume pairs WITHOUT enumerating any themselves
    (d21/d26/d29/d31/d33/d34) are proven gated-source-only by
    test_pair_consumers_use_gated_sources below."""
    from seamdb_spark.operators.registry import CANDIDATE_STAGES

    budgets_k = {
        "d02_dedup_minhash_lsh": 0.2,
        "d03_dedup_simhash": 6.0,
        "d22_cosine_tfidf_neardup": 0.2,
        "d25_paragraph_neardup": 1.2,
        "d27_weighted_simhash": 7.0,
        "m20_image_neardup_pairs": 0.2,
        "g08_transitive_candidates": 2.5,
        "g09_edge_embeddedness": 0.4,
    }
    assert set(budgets_k) == set(CANDIDATE_STAGES), (
        "every registered candidate stage needs a budget (and vice versa)"
    )
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    over = []
    for name, k in budgets_k.items():
        c = CANDIDATE_STAGES[name](spark, SF_SMOKE).count()
        if c > k * n_docs:
            over.append(f"{name}: {c} candidates > {k}·N = {k * n_docs:.0f}")
    assert not over, "; ".join(over)


def test_pair_consumers_use_gated_sources():
    """Proof (mechanical, source-level) that every pair-CONSUMING
    operator outside CANDIDATE_STAGES gets its pairs exclusively from a
    budget-gated enumeration: _lsh_candidate_pairs (gated via d02's
    entry), _simhash_pairs (the verified output of d03's gated stage),
    or the registered query outputs of d02/d03 themselves (d34's full
    outer join). If an edit introduces its own pair generator (a
    crossJoin or a raw self-join of documents/sigs), this assertion
    forces either a CANDIDATE_STAGES registration + budget or a rewrite
    against a gated source."""
    import inspect

    from seamdb_spark.operators import dedup

    blessed = (
        "_lsh_candidate_pairs",
        "_simhash_pairs",
        "d02_dedup_minhash_lsh",
        "d03_dedup_simhash",
    )
    consumers = [
        dedup.d21_editdist_verified_neardup,
        dedup.d26_containment_neardup,
        dedup.d29_threshold_sensitivity,
        dedup.d31_neardup_explanations,
        dedup.d33_bbit_minhash_audit,
        dedup.d34_detector_disagreement,
    ]
    for fn in consumers:
        src = inspect.getsource(fn)
        assert any(b in src for b in blessed), (
            f"{fn.__name__}: no gated pair source referenced"
        )
        assert "crossJoin" not in src, f"{fn.__name__}: raw crossJoin"
        assert ".join(docs" not in src and "documents\").join" not in src, (
            f"{fn.__name__}: raw document self-join"
        )


def test_shuffle_budget_regression_gate(spark, registry):
    """Plan-shape regression gate: each listed query's physical plan
    must not plan MORE Exchange (shuffle) nodes than its recorded
    budget. Catching an accidental extra shuffle at plan level is the
    cheap version of a 100 TB regression: locally it costs
    milliseconds, on a real corpus it costs a full-data network pass.
    Budgets are the CURRENT counts (local[4], AQE initial plan) — if a
    deliberate plan change raises one, update the budget in the same
    commit and say why; lowering is always fine. Plan-subtree
    recomputation (e.g. d22's term pipeline feeding four consumers)
    counts each copy, which is intentional: a fifth recompute is also
    a regression."""
    queries, _ = registry
    budgets = {
        "q01_pricing_summary": 1,
        "d01_dedup_exact": 1,
        "d02_dedup_minhash_lsh": 8,
        "d12_duplicated_spans": 3,
        "d15_bloom_prefilter": 5,
        "d20_cdc_chunk_dedup": 2,
        # round 5: term/df pipeline memoized via materialize.py — the
        # four consumers read one checkpointed artifact (was 38).
        "d22_cosine_tfidf_neardup": 8,
        "d23_eval_contamination_report": 5,
        "t27_dsir_importance": 7,
        "e19_interarrival_profile": 1,
        "e20_cooccurrence_lift": 9,
        "q61_order_streaks": 2,
        "s01_ann_bruteforce_topk": 2,
        "t28_temperature_sampling": 4,
        "e01_hourly_rollup": 2,
        "t01_token_count": 0,
        "q03_shipping_priority": 3,
        # round-5 additions (chunk-shingle table and sym-edge list are
        # session-materialized, so these counts are post-checkpoint)
        "t29_hashed_classifier_score": 8,
        "d25_paragraph_neardup": 11,
        "d26_containment_neardup": 8,
        "p05_model_curation_report": 25,
        "m15_jpeg_roundtrip": 0,
        "m16_jpeg_ahash_stability": 0,
        "s16_hnsw_layered_search": 8,
        # round-5 second batch (post-checkpoint counts; e27/t36's extra
        # exchanges all run on bounded grid/top-128 frames)
        "q62_monotone_value_streaks": 1,
        "x12_uniform_group_sample": 1,
        "t35_code_prose_profile": 0,
        "m19_clipping_runs": 0,
        "t34_langid_confusion": 7,
        "e27_type_cross_correlation": 9,
        "t36_zipf_doubling_ratio": 5,
        "t37_oov_rate_audit": 4,
        "e28_session_concurrency": 5,
        "p07_attrition_funnel": 11,
        # round 6: +2 — the wide-chunk blocking now repartitions on
        # (chunk, key) like d03, the AQE-coalesce guard that keeps the
        # bucket self-join parallel (both join sides read the exchange)
        "m20_image_neardup_pairs": 4,
        "e29_conversion_survival": 4,
        # e31 recomputes the bounded (type,hod)/(type) aggregates per
        # consumer — all type-vocabulary-sized stages
        "e31_adjusted_anomalies": 16,
        "t38_kneser_ney_score": 8,
        "e30_cusum_changepoints": 5,
        # 6 peel rounds over checkpointed edge/survivor tables
        "g05_kcore_peel": 14,
        "s20_ivf_purity_audit": 6,
        "e32_bot_screening": 3,
        "m21_image_flatness": 0,
        "m22_png_roundtrip": 0,
        # t40's returned DF is the collected rule table (LocalRelation);
        # the K training rounds run their own jobs at build time — one
        # map-side-combined pair agg + a TakeOrdered per round
        "t40_bpe_train": 0,
        # g06's rounds end in localCheckpoints; the returned plan is
        # the final size join over the checkpointed label table
        "g06_label_propagation": 2,
        "m23_cross_codec_consistency": 0,
        # t41's returned plan: one corpus scan to (source, word, cnt)
        # usage counts, then vocab-sized frames only — the merged-vocab
        # distinct + rule application, the usage⋈vocab join, the
        # per-source agg, and the |sources|-row n_docs join (the K
        # training rounds run their own jobs at build time, like t40)
        "t41_bpe_compression_eval": 6,
        # g07/x14 run every post-scan stage on bounded frames
        # (|communities| / |sources|x41 rows); the counts include the
        # broadcast exchanges of those small tables
        "g07_modularity_audit": 24,
        "x14_log2_histogram_quantiles": 21,
        # p08 composes t41 + x14 + g06: the x14 bounded frames re-plan
        # inside the composition; g06 labels read their checkpoints;
        # +5 over the old budget from t41's word-frequency eval shape
        "p08_tokenizer_readiness": 35,
        "s22_pq_distortion_audit": 5,
        "e34_periodicity_autocorrelation": 3,
        # t42's marginal/total broadcasts re-plan off the checkpointed
        # |langs|×|sources| cells frame
        "t42_mixture_independence_audit": 14,
        "e35_anomaly_incidents": 2,
        "q65_distinct_on": 1,
        "d31_neardup_explanations": 10,
        "m24_ahash_invariance": 0,
        "x15_frequency_cap_sample": 3,
        "t43_intra_doc_repetition": 2,
        "s23_kmeans_stability_audit": 8,
        # e38 funnels over the checkpointed per-event session table;
        # every post-session stage keys on (user, session)
        "e38_session_funnel": 16,
        "d32_normalized_exact_dedup": 3,
        "t44_chars_per_token_profile": 1,
        "p09_dedup_invariants": 8,
        "q63_robust_outliers": 9,
        "x13_decayed_popularity": 9,
        "t39_k_anonymity_audit": 4,
        "e33_stickiness_ratio": 8,
        "s21_label_separability": 5,
        "q64_yearly_price_drift": 5,
        # 5-point nprobe sweep over checkpointed shared inputs: ~7
        # probe-bounded exchanges per sweep point
        "s19_ivf_probe_recall_curve": 37,
        "d29_threshold_sensitivity": 19,
        "g04_component_size_distribution": 6,
        "m25_gif_roundtrip": 0,
        # g08: deg agg + capped-adj join + wedge self-join + count +
        # anti-join + two degree joins, all on pair-list-sized tables
        "g08_transitive_candidates": 10,
        # p10: one corpus scan into the bucket agg; totals broadcast +
        # rank window run on the |langs|x|sources| bounded frame
        "p10_mixture_quota_allocation": 5,
        "m26_gif_frame_extract": 0,
        # d33: d02's banding chain + two signature joins (d18's shape)
        "d33_bbit_minhash_audit": 10,
        # e36: (type, hour) count + per-type agg + 2-long span broadcast
        "e36_type_burstiness": 4,
        "m27_mp4_probe": 0,
        # j02: the join is Exchange-free by bucketing; the one shuffle
        # is the final per-priority aggregate (see the dedicated test)
        "j02_bucketed_colocated_join": 1,
        # t45: one gram explode for all five n, (doc,n,gram) count,
        # (doc,n) agg, conditional-agg reshape
        "t45_gopher_repetition": 3,
        # s24: probe-bounded rank windows + tally joins off one
        # checkpointed scored frame (<= N_PROBES x corpus rows)
        "s24_prepost_filter_audit": 11,
        # p11: grouped_running_sum's range partition + partition-local
        # window + the bounded allocation-frame join
        "p11_quota_sampler": 8,
        # m28: row-local fingerprint kernel + d01-shaped group/join
        "m28_audio_fingerprint_dedup": 2,
        "q66_ordered_string_agg": 1,
        "q67_locf_forward_fill": 1,
        # x16: x11's merged-KMV shape — K-row sketch frames everywhere
        # after the per-type distinct (TakeOrdered merge, K-row probes)
        "x16_kmv_anotb": 14,
        # e37: one user-keyed window + one |types|^2 aggregate
        "e37_transition_latency": 2,
        # g09: checkpointed oriented table feeds wedge/closing/edge
        # tally; every stage pair-list-sized
        "g09_edge_embeddedness": 18,
        "m29_image_patches": 0,
        # d34: one integer-pair full outer join of two materialized
        # verified pair lists
        "d34_detector_disagreement": 9,
        # t46: token-count agg + global_rank's range partition +
        # broadcast k-sweep join + k-keyed agg
        "t46_vocab_coverage_curve": 6,
        # e39: one per-user touch-purchase join + per-purchase weight
        # sum + |channels|-row aggregate
        "e39_time_decay_attribution": 5,
    }
    over = []
    for name, budget in budgets.items():
        plan = (
            queries[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = plan.count("Exchange ")
        if n > budget:
            over.append(f"{name}: {n} shuffles > budget {budget}")
    assert not over, "; ".join(over)


def test_ann_recall_audit_consistent_with_floors(spark, registry):
    """s14: the in-engine recall audit must agree with this suite's own
    recall floors (LSH >= 0.9, IVF >= 0.7) and its accounting must be
    internally consistent (hits <= found, hits <= exact)."""
    queries, _ = registry
    rows = {r.method: r for r in queries["s14_ann_recall_audit"](spark, SF_SMOKE).collect()}
    assert set(rows) == {"lsh", "ivf"}
    for r in rows.values():
        assert 0 <= r.n_hit <= min(r.n_found, r.n_exact)
        assert r.recall_milli == (1000 * r.n_hit) // r.n_exact
    assert rows["lsh"].recall_milli >= 900
    assert rows["ivf"].recall_milli >= 700


def test_modality_router_agrees_with_single_format_decodes(spark, registry):
    """m14 × m06/m07 cross-check: even docs must reproduce m06's BMP
    pixel accounting, odd docs m07's WAV sample accounting — same
    payloads, routed through the magic-byte sniffer."""
    queries, _ = registry
    m06 = {r.doc_id: r for r in queries["m06_bmp_decode"](spark, SF_SMOKE).collect()}
    m07 = {r.doc_id: r for r in queries["m07_wav_decode"](spark, SF_SMOKE).collect()}
    rows = queries["m14_modality_router"](spark, SF_SMOKE).collect()
    assert rows and {r.doc_id for r in rows} == set(m06)
    for r in rows:
        if r.doc_id % 2 == 0:
            ref = m06[r.doc_id]
            assert r.kind == "bmp"
            assert r.n_units == ref.width * ref.height * 3
            assert r.content_sum == ref.pixel_sum
            assert r.feat_mean == ref.feat_mean
        else:
            ref = m07[r.doc_id]
            assert r.kind == "wav"
            assert r.n_units == ref.n_samples
            assert r.content_sum == ref.abs_sum
            assert r.feat_mean == ref.feat_mean


def test_sax_motifs_replay(spark, registry):
    """e21: replay the whole SAX pipeline (hourly cents, PAA words,
    word-blocked pairs, exact distances, top-20) in pure Python and
    compare the result exactly."""
    import math

    queries, _ = registry
    from seamdb_spark.operators.events import (
        E21_STRIDE, E21_TOPK, E21_WINDOW, _events,
    )

    ev = _events(spark, SF_SMOKE).select("user_id", "ts", "value").collect()
    hourly = {}
    for r in ev:
        h = int(r.ts.timestamp()) // 3600
        hourly.setdefault(r.user_id, {}).setdefault(h, 0.0)
        hourly[r.user_id][h] += r.value
    series = {
        u: [int(math.floor(hv[h] * 100 + 0.5)) for h in sorted(hv)]
        for u, hv in hourly.items()
    }
    wins = []
    for u, vals in series.items():
        if len(vals) < E21_WINDOW:
            continue
        for p in range(0, len(vals) - E21_WINDOW + 1, E21_STRIDE):
            w = vals[p : p + E21_WINDOW]
            segs = [w[2 * i] + w[2 * i + 1] for i in range(4)]
            lo, hi = min(segs), max(segs)
            word = "".join(str((s - lo) * 8 // (hi - lo + 1)) for s in segs)
            wins.append((u, p, w, word))
    pairs = []
    # word-bucketed candidate pairs with trivial-match exclusion
    for ua, sa, wa, worda in wins:
        for ub, sb, wb, wordb in wins:
            if worda != wordb:
                continue
            if not (ua < ub or (ua == ub and sa + E21_WINDOW <= sb)):
                continue
            dist = sum((x - y) ** 2 for x, y in zip(wa, wb))
            pairs.append((dist, ua, sa, ub, sb, worda))
    pairs.sort()
    want = [
        (ua, sa, ub, sb, word, dist)
        for dist, ua, sa, ub, sb, word in pairs[:E21_TOPK]
    ]
    got = [
        (r.user_a, r.start_a, r.user_b, r.start_b, r.word, r.dist)
        for r in queries["e21_sax_motifs"](spark, SF_SMOKE).collect()
    ]
    assert got == want


def test_mmr_diversifies_vs_pure_relevance(spark, registry):
    """s15: the MMR property — rank-1 equals the pure-relevance top-1,
    every later pick trades relevance for diversity (mmr_score is
    non-increasing per probe), and no probe repeats a neighbor."""
    queries, _ = registry
    s01 = {}
    for r in queries["s01_ann_bruteforce_topk"](spark, SF_SMOKE).collect():
        if r.rk == 1:
            s01[r.probe_id] = r.neighbor_id
    by_probe = {}
    for r in queries["s15_mmr_diversified_topk"](spark, SF_SMOKE).collect():
        by_probe.setdefault(r.probe_id, []).append(r)
    assert set(by_probe) == set(s01)
    for probe, rows in by_probe.items():
        rows.sort(key=lambda r: r.mmr_rank)
        assert [r.mmr_rank for r in rows] == [1, 2, 3, 4]
        assert rows[0].neighbor_id == s01[probe]  # rank 1 == pure argmax
        ids = [r.neighbor_id for r in rows]
        assert len(set(ids)) == len(ids)
        scores = [r.mmr_score for r in rows]
        assert all(a >= b - 1e-9 for a, b in zip(scores, scores[1:]))


def test_markov_attribution_invariants(spark, registry):
    """e22: the event-type enum must match the hardcoded channel list
    (fixture-drift guard — a change here must surface readably, not as
    an oracle hash mismatch); removal can only LOSE conversion mass;
    attribution shares must sum to ~1000 milli."""
    from pyspark.sql import functions as F

    queries, _ = registry
    from seamdb_spark.operators.events import E22_CHANNELS, E22_CONV, _events

    observed = {
        r.event_type
        for r in _events(spark, SF_SMOKE).select("event_type").distinct().collect()
    }
    assert observed == set(E22_CHANNELS) | {E22_CONV}
    rows = queries["e22_markov_attribution"](spark, SF_SMOKE).collect()
    assert {r.channel for r in rows} == set(E22_CHANNELS)
    base = {r.base_conv_ppm for r in rows}
    assert len(base) == 1 and base.pop() > 0
    for r in rows:
        assert 0 <= r.removed_conv_ppm <= r.base_conv_ppm
        assert r.removal_effect_ppm == r.base_conv_ppm - r.removed_conv_ppm
    total_milli = sum(r.attribution_milli for r in rows)
    assert 1000 - len(rows) <= total_milli <= 1000


def test_frequency_downsample_replay_and_expectation(spark, registry):
    """d24: replay the keep decision in pure Python (md5 coin, integer
    keep threshold); unique docs must always be kept (keep_ppm = 1e6);
    duplicate groups must keep roughly one expected copy."""
    import hashlib

    queries, _ = registry
    from seamdb_spark.operators.dedup import _docs

    texts = {
        r.doc_id: r.text for r in _docs(spark, SF_SMOKE).collect()
    }
    groups = {}
    for d, t in texts.items():
        groups.setdefault(hashlib.md5(t.strip().lower().encode()).hexdigest(), []).append(d)
    rows = {r.doc_id: r for r in queries["d24_frequency_downsample"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(texts)
    for h, members in groups.items():
        for d in members:
            r = rows[d]
            assert r.n_copies == len(members)
            assert r.keep_ppm == 1_000_000 // len(members)
            coin = int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) % 1_000_000
            assert r.coin_ppm == coin
            assert r.kept == (coin < r.keep_ppm)
            if len(members) == 1:
                assert r.kept  # coin < 1e6 always


def test_degree_assortativity_matches_bruteforce(spark, registry):
    """g03: recompute degrees and Newman's assortativity coefficient
    from the same simhash pair list in pure Python and compare to
    1e-5 (the engine value is a single float division over exact
    integer sums)."""
    queries, _ = registry
    from seamdb_spark.operators.dedup import _simhash_pairs

    pairs = [(r.doc_a, r.doc_b) for r in _simhash_pairs(spark, SF_SMOKE).collect()]
    deg: dict[int, int] = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [(deg[a], deg[b]) for a, b in pairs] + [
        (deg[b], deg[a]) for a, b in pairs
    ]
    n = len(xs)
    s = sum(x for x, _ in xs)
    sxy = sum(x * y for x, y in xs)
    q = sum(x * x for x, _ in xs)
    expect = (n * sxy - s * s) / (n * q - s * s)
    [r] = queries["g03_degree_assortativity"](spark, SF_SMOKE).collect()
    assert r.n_nodes == len(deg)
    assert r.n_edges == len(pairs)
    assert r.max_degree == max(deg.values())
    assert r.mean_degree_milli == (1000 * sum(deg.values())) // len(deg)
    assert abs(r.assortativity - expect) < 1e-5


def test_weighted_simhash_matches_reference_impl(spark, registry):
    """d27: recompute every doc's idf-weighted fingerprint from first
    principles in pure Python (md5 32-bit token hash, doc-frequency
    idf with the d22 cap, signed integer votes) and the brute-force
    pair set, and compare exactly — the blocking must lose nothing
    (pigeonhole over 8 nibbles at hamming <= 6)."""
    import hashlib

    queries, _ = registry
    from seamdb_spark.operators.dedup import (
        D27_IDF_CAP,
        SIMHASH_BITS,
        SIMHASH_MAX_HAMMING,
        _docs,
    )

    docs = {r.doc_id: r.text.split(" ") for r in _docs(spark, SF_SMOKE).collect()}

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    df: dict[int, int] = {}
    for toks in docs.values():
        for hh in {h32(t) for t in toks}:
            df[hh] = df.get(hh, 0) + 1
    nd = len(docs)
    w = {hh: min((nd * 1000) // c, D27_IDF_CAP) for hh, c in df.items()}
    sigs = {}
    for d, toks in docs.items():
        votes = [0] * SIMHASH_BITS
        for t in toks:
            hh = h32(t)
            for b in range(SIMHASH_BITS):
                votes[b] += w[hh] if (hh >> b) & 1 else -w[hh]
        sigs[d] = sum(1 << b for b in range(SIMHASH_BITS) if votes[b] > 0)
    ids = sorted(sigs)
    truth = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= SIMHASH_MAX_HAMMING
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in queries["d27_weighted_simhash"](spark, SF_SMOKE).collect()
    }
    assert got == truth and truth


def test_heldout_lm_eval_matches_reference_impl(spark, registry):
    """t31: recompute every val doc's held-out score in pure Python —
    counts from the train split ONLY (t08 md5 buckets), OOV bigrams
    scored as 0 and counted — and compare exactly. Also asserts the
    split discipline: every output doc is in the val bucket range."""
    import hashlib

    queries, _ = registry
    from seamdb_spark.operators.dedup import _docs

    def bucket(d):
        return int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) % 100

    docs = {r.doc_id: r.text.split(" ") for r in _docs(spark, SF_SMOKE).collect()}
    bg, u = {}, {}
    for d, toks in docs.items():
        if len(toks) < 2 or bucket(d) >= 80:
            continue
        for i in range(len(toks) - 1):
            g = f"{toks[i]} {toks[i+1]}"
            bg[g] = bg.get(g, 0) + 1
            u[toks[i]] = u.get(toks[i], 0) + 1
    rows = queries["t31_heldout_lm_eval"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 80 <= bucket(r.doc_id) < 90  # val split only
        toks = docs[r.doc_id]
        score = oov = 0
        for i in range(len(toks) - 1):
            g = f"{toks[i]} {toks[i+1]}"
            if g in bg and toks[i] in u:
                score += (bg[g] * 1_000_000) // u[toks[i]]
            else:
                oov += 1
        assert r.n_bigrams == len(toks) - 1
        assert r.oov_bigrams == oov
        assert r.score == score
        assert r.oov_milli == (1000 * oov) // (len(toks) - 1)


def test_cluster_quality_audit_consistency(spark, registry):
    """d28: per-cluster accounting must be internally consistent with
    the cluster labels (d09) and the verified pair list (d02) computed
    independently: intra-pair counts match a Python recount, density
    is bounded by the complete graph, and Jaccard means only exist
    where pairs do."""
    queries, _ = registry
    labels = {
        r.doc_id: r.cluster_id
        for r in queries["d09_dedup_clusters"](spark, SF_SMOKE).collect()
    }
    pairs = [
        (r.doc_a, r.doc_b, r.jaccard)
        for r in queries["d02_dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    ]
    intra: dict[int, list[float]] = {}
    for a, b, j in pairs:
        if labels.get(a) is not None and labels.get(a) == labels.get(b):
            intra.setdefault(labels[a], []).append(j)
    rows = queries["d28_cluster_quality_audit"](spark, SF_SMOKE).collect()
    assert rows
    seen = set()
    for r in rows:
        seen.add(r.cluster_id)
        assert r.n_docs >= 2
        expect = intra.get(r.cluster_id, [])
        assert r.n_intra_pairs == len(expect)
        assert r.n_intra_pairs <= r.n_docs * (r.n_docs - 1) // 2
        assert r.density_milli == (2000 * r.n_intra_pairs) // (
            r.n_docs * (r.n_docs - 1)
        )
        if expect:
            assert abs(r.mean_intra_jaccard - sum(expect) / len(expect)) < 1e-5
        else:
            assert r.mean_intra_jaccard is None
    assert set(intra) <= seen  # every cluster with intra pairs reported


def test_langid_confusion_consistent_with_t03(spark, registry):
    """t34 × t03 cross-check: cells must sum to the per-label doc
    counts of t03's own output, shares must be the integer milli of the
    joined totals, and diagonal flags must match the cell labels."""
    queries, _ = registry
    preds = queries["t03_lang_id"](spark, SF_SMOKE).collect()
    cells = {}
    for r in preds:
        cells[(r.labeled_lang, r.pred_lang)] = (
            cells.get((r.labeled_lang, r.pred_lang), 0) + 1
        )
    rows = queries["t34_langid_confusion"](spark, SF_SMOKE).collect()
    assert {(r.labeled_lang, r.pred_lang) for r in rows} == set(cells)
    lab_tot = {}
    pred_tot = {}
    for (lab, pred), n in cells.items():
        lab_tot[lab] = lab_tot.get(lab, 0) + n
        pred_tot[pred] = pred_tot.get(pred, 0) + n
    for r in rows:
        assert r.n_docs == cells[(r.labeled_lang, r.pred_lang)]
        assert r.labeled_total == lab_tot[r.labeled_lang]
        assert r.pred_total == pred_tot[r.pred_lang]
        assert r.share_of_labeled_milli == 1000 * r.n_docs // r.labeled_total
        assert r.share_of_pred_milli == 1000 * r.n_docs // r.pred_total
        assert r.is_diagonal == int(r.labeled_lang == r.pred_lang)


def test_monotone_streaks_replay(spark, registry):
    """q62: recompute each customer's longest strictly-increasing
    order-value run in pure Python and compare every column."""
    queries, _ = registry
    from seamdb_spark.operators.relational import _t

    orders = _t(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    ).collect()
    seqs = {}
    for r in sorted(orders, key=lambda r: (r.o_custkey, r.o_orderdate, r.o_orderkey)):
        seqs.setdefault(r.o_custkey, []).append(r.o_totalprice)
    rows = {
        r.o_custkey: r
        for r in queries["q62_monotone_value_streaks"](spark, SF_SMOKE).collect()
    }
    assert set(rows) == set(seqs)
    for cust, vals in seqs.items():
        runs, cur = [], 1
        for a, b in zip(vals, vals[1:]):
            if b > a:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        r = rows[cust]
        assert r.n_orders == len(vals)
        assert r.longest_up_run == max(runs)
        assert r.n_up_runs == sum(1 for x in runs if x >= 2)


def test_cross_correlation_replay(spark, registry):
    """e27: replay the Pearson correlations from the raw events in
    pure Python (zero-filled hour grid, exact integer sums) and
    compare to 6 decimals; r must lie in [-1, 1]."""
    import math
    from collections import Counter

    queries, _ = registry
    from seamdb_spark.operators.events import _events

    ev = _events(spark, SF_SMOKE).select("event_type", "ts").collect()
    counts = Counter(
        (r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))
        for r in ev
    )
    hours = sorted({h for _, h in counts})
    types = sorted({t for t, _ in counts})
    series = {
        t: [counts.get((t, h), 0) for h in hours] for t in types
    }
    rows = queries["e27_type_cross_correlation"](spark, SF_SMOKE).collect()
    assert len(rows) == len(types) * (len(types) - 1) // 2
    for r in rows:
        assert -1.0 <= r.corr_r <= 1.0
        xs, ys = series[r.type_a], series[r.type_b]
        n = len(hours)
        assert r.n_hours == n
        assert r.total_a == sum(xs) and r.total_b == sum(ys)
        num = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
        dx = n * sum(x * x for x in xs) - sum(xs) ** 2
        dy = n * sum(y * y for y in ys) - sum(ys) ** 2
        assert abs(r.corr_r - num / math.sqrt(dx * dy)) < 5e-6


def test_uniform_group_sample_is_deterministic_subset(spark, registry):
    """x12: exactly min(k, group size) docs per source, ranks dense
    from 1, members stable across two runs (no RNG state)."""
    queries, _ = registry
    from seamdb_spark.operators.text import X12_K, _docs
    from pyspark.sql import functions as F

    sizes = {
        r.source: r.n
        for r in _docs(spark, SF_SMOKE).groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    run1 = queries["x12_uniform_group_sample"](spark, SF_SMOKE).collect()
    run2 = queries["x12_uniform_group_sample"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, run1)) == sorted(map(tuple, run2))
    by_src = {}
    for r in run1:
        by_src.setdefault(r.source, []).append(r.sample_rank)
    assert set(by_src) == set(sizes)
    for src, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, min(X12_K, sizes[src]) + 1))


def test_clipping_runs_consistent_with_wav_decode(spark, registry):
    """m19 × m07 cross-check: sample counts must match the decoded
    clip lengths; run accounting must be internally consistent."""
    queries, _ = registry
    m07 = {r.doc_id: r for r in queries["m07_wav_decode"](spark, SF_SMOKE).collect()}
    rows = queries["m19_clipping_runs"](spark, SF_SMOKE).collect()
    assert rows and {r.doc_id for r in rows} == set(m07)
    for r in rows:
        assert r.n_samples == m07[r.doc_id].n_samples
        assert 0 <= r.n_clipped <= r.n_samples
        assert r.clipped_milli == 1000 * r.n_clipped // r.n_samples
        assert (r.n_runs == 0) == (r.n_clipped == 0)
        if r.n_runs:
            assert r.longest_run * r.n_runs >= r.n_clipped >= r.longest_run
        else:
            assert r.longest_run == 0


def test_zipf_doubling_ratio_consistent_with_spectrum(spark, registry):
    """t36: every reported rank must satisfy 2*rank <= 128, ratios must
    be >= 1000 (frequencies non-increasing in rank), and the rank-1
    frequency must equal the corpus max token frequency."""
    queries, _ = registry
    from seamdb_spark.operators.text import _docs
    from pyspark.sql import functions as F

    rows = queries["t36_zipf_doubling_ratio"](spark, SF_SMOKE).collect()
    assert rows
    max_freq = (
        _docs(spark, SF_SMOKE)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    by_rank = {r.rank: r for r in rows}
    assert by_rank[1].freq == max_freq
    for r in rows:
        assert 2 * r.rank <= 128
        assert r.freq >= r.freq_2r
        assert r.doubling_ratio_milli == 1000 * r.freq // r.freq_2r
        assert r.doubling_ratio_milli >= 1000


def test_oov_rate_audit_replay(spark, registry):
    """t37: replay the OOV accounting in pure Python from the raw docs
    and the t08 split; train docs must never appear in the output."""
    queries, _ = registry
    from seamdb_spark.operators.text import _docs

    splits = {
        r.doc_id: r.split
        for r in queries["t08_train_split"](spark, SF_SMOKE).collect()
    }
    docs = {
        r.doc_id: r.text.split(" ")
        for r in _docs(spark, SF_SMOKE).select("doc_id", "text").collect()
    }
    vocab = set()
    for d, toks in docs.items():
        if splits[d] == "train":
            vocab.update(toks)
    rows = {r.doc_id: r for r in queries["t37_oov_rate_audit"](spark, SF_SMOKE).collect()}
    expect_ids = {d for d, s in splits.items() if s != "train"}
    assert set(rows) == expect_ids
    for d, r in rows.items():
        toks = docs[d]
        oov = [t for t in toks if t not in vocab]
        assert r.split == splits[d]
        assert r.n_tokens == len(toks)
        assert r.n_oov == len(oov)
        assert r.n_oov_types == len(set(oov))
        assert r.oov_ppm == 1_000_000 * len(oov) // len(toks)


def test_session_concurrency_replay(spark, registry):
    """e28: rebuild the sweep-line in pure Python from e02's session
    intervals and compare every hour's peak and start/end volumes."""
    import datetime
    from collections import defaultdict

    queries, _ = registry
    sessions = queries["e02_sessionization"](spark, SF_SMOKE).collect()
    deltas = defaultdict(int)
    starts = defaultdict(int)
    ends = defaultdict(int)
    us = datetime.timedelta(microseconds=1)
    for s in sessions:
        deltas[s.session_start] += 1
        deltas[s.session_end + us] -= 1
        starts[s.session_start] += 1
        ends[s.session_end + us] += 1
    conc = 0
    peak = {}
    n_start_h = defaultdict(int)
    n_end_h = defaultdict(int)
    for t in sorted(deltas):
        conc += deltas[t]
        h = t.replace(minute=0, second=0, microsecond=0)
        peak[h] = max(peak.get(h, conc), conc)
        n_start_h[h] += starts[t]
        n_end_h[h] += ends[t]
    rows = {r.hour: r for r in queries["e28_session_concurrency"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(peak)
    for h, r in rows.items():
        assert r.max_concurrent == peak[h], h
        assert r.n_starts == n_start_h[h]
        assert r.n_ends == n_end_h[h]
    # global sanity: concurrency returns to zero after the last endpoint
    assert conc == 0


def test_probe_recall_curve_monotone_and_consistent(spark, registry):
    """s19: recall must be non-decreasing in nprobe, found-pair counts
    non-decreasing, and the nprobe=6 row must agree with s14's ivf row
    (identical configuration, shared machinery)."""
    queries, _ = registry
    rows = sorted(
        queries["s19_ivf_probe_recall_curve"](spark, SF_SMOKE).collect(),
        key=lambda r: r.nprobe,
    )
    from seamdb_spark.operators.similarity import S19_NPROBES

    assert [r.nprobe for r in rows] == list(S19_NPROBES)
    for a, b in zip(rows, rows[1:]):
        assert b.n_hit >= a.n_hit
        assert b.n_found >= a.n_found
        assert b.recall_milli >= a.recall_milli
    for r in rows:
        assert 0 <= r.n_hit <= min(r.n_found, r.n_exact)
        assert r.recall_milli == 1000 * r.n_hit // r.n_exact
    s14 = {r.method: r for r in queries["s14_ann_recall_audit"](spark, SF_SMOKE).collect()}
    r6 = next(r for r in rows if r.nprobe == 6)
    assert r6.n_hit == s14["ivf"].n_hit
    assert r6.recall_milli == s14["ivf"].recall_milli


def test_threshold_sensitivity_accounts_all_candidates(spark, registry):
    """d29 × d02 cross-check: bucket counts must sum to the full LSH
    candidate count, the cumulative column must telescope, and the
    survivors at the production threshold must equal d02's output."""
    queries, _ = registry
    from seamdb_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _lsh_candidate_pairs,
    )

    n_cand = _lsh_candidate_pairs(spark, SF_SMOKE).count()
    rows = sorted(
        queries["d29_threshold_sensitivity"](spark, SF_SMOKE).collect(),
        key=lambda r: r.bucket,
    )
    assert sum(r.n_pairs for r in rows) == n_cand
    # telescoping: at_or_above(b) = n_pairs(b) + at_or_above(next)
    for a, b in zip(rows, rows[1:]):
        # buckets may be sparse; cumulative must still be consistent
        assert a.n_pairs_at_or_above >= a.n_pairs
        assert a.n_pairs_at_or_above >= b.n_pairs_at_or_above
    assert rows[-1].n_pairs_at_or_above == rows[-1].n_pairs
    thresh_bucket = int(JACCARD_THRESHOLD * 10)
    survivors = sum(r.n_pairs for r in rows if r.bucket >= thresh_bucket)
    n_d02 = queries["d02_dedup_minhash_lsh"](spark, SF_SMOKE).count()
    assert survivors == n_d02


def test_component_size_distribution_replays_d09(spark, registry):
    """g04 × d09 cross-check: replay the size histogram from the
    cluster labels and compare every column."""
    from collections import Counter

    queries, _ = registry
    labels = queries["d09_dedup_clusters"](spark, SF_SMOKE).collect()
    sizes = Counter(Counter(r.cluster_id for r in labels).values())
    total = sum(k * n for k, n in sizes.items())
    rows = {r.component_size: r for r in queries[
        "g04_component_size_distribution"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(sizes)
    max_k = max(sizes)
    for k, r in rows.items():
        assert r.n_components == sizes[k]
        assert r.n_docs == k * sizes[k]
        assert r.doc_share_milli == 1000 * r.n_docs // total
        assert r.largest_component == max_k


def test_attrition_funnel_telescopes_and_matches_p06(spark, registry):
    """p07: stage k's n_in must equal stage k-1's n_out (telescoping),
    counts must be non-increasing, stage 1's n_in must be the corpus
    size, and the independent-rate cross-checks against p06 must hold
    (funnel drops are bounded by p06's independent defect counts)."""
    queries, _ = registry
    rows = sorted(
        queries["p07_attrition_funnel"](spark, SF_SMOKE).collect(),
        key=lambda r: r.stage,
    )
    assert [r.stage_name for r in rows] == [
        "rules", "quality", "exact_dedup", "near_dedup", "decontam",
    ]
    card = queries["p06_corpus_report_card"](spark, SF_SMOKE).collect()[0]
    assert rows[0].n_in == card.n_docs
    for a, b in zip(rows, rows[1:]):
        assert b.n_in == a.n_out
    for r in rows:
        assert 0 <= r.n_out <= r.n_in
        assert r.n_dropped == r.n_in - r.n_out
        assert r.drop_milli == 1000 * r.n_dropped // r.n_in
    # sequential drops cannot exceed the independent defect counts
    assert rows[1].n_dropped <= card.n_low_quality
    assert rows[2].n_dropped <= card.n_exact_dups
    assert rows[3].n_dropped <= card.n_lex_dups
    assert rows[4].n_dropped <= card.n_contaminated


def test_image_neardup_blocking_is_complete(spark, registry):
    """m20: the wide-chunk-blocked pairs must equal a brute-force
    Hamming scan over m20's own 64-bit hashes (pigeonhole completeness
    for threshold 2: the ≤ 2 differing bits touch at most 2 of the 3
    chunks, so ≥ 1 chunk matches exactly)."""
    queries, _ = registry
    from seamdb_spark.operators.multimodal import M20_MAX_HAMMING, _m20_hashes

    hashes = {
        r.doc_id: r.ahash for r in _m20_hashes(spark, SF_SMOKE).collect()
    }
    ids = sorted(hashes)
    brute = {
        (a, b): bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
        <= M20_MAX_HAMMING
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in queries["m20_image_neardup_pairs"](spark, SF_SMOKE).collect()
    }
    assert got == brute


def test_conversion_survival_replay(spark, registry):
    """e29: replay the censored survival table in pure Python from the
    raw events and compare every cell; curves must be monotone in the
    right directions (at-risk non-increasing, conversions
    non-decreasing in k)."""
    queries, _ = registry
    from seamdb_spark.operators.events import _events, E29_MAX_DAYS

    ev = _events(spark, SF_SMOKE).select("user_id", "event_type", "ts").collect()
    first_seen, first_buy = {}, {}
    end_ts = max(r.ts for r in ev)
    for r in ev:
        if r.user_id not in first_seen or r.ts < first_seen[r.user_id]:
            first_seen[r.user_id] = r.ts
        if r.event_type == "purchase" and (
            r.user_id not in first_buy or r.ts < first_buy[r.user_id]
        ):
            first_buy[r.user_id] = r.ts
    rows = {r.k: r for r in queries["e29_conversion_survival"](spark, SF_SMOKE).collect()}
    assert sorted(rows) == list(range(E29_MAX_DAYS + 1))
    prev = None
    for k in range(E29_MAX_DAYS + 1):
        at_risk = sum(
            1
            for uid, fs in first_seen.items()
            if int((end_ts - fs).total_seconds()) // 86400 >= k
        )
        conv = sum(
            1
            for uid, fs in first_seen.items()
            if int((end_ts - fs).total_seconds()) // 86400 >= k
            and uid in first_buy
            and int((first_buy[uid] - fs).total_seconds()) // 86400 <= k
        )
        r = rows[k]
        assert r.n_at_risk == at_risk
        assert r.n_converted_by_k == conv
        assert r.conv_ppm == 1_000_000 * conv // at_risk
        if prev is not None:
            assert r.n_at_risk <= prev.n_at_risk
        prev = r


def test_adjusted_anomalies_consistent_with_e23(spark, registry):
    """e31 × e23 cross-check: seasonality indexes must match e23's
    table; adjusted counts and flags must replay from the raw columns."""
    queries, _ = registry
    from seamdb_spark.operators.events import E31_HIGH_MILLI, E31_LOW_MILLI

    season = {
        (r.event_type, r.hod): r.seasonality_milli
        for r in queries["e23_hourly_seasonality"](spark, SF_SMOKE).collect()
    }
    rows = queries["e31_adjusted_anomalies"](spark, SF_SMOKE).collect()
    assert rows
    flagged = 0
    for r in rows:
        assert r.seasonality_milli == season[(r.event_type, r.hod)]
        assert r.adj == 1_000_000 * r.n // max(r.seasonality_milli, 1)
        assert r.deviation_milli == 1000 * r.adj // max(r.mean_adj, 1)
        expect = int(
            r.deviation_milli >= E31_HIGH_MILLI
            or r.deviation_milli <= E31_LOW_MILLI
        )
        assert r.is_anomaly == expect
        flagged += r.is_anomaly
    # the de-seasonalized flag rate should be a small minority of hours
    assert flagged < len(rows) / 2


def test_kneser_ney_replay_and_mass_bound(spark, registry):
    """t38: replay the KN ppm for a sample of docs in pure Python from
    the raw corpus and compare exactly; for every observed context w1
    the model's total probability mass over observed successors must
    not exceed 1 (discounting never inflates)."""
    queries, _ = registry
    from seamdb_spark.operators.text import _docs

    docs = {
        r.doc_id: r.text.split(" ")
        for r in _docs(spark, SF_SMOKE).select("doc_id", "text").collect()
    }
    from collections import Counter, defaultdict

    c12, c1 = Counter(), Counter()
    succ, pred = defaultdict(set), defaultdict(set)
    for toks in docs.values():
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
            succ[a].add(b)
            pred[b].add(a)
    ntot = len(c12)

    def kn(a, b):
        t1 = (1_000_000 * max(4 * c12[(a, b)] - 3, 0)) // (4 * c1[a])
        t2 = (3_000_000 * len(succ[a]) * len(pred[b])) // (4 * c1[a] * ntot)
        return t1 + t2

    rows = {r.doc_id: r for r in queries["t38_kneser_ney_score"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(docs)
    for doc_id in list(docs)[:25]:
        toks = docs[doc_id]
        scores = [kn(a, b) for a, b in zip(toks, toks[1:])]
        r = rows[doc_id]
        assert r.n_bigrams == len(scores)
        assert r.mean_kn_ppm == sum(scores) // len(scores)
        assert r.min_kn_ppm == min(scores)
    # probability-mass sanity per context (sample): sum over OBSERVED
    # successors <= 1e6 + |succ| (integer-floor slack)
    for a in list(succ)[:20]:
        mass = sum(kn(a, b) for b in succ[a])
        assert mass <= 1_000_000 + len(succ[a])


def test_cusum_matches_textbook_recursion(spark, registry):
    """e30: the windowed closed form (prefix minus running min) must
    equal the textbook recursion S_t = max(0, S_{t-1} + x_t) replayed
    in pure Python per type, cell for cell."""
    queries, _ = registry
    from seamdb_spark.operators.events import (
        E30_SLACK_MILLI,
        E30_THRESHOLD_MILLI,
    )

    rows = queries["e30_cusum_changepoints"](spark, SF_SMOKE).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r.day)
        s_hi = s_lo = 0
        for r in series:
            s_hi = max(0, s_hi + r.dev_milli - E30_SLACK_MILLI)
            s_lo = max(0, s_lo - r.dev_milli - E30_SLACK_MILLI)
            assert r.s_hi == s_hi, (r.event_type, r.day)
            assert r.s_lo == s_lo
            assert r.is_change == int(
                s_hi > E30_THRESHOLD_MILLI or s_lo > E30_THRESHOLD_MILLI
            )


def test_kcore_peel_converges_and_replays(spark, registry):
    """g05: replay the peel in pure Python from the simhash pairs; the
    bounded G05_ROUNDS must CONVERGE on the fixture (one extra round
    removes nothing — the output is the true 2-core), and every node's
    removal round / final degree must match."""
    queries, _ = registry
    from seamdb_spark.operators.dedup import G05_ROUNDS, _simhash_pairs

    pairs = [
        (r.doc_a, r.doc_b)
        for r in _simhash_pairs(spark, SF_SMOKE).select("doc_a", "doc_b").collect()
    ]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg_start = {v: len(ns) for v, ns in adj.items()}
    alive = set(adj)
    removed_at = {}
    for r in range(1, G05_ROUNDS + 2):  # one EXTRA round to prove convergence
        doomed = {
            v
            for v in alive
            if sum(1 for n in adj[v] if n in alive) < 2
        }
        if r <= G05_ROUNDS:
            for v in doomed:
                removed_at[v] = r
            alive -= doomed
        else:
            assert not doomed, "bounded peel did not converge on fixture"
    rows = {r.doc_id: r for r in queries["g05_kcore_peel"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(adj)
    for v, r in rows.items():
        assert r.deg_start == deg_start[v]
        assert r.removed_at == removed_at.get(v, 0)
        assert r.in_core == int(v in alive)
        expect_deg = sum(1 for n in adj[v] if n in alive) if v in alive else 0
        assert r.deg_end == expect_deg


def test_ivf_purity_consistent_with_labels(spark, registry):
    """s20: replay purity from the engine's own cell assignment; the
    size-weighted modal shares must reproduce corpus_purity_milli and
    cells must partition the corpus."""
    queries, _ = registry
    rows = queries["s20_ivf_purity_audit"](spark, SF_SMOKE).collect()
    assert rows
    total = sum(r.n_vecs for r in rows)
    hits = sum(r.top_n for r in rows)
    from seamdb_spark.operators.similarity import _emb

    n_emb = _emb(spark, SF_SMOKE).count()
    assert total == n_emb
    for r in rows:
        assert 1 <= r.top_n <= r.n_vecs
        assert r.purity_milli == 1000 * r.top_n // r.n_vecs
        assert r.corpus_purity_milli == 1000 * hits // total


def test_bot_screening_replay(spark, registry):
    """e32: replay the dispersion/night/diversity signals for a sample
    of users in pure Python and compare every column."""
    queries, _ = registry
    from seamdb_spark.operators.events import (
        E32_DISP_MAX_MILLI,
        E32_MIN_EVENTS,
        E32_NIGHT_MIN_MILLI,
        E32_RATE_MIN_MILLI,
        _events,
    )

    ev = _events(spark, SF_SMOKE).select(
        "user_id", "event_type", "ts", "event_id"
    ).collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    rows = {r.user_id: r for r in queries["e32_bot_screening"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_user)
    for uid in list(by_user)[:25]:
        es = sorted(by_user[uid], key=lambda r: (r.ts, r.event_id))
        gaps = [
            min(int((b.ts - a.ts).total_seconds() * 1_000_000) // 1_000_000,
                604_800)
            for a, b in zip(es, es[1:])
        ]
        s1, s2 = sum(gaps), sum(g * g for g in gaps)
        n = len(es)
        night = sum(1 for e in es if e.ts.hour < 6)
        days = len({e.ts.date() for e in es})
        r = rows[uid]
        assert r.n_events == n and r.n_gaps == len(gaps)
        ng = max(len(gaps), 1)
        m1, m2 = s1 // ng, s2 // ng
        disp = 1000 * max(m2 - m1 * m1, 0) // max(m1 * m1, 1)
        assert r.disp_milli == disp
        assert r.night_milli == 1000 * night // n
        assert r.rate_per_day_milli == 1000 * n // days
        expect = int(
            n >= E32_MIN_EVENTS
            and (
                disp <= E32_DISP_MAX_MILLI
                or (r.night_milli >= E32_NIGHT_MIN_MILLI
                    and r.rate_per_day_milli >= E32_RATE_MIN_MILLI)
                or (r.n_types <= 2
                    and r.rate_per_day_milli >= E32_RATE_MIN_MILLI)
            )
        )
        assert r.is_bot == expect


def test_image_flatness_consistent_with_decode(spark, registry):
    """m21 × m09 cross-check (same digest-synth family): pixel counts
    must match m09's decoded dims; concentration must lie in
    [125000, 1e6] (8 buckets) and modal share must bound it."""
    queries, _ = registry
    m09 = {r.doc_id: r for r in queries["m09_image_ahash"](spark, SF_SMOKE).collect()}
    rows = queries["m21_image_flatness"](spark, SF_SMOKE).collect()
    assert rows and {r.doc_id for r in rows} == set(m09)
    for r in rows:
        assert r.n_pixels == m09[r.doc_id].width * m09[r.doc_id].height
        assert 1 <= r.n_buckets <= 8
        assert 125_000 <= r.conc_ppm <= 1_000_000
        # modal share bounds concentration: conc <= modal_share (both
        # as fractions of 1) since sum c^2 <= max_c * n
        assert r.conc_ppm <= (r.modal_milli + 1) * 1000
        from seamdb_spark.operators.multimodal import M21_FLAT_PPM
        assert r.is_flat == int(r.conc_ppm >= M21_FLAT_PPM)


def test_robust_outliers_replay(spark, registry):
    """q63: replay the MAD / Tukey-fence table in pure Python from the
    raw prices and compare every column (medians to 6 decimals,
    counts exactly)."""
    import statistics

    queries, _ = registry
    from seamdb_spark.operators.relational import _t

    rows = {
        r.l_returnflag: r
        for r in queries["q63_robust_outliers"](spark, SF_SMOKE).collect()
    }
    prices = {}
    for r in _t(spark, SF_SMOKE, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect():
        prices.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    assert set(rows) == set(prices)

    def q_cont(vals, q):
        vals = sorted(vals)
        pos = (len(vals) - 1) * q
        lo = int(pos)
        frac = pos - lo
        if lo + 1 < len(vals):
            return vals[lo] * (1 - frac) + vals[lo + 1] * frac
        return vals[lo]

    for flag, vals in prices.items():
        r = rows[flag]
        med = statistics.median(vals)
        mad = statistics.median(abs(v - med) for v in vals)
        p25, p75 = q_cont(vals, 0.25), q_cont(vals, 0.75)
        lo, hi = p25 - 1.5 * (p75 - p25), p75 + 1.5 * (p75 - p25)
        assert r.n == len(vals)
        assert abs(r.med_price - med) < 1e-5
        assert abs(r.mad_price - mad) < 1e-5
        assert abs(r.p25_price - p25) < 1e-5
        assert abs(r.p75_price - p75) < 1e-5
        assert r.n_low_outliers == sum(1 for v in vals if v < lo)
        assert r.n_high_outliers == sum(1 for v in vals if v > hi)


def test_decayed_popularity_replay(spark, registry):
    """x13: replay the power-of-two decay in pure Python and compare;
    ranks must be a permutation ordered by (score desc, type)."""
    queries, _ = registry
    from seamdb_spark.operators.events import _events

    ev = _events(spark, SF_SMOKE).select("event_type", "ts").collect()
    from collections import Counter

    weeks = Counter(
        (r.event_type, int(r.ts.timestamp()) // 604800) for r in ev
    )
    w0 = min(w for _, w in weeks)
    w1 = max(w for _, w in weeks)
    scores, totals, latest = {}, {}, {}
    for (t, w), n in weeks.items():
        scores[t] = scores.get(t, 0) + n * (1 << (w - w0))
        totals[t] = totals.get(t, 0) + n
        if w == w1:
            latest[t] = latest.get(t, 0) + n
    rows = {r.event_type: r for r in queries["x13_decayed_popularity"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(scores)
    for t, r in rows.items():
        assert r.decayed_score == scores[t]
        assert r.n_events == totals[t]
        assert r.n_latest_week == latest.get(t, 0)
    order = sorted(scores, key=lambda t: (-scores[t], t))
    assert [rows[t].trend_rank for t in order] == list(range(1, len(order) + 1))


def test_k_anonymity_partitions_corpus(spark, registry):
    """t39: class sizes must sum to the corpus, shares to ~1e6 ppm,
    and the below-k flag must match the threshold."""
    queries, _ = registry
    from seamdb_spark.operators.text import T39_K, _docs

    n_docs = _docs(spark, SF_SMOKE).count()
    rows = queries["t39_k_anonymity_audit"](spark, SF_SMOKE).collect()
    assert sum(r.class_size for r in rows) == n_docs
    assert len({(r.lang, r.source, r.len_bucket) for r in rows}) == len(rows)
    for r in rows:
        assert r.share_ppm == 1_000_000 * r.class_size // n_docs
        assert r.below_k == int(r.class_size < T39_K)


def test_stickiness_consistent_with_rolling_actives(spark, registry):
    """e33 × e13 cross-check: WAU must equal e13's 7-day rolling
    actives per day; DAU <= WAU; ratio replayed."""
    queries, _ = registry
    e13 = {
        r.day: r.active_users_7d
        for r in queries["e13_rolling_active_users"](spark, SF_SMOKE).collect()
    }
    rows = queries["e33_stickiness_ratio"](spark, SF_SMOKE).collect()
    assert rows and {r.day for r in rows} == set(e13)
    for r in rows:
        assert r.wau == e13[r.day]
        assert 1 <= r.dau <= r.wau
        assert r.stickiness_milli == 1000 * r.dau // r.wau


def test_label_separability_replay(spark, registry):
    """s21: replay centroids and scatter/margin in pure Python from
    the quantized vectors and compare every column."""
    queries, _ = registry
    from seamdb_spark.operators.similarity import QUANT_SCALE, _emb
    import math

    emb = _emb(spark, SF_SMOKE).select("vec_id", "label", "embedding").collect()
    by_label = {}
    for r in emb:
        q = [math.floor(float(x) * QUANT_SCALE) for x in r.embedding]
        by_label.setdefault(r.label, []).append(q)
    def tdiv(a, b):  # SQL div truncates toward zero; Python // floors
        return a // b if a >= 0 else -((-a) // b)

    cents = {}
    for lab, vecs in by_label.items():
        n = len(vecs)
        cents[lab] = [tdiv(sum(v[i] for v in vecs), n) for i in range(64)]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    rows = {r.label: r for r in queries["s21_label_separability"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_label)
    for lab, vecs in by_label.items():
        r = rows[lab]
        assert r.n_vecs == len(vecs)
        intra = sum(d2(v, cents[lab]) for v in vecs) // len(vecs)
        assert r.mean_intra_d2 == intra
        nearest = min(d2(cents[lab], cents[o]) for o in cents if o != lab)
        assert r.nearest_other_d2 == nearest
        assert r.scatter_margin_milli == 1000 * intra // max(nearest, 1)


def test_price_drift_replay(spark, registry):
    """q64: replay the yearly TV distances in pure Python from the raw
    order totals and compare every cell."""
    import math
    from collections import Counter

    queries, _ = registry
    from seamdb_spark.operators.relational import Q64_BAND, _t

    orders = _t(spark, SF_SMOKE, "orders").select(
        "o_orderdate", "o_totalprice"
    ).collect()
    counts = Counter(
        (r.o_orderdate.year, math.floor(r.o_totalprice / Q64_BAND))
        for r in orders
    )
    years = sorted({y for y, _ in counts})
    dist = {}
    for y in years:
        tot = sum(n for (yy, _), n in counts.items() if yy == y)
        dist[y] = {
            b: 1_000_000 * n // tot for (yy, b), n in counts.items() if yy == y
        }
    rows = {r.yr: r for r in queries["q64_yearly_price_drift"](spark, SF_SMOKE).collect()}
    assert sorted(rows) == years[1:]
    for y in years[1:]:
        pa, pb = dist[y], dist[y - 1]
        bands = set(pa) | set(pb)
        tv = sum(abs(pa.get(b, 0) - pb.get(b, 0)) for b in bands) // 2
        r = rows[y]
        assert r.n_bands == len(bands)
        assert r.tv_ppm == tv


def test_bpe_train_matches_pure_python_replay(spark, registry):
    """t40: replay the full iterative char-BPE training loop in pure
    Python (word-frequency-weighted pair counts, greedy left-to-right
    within-word merges, count-desc/pair-asc argmax) on the collected
    smoke corpus and compare every learned rule. Also pins the
    iterative invariants: round-1 equals the top weighted character
    bigram counted directly, and picked frequencies never increase
    across rounds (every pair a merge creates occurs at most once per
    merge site, so new counts are bounded by the picked count)."""
    queries, _ = registry
    from seamdb_spark.operators.text import T40_MERGES

    texts = [
        r.text
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("text")
        .collect()
    ]
    freq: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            freq[w] = freq.get(w, 0) + 1
    vocab = {w: list(w) for w in freq}
    expected = []
    for k in range(1, T40_MERGES + 1):
        counts: dict[tuple, int] = {}
        for w, syms in vocab.items():
            f = freq[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        (w1, w2), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((k, w1, w2, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == w1 and syms[i + 1] == w2:
                    out.append(w1 + w2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_freq)
        for r in queries["t40_bpe_train"](spark, SF_SMOKE)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == expected
    freqs = [g[3] for g in got]
    assert freqs == sorted(freqs, reverse=True)
    bigrams: dict[tuple, int] = {}
    for w, f in freq.items():
        for a, b in zip(w, w[1:]):
            bigrams[(a, b)] = bigrams.get((a, b), 0) + f
    top1 = min(bigrams.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    assert (got[0][1], got[0][2], got[0][3]) == (top1[0][0], top1[0][1], top1[1])


def test_label_propagation_consistent_with_components(spark, registry):
    """g06: LPA labels can only flow along edges, so every community
    must be contained in exactly one d09 connected component (never
    more communities merged than the component allows), community
    count >= component count over the same node set, and community
    sizes must tally the label table."""
    queries, _ = registry
    comm = {
        r.doc_id: (r.community, r.community_size)
        for r in queries["g06_label_propagation"](spark, SF_SMOKE).collect()
    }
    comp = {
        r.doc_id: r.cluster_id
        for r in queries["d09_dedup_clusters"](spark, SF_SMOKE).collect()
        if r.doc_id in comm
    }
    assert set(comp) == set(comm)
    comp_of_comm: dict = {}
    for doc, (lbl, _) in comm.items():
        comp_of_comm.setdefault(lbl, set()).add(comp[doc])
    assert all(len(s) == 1 for s in comp_of_comm.values())
    assert len(comp_of_comm) >= len(set(comp.values()))
    from collections import Counter

    tally = Counter(lbl for lbl, _ in comm.values())
    assert all(size == tally[lbl] for lbl, size in comm.values())


def test_log2_quantile_sketch_brackets_exact_quantiles(spark, registry):
    """x14: the picked power-of-two band must bracket the EXACT p50/p95
    computed in Python from the raw per-source values (the 2x
    relative-error guarantee), and the audit bools are pinned TRUE."""
    queries, _ = registry
    import math

    vals: dict = {}
    for r in (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("source", "text")
        .collect()
    ):
        vals.setdefault(r.source, []).append(len(r.text.split(" ")))
    rows = queries["x14_log2_histogram_quantiles"](spark, SF_SMOKE).collect()
    assert {r.source for r in rows} == set(vals)
    for r in rows:
        v = sorted(vals[r.source])
        assert r.n_docs == len(v)
        exact50 = v[(len(v) + 1) // 2 - 1]
        exact95 = v[math.ceil(0.95 * len(v)) - 1]
        assert r.p50_lo <= exact50 <= r.p50_hi
        assert r.p95_lo <= exact95 <= r.p95_hi
        assert r.p50_hi < 2 * r.p50_lo and r.p95_hi < 2 * r.p95_lo
        assert r.p50_bound_ok and r.p95_bound_ok


def test_modularity_audit_terms_are_consistent(spark, registry):
    """g07: per-community contributions must sum to the corpus
    modularity up to one unit of truncation per term (both engines
    truncate integer division toward zero, so NEGATIVE contributions
    round up while the corpus total rounds once), node/edge tallies
    must match g06's communities, and Q must sit in [-0.5, 1]."""
    queries, _ = registry
    rows = queries["g07_modularity_audit"](spark, SF_SMOKE).collect()
    assert rows
    q = rows[0].modularity_micro
    assert all(r.modularity_micro == q for r in rows)
    assert -500_000 <= q <= 1_000_000
    s = sum(r.contribution_micro for r in rows)
    assert abs(q - s) <= len(rows) + 1  # one truncation unit per term
    comm_sizes = {
        r.community: r.community_size
        for r in queries["g06_label_propagation"](spark, SF_SMOKE).collect()
    }
    assert {r.community: r.n_nodes for r in rows} == comm_sizes
    assert sum(r.intra_edges for r in rows) <= sum(r.degree_sum for r in rows) // 2


def test_bucketed_join_is_exchange_free(spark, registry):
    """j02's defining property, pinned directly: the fact-fact join
    reads both bucketed tables WITHOUT an Exchange — the only shuffle
    in the whole plan is the final per-priority aggregate, and the
    join is the sort-merge form (no broadcast masking the layout)."""
    queries, _ = registry
    plan = (
        queries["j02_bucketed_colocated_join"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan
    assert "BroadcastExchange" not in plan
    assert plan.count("Exchange ") == 1  # the aggregate, not the join


def test_j03_plan_has_dynamic_pruning(spark, registry):
    """j03's defining property, pinned directly: the partitioned fact
    scan must carry a runtime DynamicPruning PartitionFilter (so only
    the k matching month partitions are read), not a full-table scan —
    the months come from a runtime aggregate, so a static filter is
    impossible and its absence would mean DPP silently degraded to a
    full scan."""
    queries, _ = registry
    plan = (
        queries["j03_partition_pruned_join"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_bbit_correction_reduces_bias(spark, registry):
    """d33 soundness: raw 4-bit agreement systematically overestimates
    similarity (random low-bit collisions at rate 2^-b); the Li-Konig
    correction must remove that inflation — corrected estimates sit at
    or below raw ones, never above, and the mean absolute residual vs
    the full-width estimate shrinks (or ties) after correction."""
    queries, _ = registry
    rows = queries["d33_bbit_minhash_audit"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_agree_b4 <= 8 and 0 <= r.n_agree_full <= 8
        assert r.n_agree_b4 >= r.n_agree_full  # low bits can only collide
        assert r.est_b4_milli <= r.raw_b4_milli
        assert r.correction_residual_milli == r.est_b4_milli - r.est_full_milli
    # The correction is unbiased in EXPECTATION, not per pair: on a
    # high-similarity candidate with no actual low-bit collisions it
    # lands BELOW the full-width estimate (it assumes the expected
    # collision count), so per-pair |error| can grow. The testable
    # fixture claim is centering: the SIGNED residual sum must shrink
    # toward zero from raw's strictly-positive inflation.
    raw_signed = sum(r.raw_b4_milli - r.est_full_milli for r in rows)
    corrected_signed = sum(r.correction_residual_milli for r in rows)
    assert raw_signed > 0  # low-bit collisions only inflate
    assert abs(corrected_signed) < raw_signed


def test_burstiness_pure_python_replay(spark, registry):
    """e36 replay: recompute the Fano table from the raw events with
    plain Python dicts and match every column exactly."""
    from seamdb_spark.sources import load_table

    queries, _ = registry
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "ts"
    ).collect()
    counts: dict[tuple, int] = {}
    for r in ev:
        h = int(r.ts.timestamp()) // 3600
        counts[(r.event_type, h)] = counts.get((r.event_type, h), 0) + 1
    hours = [h for (_, h) in counts]
    n = max(hours) - min(hours) + 1
    per_type: dict[str, list] = {}
    for (t, _), c in counts.items():
        per_type.setdefault(t, []).append(c)
    got = {
        r.event_type: r
        for r in queries["e36_type_burstiness"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(per_type)
    for t, cs in per_type.items():
        tot, ssq = sum(cs), sum(c * c for c in cs)
        fano = (1000 * (n * ssq - tot * tot)) // (n * tot)
        r = got[t]
        assert (r.n_hours, r.n_active_hours, r.total_events) == (n, len(cs), tot)
        assert r.mean_milli == 1000 * tot // n
        assert r.fano_milli == fano
        want_cls = (
            "bursty" if fano >= 1500
            else "underdispersed" if fano <= 667 else "poisson_like"
        )
        assert r.dispersion_class == want_cls


def test_progressive_jpeg_identity_on_noise():
    """m31's codec kernel under adversarial inputs: random-noise images
    maximize nonzero AC coefficients, stressing ZRL emission, per-block
    EOB handling, the AC point transform, and the G.1.2.3 refinement
    correction-bit alignment. The progressive decode must stay
    BIT-identical to the baseline decode (same quantized coefficients
    by construction) — any positional drift in buffered correction
    bits corrupts the Huffman stream and fails loudly here."""
    import numpy as np

    from seamdb_spark.operators.multimodal import (
        build_jpeg,
        build_jpeg_progressive,
        decode_jpeg,
        decode_media,
    )

    rng = np.random.default_rng(7)
    for _ in range(12):
        raw = rng.integers(0, 256, size=16 * 16 * 3, dtype=np.uint8).tobytes()
        base = decode_jpeg(build_jpeg(16, 16, raw))
        prog = decode_media(build_jpeg_progressive(16, 16, raw))
        assert prog.get("progressive") and prog["n_scans"] == 8
        assert prog["pixels"] == base["pixels"]
        assert prog["pixel_sum"] == base["pixel_sum"]


def test_codec_decoders_fail_clean_on_malformed_bytes():
    """Corpus-robustness contract: at 100 TB some payloads WILL be
    truncated or bit-rotted, and a decode kernel that leaks IndexError/
    KeyError/struct.error instead of ValueError turns one bad row into
    an undiagnosable task failure. Fixed-seed fuzz over every builder's
    output: byte truncations and single-byte flips must only ever raise
    ValueError or NotImplementedError, and pristine payloads must still
    decode (the guards cannot reject valid files)."""
    import numpy as np

    from seamdb_spark.operators import multimodal as mm

    raw = mm._ramp_rgb(8).tobytes()
    payloads = {
        "jpeg": mm.build_jpeg(16, 16, raw),
        "jpeg_progressive": mm.build_jpeg_progressive(16, 16, raw),
        "jpeg_420": mm.build_jpeg_420(16, 16, raw),
        "png": mm.build_png(16, 16, raw),
        "bmp": mm.build_bmp(16, 16, bytes(range(256)) * 3),
        "wav": mm.build_wav(list(range(-100, 100))),
        "mp4": mm.build_mp4(1000, 200, [100, 120, 140], [1]),
        "gif": mm.build_gif(16, 16, raw),
        "gif_anim": mm.build_gif_animation(
            8, 8, [raw[:192], raw[192:384]], [10, 20]
        ),
    }
    for name, p in payloads.items():
        assert mm.decode_media(p)["kind"]  # pristine still decodes
        for cut in range(2, len(p), 11):
            try:
                mm.decode_media(p[:cut])
            except (ValueError, NotImplementedError):
                pass
        rng = np.random.default_rng(1)
        for _ in range(300):
            b = bytearray(p)
            i = int(rng.integers(2, len(p)))
            b[i] = int(rng.integers(0, 256))
            try:
                mm.decode_media(bytes(b))
            except (ValueError, NotImplementedError):
                pass
    # the mdat sample slicer shares the walker and the same contract
    rng = np.random.default_rng(9)
    p = payloads["mp4"]
    for _ in range(300):
        b = bytearray(p)
        i = int(rng.integers(2, len(p)))
        b[i] = int(rng.integers(0, 256))
        try:
            mm.extract_mp4_samples(bytes(b))
        except (ValueError, NotImplementedError):
            pass


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn support — the error-resilience layout most real camera
    JPEGs carry: the encoder emits a DRI segment and byte-aligned RSTn
    markers (cycling 0-7) with DC-predictor resets every N MCUs, and
    the decoder consumes them at the same boundaries. Entropy resets
    cannot change coefficients, so the decode must stay BIT-identical
    to the restart-free encoding — for 4:4:4 and 4:2:0, at several
    intervals, and on a 16-MCU image that cycles the RST index."""
    import numpy as np

    from seamdb_spark.operators import multimodal as mm

    raw = mm._ramp_rgb(11).tobytes()
    plain = mm.decode_media(mm.build_jpeg(16, 16, raw))
    for ri in (1, 2, 3):
        p = mm.build_jpeg(16, 16, raw, restart_interval=ri)
        assert b"\xff\xdd" in p and b"\xff\xd0" in p
        assert mm.decode_media(p)["pixels"] == plain["pixels"]
    p420 = mm.decode_media(mm.build_jpeg_420(16, 16, raw))
    r420 = mm.build_jpeg_420(16, 16, raw, restart_interval=1)
    assert mm.decode_media(r420)["pixels"] == p420["pixels"]
    big = np.tile(
        np.frombuffer(raw, dtype=np.uint8).reshape(16, 16, 3), (2, 2, 1)
    ).tobytes()
    assert (
        mm.decode_media(mm.build_jpeg(32, 32, big, restart_interval=5))["pixels"]
        == mm.decode_media(mm.build_jpeg(32, 32, big))["pixels"]
    )
    # malformed restarts stay inside the clean-ValueError contract
    rng = np.random.default_rng(4)
    p = mm.build_jpeg(16, 16, raw, restart_interval=1)
    for _ in range(300):
        b = bytearray(p)
        i = int(rng.integers(2, len(p)))
        b[i] = int(rng.integers(0, 256))
        try:
            mm.decode_media(bytes(b))
        except (ValueError, NotImplementedError):
            pass


def test_progressive_jpeg_restart_markers_roundtrip():
    """Round-8 closure of the last restart-marker gap: DRI/RSTn inside
    PROGRESSIVE (SOF2) scans. Every scan kind crosses boundaries here —
    interleaved DC first pass (predictor resets), DC refinement
    (byte-align only), AC first pass (EOBRUN confined to the interval),
    and G.1.2.3 AC refinement — and RST numbering restarts per scan.
    Entropy resets cannot change coefficients, so decode must stay
    BIT-identical to the restart-free encoding."""
    import numpy as np

    from seamdb_spark.operators import multimodal as mm

    raw = mm._ramp_rgb(11).tobytes()
    plain = mm.decode_media(mm.build_jpeg_progressive(16, 16, raw))
    assert plain.get("progressive")
    for ri in (1, 2, 3):
        p = mm.build_jpeg_progressive(16, 16, raw, restart_interval=ri)
        assert b"\xff\xdd" in p and b"\xff\xd0" in p
        got = mm.decode_media(p)
        assert got["pixels"] == plain["pixels"]
        assert got["n_scans"] == plain["n_scans"]
    # 16 MCUs wide at ri=1 cycles the RST index past 7 within one scan
    big = np.tile(
        np.frombuffer(raw, dtype=np.uint8).reshape(16, 16, 3), (2, 2, 1)
    ).tobytes()
    assert (
        mm.decode_media(
            mm.build_jpeg_progressive(32, 32, big, restart_interval=1)
        )["pixels"]
        == mm.decode_media(mm.build_jpeg_progressive(32, 32, big))["pixels"]
    )
    # malformed restarts stay inside the clean-ValueError contract
    rng = np.random.default_rng(5)
    p = mm.build_jpeg_progressive(16, 16, raw, restart_interval=1)
    for _ in range(300):
        b = bytearray(p)
        i = int(rng.integers(2, len(p)))
        b[i] = int(rng.integers(0, 256))
        try:
            mm.decode_media(bytes(b))
        except (ValueError, NotImplementedError):
            pass


def test_m33_keyframe_selection_invariants(spark):
    """m33 selection semantics on the sf0.001 fixture: every stss sync
    sample is selected; every GOP with any scored (non-NULL-motion)
    sample contributes exactly one peak; a selected non-sync sample
    carries its GOP's maximum motion; the track's first sample (no
    predecessor => NULL motion) appears only as sync."""
    from seamdb_spark.operators.registry import QUERIES

    rows = QUERIES["m33_keyframe_selection"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, sel in by_doc.items():
        n = 5 + doc_id % 8
        syncs = set(range(1, n + 1, 3))
        got_syncs = {r.sample_no for r in sel if r.is_sync == 1}
        assert got_syncs == syncs, (doc_id, got_syncs, syncs)
        for r in sel:
            assert r.gop_no == (r.sample_no - 1) // 3
            if r.sample_no == 1:
                assert r.motion is None and r.is_sync == 1
            else:
                assert r.motion is not None and r.motion >= 0
        # non-sync selections are their GOP's peak (and unique in it)
        non_sync = [r for r in sel if r.is_sync == 0]
        gops = [r.gop_no for r in non_sync]
        assert len(gops) == len(set(gops))


def test_exif_roundtrip_and_fuzz():
    """APP1 Exif/TIFF layer: both byte orders round-trip every field
    (including the offset-stored ASCII and RATIONAL values); the Exif
    segment is transparent to pixel decode; unknown trailing tags are
    skipped, not fatal; malformed bytes stay inside the clean-
    ValueError contract."""
    import numpy as np

    from seamdb_spark.operators import multimodal as mm

    raw = mm._ramp_rgb(3).tobytes()
    for be in (False, True):
        app1 = mm.build_exif_app1(
            orientation=6,
            make="CAM-X",
            model="MODEL-Y",
            datetime_str="2023:05:17 08:30:00",
            x_resolution=(300, 1),
            big_endian=be,
        )
        p = mm.build_jpeg_with_exif(16, 16, raw, app1)
        meta = mm.parse_exif(p)
        assert meta["byte_order"] == ("MM" if be else "II")
        assert meta["orientation"] == 6
        assert meta["make"] == "CAM-X" and meta["model"] == "MODEL-Y"
        assert meta["x_resolution"] == (300, 1)
        assert meta["datetime"] == "2023:05:17 08:30:00"
        assert meta["n_entries"] == 5
        # pixel path unaffected by the APP1 splice
        assert (
            mm.decode_media(p)["pixels"]
            == mm.decode_media(mm.build_jpeg(16, 16, raw))["pixels"]
        )
    # a JPEG without APP1 raises the documented error
    try:
        mm.parse_exif(mm.build_jpeg(16, 16, raw))
        raise AssertionError("expected ValueError for missing APP1")
    except ValueError:
        pass
    # malformed bytes: clean ValueError, never IndexError/struct.error
    rng = np.random.default_rng(6)
    app1 = mm.build_exif_app1(1, "A", "B", "2020:01:01 00:00:00", (72, 1))
    p = mm.build_jpeg_with_exif(16, 16, raw, app1)
    for _ in range(300):
        b = bytearray(p)
        i = int(rng.integers(2, min(len(p), 220)))  # target the APP1 head
        b[i] = int(rng.integers(0, 256))
        try:
            mm.parse_exif(bytes(b))
        except ValueError:
            pass


def test_orient_normalize_group_properties():
    """The 8 TIFF orientation transforms form the dihedral group D4:
    each inverse in _ORIENT_INVERSE recovers the original array
    bit-identically, involutions are exactly {1,2,3,4,5,7}, the four
    transposing cases (5-8) swap dimensions on non-square input, and
    every case permutes (never alters) the multiset of pixels."""
    import numpy as np

    from seamdb_spark.operators.multimodal import (
        _ORIENT_INVERSE,
        orient_normalize,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8)  # H=6, W=4
    for o in range(1, 9):
        disp = orient_normalize(arr, o)
        if o >= 5:
            assert disp.shape == (4, 6, 3), o
        else:
            assert disp.shape == arr.shape, o
        assert sorted(disp.flatten()) == sorted(arr.flatten())
        undo = orient_normalize(disp, _ORIENT_INVERSE[o])
        assert (undo == arr).all(), o
        is_involution = (orient_normalize(disp, o).shape == arr.shape) and (
            orient_normalize(disp, o) == arr
        ).all()
        assert is_involution == (o in (1, 2, 3, 4, 5, 7)), o
    try:
        orient_normalize(arr, 9)
        raise AssertionError("expected ValueError for orientation 9")
    except ValueError:
        pass


def test_p13_naive_hash_breaks_for_every_rotated_orientation():
    """p13's headline property, pinned directly: on the fixture ramp,
    the naive aHash of a camera-rotated stored variant differs from
    the upright aHash for EVERY nontrivial orientation 2..8 (rotation
    breaks naive dedup), while hashing after orient_normalize recovers
    the upright constant 65152 for all 8 — the exact per-orientation
    claim the p13 oracle now exercises via its d // 8 variety source."""
    from seamdb_spark.operators.multimodal import (
        _ORIENT_INVERSE,
        _ramp_rgb,
        ahash_rgb,
        bmp_pixels,
        build_bmp,
        orient_normalize,
    )
    from seamdb_spark.operators.pipeline import P13_UPRIGHT_AHASH

    import numpy as np

    for doc_id in (0, 8, 24):  # distinct ramp constants
        upright = _ramp_rgb(doc_id)
        naive_upright = ahash_rgb(16, 16, upright.tobytes())
        assert naive_upright == P13_UPRIGHT_AHASH
        for o in range(1, 9):
            stored = orient_normalize(upright, _ORIENT_INVERSE[o])
            raw = bmp_pixels(build_bmp(16, 16, stored.tobytes()))
            pix = np.frombuffer(raw, dtype=np.uint8).reshape(16, 16, 3)
            naive = ahash_rgb(16, 16, pix.tobytes())
            normalized = ahash_rgb(
                16, 16, orient_normalize(pix, o).tobytes()
            )
            assert normalized == P13_UPRIGHT_AHASH, (doc_id, o)
            assert (naive == naive_upright) == (o == 1), (doc_id, o)


def test_q68_q69_window_over_collapsed_table(spark, registry):
    """The round-8 frame emulations' defining physical property: the
    Window never runs over the raw fact table. q68/q69 collapse to
    peer groups first, so every Window in the plan sits above a
    HashAggregate; q69 additionally rejoins rows via BROADCAST (the
    day table is dimension-sized) rather than a shuffled join."""
    queries, _ = registry
    for name in ("q68_groups_frame", "q69_window_exclude"):
        plan = (
            queries[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        w = plan.find("Window")
        assert w != -1, name
        # the aggregate (collapse) must appear BELOW the window in the
        # tree printout (later in the string = deeper)
        assert "HashAggregate" in plan[w:], (name, "window not over collapse")
    plan69 = (
        queries["q69_window_exclude"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan69
    assert "SortMergeJoin" not in plan69


def test_q70_windows_share_one_exchange(spark, registry):
    """q70's physical property: both DISTINCT-window emulations
    partition by o_custkey, so the planner inserts exactly ONE
    shuffle — the second Window reuses the first's partitioning. A
    second Exchange would mean the frames were accidentally keyed
    differently (and would double the query's shuffle volume)."""
    queries, _ = registry
    plan = (
        queries["q70_distinct_window_count"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_exchanges = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchanges == 1, plan
    assert plan.count("Window") >= 2


def test_e43_joins_collapsed_table_broadcast(spark, registry):
    """e43's physical property: the lag self-joins run on the
    COLLAPSED hourly table and broadcast it — never a shuffled join
    of (and certainly never a scan of) the raw events twice per lag."""
    queries, _ = registry
    plan = (
        queries["e43_daily_periodicity"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_m33_selection_never_shuffles_payloads(spark, registry):
    """m33's physical property: the only Exchange in the plan moves
    the exploded SAMPLE table (post-mapInPandas rows), never binary
    payloads — the scan side below the Python stage is
    payload-column-free (doc_id only), and exactly one shuffle feeds
    the per-GOP window."""
    queries, _ = registry
    plan = (
        queries["m33_keyframe_selection"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange ") == 1
    assert "MapInPandas" in plan
    # the exchange must be ABOVE the Python stage (earlier in print)
    assert plan.find("Exchange ") < plan.find("MapInPandas")


def test_png_adam7_odd_sizes_and_fuzz():
    """Adam7 correctness at the geometry edges: odd dimensions where
    passes go EMPTY (width 1 kills passes 2/4/6; height 1 kills
    3/5/7) or partial; every size round-trips bit-identically, the
    filter-row count equals the sum of nonempty pass heights, and
    malformed bytes stay inside the clean-ValueError contract."""
    import random

    import numpy as np

    from seamdb_spark.operators import multimodal as mm

    random.seed(9)
    for (w, h) in [(1, 1), (1, 9), (8, 1), (2, 3), (7, 5), (13, 11), (5, 32)]:
        rgb = bytes(random.randrange(256) for _ in range(w * h * 3))
        lace = mm.build_png(w, h, rgb, interlace=1)
        d = mm.decode_png(lace)
        assert d["pixels"] == rgb, (w, h)
        assert d["interlaced"]
        passes = mm._adam7_pass_dims(w, h)
        assert len(d["filters"]) == sum(ph for *_, ph in passes)
        # each nonempty pass covers its own pixel set exactly once
        seen = set()
        for x0, y0, dx, dy, pw, ph in passes:
            for j in range(ph):
                for i in range(pw):
                    pt = (x0 + i * dx, y0 + j * dy)
                    assert pt not in seen
                    seen.add(pt)
        assert len(seen) == w * h
    rng = np.random.default_rng(10)
    p = mm.build_png(7, 5, bytes(range(7 * 5 * 3 % 256)) * 0 + bytes(
        (i * 31) % 256 for i in range(7 * 5 * 3)
    ), interlace=1)
    for _ in range(300):
        b = bytearray(p)
        i = int(rng.integers(8, len(p)))
        b[i] = int(rng.integers(0, 256))
        try:
            mm.decode_png(bytes(b))
        except (ValueError, NotImplementedError):
            pass


def test_gif_interlace_roundtrip_odd_sizes():
    """GIF 4-pass interlace at geometry edges: heights where passes go
    empty (h=1 leaves only pass 1; h=2 passes 1+4; h=5 has an empty
    pass 2), round-trips bit-identically, and the row order is a
    permutation of range(h) for every height."""
    import random

    from seamdb_spark.operators import multimodal as mm

    random.seed(11)
    for h in range(1, 20):
        assert sorted(mm._gif_interlace_rows(h)) == list(range(h)), h
    for (w, h) in [(1, 1), (3, 2), (5, 5), (4, 9), (7, 16), (2, 19)]:
        rgb = bytes(random.randrange(8) * 32 for _ in range(w * h * 3))
        lace = mm.build_gif(w, h, rgb, interlaced=True)
        d = mm.decode_media(lace)
        assert d["pixels"] == rgb, (w, h)
        assert mm.decode_gif_frames(lace)[0]["interlaced"]


def test_exif_gps_subifd_roundtrip_and_fuzz():
    """The nested GPS IFD (tag 0x8825 → second entry table with
    3-element RATIONAL arrays) round-trips in both byte orders,
    coexists with all IFD0 fields, and malformed bytes over the whole
    APP1 region stay inside the clean-ValueError contract."""
    import numpy as np

    from seamdb_spark.operators import multimodal as mm

    raw = mm._ramp_rgb(4).tobytes()
    for be in (False, True):
        app1 = mm.build_exif_app1(
            6, "CAM", "MOD", "2022:03:04 05:06:07", (300, 1),
            big_endian=be,
            gps=("S", (33, 52, 4123), "W", (151, 12, 55999)),
        )
        p = mm.build_jpeg_with_exif(16, 16, raw, app1)
        m = mm.parse_exif(p)
        assert m["orientation"] == 6 and m["x_resolution"] == (300, 1)
        g = m["gps"]
        assert (g["lat_ref"], g["lon_ref"]) == ("S", "W")
        assert g["lat"] == ((33, 1), (52, 1), (4123, 1000))
        assert g["lon"] == ((151, 1), (12, 1), (55999, 1000))
        # pixels still decode through the APPn-transparent path
        assert (
            mm.decode_media(p)["pixels"]
            == mm.decode_media(mm.build_jpeg(16, 16, raw))["pixels"]
        )
    rng = np.random.default_rng(12)
    app1 = mm.build_exif_app1(
        1, "A", "B", "2020:01:01 00:00:00", (72, 1),
        gps=("N", (1, 2, 3), "E", (4, 5, 6)),
    )
    p = mm.build_jpeg_with_exif(16, 16, raw, app1)
    for _ in range(400):
        b = bytearray(p)
        i = int(rng.integers(2, min(len(p), 320)))
        b[i] = int(rng.integers(0, 256))
        try:
            mm.parse_exif(bytes(b))
        except ValueError:
            pass


def test_j04_plan_prunes_to_one_bucket(spark, registry):
    """j04's defining property, pinned directly: the equality filter
    on the bucket column prunes the bucketed scan to exactly 1 of the
    8 buckets (SelectedBucketsCount in the FileSourceScan) — not a
    full-table scan with a post-filter."""
    queries, _ = registry
    plan = (
        queries["j04_bucket_pruned_lookup"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SelectedBucketsCount: 1 out of 8" in plan, plan[:2000]


def test_q71_single_exchange_shared_frame(spark, registry):
    """q71's physical property: the three FILTER-emulated aggregates
    share one o_custkey window frame, so exactly ONE shuffle appears —
    the CASE guards are row-local projections, never a second
    Exchange or join."""
    queries, _ = registry
    plan = (
        queries["q71_window_filter_clause"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_exchanges = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchanges == 1, plan


def test_e43_flags_planted_daily_periodicity(spark):
    """e43's semantic claim on a controlled signal: a type whose
    hourly volume repeats every 24h scores ac24 > ac13, and a type
    built to repeat every 13h scores the reverse — the lag-24 vs
    control-lag comparison separates true daily cycles from the
    off-cycle baseline."""
    import datetime as dt

    from seamdb_spark.operators.events import (
        E43_LAG_CONTROL,
        E43_LAG_DAILY,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(24 * 14):  # two weeks of hours
        # daily type: volume spikes at the same two hours every day
        daily = 10 if h % E43_LAG_DAILY in (9, 20) else 1
        # control type: spikes on a 13-hour cycle instead
        offc = 10 if h % E43_LAG_CONTROL == 3 else 1
        ts = base + dt.timedelta(hours=h)
        rows += [("daily", ts)] * daily + [("offcycle", ts)] * offc
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")

    # run the e43 kernel on the synthetic frame (same code path as the
    # registered query, source swapped)
    from pyspark.sql import functions as F

    hourly = ev.groupBy(
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("long")
        .alias("h"),
    ).agg(F.count("*").alias("cnt"))

    def ac(lag):
        b = hourly.select(
            F.col("event_type").alias("bt"),
            (F.col("h") + lag).alias("bh"),
            F.col("cnt").alias("bcnt"),
        )
        return {
            r.event_type: r.s
            for r in hourly.join(
                b,
                (F.col("event_type") == F.col("bt"))
                & (F.col("h") == F.col("bh")),
            )
            .groupBy("event_type")
            .agg(F.sum(F.col("cnt") * F.col("bcnt")).alias("s"))
            .collect()
        }

    ac24, ac13 = ac(E43_LAG_DAILY), ac(E43_LAG_CONTROL)
    assert ac24["daily"] > ac13["daily"]
    assert ac13["offcycle"] > ac24["offcycle"]


def test_d35_prefix_filter_prunes_on_skewed_weights(spark, tmp_path):
    """Round-14 pin for the OTHER half of the d35 story: round 13
    proved losslessness but measured ~all-pairs degeneration on the
    flat-weight fixture; on a Zipf-weighted corpus (the data shape the
    Bayardo prefix filter exists for) the candidate stage must PRUNE —
    ≪5% of C(N,2) — while the output still equals the brute-force
    truth exactly. Guards _d35_candidates against a change that keeps
    losslessness (easy to keep: emit everything) but silently loses
    the pruning that justifies the operator at scale."""
    import importlib.util
    import math
    import os

    from seamdb_spark.operators.dedup import (
        D22_COS_THRESHOLD,
        D22_IDF_CAP,
        _d35_candidates,
    )

    spec = importlib.util.spec_from_file_location(
        "d35spot",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts", "d35_pruning_spotcheck.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    n_docs = 1000
    corpus = str(tmp_path / "zipf")
    mod.build_corpus(n_docs, corpus)

    all_pairs = n_docs * (n_docs - 1) // 2
    cand = (
        _d35_candidates(spark, corpus)
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    assert cand < 0.05 * all_pairs, (
        f"prefix filter stopped pruning on skewed weights: "
        f"{cand} candidates vs C(N,2)={all_pairs}"
    )

    # brute-force truth in plain Python from the written texts — the
    # same integer idf² arithmetic as the flat-fixture test above
    import pyarrow.parquet as pq

    tbl = pq.read_table(corpus + "/documents.parquet")
    texts = dict(
        zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
    )
    tsets = {
        d: {
            f"{t[i]} {t[i+1]}"
            for i in range(len(t) - 1)
        }
        for d, t in ((d, s.split(" ")) for d, s in texts.items())
        if len(t) >= 2
    }
    n = len(tsets)
    df: dict = {}
    for ts in tsets.values():
        for t in ts:
            df[t] = df.get(t, 0) + 1
    idf = {t: min((n * 1000) // d, D22_IDF_CAP) for t, d in df.items()}
    norms = {
        d: math.sqrt(sum(idf[t] ** 2 for t in ts))
        for d, ts in tsets.items()
    }
    ids = sorted(tsets)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = tsets[a] & tsets[b]
            if not shared:
                continue
            if (
                sum(idf[t] ** 2 for t in shared) / (norms[a] * norms[b])
                >= D22_COS_THRESHOLD
            ):
                truth.add((a, b))
    assert truth, "skewed fixture must plant above-threshold pairs"

    from seamdb_spark.operators.dedup import d35_cosine_prefix_filtered

    got = {
        (r.doc_a, r.doc_b)
        for r in d35_cosine_prefix_filtered(spark, corpus).collect()
    }
    assert got == truth, (
        f"lossless audit diverged on skewed corpus: "
        f"missing {truth - got}, extra {got - truth}"
    )
