"""Incremental LSH index maintenance: after every refresh the index
must equal full re-banding of the current table, refreshes must scan
only new segments, per-batch candidate lookup must match the full
self-join restricted to the batch, and history rewrites must trigger a
sound rebuild."""

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from seamdb_spark.dedup_index import (
    IncrementalEvalIndex,
    IncrementalLSHIndex,
    IncrementalSimHashIndex,
    band_rows,
    band_rows_stateless,
    shingle_arrays,
)
from seamdb_spark.operators.hashing import (
    MINHASH_PARAMS,
    MINHASH_PRIME,
    N_BANDS,
    ROWS_PER_BAND,
)


def _setup(engine):
    engine.sql(
        "CREATE TABLE docs (id serial PRIMARY KEY, body text)"
    )
    return IncrementalLSHIndex.on_table(engine, "docs_lsh", "docs", "id", "body")


_BATCH1 = [
    "the quick brown fox jumps over the lazy dog again and again today",
    "the quick brown fox jumps over the lazy dog again and again tonight",
    "completely different content about spark shuffles and partitions here",
]
_BATCH2 = [
    "the quick brown fox jumps over the lazy dog again and again today",
    "fresh unrelated text mentioning parquet manifests and snapshots only",
]


def _insert(engine, texts):
    vals = ", ".join(f"('{t}')" for t in texts)
    engine.sql(f"INSERT INTO docs (body) VALUES {vals}")


def _full_bands(engine):
    return {
        (r.doc_id, r.band_id, r.band_key)
        for r in band_rows(engine.table("docs"), "id", "body").collect()
    }


def test_short_docs_are_skipped_not_crashed(engine):
    """Docs with <3 tokens yield no 3-shingles, so band_rows must skip
    them (matching d02's `WHERE len >= 3` oracle) — NOT raise under
    Spark 4 ANSI mode (sequence(0, -2) auto-descends, so an unguarded
    toks[i+2] would error) and NOT emit 1/2-gram pseudo-shingles."""
    idx = _setup(engine)
    _insert(engine, ["solo", "two tokens", "three proper tokens here"])
    out = idx.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 1
    assert {r.doc_id for r in idx.index().collect()} == {3}


@pytest.mark.parametrize("n", range(2, 7))
def test_word_windows_are_total_on_short_arrays(spark, n):
    """Every n-token window in position order, for token counts 0..n+1:
    an array shorter than the window yields none, and nothing raises
    (ANSI mode turns an out-of-range toks[i+k] into
    INVALID_ARRAY_INDEX)."""
    from seamdb_spark.operators.hashing import word_windows

    rows = [(k, [f"w{j}" for j in range(k)]) for k in range(n + 2)]
    df = spark.createDataFrame(rows, "k int, t array<string>")
    got = {
        r.k: list(r.w)
        for r in df.select("k", F.expr(word_windows("t", n)).alias("w")).collect()
    }
    assert got == {k: [" ".join(t[i:i + n]) for i in range(k - n + 1)] for k, t in rows}


@pytest.mark.parametrize("path", ["d02_shingles", "d04_bigrams"])
def test_short_documents_do_not_break_shingles_or_bigrams(spark, tmp_path, path):
    """An empty text, a 1-token and a 2-token doc go through d02's
    shingle frame and d04's bigram join: the short docs yield no
    shingles (and the 1-token docs no bigrams) instead of raising
    INVALID_ARRAY_INDEX."""
    from seamdb_spark.operators import dedup

    docs = [(1, ""), (2, "solo"), (3, "two tokens"), (4, "two tokens"),
            (5, "three proper tokens")]
    spark.createDataFrame(docs, "doc_id bigint, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    if path == "d02_shingles":
        got = {r.doc_id: r.shingles for r in dedup._shingles_df(spark, sf).collect()}
        assert got == {5: ["three proper tokens"]}
    else:
        got = [tuple(r) for r in dedup.d04_dedup_ngram_jaccard(spark, sf).collect()]
        assert got == [(3, 4, 1.0)]


def _reference_sigs(docs):
    """Pure-Python MinHash: distinct 3-word shingles, md5 8-hex-digit
    prefix, min over (a*x+b) % MINHASH_PRIME per hash function."""
    sigs = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        if shingles:
            hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
            sigs[doc_id] = [min((a * h + b) % MINHASH_PRIME for h in hs)
                            for a, b in MINHASH_PARAMS]
    return sigs


def test_minhash_kernel_matches_python_reference(spark):
    from seamdb_spark.operators.hashing import minhash_sigs

    rng = random.Random(13)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    docs = [(i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 10))))
            for i in range(80)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    ref = _reference_sigs(docs)
    sigs = minhash_sigs(shingle_arrays(df, "doc_id", "text"), ["doc_id"])
    got = {r.doc_id: [r[f"mh{j}"] for j in range(len(MINHASH_PARAMS))]
           for r in sigs.collect()}
    assert got == ref
    want = {
        (d, band, "-".join(str(sig[j]) for j in range(band * ROWS_PER_BAND,
                                                       (band + 1) * ROWS_PER_BAND)))
        for d, sig in ref.items() for band in range(N_BANDS)
    }
    assert set(map(tuple, band_rows(df, "doc_id", "text").collect())) == want
    assert set(map(tuple, band_rows_stateless(df, "doc_id", "text").collect())) == want


def test_only_bounded_batches_force_broadcast(engine):
    """new_candidate_pairs hints the batch side only under bounded=True;
    a corpus-proportional id set leaves both joins to the planner."""
    _setup(engine)
    _insert(engine, _BATCH1)
    ids = engine.table("docs").filter("id = 1")
    lsh = IncrementalLSHIndex.on_table(engine, "docs_lsh", "docs", "id", "body")
    sim = IncrementalSimHashIndex.on_table(engine, "docs_sim", "docs", "id", "body")
    for index in (lsh, sim):
        index.refresh()
        qe = index.new_candidate_pairs(ids)._jdf.queryExecution()
        assert "broadcast" not in qe.analyzed().toString()
        qe = index.new_candidate_pairs(ids, bounded=True)._jdf.queryExecution()
        pair_join, id_join = [
            line for line in qe.optimizedPlan().toString().splitlines()
            if "Join Inner" in line
        ]
        assert pair_join.endswith("leftHint=(strategy=broadcast)")
        assert id_join.endswith("rightHint=(strategy=broadcast)")


def test_incremental_index_equals_full_rebanding(engine):
    idx = _setup(engine)
    _insert(engine, _BATCH1)
    out = idx.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 3
    got = {(r.doc_id, r.band_id, r.band_key) for r in idx.index().collect()}
    assert got == _full_bands(engine)

    snaps_before = set(idx.source.current_files())
    _insert(engine, _BATCH2)
    snaps_after = set(idx.source.current_files())
    out = idx.refresh()
    assert out["mode"] == "incremental"
    assert out["files_read"] == len(snaps_after - snaps_before)
    assert out["n_new_docs"] == 2
    got = {(r.doc_id, r.band_id, r.band_key) for r in idx.index().collect()}
    assert got == _full_bands(engine)

    assert idx.refresh()["mode"] == "noop"


def test_candidate_pairs_find_planted_neardups(engine):
    idx = _setup(engine)
    _insert(engine, _BATCH1)
    idx.refresh()
    _insert(engine, _BATCH2)
    idx.refresh()
    pairs = {(r.doc_a, r.doc_b) for r in idx.candidate_pairs().collect()}
    # docs 1, 2 (batch 1) and 4 (batch 2's exact copy of doc 1) are the
    # planted near-dup family; the unrelated docs must pair with nobody
    assert (1, 4) in pairs  # exact copy must always collide
    flat = {d for p in pairs for d in p}
    assert 3 not in flat and 5 not in flat


def test_new_candidate_pairs_matches_full_join_for_batch(engine):
    idx = _setup(engine)
    _insert(engine, _BATCH1)
    idx.refresh()
    _insert(engine, _BATCH2)
    idx.refresh()
    spark = engine.spark
    batch_ids = spark.createDataFrame([(4,), (5,)], "id long")
    got = {
        (r.doc_a, r.doc_b)
        for r in idx.new_candidate_pairs(batch_ids).collect()
    }
    full = {
        (r.doc_a, r.doc_b)
        for r in idx.candidate_pairs().collect()
        if 4 in (r.doc_a, r.doc_b) or 5 in (r.doc_a, r.doc_b)
    }
    assert got == full and got  # non-empty: doc 4 collides with doc 1


def test_history_rewrite_triggers_rebuild(engine):
    idx = _setup(engine)
    _insert(engine, _BATCH1)
    idx.refresh()
    _insert(engine, _BATCH2)
    idx.refresh()
    engine.compact("docs")  # rewrites segment history
    out = idx.refresh()
    assert out["mode"] == "rebuild"
    got = {(r.doc_id, r.band_id, r.band_key) for r in idx.index().collect()}
    assert got == _full_bands(engine)


def test_over_snapshots_matches_engine_path(engine, spark, tmp_path):
    """The p16 constructor (raw TableSnapshots source, no Engine) must
    behave identically to the Engine-table path: incremental refreshes
    per batch, noop when current, and a final index equal to full
    re-banding of the committed corpus."""
    from pyspark.sql import types as T

    from seamdb_spark.snapshots import TableSnapshots

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("body", T.StringType()),
        ]
    )
    base = str(tmp_path / "lsh")
    snaps = TableSnapshots(base + "/docs")
    idx = IncrementalLSHIndex.over_snapshots(
        spark, base + "/docs", schema, "id", "body", base + "/state"
    )
    df1 = spark.createDataFrame(
        list(enumerate(_BATCH1, start=1)), schema
    )
    snaps.commit(df1, mode="overwrite")
    out = idx.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 3
    df2 = spark.createDataFrame(
        list(enumerate(_BATCH2, start=4)), schema
    )
    snaps.commit(df2)
    out = idx.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 2
    assert idx.refresh()["mode"] == "noop"
    got = {(r.doc_id, r.band_id, r.band_key) for r in idx.index().collect()}
    full = {
        (r.doc_id, r.band_id, r.band_key)
        for r in band_rows(df1.union(df2), "id", "body").collect()
    }
    assert got == full
    pairs = {(r.doc_a, r.doc_b) for r in idx.candidate_pairs().collect()}
    assert (1, 4) in pairs  # exact copy collides through the maintained index


# ---------------------------------------------------------------- eval index


def _setup_eval(engine):
    engine.sql("CREATE TABLE evals (id serial PRIMARY KEY, body text)")
    return IncrementalEvalIndex.on_table(engine, "evals_decon", "evals", "id", "body")


_EVAL1 = [
    "question about spark shuffles and partitions in large clusters",
    "what is the capital of france and when was it founded exactly",
]
_EVAL2 = [
    "reasoning puzzle with knights and knaves on a remote island",
]


def _full_universe(engine):
    sh = shingle_arrays(engine.table("evals"), "id", "body")
    return {
        r.h
        for r in sh.select(F.explode("shingles").alias("s"))
        .selectExpr("CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT) AS h")
        .distinct()
        .collect()
    }


def test_eval_index_refresh_equals_full_rebuild(engine):
    idx = _setup_eval(engine)
    engine.sql(
        "INSERT INTO evals (body) VALUES "
        + ", ".join(f"('{t}')" for t in _EVAL1)
    )
    out = idx.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 2
    assert {r.h for r in idx.shingle_universe().collect()} == _full_universe(engine)

    engine.sql(f"INSERT INTO evals (body) VALUES ('{_EVAL2[0]}')")
    out = idx.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 1
    assert {r.h for r in idx.shingle_universe().collect()} == _full_universe(engine)
    assert idx.refresh()["mode"] == "noop"

    engine.compact("evals")  # rewrites segment history
    out = idx.refresh()
    assert out["mode"] == "rebuild"
    assert {r.h for r in idx.shingle_universe().collect()} == _full_universe(engine)


def test_eval_index_contaminated_matches_direct_join(engine):
    """The Bloom-prefiltered verdict from the maintained index must
    equal the direct d10-style exact join computed from scratch —
    including exact-hit counts (Bloom adds candidates, never drops:
    exact ⊆ bloom is also asserted per row)."""
    idx = _setup_eval(engine)
    engine.sql(
        "INSERT INTO evals (body) VALUES "
        + ", ".join(f"('{t}')" for t in _EVAL1 + _EVAL2)
    )
    idx.refresh()
    spark = engine.spark
    train = spark.createDataFrame(
        [
            # doc 1 lifts a full eval sentence (contaminated)
            (1, "intro words question about spark shuffles and partitions"
                " in large clusters trailing words"),
            # doc 2 shares nothing
            (2, "completely unrelated text about parquet manifests and"
                " snapshot retention policies"),
            # doc 3 shares a single 3-shingle (below the drop threshold)
            (3, "the capital of france is mentioned here only briefly"),
        ],
        "tid long, body string",
    )
    got = {
        r.doc_id: r
        for r in idx.contaminated(train, "tid", "body").collect()
    }
    univ = _full_universe(engine)

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    for tid, body in [(1, train.collect()[0].body), (3, train.collect()[2].body)]:
        toks = body.split(" ")
        shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        n_exact = sum(1 for s in shingles if h32(s) in univ)
        if tid in got:
            r = got[tid]
            assert r.n_exact_hits == n_exact
            assert r.n_bloom_hits >= r.n_exact_hits  # exact ⊆ bloom
            assert r.drop_doc == (n_exact >= 3)
        else:
            assert n_exact == 0
    assert 1 in got and got[1].drop_doc == 1
    assert 2 not in got or got[2].n_exact_hits == 0


# ---------------------------------------------------------------- IVF index


def _ivf_fixture(spark, tmp_path, retrain_permille):
    """Snapshot source + IncrementalIVFIndex over a tiny deterministic
    2-cluster embedding set (dim 4): batch 1 sits near two well-
    separated anchors; batch 2 is drawn from a SHIFTED distribution so
    one exact Lloyd step moves a large fraction of vectors."""
    from pyspark.sql import types as T

    from seamdb_spark.ivf_index import IncrementalIVFIndex
    from seamdb_spark.snapshots import TableSnapshots

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    base = str(tmp_path / "ivf")
    snaps = TableSnapshots(base + "/vecs")
    idx = IncrementalIVFIndex(
        spark, base + "/vecs", schema, base + "/state",
        retrain_permille=retrain_permille,
    )
    b1 = [
        (i, [10.0 + (i % 3) * 0.25, 10.0, 0.0, 0.0]) for i in range(8)
    ] + [
        (8 + i, [-10.0 - (i % 3) * 0.25, -10.0, 0.0, 0.0]) for i in range(8)
    ]
    # shifted appends: midway between the anchors, biased positive —
    # re-centered means pull hard enough to reassign a big fraction
    b2 = [(100 + i, [1.0 + i * 0.5, 2.0, 0.0, 0.0]) for i in range(16)]
    return snaps, idx, schema, b1, b2


def test_ivf_refresh_modes_and_batch_blindness(spark, tmp_path):
    """train → incremental → noop, and the incremental index equals
    one-shot assignment of the full corpus against the seed-trained
    centroids (the p20 batch-blindness identity), with the running
    stats equal to a full groupBy over the index."""
    from pyspark.sql import functions as F

    from seamdb_spark.operators.similarity import _qemb, assign_cells

    snaps, idx, schema, b1, b2 = _ivf_fixture(spark, tmp_path, 1000)

    snaps.commit(spark.createDataFrame(b1, schema), mode="overwrite")
    first = idx.refresh()
    assert first["mode"] == "train" and first["n_new_vecs"] == len(b1)

    snaps.commit(spark.createDataFrame(b2, schema))
    second = idx.refresh()
    assert second["mode"] == "incremental"
    assert second["n_new_vecs"] == len(b2)
    assert second["n_indexed"] == len(b1) + len(b2)
    assert idx.refresh()["mode"] == "noop"

    # batch-blindness: incremental state == one-shot assignment
    cdf = idx._cdf(idx.centroids())
    want = {
        (r.vec_id, r.cid)
        for r in assign_cells(
            _qemb(spark.createDataFrame(b1 + b2, schema)), cdf
        ).collect()
    }
    got = {(r.vec_id, r.cid) for r in idx.index().collect()}
    assert got == want

    # running stat monoids == full groupBy over the index rows
    extra = idx.state.current_extra()
    full = (
        idx.index()
        .select("cid", F.posexplode("q").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    for r in full:
        key = str(int(r.cid))
        assert extra["cell_counts"][key] == r.n
        assert extra["cell_sums"][key][r.pos] == r.s


def test_ivf_drift_triggers_retrain(spark, tmp_path):
    """With retrain_permille=0 any nonzero drift re-centers: the new
    centroids must be the one-step means of the pre-retrain
    assignments, every index row reassigned against them."""
    from seamdb_spark.operators.similarity import (
        _qemb,
        assign_cells,
        lloyd_means,
    )

    snaps, idx, schema, b1, b2 = _ivf_fixture(spark, tmp_path, 0)

    snaps.commit(spark.createDataFrame(b1, schema), mode="overwrite")
    seed_cents = None
    assert idx.refresh()["mode"] == "train"
    seed_cents = idx.centroids()

    snaps.commit(spark.createDataFrame(b2, schema))
    out = idx.refresh()
    assert out["mode"] == "retrain" and out["n_moved"] > 0

    # expected: assign all against seed centroids, take one exact
    # Lloyd-step mean, reassign all — replayed independently here
    quant = _qemb(spark.createDataFrame(b1 + b2, schema))
    pre = assign_cells(quant, idx._cdf(seed_cents))
    stepped = sorted(
        (r.cid, [int(x) for x in r.cvec])
        for r in lloyd_means(pre).collect()
    )
    assert sorted(idx.centroids()) == stepped
    want = {
        (r.vec_id, r.cid)
        for r in assign_cells(quant, idx._cdf(stepped)).collect()
    }
    assert {(r.vec_id, r.cid) for r in idx.index().collect()} == want


def test_ivf_centroid_broadcast_hint_sits_at_the_drift_join(spark, tmp_path):
    """candidate_centroids() is a plain frame, so the retrain path's
    collect() of it carries no join hint for Spark to reject;
    drift_report() applies the hint at its own join, so the centroid
    side is still broadcast there."""
    snaps, idx, schema, b1, b2 = _ivf_fixture(spark, tmp_path, 1000)
    snaps.commit(spark.createDataFrame(b1, schema), mode="overwrite")
    assert idx.refresh()["mode"] == "train"

    analyzed = idx.candidate_centroids()._jdf.queryExecution().analyzed()
    assert "ResolvedHint" not in analyzed.toString()
    drift = idx.drift_report()._jdf.queryExecution()
    assert "strategy=broadcast" in drift.analyzed().toString()
    physical = drift.executedPlan().toString()
    assert "BroadcastNestedLoopJoin BuildRight" in physical
    assert "BroadcastExchange" in physical


def test_ivf_vanished_segments_force_rebuild(spark, tmp_path):
    """Compaction rewriting the source manifest must trigger a sound
    retrain-from-current, not an incremental diff against files that
    no longer exist."""
    snaps, idx, schema, b1, b2 = _ivf_fixture(spark, tmp_path, 1000)

    snaps.commit(spark.createDataFrame(b1, schema), mode="overwrite")
    assert idx.refresh()["mode"] == "train"
    snaps.commit(spark.createDataFrame(b2, schema))
    assert idx.refresh()["mode"] == "incremental"

    # history rewrite: everything folded into one fresh segment
    snaps.commit(spark.createDataFrame(b1 + b2, schema), mode="overwrite")
    out = idx.refresh()
    assert out["mode"] == "rebuild"
    assert out["n_indexed"] == len(b1) + len(b2)
    assert idx.refresh()["mode"] == "noop"


def test_ivf_refresh_over_empty_source_is_noop(spark, tmp_path):
    """An empty source gives nothing to train on: every refresh is a
    noop and commits no state version, like the LSH index's and the
    rollup's."""
    snaps, idx, schema, b1, b2 = _ivf_fixture(spark, tmp_path, 1000)
    for _ in range(3):
        out = idx.refresh()
        assert out["mode"] == "noop" and out["n_indexed"] == 0
    assert idx.state.current_version() == 0
    snaps.commit(spark.createDataFrame(b1, schema), mode="overwrite")
    assert idx.refresh()["mode"] == "train"


def test_ivf_three_uneven_batches_equal_one_shot(spark, tmp_path):
    """Batch-split invariance beyond the 2-batch gate shape: three
    UNEVEN appends (sizes 4/11/1 plus the 16-vector seed) must leave
    the index identical to one-shot assignment of everything against
    the seed-trained centroids, with every append incremental."""
    from seamdb_spark.operators.similarity import _qemb, assign_cells

    snaps, idx, schema, b1, b2 = _ivf_fixture(spark, tmp_path, 1000)
    snaps.commit(spark.createDataFrame(b1, schema), mode="overwrite")
    assert idx.refresh()["mode"] == "train"

    batches = [b2[:4], b2[4:15], b2[15:]]
    for b in batches:
        snaps.commit(spark.createDataFrame(b, schema))
        out = idx.refresh()
        assert out["mode"] == "incremental" and out["n_new_vecs"] == len(b)

    cdf = idx._cdf(idx.centroids())
    want = {
        (r.vec_id, r.cid)
        for r in assign_cells(
            _qemb(spark.createDataFrame(b1 + b2, schema)), cdf
        ).collect()
    }
    assert {(r.vec_id, r.cid) for r in idx.index().collect()} == want


# ---------------------------------------------------------------------------
# IncrementalSimHashIndex (p26/p27): same contract as the LSH index —
# incremental signatures equal full derivation, per-batch lookup equals
# the full verify restricted to the batch, compaction triggers rebuild.
# ---------------------------------------------------------------------------
def _setup_simhash(engine):
    engine.sql("CREATE TABLE sdocs (id serial PRIMARY KEY, body text)")
    return IncrementalSimHashIndex.on_table(engine, "sdocs_sh", "sdocs", "id", "body")


def _insert_sdocs(engine, texts):
    vals = ", ".join(f"('{t}')" for t in texts)
    engine.sql(f"INSERT INTO sdocs (body) VALUES {vals}")


def _full_sigs(engine):
    from seamdb_spark.operators.dedup import simhash_sigs

    return {
        (r.doc_id, r.simhash)
        for r in simhash_sigs(engine.table("sdocs"), "id", "body").collect()
    }


def test_simhash_incremental_index_equals_full_derivation(engine):
    idx = _setup_simhash(engine)
    _insert_sdocs(engine, _BATCH1)
    out = idx.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 3
    assert {(r.doc_id, r.simhash) for r in idx.index().collect()} == _full_sigs(engine)
    _insert_sdocs(engine, _BATCH2)
    out = idx.refresh()
    assert out["mode"] == "incremental" and out["n_new_docs"] == 2
    assert {(r.doc_id, r.simhash) for r in idx.index().collect()} == _full_sigs(engine)
    assert idx.refresh()["mode"] == "noop"


def test_simhash_candidates_and_batch_lookup_agree(engine):
    idx = _setup_simhash(engine)
    _insert_sdocs(engine, _BATCH1)
    idx.refresh()
    _insert_sdocs(engine, _BATCH2)
    idx.refresh()
    pairs = {(r.doc_a, r.doc_b, r.hamming) for r in idx.candidate_pairs().collect()}
    # doc 4 is an exact copy of doc 1 -> hamming 0 must be found
    assert (1, 4, 0) in pairs
    spark = engine.spark
    batch_ids = spark.createDataFrame([(4,), (5,)], "id long")
    got = {(r.doc_a, r.doc_b) for r in idx.new_candidate_pairs(batch_ids).collect()}
    want = {(a, b) for a, b, _ in pairs if a in (4, 5) or b in (4, 5)}
    assert got == want


def test_simhash_rebuild_on_history_rewrite(engine):
    idx = _setup_simhash(engine)
    _insert_sdocs(engine, _BATCH1)
    idx.refresh()
    _insert_sdocs(engine, _BATCH2)
    idx.refresh()
    engine.compact("sdocs")
    out = idx.refresh()
    assert out["mode"] == "rebuild"
    assert {(r.doc_id, r.simhash) for r in idx.index().collect()} == _full_sigs(engine)
    assert idx.refresh()["mode"] == "noop"
