"""Deduplication operators over the ``documents`` table.

Beyond-reference extension (BASELINE.json north star): exact dedup,
MinHash+LSH, SimHash, and n-gram Jaccard set-similarity join. Every
variant is expressed as pure DataFrame ops (no Python UDFs) so the hot
path stays in whole-stage codegen, and each has a DuckDB oracle that
replicates the *same deterministic algorithm* (md5-derived hashes, see
``hashing.py``) so results hash-match bit-for-bit.

Scale notes (100 TB):
- Exact dedup: hash-groupBy — one shuffle on a 128-bit digest; skew-free
  by construction.
- MinHash LSH: cost is (docs × shingles × K) map-side, then a shuffle on
  (band_id, band_key). Candidate verification joins doc shingle-sets
  only for candidate pairs (never all-pairs).
- SimHash: multi-index blocking (8 nibble chunks) guarantees recall for
  hamming ≤ 7 by pigeonhole — candidates are an equi-join, not a cross
  join.
- N-gram Jaccard: the classic set-similarity join — explode distinct
  n-grams, self-join on n-gram, count shared per pair. A true cross
  join never appears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources import load_table
from .hashing import (
    MINHASH_PARAMS,
    N_BANDS,
    ROWS_PER_BAND,
    band_pairs,
    band_select,
    md5_prefix_long,
    md5_prefix_long_sql,
    minhash_sigs,
    minhash_value_sql,
    word_windows,
)
from .registry import register, register_candidates
from .rounding import dround

JACCARD_THRESHOLD = 0.3
BIGRAM_JACCARD_THRESHOLD = 0.4
SIMHASH_MAX_HAMMING = 2
SIMHASH_BITS = 32
# Exclude-2-of-8 multi-index (the block-permuted-table construction of
# Manku/Jain/Sarma, WWW 2007): split the 32-bit signature into 8
# 4-bit chunks; for each of the C(8,2) = 28 chunk PAIRS build one
# table keyed on the concatenation of the OTHER six chunks (a 24-bit
# key). Completeness for hamming ≤ r = 2: the ≤ 2 differing bits lie
# in at most 2 chunks, so the table excluding (a superset pair of)
# those chunks keys both docs identically. Selectivity: simhash bits
# of UNRELATED docs agree with per-bit probability q ≈ 0.7 (shared
# vocabulary biases the majority votes — NOT the 0.5 a uniform-hash
# model predicts), so a 24-bit key collides with ~q²⁴ and expected
# enumeration is ~28·q²⁴·N²/2. Measured on the sf0.001 fixture:
# 1,390 candidate rows (2.8·N) vs 228,314 (456.6·N) for the previous
# 8×4-bit single-chunk geometry — 164× fewer; the r+1=3 wide-chunk
# variant measured 7,237 (14.5·N) because 11-bit keys are too narrow
# against biased bits. tests/test_operators.py's candidate-volume gate
# pins this (CANDIDATE_STAGES in registry.py).
_SIMHASH_N_CHUNKS = 8
_SIMHASH_CHUNK_W = SIMHASH_BITS // _SIMHASH_N_CHUNKS


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


from .materialize import materialized_df as _materialized  # noqa: E402


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy on normalized text
# --------------------------------------------------------------------------
@register(
    "d01_dedup_exact",
    oracle="""
    SELECT md5(lower(trim(text))) AS content_hash,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


# --------------------------------------------------------------------------
# Shared shingle machinery
# --------------------------------------------------------------------------
def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct 3-word shingle array."""
    from ..dedup_index import shingle_arrays

    return shingle_arrays(_docs(spark, sf_dir), "doc_id", "text")


def _bigrams_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct word-bigram array (docs with <2 tokens
    skipped): the d04/d07/d08 set and d22's term set."""
    bigrams = word_windows("split(text, ' ')", 2)
    return _docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(F.expr(bigrams)).alias("bigrams")
    ).filter(F.size("bigrams") > 0)


_SHINGLES_SQL = """
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i+1],
                              string_split(text, ' ')[i+2]))) AS shingles
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3
"""


# --------------------------------------------------------------------------
# Session-memoized full-corpus derivations shared ACROSS families: the
# LSH band rows and SimHash signatures of the documents fixture feed
# (a) the batch dedup kernels here (d02's candidate build, d03's
# signature build), (b) e44's batch twin, and (c) every snapshot-backed
# text-index layout (p16/p25/p26, e49-e52) via the index derive_hint.
# Each is derived ONCE per (session, sf_dir) — one shingle/md5/minhash
# (or simhash vote) pass over the corpus instead of one per family —
# and every consumer reads the localCheckpoint. Rows are identical by
# per-document determinism, so all consumers stay oracle-checked
# end-to-end. (Moved here from pipeline.py when the batch kernels
# became consumers too; pipeline.py re-imports.)
def _docs_id_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import default_parallelism

    return (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long"), "text")
        .repartition(default_parallelism(), "doc_id")
    )


def _docs_band_rows_hint(spark: SparkSession, sf_dir: str):
    def build() -> DataFrame:
        from ..dedup_index import band_rows

        return band_rows(_docs_id_text(spark, sf_dir), "doc_id", "text")

    return lambda: _materialized(spark, sf_dir, "docs_band_rows_hint", build)


def _docs_simhash_hint(spark: SparkSession, sf_dir: str):
    return lambda: _materialized(
        spark, sf_dir, "docs_simhash_hint",
        lambda: simhash_sigs(_docs_id_text(spark, sf_dir), "doc_id", "text"),
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------
def _lsh_cand_ctes() -> str:
    """CTE chain ``sh, exploded, hashed, sigs, bands, cand`` — the LSH
    banding pipeline up to distinct candidate pairs, shared by the d02
    and d21 oracles (identical candidate set, different verify stage)."""
    h = md5_prefix_long_sql("sh")
    mh_exprs = ",\n           ".join(
        f"MIN({minhash_value_sql('h', a, b)}) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    band_rows = []
    for band in range(N_BANDS):
        lo = band * ROWS_PER_BAND
        cols = " || '-' || ".join(
            f"CAST(mh{j} AS VARCHAR)" for j in range(lo, lo + ROWS_PER_BAND)
        )
        band_rows.append(f"SELECT doc_id, {band} AS band_id, {cols} AS band_key FROM sigs")
    bands_sql = "\n      UNION ALL\n      ".join(band_rows)
    return f"""sh AS ({_SHINGLES_SQL}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS sh FROM sh
    ),
    hashed AS (
      SELECT doc_id, {h} AS h FROM exploded
    ),
    sigs AS (
      SELECT doc_id, {mh_exprs}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {bands_sql}
    ),
    cand AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band_id = b2.band_id AND b1.band_key = b2.band_key
       AND b1.doc_id < b2.doc_id
    )"""


def _minhash_oracle() -> str:
    return f"""
    WITH {_lsh_cand_ctes()},
    verified AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))) AS j
      FROM cand c JOIN sh a ON c.doc_a = a.doc_id
                  JOIN sh b ON c.doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
    FROM verified WHERE j >= {JACCARD_THRESHOLD}
    """


@register_candidates("d02_dedup_minhash_lsh")
def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct LSH candidate pairs ``(doc_a, doc_b)``, doc_a < doc_b —
    the banding pipeline shared by d02 (Jaccard verify), d21
    (edit-distance verify), d26 (containment verify), d29 (threshold
    sweep) and the d18/d31/d33 audits. One candidate-volume gate entry
    covers all of them. Session-memoized like the simhash pair graph
    (the candidate list is ~0.07N rows — orders smaller than the
    corpus, safe to checkpoint at any SF), so the seven consumers share
    one shingle→minhash→banding derivation instead of re-running it."""
    return _materialized(
        spark, sf_dir, "lsh_cand_pairs",
        lambda: _lsh_candidate_pairs_build(spark, sf_dir),
    )


def _lsh_candidate_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Band rows come from the session-wide memo (one banding derivation
    # per session, shared with e44's batch twin and the p16/e49-e52
    # index layouts' derive_hint) instead of a private shingle→minhash→
    # band pipeline here. The memo is localCheckpointed, which also
    # subsumes the old pre-self-join sigs pin (the join's two sides
    # would otherwise re-derive the banding twice).
    bands = _docs_band_rows_hint(spark, sf_dir)()
    return band_pairs(bands, doc_a="a.doc_id", doc_b="b.doc_id").distinct()


@register("d02_dedup_minhash_lsh", oracle=_minhash_oracle())
def d02_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_df(spark, sf_dir)
    cand = _lsh_candidate_pairs(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("j", inter.cast("double") / union)
        .filter(F.col("j") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", dround("j", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# d21: edit-distance verification of LSH candidates — the classic
# two-stage near-dup pipeline (cheap sketch recall stage, expensive
# exact verify stage) with character-level edit similarity as the
# verifier instead of shingle Jaccard. Both engines ship a built-in
# Levenshtein (Spark `levenshtein`, DuckDB `levenshtein`), so the
# verify stage stays JVM-side / vectorized on both ends.
#
# Scale (100 TB): candidates come from the banding equi-join (never
# all-pairs); before the O(|a|·|b|) DP kernel runs, a length-bound
# prune kills pairs that cannot reach the threshold (edit distance is
# >= the length difference, so sim >= θ requires
# max_len - min_len <= (1-θ)·max_len). At θ=0.6 that removes every
# pair whose lengths differ by >40% with a codegen'd comparison — the
# DP kernel only ever runs on length-compatible candidates.
# --------------------------------------------------------------------------
EDIT_SIM_THRESHOLD = 0.6


@register(
    "d21_editdist_verified_neardup",
    oracle=f"""
    WITH {_lsh_cand_ctes()},
    pairs AS (
      SELECT c.doc_a, c.doc_b,
             da.text AS ta, db.text AS tb,
             length(da.text) AS len_a, length(db.text) AS len_b
      FROM cand c
      JOIN documents da ON c.doc_a = da.doc_id
      JOIN documents db ON c.doc_b = db.doc_id
    ),
    pruned AS (
      SELECT * FROM pairs
      WHERE GREATEST(len_a, len_b) - LEAST(len_a, len_b)
            <= (1.0 - {EDIT_SIM_THRESHOLD}) * GREATEST(len_a, len_b)
    ),
    scored AS (
      SELECT doc_a, doc_b, len_a, len_b,
             levenshtein(ta, tb) AS edit_dist,
             1.0 - levenshtein(ta, tb) * 1.0 / GREATEST(len_a, len_b) AS sim
      FROM pruned
    )
    SELECT doc_a, doc_b,
           CAST(len_a AS BIGINT) AS len_a,
           CAST(len_b AS BIGINT) AS len_b,
           CAST(edit_dist AS BIGINT) AS edit_dist,
           ROUND(sim, 6) AS edit_sim
    FROM scored WHERE sim >= {EDIT_SIM_THRESHOLD}
    """,
)
def d21_editdist_verified_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ASCII assumption: Spark's levenshtein counts UTF-8 CODEPOINT
    # edits while DuckDB's counts BYTE edits, and both sides normalize
    # by length() — so engine and oracle agree only while the fixture
    # text is ASCII (asserted in tests/test_operators.py::
    # test_documents_fixture_contract). Non-ASCII corpora need a
    # codepoint-consistent oracle before reuse.
    cand = _lsh_candidate_pairs(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "text", F.length("text").alias("n"))
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"),
        F.col("n").alias("len_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"),
        F.col("n").alias("len_b"),
    )
    max_len = F.greatest("len_a", "len_b")
    min_len = F.least("len_a", "len_b")
    pruned = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter((max_len - min_len) <= (1.0 - EDIT_SIM_THRESHOLD) * max_len)
    )
    scored = pruned.withColumn(
        "edit_dist", F.levenshtein("ta", "tb").cast("long")
    ).withColumn(
        "edit_sim", F.lit(1.0) - F.col("edit_dist") * F.lit(1.0) / max_len
    )
    return (
        scored.filter(F.col("edit_sim") >= EDIT_SIM_THRESHOLD)
        .select(
            "doc_a", "doc_b", "len_a", "len_b", "edit_dist",
            dround("edit_sim", 6).alias("edit_sim"),
        )
    )


# --------------------------------------------------------------------------
# SimHash (32-bit) + multi-index blocking
# --------------------------------------------------------------------------
def _simhash_sig_sql(prefix: str = "") -> str:
    """SimHash signature CTE chain. ``prefix`` namespaces the CTE names
    so composing oracles (d34) can splice this chain next to another
    chain that also defines ``toks``/``sigs`` — structural composition,
    never post-hoc string surgery on rendered SQL."""
    h = md5_prefix_long_sql("tok")
    p = prefix
    return f"""
    {p}toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    {p}tok_hash AS (
      SELECT doc_id, {h} AS h FROM {p}toks
    ),
    {p}bit_votes AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM {p}tok_hash, (SELECT unnest(range(0, {SIMHASH_BITS})) AS b)
      GROUP BY doc_id, b
    ),
    {p}sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM {p}bit_votes GROUP BY doc_id
    )
    """


def _simhash_oracle() -> str:
    # Oracle verifies via brute-force hamming — equivalent to the Spark
    # side's multi-index blocking because hamming ≤ 6 over 8 nibble
    # chunks pigeonholes into ≥ 2 equal chunks (recall = 1).
    return f"""
    WITH {_simhash_sig_sql()}
    SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
           CAST(bit_count(xor(s1.simhash, s2.simhash)) AS BIGINT) AS hamming
    FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
    WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


@register("d03_dedup_simhash", oracle=_simhash_oracle())
def d03_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The pair list doubles as the near-dup graph consumed by
    # d09/d13/d14/g01 — materialize it once per session (see
    # _materialized above) so the query and its dependents share it.
    return _materialized(
        spark, sf_dir, "simhash_pairs_full",
        lambda: _simhash_pairs_build(spark, sf_dir),
    )


def _simhash_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_block_pairs(_d03_sigs(spark, sf_dir), "simhash")


def _d03_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The session-wide signature memo (shared with the p26/e49-e52
    # index layouts' derive_hint) — identical rows to deriving here,
    # one simhash vote pass per session instead of one per family.
    return _docs_simhash_hint(spark, sf_dir)()


def simhash_sigs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, simhash) — the d03 32-bit SimHash signature on an
    arbitrary (id, text) DataFrame. ONE definition shared by d03's
    full-corpus build and the incremental SimHash index
    (dedup_index.IncrementalSimHashIndex), so signature semantics can
    never fork. Per-document and deterministic, which is what makes
    the signature append-derivable over new segments."""
    docs = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tok_hash = toks.select("doc_id", md5_prefix_long(F.col("tok")).alias("h"))
    # One groupBy pass with 32 conditional sums (whole-stage codegen)
    # instead of exploding tokens × 32 bit positions — assembled as ONE
    # SQL string so the driver pays a single parse instead of ~300 py4j
    # column-builder roundtrips (measured 1.2-1.9 s of pure plan
    # construction per call, on every incremental SimHash refresh).
    # Semantics identical to the former Column-API form: per-bit vote =
    # sum(±1 over tokens), bit set iff vote > 0.
    terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (shiftright(h, {b}) & 1) = 1"
        f" THEN 1 ELSE -1 END) > 0"
        f" THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return tok_hash.groupBy("doc_id").agg(F.expr(terms).alias("simhash"))


def simhash_block_keys(
    sigs: DataFrame, col: str, repartition: bool = True
) -> DataFrame:
    """(doc_id, simhash, c, ck) exclude-2-of-8 multi-index block keys
    derived from a 32-bit signature column — cheap projections of the
    one stored int (28 rows/doc), shared by the full self-join below
    and the incremental index's per-batch lookup
    (dedup_index.IncrementalSimHashIndex). ``repartition=False`` skips
    the blocking-key exchange for consumers that broadcast-join the
    keys instead of self-joining them (the per-batch lookup — the
    exchange there re-shuffled the whole keyed corpus per micro-batch
    for no parallelism gain)."""
    from itertools import combinations

    w, m = _SIMHASH_CHUNK_W, _SIMHASH_N_CHUNKS
    table_exprs = []
    for t, (i, j) in enumerate(combinations(range(m), 2)):
        kept = [k for k in range(m) if k not in (i, j)]
        key = " + ".join(
            f"((shiftright({col}, {k * w}) & {(1 << w) - 1}) * {1 << (p * w)})"
            for p, k in enumerate(kept)
        )
        table_exprs.append(
            F.struct(F.lit(t).alias("c"), F.expr(key).alias("ck"))
        )
    keyed = sigs.select(
        "doc_id",
        F.col(col).alias("simhash"),
        F.explode(F.array(*table_exprs)).alias("k"),
    ).select("doc_id", "simhash", "k.c", "k.ck")
    if not repartition:
        return keyed
    # Explicit partition count on the blocking key: the keyed table is
    # small (docs × 28 tables) so AQE would coalesce the shuffle to ONE
    # partition — and then the self-join's candidate-pair generation
    # (quadratic in bucket size, the real work) runs single-threaded.
    # An explicit numPartitions survives AQE.
    return keyed.repartition(64, "c", "ck")


def _simhash_block_candidates(sigs: DataFrame, col: str) -> DataFrame:
    """Exclude-2-of-8 multi-index blocking over a 32-bit signature column
    (see the construction/selectivity note at _SIMHASH_N_CHUNKS).

    Candidate pairs must share at least one exact (table_id, 24-bit
    key); guaranteed for hamming ≤ 2 (SIMHASH_MAX_HAMMING) because some
    excluded chunk-pair covers every differing bit.
    """
    keyed = simhash_block_keys(sigs, col)
    k1 = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "c", "ck"
    )
    k2 = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "c", "ck"
    )
    return k1.join(k2, ["c", "ck"]).filter(F.col("doc_a") < F.col("doc_b"))


def _simhash_block_pairs(sigs: DataFrame, col: str) -> DataFrame:
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # Hamming-filter BEFORE the distinct: the filter runs inside the
    # join's codegen stage, so only surviving pairs (a tiny set) are
    # shuffled for dedup — not every (chunk, key) collision.
    return (
        _simhash_block_candidates(sigs, col)
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


@register_candidates("d03_dedup_simhash")
def _d03_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_block_candidates(_d03_sigs(spark, sf_dir), "simhash")


# --------------------------------------------------------------------------
# N-gram (word-bigram) Jaccard set-similarity join
# --------------------------------------------------------------------------
@register(
    "d04_dedup_ngram_jaccard",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                 i -> concat_ws(' ', string_split(text, ' ')[i],
                                string_split(text, ' ')[i+1]))) AS bigrams
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    exploded AS (SELECT doc_id, len(bigrams) AS nb, unnest(bigrams) AS g FROM bg),
    shared AS (
      SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b,
             e1.nb AS nb_a, e2.nb AS nb_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM exploded e1 JOIN exploded e2
        ON e1.g = e2.g AND e1.doc_id < e2.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           ROUND(n_shared * 1.0 / (nb_a + nb_b - n_shared), 6) AS jaccard
    FROM shared
    WHERE n_shared * 1.0 / (nb_a + nb_b - n_shared) >= {BIGRAM_JACCARD_THRESHOLD}
    """,
)
def d04_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    bg = _bigrams_df(spark, sf_dir)
    # Shuffle hygiene: join on a 64-bit hash of the bigram (xxhash64 is
    # engine-internal — only the join key, never an output value) and
    # carry no payload through the wide join; set sizes rejoin after the
    # per-pair aggregate (AQE broadcasts the size tables while they fit;
    # no forced hint — they grow with the corpus). On this fixture the token
    # frequency distribution is uniform so candidate pairs are
    # inherently ~all pairs; on zipfian real text the same plan
    # collapses because rare tokens dominate the join.
    sizes = bg.select("doc_id", F.size("bigrams").alias("nb"))
    exploded = bg.select("doc_id", F.explode("bigrams").alias("g")).select(
        "doc_id", F.xxhash64("g").alias("gh")
    )
    e1 = exploded.select(F.col("doc_id").alias("doc_a"), "gh")
    e2 = exploded.select(F.col("doc_id").alias("doc_b"), "gh")
    shared = (
        e1.join(e2, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nb").alias("nb_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nb").alias("nb_b"))
    j = F.col("n_shared").cast("double") / (
        F.col("nb_a") + F.col("nb_b") - F.col("n_shared")
    )
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("j", j)
        .filter(F.col("j") >= BIGRAM_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", dround("j", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join (PPJoin-lite).
#
# Same output as d04 (word-bigram Jaccard >= threshold), but candidate
# generation joins only each document's PREFIX — its rarest
# (nb - ceil(t*nb) + 1) bigrams under a global document-frequency
# order. Any pair with J >= t must share a prefix token (pigeonhole on
# the overlap bound), so recall is exactly 1; candidates are verified
# with the full sets. On zipfian real text this collapses the join to
# near-linear; on this uniform fixture it mostly demonstrates the plan.
# --------------------------------------------------------------------------
@register("d07_dedup_jaccard_prefix_filtered")
def d07_dedup_jaccard_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = BIGRAM_JACCARD_THRESHOLD
    bg = _bigrams_df(spark, sf_dir)
    exploded = bg.select("doc_id", F.size("bigrams").alias("nb"), F.explode("bigrams").alias("g"))
    # global rarity order: document frequency, tiebreak on the token
    df_per_g = exploded.groupBy("g").agg(F.count("*").alias("df"))
    ranked = exploded.join(df_per_g, "g").withColumn(
        "pos",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("df"), F.col("g"))
        ),
    )
    prefix_len = (F.col("nb") - F.ceil(F.lit(t) * F.col("nb")) + 1).cast("int")
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(
        "doc_id", F.xxhash64("g").alias("gh")
    )
    p1 = prefix.select(F.col("doc_id").alias("doc_a"), "gh")
    p2 = prefix.select(F.col("doc_id").alias("doc_b"), "gh")
    cand = (
        p1.join(p2, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = bg.select(F.col("doc_id").alias("doc_a"), F.col("bigrams").alias("ba"))
    b = bg.select(F.col("doc_id").alias("doc_b"), F.col("bigrams").alias("bb"))
    inter = F.size(F.array_intersect(F.col("ba"), F.col("bb")))
    union = F.size("ba") + F.size("bb") - inter
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("j", inter.cast("double") / union)
        .filter(F.col("j") >= t)
        .select("doc_a", "doc_b", dround("j", 6).alias("jaccard"))
    )


# register d07's oracle after the fact (identical result set to d04)
from .registry import ORACLE_SQL as _OSQL  # noqa: E402

_OSQL["d07_dedup_jaccard_prefix_filtered"] = _OSQL["d04_dedup_ngram_jaccard"]


# --------------------------------------------------------------------------
# Block-matrix n-gram Jaccard (same output as d04) via feature-hashed
# incidence matmul + exact verification.
#
# Each doc's bigram set is identified by 64-bit xxhash64 values
# (collision-free in practice; the oracle gate verifies equality with
# the string-set formulation every round — d10 precedent). The matmul
# kernel runs on FEATURE-HASHED incidence vectors of fixed width
# D = 2^12: memory per block is rows × D regardless of vocabulary size,
# which removes the dense-vocab cap of the earlier formulation (and the
# global row_number vocab table + its global sort and broadcast join —
# no global structure remains at all).
#
# Hashing can only MERGE columns, so per doc the collision count
# c = |grams| - |hashed dims| is known exactly, and for a pair
#   inter_true <= inter_hashed + min(c_a, c_b)
# (collapses inside A∩B are bounded by collapses inside either set).
# Candidates are taken by that deterministic upper bound — recall is 1,
# no probabilistic argument — then verified with an exact sorted-array
# intersection of the 64-bit gram ids. Jaccard is computed from exact
# integers, so results are bit-identical to the list-based oracle.
# --------------------------------------------------------------------------
HASH_DIMS = 2048


@register("d08_dedup_jaccard_blocked")
def d08_dedup_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    t = BIGRAM_JACCARD_THRESHOLD
    n_blocks = 8
    bg = _bigrams_df(spark, sf_dir)
    doc_vecs = (
        bg.select("doc_id", F.explode("bigrams").alias("g"))
        .select("doc_id", F.xxhash64("g").alias("h"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("h")).alias("hids"))
        .withColumn("blk", F.col("doc_id") % n_blocks)
    )
    packed = doc_vecs.groupBy("blk").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "hids"))).alias("rows")
    ).cache()  # consumed by both sides of the block grid
    a = packed.select(F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a"))
    b = packed.select(F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b"))
    # Spread the block-pair grid across the cluster BEFORE the Python
    # kernel: the tiny post-join row count tempts AQE into one partition,
    # which would run every matmul serially in a single Python worker
    # (explicit numPartitions so AQE keeps it).
    grid = a.join(b, F.col("blk_a") <= F.col("blk_b")).repartition(
        n_blocks * n_blocks, "blk_a", "blk_b"
    )

    def kernel(batches):
        for pdf in batches:
            out_a, out_b, out_j = [], [], []
            for _, row in pdf.iterrows():
                def unpack(rows):
                    ids = np.array([r["doc_id"] for r in rows], dtype=np.int64)
                    hids = [np.asarray(r["hids"], dtype=np.int64) for r in rows]
                    # float64 so the matmul uses BLAS dgemm; 0/1 products
                    # and partial sums stay exact integers (< 2^53)
                    mat = np.zeros((len(rows), HASH_DIMS), dtype=np.float64)
                    for i, h in enumerate(hids):
                        mat[i, np.unique(h % HASH_DIMS)] = 1.0
                    n_true = np.array([h.size for h in hids], dtype=np.float64)
                    coll = n_true - mat.sum(axis=1)  # per-doc column merges
                    return ids, hids, mat, n_true, coll

                ids_a, h_a, mat_a, na, ca = unpack(row["rows_a"])
                ids_b, h_b, mat_b, nb, cb = unpack(row["rows_b"])
                inter_h = mat_a @ mat_b.T
                # Deterministic upper bound on the true intersection.
                i_up = np.minimum(
                    inter_h + np.minimum(ca[:, None], cb[None, :]),
                    np.minimum(na[:, None], nb[None, :]),
                )
                union_lo = na[:, None] + nb[None, :] - i_up
                cand_ia, cand_ib = np.nonzero(i_up >= t * union_lo)
                va, vb, jv = [], [], []
                for ia, ib in zip(cand_ia, cand_ib):
                    inter = np.intersect1d(
                        h_a[ia], h_b[ib], assume_unique=True
                    ).size
                    union = h_a[ia].size + h_b[ib].size - inter
                    j = inter / union
                    if j >= t:
                        va.append(ids_a[ia])
                        vb.append(ids_b[ib])
                        jv.append(j)
                va = np.asarray(va, dtype=np.int64)
                vb = np.asarray(vb, dtype=np.int64)
                jv = np.asarray(jv, dtype=np.float64)
                if row["blk_a"] == row["blk_b"]:
                    keep = va < vb
                    va, vb, jv = va[keep], vb[keep], jv[keep]
                else:
                    lo, hi = np.minimum(va, vb), np.maximum(va, vb)
                    va, vb = lo, hi
                out_a.append(va)
                out_b.append(vb)
                # match the oracle's ROUND(j, 6): j derives from exact
                # ints, so DuckDB's binary rounding == this formula
                jr = np.sign(jv) * np.floor(np.abs(jv) * 1e6 + 0.5) / 1e6
                out_j.append(jr)
            yield pd.DataFrame(
                {
                    "doc_a": np.concatenate(out_a) if out_a else [],
                    "doc_b": np.concatenate(out_b) if out_b else [],
                    "jaccard": np.concatenate(out_j) if out_j else [],
                }
            )

    return grid.mapInPandas(kernel, schema="doc_a long, doc_b long, jaccard double")


_OSQL["d08_dedup_jaccard_blocked"] = _OSQL["d04_dedup_ngram_jaccard"]


# --------------------------------------------------------------------------
# Dedup clustering: connected components over near-dup pairs.
#
# The step that turns pairwise matches into keep/drop decisions:
# every document in a connected component of the near-dup graph gets
# the component's minimum doc_id as its canonical representative.
# Iterative min-label propagation (large-star style): each round every
# vertex takes the min label in its neighborhood; converges in
# O(component diameter) rounds — bounded and data-parallel, the same
# driver-coordinated iteration pattern as the IVF k-means (s03).
# Oracle: DuckDB WITH RECURSIVE reachability (id reaches r) + MIN(r) per
# id — the same fixed point, so results hash-match exactly. Also
# validated against a union-find in tests.
# --------------------------------------------------------------------------
def _cc_ctes() -> str:
    """Shared recursive-CTE chain: simhash sigs → pairs → edges → reach.

    Composed by both the d09 cluster oracle and the d11 keeper oracle so
    the two stay the same fixed point by construction.
    """
    return f"""{_simhash_sig_sql().strip()},
    pairs AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.id
    )"""


def _cc_oracle() -> str:
    return f"""
    WITH RECURSIVE {_cc_ctes()}
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(MIN(r) AS BIGINT) AS cluster_id,
           (id = MIN(r)) AS is_canonical
    FROM reach
    GROUP BY id
    ORDER BY doc_id
    """


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized near-dup pair list (the shared input of
    d09/d13/d14/g01 — see _materialized)."""
    return d03_dedup_simhash(spark, sf_dir).select("doc_a", "doc_b")


def _cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized connected-component labels (shared by d09/d11/p01)."""
    return _materialized(
        spark, sf_dir, "cc_labels", lambda: _cc_build(spark, sf_dir)
    )


@register("d09_dedup_clusters", oracle=_cc_oracle())
def d09_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cc_clusters(spark, sf_dir).orderBy("doc_id")


def _cc_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _simhash_pairs(spark, sf_dir)
    # Materialize the edge list ONCE — the d03 pipeline never re-runs —
    # pre-partitioned on the per-round join key (dst) and PERSISTED
    # (not localCheckpoint: a checkpoint scan reports unknown
    # partitioning, so every round would re-shuffle edges; an
    # InMemoryRelation keeps its child's HashPartitioning). Every
    # propagation round's `edges ⋈ labels` then shuffles only the small
    # labels side — the edge table (the 100 TB-dominant side) is
    # shuffled exactly once for the whole fixed-point loop.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges_raw = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist()
    )
    n_edges = edges_raw.count()
    # Size the loop's shuffles to the GRAPH, not the session default:
    # the per-round tables are |V|/|E|-sized, and on a small graph the
    # fixed per-task/per-stage overhead of 32+ partitions plus AQE's
    # per-stage re-planning dominates the loop (~20% of d09 wall time
    # at sf0.1). On a big graph (>~2M edges) keep the session settings —
    # there AQE's skew handling and coalescing earn their latency.
    small_graph = n_edges < 2_000_000
    loop_parts = max(8, min(n_part, n_edges // 50_000 + 1)) if small_graph else n_part
    edges = edges_raw.repartition(loop_parts, "dst").persist()
    edges.count()  # re-materialize from the cached raw edges (cheap)
    edges_raw.unpersist()
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    if small_graph:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        labels = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
            .localCheckpoint()
        )
        labels = _cc_fixed_point(edges, labels)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        edges.unpersist()
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))


def _cc_fixed_point(edges: DataFrame, labels: DataFrame) -> DataFrame:
    # Each round combines (a) neighbor-min propagation with (b) pointer
    # jumping (label <- label(label)), so rounds scale with LOG(diameter)
    # instead of diameter: the uniform-vocab fixture builds a sprawling
    # 3.5k-node simhash component that pure propagation needs 10 rounds
    # to cover, pointer jumping needs 5. Labels only decrease and are
    # bounded below by the component min, and a state stable under the
    # combined step is stable under propagation alone — so the fixed
    # point is unchanged (min label per component, the oracle's CTE).
    for _ in range(20):  # log2(diameter) bound; components converge fast
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            labels.id.alias("id"),
            labels.label.alias("old"),
            F.least(
                labels.label, F.coalesce(F.col("nbr_label"), labels.label)
            ).alias("mid"),
        )
        hop = stepped.select(F.col("id").alias("hid"), F.col("mid").alias("hlabel"))
        new_labels = (
            stepped.join(hop, stepped.mid == hop.hid, "left")
            .select(
                "id",
                F.least(
                    F.col("mid"), F.coalesce(F.col("hlabel"), F.col("mid"))
                ).alias("label"),
                (
                    F.least(F.col("mid"), F.coalesce(F.col("hlabel"), F.col("mid")))
                    < F.col("old")
                ).alias("_changed"),
            )
            .localCheckpoint()  # eager: one action materializes labels+changed
        )
        changed = new_labels.filter("_changed").limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    # Safe to unpersist edges upstream: the result depends only on the
    # final checkpointed labels table.
    return labels


# --------------------------------------------------------------------------
# Benchmark decontamination: cross-set n-gram containment.
#
# The training-pipeline stage dedup does NOT cover: flag TRAINING docs
# that share 3-word shingles with a held-out EVAL set (here: doc_id %
# 97 == 0 stands in for the benchmark corpus). Unlike d02/d04 this is a
# containment semi-join, not a symmetric similarity join — one side is
# tiny and fixed, the other is the whole corpus.
#
# Scale (100 TB): the eval shingle universe is benchmark-sized (merely
# millions of shingles), so AQE broadcasts it and the corpus side never
# shuffles; no forced hint because it still grows with the benchmark
# suite. The join key is xxhash64(shingle) — engine-internal, never an
# output value (d04 precedent); counts equal the oracle's string join
# as long as the shingle universe is collision-free, which the gate
# verifies each round.
# --------------------------------------------------------------------------
EVAL_SET_MOD = 97
DECONTAM_MIN_SHINGLES = 3


@register(
    "d10_decontaminate",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    exploded AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
    eval_univ AS (
      SELECT DISTINCT sh FROM exploded WHERE doc_id % {EVAL_SET_MOD} = 0
    )
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_contaminated_shingles,
           CAST(COUNT(*) >= {DECONTAM_MIN_SHINGLES} AS BIGINT) AS drop_doc
    FROM exploded e JOIN eval_univ u ON e.sh = u.sh
    WHERE e.doc_id % {EVAL_SET_MOD} <> 0
    GROUP BY e.doc_id
    """,
)
def d10_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_df(spark, sf_dir)
    exploded = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", F.xxhash64("s").alias("gh")
    )
    eval_univ = (
        exploded.filter(F.col("doc_id") % EVAL_SET_MOD == 0).select("gh").distinct()
    )
    train = exploded.filter(F.col("doc_id") % EVAL_SET_MOD != 0)
    return (
        train.join(eval_univ, "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_shingles"))
        .select(
            "doc_id",
            "n_contaminated_shingles",
            (F.col("n_contaminated_shingles") >= DECONTAM_MIN_SHINGLES)
            .cast("long")
            .alias("drop_doc"),
        )
    )


# --------------------------------------------------------------------------
# d15: Bloom-prefiltered decontamination — the 100 TB prefilter pattern.
#
# d10's containment check joins EVERY training shingle against the eval
# universe; at corpus scale the right shape is a compact Bloom bitmap of
# the eval shingles broadcast to the scan, so non-candidate shingles die
# INSIDE the corpus scan stage (codegen'd bit tests, no shuffle, no
# join) and only bloom survivors reach the exact verification join.
#
# The filter is deterministic (md5-derived hash, two probes: low/high 16
# bits of the 32-bit prefix into a 2^16-bit table), so DuckDB replays
# membership exactly as position-set lookups — the bitmap IS the
# characteristic function of that set. The output keeps bloom hits,
# exact hits, and the false-positive gap per doc, making the
# prefilter's save rate (and its soundness: exact ⊆ bloom, no false
# negatives) part of the checked result.
#
# Scale (100 TB): the bitmap is m/8 bytes (8 KiB here; size m to the
# eval-shingle count for the target FP rate) broadcast ONCE regardless
# of eval-set size; the exact join's input shrinks by the prefilter's
# rejection rate. Build cost is one distinct + 1024-row bit_or agg.
# --------------------------------------------------------------------------
BLOOM_BITS = 1 << 16


def bloom_words_of(hashes: DataFrame) -> list[int]:
    """Pack the d15 Bloom bitmap (two probes per 32-bit hash: low/high
    16 bits) from a DataFrame with column ``h`` — built distributed,
    only the m/64 = 1024 packed int64 words reach the driver. Shared
    by d15, IncrementalEvalIndex, and the streaming decontaminator so
    the three stay bit-identical by construction."""
    pos = (
        hashes.select((F.col("h") % BLOOM_BITS).alias("p"))
        .unionAll(hashes.select(F.expr(f"h DIV {BLOOM_BITS}").alias("p")))
        .distinct()
    )
    words = (
        pos.select(
            F.expr("p DIV 64").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("word"))
        .collect()
    )
    by_idx = {int(r.w): int(r.word) for r in words}
    return [by_idx.get(i, 0) for i in range(BLOOM_BITS // 64)]


def bloom_hits_of(hashed: DataFrame, bitmap: list[int]) -> DataFrame:
    """Filter a (doc_id, h, ...) stream to Bloom survivors: the bitmap
    ships as ONE array literal in the plan and both probes are
    codegen'd bit tests — the scan-stage kill that never shuffles the
    corpus. The input's own columns pass through unchanged (the eval
    index carries its 64-bit exact-join key h64 alongside h)."""
    probe = (
        hashed.withColumn("bloom", F.lit(bitmap))
        .withColumn("p1", F.col("h") % BLOOM_BITS)
        .withColumn("p2", F.expr(f"h DIV {BLOOM_BITS}"))
    )
    return probe.filter(
        F.expr(
            "((bloom[CAST(p1 DIV 64 AS INT)] >> CAST(p1 % 64 AS INT)) & 1) = 1"
            " AND ((bloom[CAST(p2 DIV 64 AS INT)] >> CAST(p2 % 64 AS INT)) & 1) = 1"
        )
    ).select(*hashed.columns)


def _decontam_oracle(eval_mod: int, extra_cols: str = "") -> str:
    """The d15 Bloom-prefiltered decontamination replay, parameterized
    on the eval-set rule (doc_id % eval_mod = 0) so the maintained
    eval-index gate (p24, a 10% eval split that stays non-degenerate
    at sf0.001) and d15 itself share ONE oracle definition.
    ``extra_cols`` is appended verbatim to the final SELECT."""
    h = md5_prefix_long_sql("s")
    return f"""
    WITH sh AS ({_SHINGLES_SQL}),
    exploded AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    hashed AS (SELECT doc_id, s, {h} AS h FROM exploded),
    epos AS (
      SELECT h % {BLOOM_BITS} AS p FROM hashed WHERE doc_id % {eval_mod} = 0
      UNION
      SELECT h // {BLOOM_BITS} FROM hashed WHERE doc_id % {eval_mod} = 0
    ),
    eunv AS (SELECT DISTINCT s FROM hashed WHERE doc_id % {eval_mod} = 0),
    hits AS (
      SELECT t.doc_id, t.s FROM hashed t
      WHERE t.doc_id % {eval_mod} <> 0
        AND t.h % {BLOOM_BITS} IN (SELECT p FROM epos)
        AND t.h // {BLOOM_BITS} IN (SELECT p FROM epos)
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hits
      FROM hits GROUP BY doc_id
    ),
    ex AS (
      SELECT h2.doc_id, CAST(COUNT(*) AS BIGINT) AS n_exact_hits
      FROM hits h2 JOIN eunv u ON h2.s = u.s GROUP BY h2.doc_id
    )
    SELECT a.doc_id, a.n_bloom_hits,
           COALESCE(ex.n_exact_hits, 0) AS n_exact_hits,
           a.n_bloom_hits - COALESCE(ex.n_exact_hits, 0) AS n_false_pos,
           CAST(COALESCE(ex.n_exact_hits, 0) >= {DECONTAM_MIN_SHINGLES}
                AS BIGINT) AS drop_doc{extra_cols}
    FROM agg a LEFT JOIN ex ON a.doc_id = ex.doc_id
    """


def _d15_oracle() -> str:
    return _decontam_oracle(EVAL_SET_MOD)


@register("d15_bloom_prefilter", oracle=_d15_oracle())
def d15_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_df(spark, sf_dir)
    exploded = sh.select("doc_id", F.explode("shingles").alias("s"))
    hashed = exploded.select(
        "doc_id", "s", md5_prefix_long(F.col("s")).alias("h")
    )
    evalh = hashed.filter(F.col("doc_id") % EVAL_SET_MOD == 0)
    bitmap = bloom_words_of(evalh)
    train = hashed.filter(F.col("doc_id") % EVAL_SET_MOD != 0)
    hits = bloom_hits_of(train, bitmap)
    agg = hits.groupBy("doc_id").agg(F.count("*").alias("n_bloom_hits"))
    eunv = evalh.select("h").distinct()
    exact = (
        hits.join(eunv, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_exact_hits"))
    )
    return (
        agg.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "n_bloom_hits",
            F.coalesce(F.col("n_exact_hits"), F.lit(0)).alias("n_exact_hits"),
            (
                F.col("n_bloom_hits")
                - F.coalesce(F.col("n_exact_hits"), F.lit(0))
            ).alias("n_false_pos"),
            (
                F.coalesce(F.col("n_exact_hits"), F.lit(0))
                >= DECONTAM_MIN_SHINGLES
            )
            .cast("long")
            .alias("drop_doc"),
        )
    )


# --------------------------------------------------------------------------
# Canonical-keeper selection: clusters -> keep/drop decisions.
#
# Completes the dedup pipeline: each near-dup cluster (d09 connected
# components) keeps its highest-quality member (t02 score, doc_id as
# the deterministic tie-break) and drops the rest. One groupBy over the
# cluster assignment with an argmax encoded as max(struct(quality,
# -doc_id)) — ordinary shuffle agg, no window, no skew (cluster sizes
# are bounded by near-dup semantics). The oracle re-derives the same
# clusters via the recursive CTE and the same quality formula, then
# picks the keeper with a ROW_NUMBER over the identical sort key;
# quality doubles compare identically across engines because both are
# the t02 formula rounded via dround (hash-green since round 1).
# --------------------------------------------------------------------------
def _keeper_oracle() -> str:
    from .text import QUALITY_SQL

    return f"""
    WITH RECURSIVE {_cc_ctes()},
    labels AS (
      SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ),
    quality AS ({QUALITY_SQL}),
    ranked AS (
      SELECT l.cluster_id, l.id AS doc_id, q.quality_score,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality_score DESC, l.id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY l.cluster_id) AS n_members
      FROM labels l JOIN quality q ON q.doc_id = l.id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(doc_id AS BIGINT) AS keeper_doc_id,
           quality_score AS keeper_quality,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1
    """


@register("d11_canonical_keeper", oracle=_keeper_oracle())
def d11_canonical_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import t02_quality_score

    clusters = _cc_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    quality = t02_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    joined = clusters.join(quality, "doc_id")
    agg = joined.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(
                F.col("quality_score").alias("q"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("m"),
    )
    return agg.select(
        "cluster_id",
        "n_members",
        (-F.col("m.neg_id")).cast("long").alias("keeper_doc_id"),
        F.col("m.q").alias("keeper_quality"),
        (F.col("n_members") - 1).cast("long").alias("n_dropped"),
    )


# --------------------------------------------------------------------------
# d12: exact duplicated-span detection (the "substring dedup" of
# training-data pipelines: find long token spans appearing verbatim in
# more than one document, and how much of each document is covered by
# such spans). Spans are 8-token sliding windows keyed by xxhash64 —
# the hash narrows the shuffle key to 8 bytes regardless of span
# length, and since h is never an output value the engines need not
# hash identically (the oracle keys on md5; both are injective here —
# the d10 precedent at the decontamination span key).
#
# Scale: explode is linear in corpus tokens; span popularity is a
# COUNT(*) OVER (PARTITION BY h) window — ONE equi-shuffle on the hash
# (uniform by construction) instead of the groupBy-then-join-back
# shape, which shuffles on h twice. At 100 TB the only adjustment is a
# longer span (50 tokens) and a Bloom-filter pre-pass on span hashes
# to skip the singleton majority before the shuffle.
# --------------------------------------------------------------------------
SPAN_TOKENS = 8


@register(
    "d12_duplicated_spans",
    oracle=f"""
    WITH spans AS (
      SELECT DISTINCT doc_id, md5(g) AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(string_split(text, ' ')) - {SPAN_TOKENS - 2}),
                 i -> array_to_string(list_slice(string_split(text, ' '),
                                                 i, i + {SPAN_TOKENS - 1}), ' ')
               )) AS g
        FROM documents
        WHERE len(string_split(text, ' ')) >= {SPAN_TOKENS}
      )
    ),
    popularity AS (
      SELECT h, COUNT(*) AS n_docs FROM spans GROUP BY h
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(*) FILTER (WHERE p.n_docs > 1) AS BIGINT) AS n_dup_spans,
           ROUND(COUNT(*) FILTER (WHERE p.n_docs > 1) * 1.0 / COUNT(*), 6)
             AS dup_fraction
    FROM spans s JOIN popularity p ON s.h = p.h
    GROUP BY s.doc_id
    HAVING COUNT(*) FILTER (WHERE p.n_docs > 1) > 0
    """,
)
def d12_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    spans = (
        docs.select(
            "doc_id",
            F.explode(F.expr(word_windows("split(text, ' ')", SPAN_TOKENS))).alias("g"),
        )
        .select("doc_id", F.xxhash64("g").alias("h"))
        .distinct()
    )
    counted = spans.withColumn(
        "n_docs", F.count("*").over(W.partitionBy("h"))
    )
    dup = F.count(F.when(F.col("n_docs") > 1, 1))
    return (
        counted.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            dup.alias("n_dup_spans"),
            dround(dup * F.lit(1.0) / F.count("*"), 6).alias("dup_fraction"),
        )
        .filter(F.col("n_dup_spans") > 0)
    )


# --------------------------------------------------------------------------
# d13: cross-source duplication audit — count near-dup pairs (d03
# simhash) by ordered (source, source) combination, splitting
# within-source from cross-source duplication. The crawl-ops view of
# dedup output: "which ingests duplicate each other" decides what gets
# re-crawled or down-weighted (feeds t15's mixture weights).
#
# Scale: the pair table is dedup output (orders smaller than the
# corpus); two doc_id-keyed joins against a pruned (doc_id, source)
# projection, then a |sources|² count with map-side partials.
# --------------------------------------------------------------------------
@register(
    "d13_cross_source_audit",
    oracle=f"""
    WITH pairs AS ({_simhash_oracle()})
    SELECT LEAST(da.source, db.source) AS source_x,
           GREATEST(da.source, db.source) AS source_y,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE da.source = db.source) AS BIGINT)
             AS n_within
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    """,
)
def d13_cross_source_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _simhash_pairs(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.count(F.when(F.col("src_a") == F.col("src_b"), 1)).alias("n_within"),
        )
    )


# --------------------------------------------------------------------------
# g01: PageRank over the near-dup graph — which documents sit at the
# center of duplication clusters (re-crawl / canonicalization priority
# beyond d11's per-cluster argmax). Five damped iterations on int64
# fixed-point ranks (scale 2^30): contributions are floor(rank/deg)
# and the damping update is integer (15·S + 85·Σ) DIV 100, so every
# iteration is order-independent exact arithmetic — the DuckDB oracle
# replays the identical five rounds CTE-by-CTE and matches bit-for-bit.
#
# Scale: per iteration one (src-keyed) join of ranks onto edges and one
# dst-keyed contribution sum — the standard data-parallel PageRank
# round; ranks are localCheckpoint'd per round so round N+1 rescans
# |V|+|E| rows, not the whole history (cluster: checkpoint()).
# --------------------------------------------------------------------------
PAGERANK_SCALE = 1 << 30
PAGERANK_ITERS = 5


def _pagerank_oracle() -> str:
    base = (15 * PAGERANK_SCALE) // 100
    ctes = [f"""deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT src AS id, CAST({PAGERANK_SCALE} AS BIGINT) AS rank FROM deg)"""]
    for i in range(1, PAGERANK_ITERS + 1):
        ctes.append(f"""r{i} AS (
      SELECT dg.src AS id,
             {base} + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
      FROM deg dg LEFT JOIN (
        SELECT e.dst AS id, SUM(r.rank // d2.d) AS contrib
        FROM edges e
        JOIN r{i - 1} r ON r.id = e.src
        JOIN deg d2 ON d2.src = e.src
        GROUP BY e.dst
      ) c ON c.id = dg.src
    )""")
    joined_ctes = ",\n    ".join(ctes)
    return f"""
    WITH {_simhash_sig_sql().strip()},
    pairs AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    {joined_ctes}
    SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank,
           CAST(rank * 1000 // {PAGERANK_SCALE} AS BIGINT) AS rank_milli
    FROM r{PAGERANK_ITERS}
    """


@register("g01_neardup_pagerank", oracle=_pagerank_oracle())
def g01_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _simhash_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d")).localCheckpoint()
    base = (15 * PAGERANK_SCALE) // 100
    ranks = deg.select(
        F.col("src").alias("id"), F.lit(PAGERANK_SCALE).cast("long").alias("rank")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.id)
            .join(deg.select(F.col("src").alias("dsrc"), "d"), edges.src == F.col("dsrc"))
            .select(F.col("dst"), F.expr("rank div d").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        ranks = (
            deg.join(contrib, deg.src == contrib.dst, "left")
            .select(
                F.col("src").alias("id"),
                (
                    F.lit(base).cast("long")
                    + F.expr(f"(85 * COALESCE(contrib, 0)) div 100")
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        F.col("id").alias("doc_id"),
        "rank",
        F.expr(f"(rank * 1000) div {PAGERANK_SCALE}").alias("rank_milli"),
    )


# --------------------------------------------------------------------------
# g02: triangle counting + local clustering coefficient over the
# near-dup graph — distinguishes tight duplication cliques (template
# families, mirrored sites: coefficient → 1) from star-shaped hubs
# (one canonical page with many partial copies: coefficient → 0),
# which d09's connected components cannot tell apart.
#
# Algorithm: degree orientation (each undirected edge points from the
# (degree, id)-smaller endpoint to the larger) — the standard
# distributed-triangle-count trick. Every triangle is then counted
# exactly once as a wedge (s→x, s→y) closed by the oriented edge x→y,
# and the wedge fan-out per node is bounded by its OUT-degree in the
# orientation, which is O(sqrt(E)) for any graph — the heavy-hitter
# star centers of the near-dup graph never explode as wedge centers.
# Total work O(E^1.5) worst case, all equi-joins.
#
# Scale: pairs are dedup output (orders smaller than the corpus); two
# degree joins + one wedge self-join + one closing equi-join, every
# one on integer keys with map-side combinable counts.
# --------------------------------------------------------------------------
def _triangle_oracle() -> str:
    return f"""
    WITH {_simhash_sig_sql().strip()},
    pairs AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    ),
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS id FROM pairs UNION ALL SELECT doc_b AS id FROM pairs
      ) GROUP BY id
    ),
    oriented AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND p.doc_a < p.doc_b)
                  THEN p.doc_a ELSE p.doc_b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND p.doc_a < p.doc_b)
                  THEN p.doc_b ELSE p.doc_a END AS dst,
             CASE WHEN da.d < db.d OR (da.d = db.d AND p.doc_a < p.doc_b)
                  THEN db.d ELSE da.d END AS dst_d
      FROM pairs p
      JOIN deg da ON da.id = p.doc_a
      JOIN deg db ON db.id = p.doc_b
    ),
    tri AS (
      SELECT w.src AS a, w.x, w.y
      FROM (
        SELECT o1.src, o1.dst AS x, o2.dst AS y
        FROM oriented o1 JOIN oriented o2
          ON o1.src = o2.src
         AND (o1.dst_d < o2.dst_d OR (o1.dst_d = o2.dst_d AND o1.dst < o2.dst))
      ) w
      JOIN oriented e ON e.src = w.x AND e.dst = w.y
    ),
    per_node AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS id FROM tri
        UNION ALL SELECT x AS id FROM tri
        UNION ALL SELECT y AS id FROM tri
      ) GROUP BY id
    )
    SELECT deg.id AS doc_id,
           deg.d AS degree,
           COALESCE(t.n_tri, 0) AS n_triangles,
           CASE WHEN deg.d >= 2
                THEN (2000 * COALESCE(t.n_tri, 0)) // (deg.d * (deg.d - 1))
                ELSE CAST(0 AS BIGINT) END AS clustering_milli
    FROM deg LEFT JOIN per_node t ON t.id = deg.id
    """


@register("g02_triangle_count", oracle=_triangle_oracle())
def g02_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _simhash_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("doc_a").alias("id"))
        .unionAll(pairs.select(F.col("doc_b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("id").alias("doc_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("id").alias("doc_b"), F.col("d").alias("d_b"))
    a_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
            F.when(a_first, F.col("d_b")).otherwise(F.col("d_a")).alias("dst_d"),
        )
    )
    o1 = oriented.select(
        "src", F.col("dst").alias("x"), F.col("dst_d").alias("x_d")
    )
    o2 = oriented.select(
        F.col("src").alias("src2"), F.col("dst").alias("y"), F.col("dst_d").alias("y_d")
    )
    wedges = o1.join(
        o2,
        (F.col("src") == F.col("src2"))
        & (
            (F.col("x_d") < F.col("y_d"))
            | ((F.col("x_d") == F.col("y_d")) & (F.col("x") < F.col("y")))
        ),
    ).select(F.col("src").alias("a"), "x", "y")
    closing = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    per_node = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("x").alias("id")))
        .unionAll(tri.select(F.col("y").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("n_tri"))
    )
    return (
        deg.join(per_node, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.expr("(2000 * coalesce(n_tri, 0)) div (d * (d - 1))"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("clustering_milli"),
        )
    )


# --------------------------------------------------------------------------
# d14: corpus dedup profile — the one-row dashboard a curation run
# reports per shard: corpus size, exact-duplicate groups and excess
# copies (d01's aggregation), near-dup pair count (d03's blocking), and
# the pair rate per 1k documents. Composes the dedup stages into the
# health metric their outputs exist for.
#
# Scale: both inputs are dedup aggregates (orders smaller than the
# corpus); the final single-row combine is a cross join of three 1-row
# aggregates — O(1) regardless of scale.
# --------------------------------------------------------------------------
@register(
    "d14_dedup_profile",
    oracle=f"""
    WITH {_simhash_sig_sql().strip()},
    pair_count AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
      FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    ),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_groups,
             CAST(COALESCE(SUM(n_copies - 1), 0) AS BIGINT) AS n_excess_copies
      FROM (
        SELECT COUNT(*) AS n_copies
        FROM documents GROUP BY md5(lower(trim(text)))
        HAVING COUNT(*) > 1
      )
    ),
    corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT c.n_docs, e.n_exact_groups, e.n_excess_copies, p.n_neardup_pairs,
           ROUND(p.n_neardup_pairs * 1000.0 / c.n_docs, 4) AS pairs_per_1k_docs
    FROM corpus c, exact e, pair_count p
    """,
)
def d14_dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    corpus = docs.agg(F.count("*").alias("n_docs"))
    exact = (
        d01_dedup_exact(spark, sf_dir)
        .agg(
            F.count("*").alias("n_exact_groups"),
            F.coalesce(F.sum(F.col("n_copies") - 1), F.lit(0))
            .cast("long")
            .alias("n_excess_copies"),
        )
    )
    pairs = _simhash_pairs(spark, sf_dir).agg(
        F.count("*").alias("n_neardup_pairs")
    )
    return (
        corpus.crossJoin(exact)
        .crossJoin(pairs)
        .select(
            "n_docs",
            "n_exact_groups",
            "n_excess_copies",
            "n_neardup_pairs",
            dround(
                F.col("n_neardup_pairs") * F.lit(1000.0) / F.col("n_docs"), 4
            ).alias("pairs_per_1k_docs"),
        )
    )


# --------------------------------------------------------------------------
# d16: boilerplate stripping — the transform step that d12's span
# detection feeds in a real curation run (C4 / CCNet style: drop token
# spans that repeat across many documents — headers, footers, nav
# chrome). A span here is a 5-token sliding window; any span occurring
# in >= BOILER_MIN_DOCS distinct docs marks all its token positions as
# boilerplate, and the doc is re-emitted with those positions removed.
# The oracle checks the md5 of the CLEANED text, so both engines must
# agree on the exact surviving token sequence, not just counts.
#
# Scale: the span explode is linear in corpus tokens and the
# popularity count is an md5-keyed equi-shuffle (uniform); the hits
# that flow back are only the popular spans, so the position-union
# stage is proportional to boilerplate volume, not corpus volume. The
# per-doc covered-position set is bounded by doc length. At 100 TB:
# longer spans (13+ tokens, the Dolma setting), a Bloom pre-pass on
# span hashes (d15's pattern) before the popularity shuffle, and a
# min-doc threshold expressed as a corpus fraction.
# --------------------------------------------------------------------------
BOILER_SPAN = 5
BOILER_MIN_DOCS = 3


@register(
    "d16_boilerplate_strip",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    spans AS (
      SELECT doc_id, u.s.pos AS pos, u.s.h AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(tk) - {BOILER_SPAN - 2}),
                 i -> struct_pack(
                   pos := i - 1,
                   h := md5(array_to_string(
                          list_slice(tk, i, i + {BOILER_SPAN - 1}), ' '))))) AS s
        FROM toks WHERE len(tk) >= {BOILER_SPAN}
      ) u
    ),
    popular AS (
      SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY h
      ) WHERE nd >= {BOILER_MIN_DOCS}
    ),
    covered AS (
      SELECT DISTINCT s.doc_id, p
      FROM spans s JOIN popular USING (h),
           unnest(range(s.pos, s.pos + {BOILER_SPAN})) t(p)
    ),
    cov AS (SELECT doc_id, list(p) AS cv FROM covered GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(cv), 0) AS BIGINT) AS n_boiler_tokens,
           ROUND((len(tk) - COALESCE(len(cv), 0)) * 1.0 / len(tk), 6)
             AS keep_ratio,
           -- array_to_string('[]') is NULL in DuckDB but concat_ws is ''
           -- in Spark: normalize the fully-stripped doc to md5('').
           md5(COALESCE(array_to_string(
             list_filter(tk, (x, i) ->
               NOT list_contains(COALESCE(cv, CAST([] AS BIGINT[])), i - 1)),
             ' '), '')) AS clean_md5
    FROM toks t LEFT JOIN cov USING (doc_id)
    """,
)
def d16_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("tk"))
    span_md5 = f"md5(concat_ws(' ', slice(toks, i + 1, {BOILER_SPAN})))"
    spans = toks.select(
        "doc_id",
        F.posexplode(F.expr(word_windows("tk", BOILER_SPAN, span_md5))).alias("pos", "h"),
    )
    popular = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BOILER_MIN_DOCS)
        .select("h")
    )
    covered = (
        spans.join(popular, "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(BOILER_SPAN - 1))
            ).alias("p"),
        )
        .distinct()
    )
    cov = covered.groupBy("doc_id").agg(F.collect_set("p").alias("cv"))
    joined = toks.join(cov, "doc_id", "left").select(
        "doc_id",
        "tk",
        F.coalesce(F.col("cv"), F.expr("CAST(array() AS array<int>)")).alias("cv"),
    )
    n_tokens = F.size("tk")
    n_boiler = F.size("cv")
    return joined.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_boiler.cast("long").alias("n_boiler_tokens"),
        dround((n_tokens - n_boiler) * F.lit(1.0) / n_tokens, 6).alias("keep_ratio"),
        F.md5(
            F.expr("concat_ws(' ', filter(tk, (x, i) -> NOT array_contains(cv, i)))")
        ).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# d18: MinHash estimator audit — for every LSH candidate pair, the
# sketch-estimated Jaccard (fraction of the 8 permutations whose
# min-hash agrees — the unbiased MinHash estimator) next to the exact
# shingle Jaccard and the absolute error. This is the calibration
# table an operator consults before trusting sketch-only dedup at
# scale (where the exact verify join is the expensive part d02 pays);
# est/exact/error are all rational values of small integers, so the
# audit hash-matches exactly.
#
# Scale: the candidates are d02's (the shared, budget-gated
# _lsh_candidate_pairs); the audit adds one 8-term signature
# comparison per candidate (map-side, no extra shuffle) — the exact-Jaccard column is the fixture-only
# audit and is what sketch-only mode would drop.
# --------------------------------------------------------------------------
def _d18_oracle() -> str:
    h = md5_prefix_long_sql("sh")
    mh_exprs = ",\n           ".join(
        f"MIN({minhash_value_sql('h', a, b)}) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    band_rows = []
    for band in range(N_BANDS):
        lo = band * ROWS_PER_BAND
        cols = " || '-' || ".join(
            f"CAST(mh{j} AS VARCHAR)" for j in range(lo, lo + ROWS_PER_BAND)
        )
        band_rows.append(
            f"SELECT doc_id, {band} AS band_id, {cols} AS band_key FROM sigs"
        )
    bands_sql = "\n      UNION ALL\n      ".join(band_rows)
    agree = " + ".join(
        f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END"
        for j in range(len(MINHASH_PARAMS))
    )
    n_perms = len(MINHASH_PARAMS)
    return f"""
    WITH sh AS ({_SHINGLES_SQL}),
    exploded AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
    hashed AS (SELECT doc_id, {h} AS h FROM exploded),
    sigs AS (SELECT doc_id, {mh_exprs} FROM hashed GROUP BY doc_id),
    bands AS (
      {bands_sql}
    ),
    cand AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band_id = b2.band_id AND b1.band_key = b2.band_key
       AND b1.doc_id < b2.doc_id
    ),
    audited AS (
      SELECT c.doc_a, c.doc_b,
             ({agree}) AS n_agree,
             len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))) AS exact_j
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_agree AS BIGINT) AS n_agree,
           ROUND(n_agree / {n_perms}.0, 6) AS est_jaccard,
           ROUND(exact_j, 6) AS exact_jaccard,
           ROUND(ABS(n_agree / {n_perms}.0 - exact_j), 6) AS abs_error
    FROM audited
    """


@register("d18_minhash_estimate_audit", oracle=_d18_oracle())
def d18_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_df(spark, sf_dir)
    sigs = minhash_sigs(sh, ["doc_id"])
    cand = _lsh_candidate_pairs(spark, sf_dir)
    n_perms = len(MINHASH_PARAMS)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n_perms)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n_perms)],
    )
    agree = None
    for j in range(n_perms):
        term = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    exact_j = inter.cast("double") / union
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_agree", agree.cast("long"))
        .join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("exact_j", exact_j)
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            dround(F.col("n_agree") / float(n_perms), 6).alias("est_jaccard"),
            dround("exact_j", 6).alias("exact_jaccard"),
            dround(F.abs(F.col("n_agree") / float(n_perms) - F.col("exact_j")), 6).alias(
                "abs_error"
            ),
        )
    )


# --------------------------------------------------------------------------
# d19: exact duplicated-SUBSTRING runs — the suffix-array-style dedup
# of Lee et al. 2022 ("Deduplicating Training Data Makes Language
# Models Better"): find MAXIMAL token runs that appear verbatim more
# than once anywhere in the corpus (including twice in the same
# document), with exact per-document offsets. Extends d12 (which flags
# fixed-length spans per doc) to the span-merge step: a run is a
# maximal stretch of consecutive duplicated span STARTS, covering
# tokens [start, last_start + SPAN - 1] — exactly what a suffix-array
# pass reports, built from equi-joinable fixed-width spans instead of
# a monolithic suffix array (which doesn't distribute).
#
# Scale: posexplode is linear in corpus tokens; occurrence counting is
# one COUNT(*) OVER (PARTITION BY h) shuffle on the 8-byte span hash
# (uniform); the islands window partitions BY DOCUMENT, so no
# single-partition window anywhere. At 10^12 spans a 64-bit key sees
# ~birthday-bound collisions — the production variant keys on two
# independently-salted xxhash64s (128 bits), same plan shape.
# --------------------------------------------------------------------------
D19_SPAN = 8
D19_MIN_RUN = 12


@register(
    "d19_substring_runs",
    oracle=f"""
    WITH spans AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(list_slice(string_split(text, ' '),
                                            i, i + {D19_SPAN - 1}), ' ')) AS h
      FROM (
        SELECT doc_id, text,
               unnest(range(1, len(string_split(text, ' ')) - {D19_SPAN - 2})) AS i
        FROM documents
        WHERE len(string_split(text, ' ')) >= {D19_SPAN}
      )
    ),
    counted AS (
      SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS n_occ FROM spans
    ),
    duppos AS (SELECT doc_id, pos FROM counted WHERE n_occ >= 2),
    grp AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM duppos
    ),
    runs AS (
      SELECT doc_id, MIN(pos) AS token_start,
             MAX(pos) + {D19_SPAN - 1} AS token_end
      FROM grp GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(token_start AS BIGINT) AS token_start,
           CAST(token_end AS BIGINT) AS token_end,
           CAST(token_end - token_start + 1 AS BIGINT) AS run_tokens
    FROM runs
    WHERE token_end - token_start + 1 >= {D19_MIN_RUN}
    """,
)
def d19_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # All span OCCURRENCES with start positions — no distinct: a span
    # repeated twice within one document is duplicated content too.
    spans = (
        docs.select(
            "doc_id",
            F.posexplode(F.expr(word_windows("split(text, ' ')", D19_SPAN))).alias("pos", "g"),
        )
        # h is internal-only (never output) so the engines need not
        # hash identically — xxhash64 keeps the shuffle key at 8 bytes
        # (d10/d12 precedent); the oracle keys on md5.
        .select("doc_id", "pos", F.xxhash64("g").alias("h"))
    )
    counted = spans.withColumn("n_occ", F.count("*").over(W.partitionBy("h")))
    duppos = counted.filter(F.col("n_occ") >= 2).select("doc_id", "pos")
    w_doc = W.partitionBy("doc_id").orderBy("pos")
    return (
        duppos.withColumn("g", F.col("pos") - F.row_number().over(w_doc))
        .groupBy("doc_id", "g")
        .agg(
            F.min("pos").cast("long").alias("token_start"),
            (F.max("pos") + F.lit(D19_SPAN - 1)).cast("long").alias("token_end"),
        )
        .drop("g")
        .withColumn(
            "run_tokens", (F.col("token_end") - F.col("token_start") + 1).cast("long")
        )
        .filter(F.col("run_tokens") >= D19_MIN_RUN)
        .select("doc_id", "token_start", "token_end", "run_tokens")
    )


# --------------------------------------------------------------------------
# d20: content-defined chunking (CDC) dedup — the FastCDC/LBFS family:
# chunk boundaries are decided by the CONTENT (a token whose hash is
# ≡ 0 mod CDC_MOD opens a new chunk), not by fixed offsets, so the
# same text region produces the same chunks wherever it appears —
# insertions/deletions shift fixed windows but leave CDC chunks
# aligned. Identical chunks are then detected corpus-wide by hash and
# each document reports what fraction of its tokens live in chunks
# that occur more than once (storage-dedup and near-dup triage signal
# complementary to d12's fixed-width spans).
#
# Scale: chunking is row-local array work (one split + one filter +
# one transform per doc, zero shuffle); popularity is one
# COUNT(*) OVER (PARTITION BY chunk-hash) shuffle on an 8-byte
# xxhash64 key (uniform); per-doc rollup shuffles on doc_id. Average
# chunk length is CDC_MOD tokens regardless of corpus size.
# --------------------------------------------------------------------------
CDC_MOD = 8

# Spark-SQL twin of hashing.md5_prefix_long for use inside lambda
# expressions (conv is Spark-side only; the oracle uses
# md5_prefix_long_sql's strpos expansion).
_SPARK_TOKHASH = "CAST(conv(substring(md5({0}), 1, 8), 16, 10) AS BIGINT)"


def _cdc_flat_ctes() -> str:
    """CTE chain ``toks, bounded, chunks, flat`` — the content-defined
    chunking pipeline shared by d20 (corpus-wide popularity) and t43
    (within-doc repetition)."""
    tok_hash = md5_prefix_long_sql("l[i]")
    return f"""toks AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    bounded AS (
      SELECT doc_id, l, n,
             list_prepend(1, list_filter(range(2, n + 1),
                 i -> {tok_hash} % {CDC_MOD} = 0)) AS starts
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, n,
             unnest(list_transform(range(1, len(starts) + 1),
                 j -> struct_pack(
                   chunk_id := j - 1,
                   n_tok := (CASE WHEN j < len(starts)
                             THEN starts[j + 1] - 1 ELSE n END) - starts[j] + 1,
                   h := md5(array_to_string(list_slice(l, starts[j],
                       CASE WHEN j < len(starts)
                            THEN starts[j + 1] - 1 ELSE n END), ' '))))) AS c
      FROM bounded
    ),
    flat AS (SELECT doc_id, n, c.chunk_id, c.n_tok, c.h FROM chunks)"""


def _cdc_oracle() -> str:
    return f"""
    WITH {_cdc_flat_ctes()},
    pop AS (
      SELECT doc_id, n, n_tok,
             COUNT(*) OVER (PARTITION BY h) AS n_occ
      FROM flat
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (WHERE n_occ >= 2) AS BIGINT) AS n_dup_chunks,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_tokens,
           CAST(COALESCE(SUM(n_tok) FILTER (WHERE n_occ >= 2), 0) AS BIGINT)
             AS dup_tokens,
           CAST((1000 * COALESCE(SUM(n_tok) FILTER (WHERE n_occ >= 2), 0))
                // ANY_VALUE(n) AS BIGINT) AS dup_ratio_milli
    FROM pop
    GROUP BY doc_id
    """


def _cdc_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok_hash = _SPARK_TOKHASH.format("toks[i]")
    # starts is bound as a COLUMN before the chunk transform so each
    # token is hashed exactly once — inlining the filter into the
    # per-chunk lambda would re-hash the whole token array per chunk
    # (the word_windows re-split trap, O(n²/CDC_MOD) hashing).
    flat = (
        docs.filter(F.size(F.split("text", " ")) >= 1)
        .select("doc_id", "text", F.split("text", " ").alias("toks"))
        .withColumn(
            "starts",
            # sequence(0, size-1) is always ascending (size >= 1 here);
            # sequence(1, size-1) would auto-descend to [1, 0] for a
            # single-token doc — an ANSI-mode index error, or with ANSI
            # off a spurious boundary test at position 0 that the oracle
            # (range(2, n+1)) never performs.
            F.expr(
                "concat(array(0), filter(sequence(0, size(toks) - 1),"
                f" i -> i >= 1 AND {tok_hash} % {CDC_MOD} = 0))"
            ),
        )
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.expr(
                    "transform(starts, (s, j) -> struct("
                    " j AS chunk_id,"
                    " s AS start,"
                    " coalesce(try_element_at(starts, j + 2), size(toks)) AS nxt))"
                )
            ).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("toks").alias("n"),
            (F.col("c.nxt") - F.col("c.start")).alias("n_tok"),
            F.expr(
                "concat_ws(' ', slice(toks, c.start + 1, c.nxt - c.start))"
            ).alias("chunk_text"),
        )
        # Internal popularity key — xxhash64 (8-byte shuffle key, d19
        # precedent); the oracle keys the same chunks on md5.
        .select(
            "doc_id", "n", "n_tok", F.xxhash64("chunk_text").alias("h")
        )
    )
    return flat


@register("d20_cdc_chunk_dedup", oracle=_cdc_oracle())
def d20_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _cdc_flat(spark, sf_dir)
    pop = flat.withColumn("n_occ", F.count("*").over(W.partitionBy("h")))
    is_dup = F.col("n_occ") >= 2
    return pop.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count(F.when(is_dup, 1)).alias("n_dup_chunks"),
        F.any_value("n").cast("long").alias("n_tokens"),
        F.coalesce(F.sum(F.when(is_dup, F.col("n_tok"))), F.lit(0))
        .cast("long")
        .alias("dup_tokens"),
        F.expr(
            "CAST((1000 * coalesce(sum(CASE WHEN n_occ >= 2 THEN n_tok END), 0))"
            " div any_value(n) AS BIGINT)"
        ).alias("dup_ratio_milli"),
    )


# --------------------------------------------------------------------------
# d22: idf-weighted cosine similarity join — the third similarity
# space after set-Jaccard (d04) and embedding-cosine (d05/d06):
# documents as sparse rarity-weighted bigram vectors, compared by
# cosine. Candidate generation is the inverted-index pruning of
# Bayardo et al. 2007 ("Scaling Up All Pairs Similarity Search"):
# index only terms with document frequency <= N/50 — at cosine
# >= 0.75 with idf² weighting, similarity is necessarily carried by
# RARE shared terms, so dropping the high-df "stop" terms from the
# index bounds every posting list (hence every term's pair fan-out)
# while measuring candidate recall 1.0 vs the all-pairs baseline on
# the fixture (pytest floor 0.9). Verification computes the exact
# weighted cosine over ALL shared terms of each candidate pair.
#
# Determinism: idf is integer ((N*1000) div df, capped at 10^6 so the
# dot product stays far inside int64 at any corpus size); dot and
# norm² aggregate as exact integers; the float tail (sqrt — IEEE
# -exact — and one division) is a fixed expression, dround(6)-guarded.
#
# Scale: df table is vocabulary-sized (map-side combine); the
# candidate join fans out <= C(D22_RARE_DF_CAP, 2) pairs per indexed
# term by construction (a CONSTANT — see the D22_RARE_DF_CAP note:
# the cap must not grow with n or the self-join goes quadratic, the
# round-13 10x finding); verification joins only candidate pairs
# against the term stream. Like every sketch-recall operator here
# (s02/s03), the candidate stage trades recall for scale; the pytest
# audit measures it against the all-pairs baseline.
# --------------------------------------------------------------------------
D22_COS_THRESHOLD = 0.75
D22_IDF_CAP = 1_000_000
# Posting-length bound for the rare-term index. The rarity rule is
# df <= max(2, min(D22_RARE_DF_CAP, n_docs div 50)): the n/50 ramp
# keeps tiny fixtures from indexing nothing, and the CONSTANT cap is
# what makes the candidate self-join linear in corpus size — without
# it the "rare" threshold grows with n, and terms that are stop-terms
# at one scale become indexed at 10x that scale with C(df,2) pair
# fan-out each (measured: the 10x spot-check's d22 spilled >50 GB and
# died before this cap existed; with it, per-term fan-out is
# <= C(100,2) at ANY corpus size). 100 == n/50 exactly at the sf0.1
# gate fixture, so results at every test SF are bit-identical; at
# larger corpora the cap trades candidate recall for boundedness —
# the same knob every sketch-recall operator here exposes (d02's
# bands, s03's nprobe), audited by the pytest recall floor.
D22_RARE_DF_CAP = 100


def _d22_oracle() -> str:
    return f"""
    WITH terms AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(string_split(text, ' '))),
                 i -> concat_ws(' ', string_split(text, ' ')[i],
                                string_split(text, ' ')[i+1])))) AS t
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    n_docs AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM terms),
    dfreq AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM terms GROUP BY t
    ),
    weighted AS (
      SELECT x.doc_id, x.t,
             LEAST((n.n * 1000) // d.df, {D22_IDF_CAP}) AS idf
      FROM terms x JOIN dfreq d ON d.t = x.t CROSS JOIN n_docs n
    ),
    norms AS (
      SELECT doc_id, CAST(SUM(idf * idf) AS BIGINT) AS norm2
      FROM weighted GROUP BY doc_id
    ),
    rare AS (
      SELECT w.doc_id, w.t FROM weighted w
      JOIN dfreq d ON d.t = w.t CROSS JOIN n_docs n
      WHERE d.df <= GREATEST(2, LEAST({D22_RARE_DF_CAP}, n.n // 50))
    ),
    cand AS (
      SELECT DISTINCT r1.doc_id AS doc_a, r2.doc_id AS doc_b
      FROM rare r1 JOIN rare r2 ON r1.t = r2.t AND r1.doc_id < r2.doc_id
    ),
    dots AS (
      SELECT c.doc_a, c.doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(wa.idf * wb.idf) AS BIGINT) AS dot
      FROM cand c
      JOIN weighted wa ON wa.doc_id = c.doc_a
      JOIN weighted wb ON wb.doc_id = c.doc_b AND wb.t = wa.t
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT d.doc_a, d.doc_b, d.n_common,
           ROUND(d.dot / (sqrt(na.norm2) * sqrt(nb.norm2)), 6) AS cosine_sim
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE d.dot / (sqrt(na.norm2) * sqrt(nb.norm2)) >= {D22_COS_THRESHOLD}
    """


def _d22_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = _bigrams_df(spark, sf_dir).select(
        "doc_id", F.explode("bigrams").alias("t")
    )
    # Internal-only join key: xxhash64 keeps every downstream shuffle
    # and join on an 8-byte key (d10/d19 precedent — never an output
    # value; the oracle keys the same terms as strings). The term
    # string itself is not needed downstream — every consumer joins and
    # filters on (th, df, idf) alone — so it is dropped here to keep
    # the fan-out shuffles narrow.
    terms = terms.select("doc_id", F.xxhash64("t").alias("th"))

    def _build_weighted() -> DataFrame:
        n_docs = terms.select("doc_id").distinct().agg(F.count("*").alias("n"))
        dfreq = terms.groupBy("th").agg(F.count("*").alias("df"))
        return (
            terms.join(dfreq, "th")
            .join(F.broadcast(n_docs))
            .select(
                "doc_id", "th", "df",
                F.least(
                    F.expr("(n * 1000) div df"), F.lit(D22_IDF_CAP)
                ).alias("idf"),
                "n",
            )
        )

    # The weighted table feeds four consumers (norms, the rare index,
    # both dot-join sides). A per-run localCheckpoint measured WORSE
    # than recompute (3.8-23.5s worst case at sf0.1: re-writing the
    # blocks every run churned the block manager), but the session memo
    # (materialize.py, the s03-centroid pattern) checkpoints ONCE per
    # (session, sf_dir) and every consumer — and every rerun — reads
    # the same blocks: the df/idf tables are derived once instead of
    # 4x per run. On a cluster the same role is played by a writeback
    # table (checkpoint() to object storage; SCALING.md ground rule).
    return _materialized(spark, sf_dir, "d22_weighted", _build_weighted)


@register_candidates("d22_cosine_tfidf_neardup")
def _d22_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayardo-style rare-term (df-capped) postings self-join — the
    candidate pairs the cosine verify then scores."""
    weighted = _d22_weighted(spark, sf_dir)
    rare = weighted.filter(
        F.col("df")
        <= F.greatest(
            F.lit(2), F.least(F.lit(D22_RARE_DF_CAP), F.expr("n div 50"))
        )
    ).select("doc_id", "th")
    r1 = rare.select(F.col("doc_id").alias("doc_a"), "th")
    r2 = rare.select(F.col("doc_id").alias("doc_b"), "th")
    return r1.join(r2, "th").filter(F.col("doc_a") < F.col("doc_b"))


@register("d22_cosine_tfidf_neardup", oracle=_d22_oracle())
def d22_cosine_tfidf_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    weighted = _d22_weighted(spark, sf_dir)
    cand = _d22_candidates(spark, sf_dir).select("doc_a", "doc_b").distinct()
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("idf") * F.col("idf")).alias("norm2")
    )
    wa = weighted.select(
        F.col("doc_id").alias("doc_a"), "th", F.col("idf").alias("idf_a")
    )
    wb = weighted.select(
        F.col("doc_id").alias("doc_b"), "th", F.col("idf").alias("idf_b")
    )
    dots = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "th"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(F.col("idf_a") * F.col("idf_b")).alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("nb2"))
    cos = F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= D22_COS_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", dround(cos, 6).alias("cosine_sim"))
    )


# --------------------------------------------------------------------------
# d35: LOSSLESS cosine prefix-filtered similarity join — Bayardo et
# al. 2007 / ssjoin prefix filtering, added after the round-13 10×
# run showed d22's df-capped index is the LOSSY trade at scale (the
# constant cap bounds work but can miss pairs whose shared terms are
# all commoner than the cap). Prefix filtering is recall-1 BY THEOREM:
# sort each doc's terms by weight descending and index the minimal
# head whose complement ("suffix") has squared norm < t · ‖x‖² —
# then for any pair with NO shared term indexed on EITHER side,
#   dot(x,y) ≤ ‖x_suffix‖·‖y_suffix‖ < √t·√t·‖x‖‖y‖ = t·‖x‖‖y‖,
# i.e. cos < t strictly, so candidates (pairs sharing an indexed
# term of either side) ⊇ every pair with cos ≥ t. At t = 3/4 the
# prefix rule is EXACT INTEGER arithmetic: suffix² < t·norm² ⟺
# 4·(norm2 − headsum) < 3·norm2 ⟺ 4·headsum > norm2 — no floats in
# candidate generation at all. Verification is d22's exact weighted
# cosine; same idf² weighting, same threshold, so d35's OUTPUT equals
# the all-pairs truth — which is exactly what the oracle computes
# (brute force over every term-sharing pair, candidate-blind), making
# the driver row a losslessness proof, not a twin-plan echo. The
# weight-tie order (Spark breaks ties by xxhash64(term), DuckDB by the
# term string) can produce different PREFIXES, but the theorem holds
# for any descending-weight order, so the verified output is
# tie-order-independent.
#
# Scale — measured, and the honest verdict: prefix filtering's
# pruning power comes from SKEWED weight mass (real corpora, where a
# few rare terms carry most of a doc's idf² norm, so the 25%-mass head
# is a handful of rare short-posting terms). This fixture's bigram
# weights are near-uniform, so the head spans ~25% of every doc's
# terms INCLUDING common ones, and the filter degenerates toward
# all-pairs: 164·N candidates at N=500, 2868·N at N=5000 (≈ C(N,2)) —
# pruning ~nothing. d35 is therefore kept as the LOSSLESS AUDIT of the
# family (the driver row pins recall-1 against the candidate-blind
# all-pairs truth; its candidate stage is deliberately NOT in the
# CANDIDATE_STAGES k·N budget registry, whose purpose is gating
# production enumerations), and it is bench-skipped on the d04/d07
# precedent: d22 (capped, bounded, lossy-by-construction, empirically
# recall-1 here — both emit the same 1038 pairs at sf0.1) stays the
# production kernel on this corpus shape, and a skewed-weight corpus
# is where a production pipeline would flip to the prefix filter.
# --------------------------------------------------------------------------
def _d35_oracle() -> str:
    return f"""
    WITH terms AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(string_split(text, ' '))),
                 i -> concat_ws(' ', string_split(text, ' ')[i],
                                string_split(text, ' ')[i+1])))) AS t
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    n_docs AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM terms),
    dfreq AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM terms GROUP BY t
    ),
    weighted AS (
      SELECT x.doc_id, x.t,
             LEAST((n.n * 1000) // d.df, {D22_IDF_CAP}) AS idf
      FROM terms x JOIN dfreq d ON d.t = x.t CROSS JOIN n_docs n
    ),
    norms AS (
      SELECT doc_id, CAST(SUM(idf * idf) AS BIGINT) AS norm2
      FROM weighted GROUP BY doc_id
    ),
    -- candidate-BLIND truth: every pair sharing at least one term,
    -- scored exactly (the all-pairs baseline d35's prefix filter must
    -- not lose a single above-threshold pair of)
    dots AS (
      SELECT wa.doc_id AS doc_a, wb.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(wa.idf * wb.idf) AS BIGINT) AS dot
      FROM weighted wa JOIN weighted wb
        ON wb.t = wa.t AND wa.doc_id < wb.doc_id
      GROUP BY wa.doc_id, wb.doc_id
    )
    SELECT d.doc_a, d.doc_b, d.n_common,
           ROUND(d.dot / (sqrt(na.norm2) * sqrt(nb.norm2)), 6) AS cosine_sim
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE d.dot / (sqrt(na.norm2) * sqrt(nb.norm2)) >= {D22_COS_THRESHOLD}
    """


def _d35_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless prefix-filter candidates: pairs sharing a term indexed
    in EITHER side's top-weight prefix (4·headsum > norm2 rule).
    Deliberately NOT a registered candidate stage — see the header's
    Scale note: this is the audit path, not a budgeted production
    enumeration (it degenerates to ~all-pairs on flat-weight data)."""
    weighted = _d22_weighted(spark, sf_dir)
    w_doc = W.partitionBy("doc_id").orderBy(
        F.col("idf").desc(), F.col("th")
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("idf") * F.col("idf")).alias("norm2")
    )
    # minimal head whose cumulative idf² pushes 4·headsum past norm2:
    # keep every term whose PRECEDING cumulative sum still fails the
    # bound (the crossing term itself is included)
    cum = weighted.withColumn(
        "headsum", F.sum(F.col("idf") * F.col("idf")).over(w_doc)
    )
    prefix = (
        cum.join(norms, "doc_id")
        .filter(
            4 * (F.col("headsum") - F.col("idf") * F.col("idf"))
            <= F.col("norm2")
        )
        .select("doc_id", "th")
    )
    p1 = prefix.select(F.col("doc_id").alias("doc_a"), "th")
    p2 = prefix.select(F.col("doc_id").alias("doc_b"), "th")
    a1 = weighted.select(F.col("doc_id").alias("doc_a"), "th")
    a2 = weighted.select(F.col("doc_id").alias("doc_b"), "th")
    # prefix(x) ⋈ all(y) in both roles covers "indexed on EITHER side"
    return (
        p1.join(a2, "th")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .unionByName(
            a1.join(p2, "th").filter(F.col("doc_a") < F.col("doc_b"))
        )
    )


@register("d35_cosine_prefix_filtered", oracle=_d35_oracle())
def d35_cosine_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    weighted = _d22_weighted(spark, sf_dir)
    cand = _d35_candidates(spark, sf_dir).select("doc_a", "doc_b").distinct()
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("idf") * F.col("idf")).alias("norm2")
    )
    wa = weighted.select(
        F.col("doc_id").alias("doc_a"), "th", F.col("idf").alias("idf_a")
    )
    wb = weighted.select(
        F.col("doc_id").alias("doc_b"), "th", F.col("idf").alias("idf_b")
    )
    dots = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "th"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(F.col("idf_a") * F.col("idf_b")).alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("nb2"))
    cos = F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= D22_COS_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", dround(cos, 6).alias("cosine_sim"))
    )


# --------------------------------------------------------------------------
# d23: eval-side contamination report — the reverse direction of d10:
# for each EVAL document, what fraction of its distinct shingles
# appears anywhere in the training split. This is the per-benchmark-
# item contamination percentage that model-card decontamination
# reports publish (cf. the n-gram overlap audits in GPT-3/PaLM
# appendices), whereas d10/d15 answer the training-side question
# "which train docs must be dropped".
#
# Scale (100 TB): the eval shingle-key set is benchmark-sized, so it
# BROADCASTS; the training stream is semi-joined against it in the
# scan stage (no shuffle of the corpus), and only the matched keys —
# bounded by the eval universe, not the corpus — are deduplicated
# before the final per-eval-doc rollup. The training side never
# shuffles at corpus scale.
# --------------------------------------------------------------------------
@register(
    "d23_eval_contamination_report",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    exploded AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    eval_sh AS (
      SELECT doc_id, s FROM exploded WHERE doc_id % {EVAL_SET_MOD} = 0
    ),
    matched AS (
      SELECT DISTINCT e.s
      FROM exploded t JOIN (SELECT DISTINCT s FROM eval_sh) e ON t.s = e.s
      WHERE t.doc_id % {EVAL_SET_MOD} <> 0
    )
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(m.s) AS BIGINT) AS n_in_train,
           CAST((1000 * COUNT(m.s)) // COUNT(*) AS BIGINT)
             AS contamination_milli,
           COUNT(m.s) = COUNT(*) AS fully_contained
    FROM eval_sh e LEFT JOIN matched m ON m.s = e.s
    GROUP BY e.doc_id
    """,
)
def d23_eval_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_df(spark, sf_dir)
    exploded = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", F.xxhash64("s").alias("gh")
    )
    eval_sh = exploded.filter(F.col("doc_id") % EVAL_SET_MOD == 0)
    eval_keys = eval_sh.select("gh").distinct()
    train = exploded.filter(F.col("doc_id") % EVAL_SET_MOD != 0)
    matched = (
        train.join(F.broadcast(eval_keys), "gh").select("gh").distinct()
    )
    return (
        eval_sh.join(
            matched.withColumn("hit", F.lit(1)), "gh", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_in_train"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_in_train",
            F.expr("(1000 * n_in_train) div n_shingles").alias(
                "contamination_milli"
            ),
            (F.col("n_in_train") == F.col("n_shingles")).alias("fully_contained"),
        )
    )


# --------------------------------------------------------------------------
# d24: frequency-aware downsampling — the SOFT alternative to hard
# dedup (keep one copy, drop the rest): every duplicate-group member
# survives with probability 1/n_copies, so the EXPECTED number of
# surviving copies per distinct text is exactly one while the choice
# stays independent per document (the "downweight duplicates instead
# of deleting them" recipe used when exact dedup is too destructive).
# The coin is the deterministic md5-derived key of the doc_id (t08/t21
# precedent), so the sample is reproducible and oracle-replayable.
#
# Scale: one hash-groupBy for copy counts (d01's shuffle), one
# broadcast-size-safe join back on the 128-bit content key, then a
# row-local keep decision — no new shuffle shape.
# --------------------------------------------------------------------------
@register(
    "d24_frequency_downsample",
    oracle=f"""
    WITH copies AS (
      SELECT md5(lower(trim(text))) AS h,
             CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY 1
    ),
    scored AS (
      SELECT d.doc_id, c.n_copies,
             (1000000 // c.n_copies) AS keep_ppm,
             {md5_prefix_long_sql("CAST(d.doc_id AS VARCHAR)")} % 1000000
               AS coin_ppm
      FROM documents d JOIN copies c ON md5(lower(trim(d.text))) = c.h
    )
    SELECT doc_id, n_copies, CAST(keep_ppm AS BIGINT) AS keep_ppm,
           CAST(coin_ppm AS BIGINT) AS coin_ppm,
           coin_ppm < keep_ppm AS kept
    FROM scored
    """,
)
def d24_frequency_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    h = F.md5(F.lower(F.trim(F.col("text"))))
    copies = docs.groupBy(h.alias("h")).agg(F.count("*").alias("n_copies"))
    scored = (
        docs.select("doc_id", h.alias("h"))
        .join(copies, "h")
        .select(
            "doc_id",
            "n_copies",
            F.expr("1000000 div n_copies").alias("keep_ppm"),
            (md5_prefix_long(F.col("doc_id").cast("string")) % 1_000_000).alias(
                "coin_ppm"
            ),
        )
    )
    return scored.select(
        "doc_id", "n_copies", "keep_ppm", "coin_ppm",
        (F.col("coin_ppm") < F.col("keep_ppm")).alias("kept"),
    )


# --------------------------------------------------------------------------
# d25: paragraph-granularity near-dup — the gap between d12/d19 (exact
# repeated spans) and d17 (whole-doc semantic): a doc can be globally
# novel while individual PARAGRAPHS are lifted near-verbatim from other
# docs (template reuse, quoted boilerplate, syndicated passages).
# Composition a curation pipeline actually ships: chunk via t17's
# slice machinery (stride = chunk size → non-overlapping windows, so
# token accounting stays exact — the d16 mask discipline), push the
# CHUNKS through the d02 MinHash-band kernel (same hash constants,
# same band layout), verify candidate chunk pairs by shingle Jaccard,
# and roll up per doc: how many of its paragraphs have a cross-doc
# near-dup, and what token fraction that contaminates.
#
# Scale (100 TB): chunks multiply rows ~n/32-fold but every stage
# stays the d02 shape — banding equi-join on (band_id, band_key)
# yields CANDIDATES only (never all-pairs across chunks), the verify
# join touches candidates, and the rollup is one doc_id-keyed agg.
# Cross-doc filter (doc_a < doc_b) also kills the trivial self-matches
# of overlapping windows — another reason the windows don't overlap.
# The chunk-shingle table feeds three consumers (sigs, both verify
# sides) and is session-materialized like d22's term pipeline.
# --------------------------------------------------------------------------
D25_CHUNK = 32
D25_JACCARD = 0.6


def _d25_oracle() -> str:
    h = md5_prefix_long_sql("sh")
    mh_exprs = ",\n             ".join(
        f"MIN({minhash_value_sql('h', a, b)}) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    band_rows = []
    for band in range(N_BANDS):
        lo = band * ROWS_PER_BAND
        cols = " || '-' || ".join(
            f"CAST(mh{j} AS VARCHAR)" for j in range(lo, lo + ROWS_PER_BAND)
        )
        band_rows.append(
            f"SELECT doc_id, chunk_id, {band} AS band_id, {cols} AS band_key"
            " FROM sigs"
        )
    bands_sql = "\n      UNION ALL\n      ".join(band_rows)
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    idx AS (
      SELECT doc_id, t, n,
             UNNEST(generate_series(0,
               CAST(CEIL(GREATEST(n - {D25_CHUNK}, 0) / {D25_CHUNK}.0)
                    AS BIGINT))) AS k
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, k AS chunk_id, n,
             list_slice(t, k * {D25_CHUNK} + 1,
                        k * {D25_CHUNK} + {D25_CHUNK}) AS ct
      FROM idx
    ),
    csh AS (
      SELECT doc_id, chunk_id,
             list_distinct(list_transform(range(1, len(ct) - 1),
               i -> concat_ws(' ', ct[i], ct[i+1], ct[i+2]))) AS shingles
      FROM chunks
      WHERE len(ct) >= 3
    ),
    exploded AS (
      SELECT doc_id, chunk_id, unnest(shingles) AS sh FROM csh
    ),
    hashed AS (
      SELECT doc_id, chunk_id, {h} AS h FROM exploded
    ),
    sigs AS (
      SELECT doc_id, chunk_id, {mh_exprs}
      FROM hashed GROUP BY doc_id, chunk_id
    ),
    bands AS (
      {bands_sql}
    ),
    cand AS (
      SELECT DISTINCT b1.doc_id AS da, b1.chunk_id AS ca,
                      b2.doc_id AS db, b2.chunk_id AS cb
      FROM bands b1 JOIN bands b2
        ON b1.band_id = b2.band_id AND b1.band_key = b2.band_key
       AND b1.doc_id < b2.doc_id
    ),
    verified AS (
      SELECT c.da, c.ca, c.db, c.cb
      FROM cand c
      JOIN csh a ON c.da = a.doc_id AND c.ca = a.chunk_id
      JOIN csh b ON c.db = b.doc_id AND c.cb = b.chunk_id
      WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
            (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) >= {D25_JACCARD}
    ),
    dup_chunks AS (
      SELECT DISTINCT doc_id, chunk_id FROM (
        SELECT da AS doc_id, ca AS chunk_id FROM verified
        UNION ALL
        SELECT db AS doc_id, cb AS chunk_id FROM verified
      )
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (WHERE d.chunk_id IS NOT NULL) AS BIGINT)
             AS n_dup_chunks,
           CAST(ANY_VALUE(c.n) AS BIGINT) AS n_tokens,
           CAST(COALESCE(SUM(len(c.ct))
                         FILTER (WHERE d.chunk_id IS NOT NULL), 0) AS BIGINT)
             AS dup_tokens,
           CAST((1000 * COALESCE(SUM(len(c.ct))
                                 FILTER (WHERE d.chunk_id IS NOT NULL), 0))
                // ANY_VALUE(c.n) AS BIGINT) AS dup_ratio_milli
    FROM chunks c
    LEFT JOIN dup_chunks d
      ON c.doc_id = d.doc_id AND c.chunk_id = d.chunk_id
    GROUP BY c.doc_id
    """


def _d25_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).alias("n"),
    )
    n_extra = F.ceil(
        F.greatest(F.col("n") - D25_CHUNK, F.lit(0)) / F.lit(float(D25_CHUNK))
    ).cast("long")
    piece = F.slice(
        F.col("t"), (F.col("chunk_id") * D25_CHUNK + 1).cast("int"), D25_CHUNK
    )
    return toks.select(
        "doc_id",
        "t",
        "n",
        F.explode(F.sequence(F.lit(0).cast("long"), n_extra)).alias("chunk_id"),
    ).select("doc_id", "chunk_id", "n", piece.alias("ct"))


def _d25_chunk_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = _d25_chunks(spark, sf_dir)

    def _build_chunk_shingles() -> DataFrame:
        return chunks.filter(F.size("ct") >= 3).select(
            "doc_id",
            "chunk_id",
            F.array_distinct(F.expr(word_windows("ct", 3))).alias("shingles"),
        )

    return _materialized(spark, sf_dir, "d25_chunk_shingles", _build_chunk_shingles)


@register_candidates("d25_paragraph_neardup")
def _d25_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk banding equi-join (d02's kernel over paragraph chunks):
    candidate (doc, chunk) pairs the Jaccard verify then scores."""
    keys = ["doc_id", "chunk_id"]
    bands = band_select(minhash_sigs(_d25_chunk_shingles(spark, sf_dir), keys), keys)
    # doc_a < doc_b keeps the pairs cross-doc: paragraph contamination
    # means ANOTHER doc
    return band_pairs(
        bands, da="a.doc_id", ca="a.chunk_id", db="b.doc_id", cb="b.chunk_id"
    )


@register("d25_paragraph_neardup", oracle=_d25_oracle())
def d25_paragraph_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = _d25_chunks(spark, sf_dir)
    csh = _d25_chunk_shingles(spark, sf_dir)
    cand = _d25_candidates(spark, sf_dir).distinct()
    a = csh.select(
        F.col("doc_id").alias("da"), F.col("chunk_id").alias("ca"),
        F.col("shingles").alias("sh_a"),
    )
    b = csh.select(
        F.col("doc_id").alias("db"), F.col("chunk_id").alias("cb"),
        F.col("shingles").alias("sh_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    verified = (
        cand.join(a, ["da", "ca"])
        .join(b, ["db", "cb"])
        .filter(inter.cast("double") / union >= D25_JACCARD)
        .select("da", "ca", "db", "cb")
    )
    # Both endpoints of each verified pair are contaminated — emit them
    # in ONE pass (explode of a 2-struct array) instead of a two-sided
    # union, which would plan the whole candidate+verify subtree twice.
    dup_chunks = (
        verified.select(
            F.explode(
                F.expr(
                    "array(struct(da AS doc_id, ca AS chunk_id),"
                    " struct(db AS doc_id, cb AS chunk_id))"
                )
            ).alias("e")
        )
        .select("e.doc_id", "e.chunk_id")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    is_dup = F.col("is_dup").isNotNull()
    return (
        chunks.join(dup_chunks, ["doc_id", "chunk_id"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count(F.when(is_dup, 1)).alias("n_dup_chunks"),
            F.any_value("n").cast("long").alias("n_tokens"),
            F.coalesce(F.sum(F.when(is_dup, F.size("ct"))), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.expr(
                "CAST((1000 * coalesce(sum(CASE WHEN is_dup IS NOT NULL"
                " THEN size(ct) END), 0)) div any_value(n) AS BIGINT)"
            ).alias("dup_ratio_milli"),
        )
    )


# --------------------------------------------------------------------------
# d26: containment-verified near-dup — the ASYMMETRIC complement of
# d02's Jaccard: containment(A in B) = |A ∩ B| / |A| detects docs that
# are near-SUBSETS of another (quoted passages, article + wrapper
# boilerplate, truncated re-posts) which symmetric Jaccard misses
# whenever the containing doc is much larger (J = |∩|/|∪| shrinks with
# |B| while containment doesn't — the distinction Broder 1997 draws
# between resemblance and containment). Candidates come from the SAME
# banding equi-join as d02 (shared _lsh_candidate_pairs pipeline);
# verification computes both directions exactly and keeps pairs where
# either side is mostly contained in the other, labeling the subset
# side.
#
# Scale (100 TB): identical candidate-bounded shape as d02 — banding
# yields candidates, the shingle-array join touches candidates only.
# Caveat the output documents: banding recall is tuned for
# RESEMBLANCE, so a tiny quote inside a huge doc may not band-collide;
# the span-level operators (d12/d19/d25) are the high-recall path for
# small-fragment containment, while d26 covers the near-subset regime.
# --------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.7


@register(
    "d26_containment_neardup",
    oracle=f"""
    WITH {_lsh_cand_ctes()},
    verified AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.shingles, b.shingles)) AS n_common,
             len(a.shingles) AS n_a,
             len(b.shingles) AS n_b,
             len(list_intersect(a.shingles, b.shingles)) * 1.0
               / len(a.shingles) AS c_ab,
             len(list_intersect(a.shingles, b.shingles)) * 1.0
               / len(b.shingles) AS c_ba
      FROM cand c JOIN sh a ON c.doc_a = a.doc_id
                  JOIN sh b ON c.doc_b = b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           ROUND(c_ab, 6) AS containment_ab,
           ROUND(c_ba, 6) AS containment_ba,
           CASE WHEN c_ab >= c_ba THEN doc_a ELSE doc_b END AS subset_doc
    FROM verified
    WHERE GREATEST(c_ab, c_ba) >= {CONTAINMENT_THRESHOLD}
    """,
)
def d26_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_df(spark, sf_dir)
    cand = _lsh_candidate_pairs(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    c_ab = inter.cast("double") / F.size("sh_a")
    c_ba = inter.cast("double") / F.size("sh_b")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", inter.cast("long"))
        .withColumn("c_ab", c_ab)
        .withColumn("c_ba", c_ba)
        .filter(F.greatest("c_ab", "c_ba") >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a", "doc_b", "n_common",
            dround("c_ab", 6).alias("containment_ab"),
            dround("c_ba", 6).alias("containment_ba"),
            F.when(F.col("c_ab") >= F.col("c_ba"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("subset_doc"),
        )
    )


# --------------------------------------------------------------------------
# g03: degree profile + degree assortativity of the near-dup graph —
# the graph-health summary a dedup pipeline reads before trusting
# cluster-level decisions (Newman 2002 assortativity): positive r
# means high-degree docs (template hubs) link to each other (big
# near-dup families), negative r means hubs link to leaves (one
# canonical + many variants). Pearson r over edge-endpoint degrees
# with the edge list symmetrized (both orientations — the standard
# undirected treatment, which makes Σx = Σy and Σx² = Σy², so
# r = (nΣxy − S²) / (nQ − S²) over exact integer sums; the single
# float division is a fixed expression, dround(6)-guarded; NULL when
# degrees are constant).
#
# Scale: shares the memoized simhash pair list (d03/g01/g02); degrees
# are one group count; the metric is a 1-row aggregate over the edge
# list with map-side partials — nothing beyond the graph build.
# --------------------------------------------------------------------------
def _g03_oracle() -> str:
    return f"""
    WITH {_simhash_sig_sql().strip()},
    pairs AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    ),
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS id FROM pairs UNION ALL SELECT doc_b AS id FROM pairs
      ) GROUP BY id
    ),
    sym AS (
      SELECT da.d AS x, db.d AS y
      FROM pairs p JOIN deg da ON da.id = p.doc_a
                   JOIN deg db ON db.id = p.doc_b
      UNION ALL
      SELECT db.d, da.d
      FROM pairs p JOIN deg da ON da.id = p.doc_a
                   JOIN deg db ON db.id = p.doc_b
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS q
      FROM sym
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(MAX(d) AS BIGINT) FROM deg) AS max_degree,
           (SELECT CAST((1000 * SUM(d)) // COUNT(*) AS BIGINT) FROM deg)
             AS mean_degree_milli,
           ROUND((sums.n * sums.sxy - sums.s * sums.s) * 1.0
                 / NULLIF(sums.n * sums.q - sums.s * sums.s, 0), 6)
             AS assortativity
    FROM sums
    """


@register("g03_degree_assortativity", oracle=_g03_oracle())
def g03_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        pairs.select(F.col("doc_a").alias("id"))
        .unionAll(pairs.select(F.col("doc_b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("id").alias("doc_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("id").alias("doc_b"), F.col("d").alias("d_b"))
    # Both orientations in ONE pass (the d25 two-struct explode — a
    # two-sided union would plan the pair+degree join twice).
    sym = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.explode(
                F.expr(
                    "array(struct(d_a AS x, d_b AS y),"
                    " struct(d_b AS x, d_a AS y))"
                )
            ).alias("e")
        )
        .select("e.x", "e.y")
    )
    sums = sym.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    node_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.max("d").alias("max_degree"),
        F.expr("CAST((1000 * sum(d)) div count(*) AS BIGINT)").alias(
            "mean_degree_milli"
        ),
    )
    edge_count = pairs.agg(F.count("*").alias("n_edges"))
    r = (F.col("n") * F.col("sxy") - F.col("s") * F.col("s")) * F.lit(1.0) / F.expr(
        "nullif(n * q - s * s, 0)"
    )
    return (
        node_stats.join(F.broadcast(edge_count))  # 1-row x 1-row
        .join(F.broadcast(sums))
        .select(
            "n_nodes", "n_edges", "max_degree", "mean_degree_milli",
            dround(r, 6).alias("assortativity"),
        )
    )


# --------------------------------------------------------------------------
# d27: idf-WEIGHTED SimHash near-dup — the production variant of d03
# (Charikar 2002 fingerprints as deployed in Manku et al. 2007, where
# features carry weights): each token occurrence votes ±idf instead of
# ±1, so rare informative terms dominate the fingerprint and shared
# boilerplate ("the", connective glue) can no longer hold two
# unrelated docs within Hamming range. Weights are the d22 integer
# discipline — least((N*1000) div df, cap) with df = distinct docs
# containing the token — and the vote sums are exact int64, so the
# fingerprint replays bit-for-bit in SQL. Candidates use the SAME
# 8-nibble multi-index blocking as d03 (hamming <= 6 pigeonholes >= 2
# equal nibbles → recall 1 vs the oracle's brute-force verify).
#
# Scale: one extra vocabulary-sized df aggregate + an h-keyed join
# versus d03 (map-side combine, Heaps-law sublinear); everything else
# is the d03 plan shape — bounded nibble buckets, never all-pairs.
# --------------------------------------------------------------------------
D27_IDF_CAP = 1_000_000


def _d27_oracle() -> str:
    h = md5_prefix_long_sql("tok")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    th AS (SELECT doc_id, {h} AS h FROM toks),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM th),
    dfreq AS (
      SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM th GROUP BY h
    ),
    w AS (
      SELECT d.h, LEAST((n.nd * 1000) // d.df, {D27_IDF_CAP}) AS w
      FROM dfreq d CROSS JOIN n
    ),
    bit_votes AS (
      SELECT t.doc_id, b,
             SUM(CASE WHEN (t.h >> b) & 1 = 1 THEN wt.w ELSE -wt.w END) AS vote
      FROM th t JOIN w wt ON wt.h = t.h,
           (SELECT unnest(range(0, {SIMHASH_BITS})) AS b)
      GROUP BY t.doc_id, b
    ),
    sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bit_votes GROUP BY doc_id
    )
    SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
           CAST(bit_count(xor(s1.simhash, s2.simhash)) AS BIGINT) AS hamming
    FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
    WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


@register("d27_weighted_simhash", oracle=_d27_oracle())
def d27_weighted_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same 3-wide-chunk multi-index as d03 (blocking is output-invariant;
    # only the candidate-enumeration volume changes).
    return _simhash_block_pairs(_d27_sigs(spark, sf_dir), "simhash")


@register_candidates("d27_weighted_simhash")
def _d27_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_block_candidates(_d27_sigs(spark, sf_dir), "simhash")


def _d27_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    th = toks.select("doc_id", md5_prefix_long(F.col("tok")).alias("h"))
    n_docs = th.select("doc_id").distinct().agg(F.count("*").alias("nd"))
    dfreq = th.distinct().groupBy("h").agg(F.count("*").alias("df"))
    weights = dfreq.join(F.broadcast(n_docs)).select(
        "h",
        F.least(F.expr("(nd * 1000) div df"), F.lit(D27_IDF_CAP)).alias("w"),
    )
    tokw = th.join(weights, "h")
    votes = tokw.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1)") == 1, F.col("w"))
                .otherwise(-F.col("w"))
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    simhash_expr = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash_expr = term if simhash_expr is None else simhash_expr + term
    return votes.select("doc_id", simhash_expr.alias("simhash"))


# --------------------------------------------------------------------------
# d29: dedup threshold-sensitivity curve — before committing a Jaccard
# threshold corpus-wide, look at the DISTRIBUTION of verified
# similarities over the LSH candidates: per 0.1-wide jaccard bucket,
# how many candidate pairs land there and how many pairs would survive
# a threshold set at that bucket's floor. Reading the knee off this
# table is how the d02 threshold (and the banding b/r behind it) gets
# tuned on a sample instead of guessed — the dedup-side companion of
# s19's nprobe sweep.
#
# All integer: j_milli = (1000*|A∩B|) div |A∪B| over exact shingle
# sets; the cumulative column comes from a successor self-join on the
# <= 11-row bucket table, not a window.
#
# Scale: candidates are the d02 banding equi-join output (never
# all-pairs); the verify join is the same shingle-set lookup d02 pays;
# everything after is an 11-row aggregate.
# --------------------------------------------------------------------------
def _d29_oracle() -> str:
    return f"""
    WITH {_lsh_cand_ctes()},
    verified AS (
      SELECT (1000 * len(list_intersect(a.shingles, b.shingles)))
             // (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))) AS j_milli
      FROM cand c JOIN sh a ON c.doc_a = a.doc_id
                  JOIN sh b ON c.doc_b = b.doc_id
    ),
    buckets AS (
      SELECT j_milli // 100 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM verified GROUP BY j_milli // 100
    )
    SELECT b1.bucket, CAST(b1.bucket * 100 AS BIGINT) AS j_lo_milli,
           b1.n_pairs,
           CAST(SUM(b2.n_pairs) AS BIGINT) AS n_pairs_at_or_above
    FROM buckets b1 JOIN buckets b2 ON b2.bucket >= b1.bucket
    GROUP BY b1.bucket, b1.n_pairs
    """


@register("d29_threshold_sensitivity", oracle=_d29_oracle())
def d29_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_df(spark, sf_dir)
    cand = _lsh_candidate_pairs(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    # integer milli via div (truncating, matches DuckDB //)
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.expr(
                "(1000 * size(array_intersect(sh_a, sh_b))) div "
                "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b)))"
            ).alias("j_milli")
        )
    )
    bk = verified.groupBy(F.expr("j_milli div 100").alias("bucket")).agg(
        F.count("*").alias("n_pairs")
    )
    b2 = bk.select(F.col("bucket").alias("b2"), F.col("n_pairs").alias("np2"))
    return (
        bk.join(F.broadcast(b2), F.col("b2") >= F.col("bucket"))
        .groupBy("bucket", "n_pairs")
        .agg(F.sum("np2").alias("n_pairs_at_or_above"))
        .select(
            "bucket",
            (F.col("bucket") * 100).cast("long").alias("j_lo_milli"),
            "n_pairs",
            "n_pairs_at_or_above",
        )
    )


# --------------------------------------------------------------------------
# g04: component-size distribution of the near-dup graph — the scale
# histogram behind dedup cost accounting: per component size k, how
# many components, how many docs they hold, and the docs' share of the
# clustered population in integer milli, plus the largest component's
# size as a skew flag (one mega-component usually means boilerplate
# stitched unrelated docs together — the signal to TIGHTEN the d03
# threshold before trusting d11's keeper selection). Consumes the
# session-materialized d09 labels, so the graph work is shared, and
# reduces to a size histogram — the frequency-of-frequencies shape
# (t24) applied to cluster labels.
#
# Scale: components are dedup output (orders smaller than the corpus);
# two vocabulary-sized groupBys and one |sizes|-row total broadcast.
# --------------------------------------------------------------------------
def _g04_oracle() -> str:
    return f"""
    WITH RECURSIVE {_cc_ctes()},
    labels AS (
      SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
      FROM reach GROUP BY id
    ),
    comp AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS k
      FROM labels GROUP BY cluster_id
    ),
    hist AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_components,
             CAST(k * COUNT(*) AS BIGINT) AS n_docs
      FROM comp GROUP BY k
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(MAX(k) AS BIGINT) AS max_k
      FROM hist
    )
    SELECT h.k AS component_size, h.n_components, h.n_docs,
           (1000 * h.n_docs) // t.total_docs AS doc_share_milli,
           t.max_k AS largest_component
    FROM hist h CROSS JOIN tot t
    """


@register("g04_component_size_distribution", oracle=_g04_oracle())
def g04_component_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _cc_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    comp = labels.groupBy("cluster_id").agg(F.count("*").alias("k"))
    hist = comp.groupBy("k").agg(
        F.count("*").alias("n_components"),
        (F.col("k") * F.count("*")).cast("long").alias("n_docs"),
    )
    tot = hist.agg(
        F.sum("n_docs").alias("total_docs"), F.max("k").alias("max_k")
    )
    return hist.join(F.broadcast(tot)).select(
        F.col("k").alias("component_size"),
        "n_components",
        "n_docs",
        F.expr("(1000 * n_docs) div total_docs").alias("doc_share_milli"),
        F.col("max_k").alias("largest_component"),
    )


# --------------------------------------------------------------------------
# g05: bounded-round 2-core peeling of the near-dup graph — the
# density filter between g04's size histogram and g02's triangles: the
# 2-core (every node has >= 2 neighbors inside the core) strips the
# PENDANT attachments (single partial copies hanging off a hub) and
# leaves the genuinely interlocked duplicate mass; removed_at records
# the peel round, which orders nodes by how peripheral they are.
#
# Peeling is the standard iterative formulation: each round removes
# every node whose current degree < 2, then recomputes degrees. Rounds
# are UNROLLED to a fixed G05_ROUNDS in BOTH engines (the Lloyd/g01
# unrolled-iteration discipline: bit-identical work either side); a
# pytest asserts the last round removes nothing on the fixture, i.e.
# the bounded peel HAS converged to the true 2-core. At scale, each
# round is two semi-joins + one count per side — O(E) per round,
# O(log n) rounds suffice in practice (peel depth of near-dup graphs
# is tiny; the test pins it).
# --------------------------------------------------------------------------
G05_ROUNDS = 6


def _g05_oracle() -> str:
    ctes = [f"""e0 AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    full_deg AS MATERIALIZED (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg_start
      FROM e0 GROUP BY src
    )"""]
    # alive{r} tracks survivors explicitly: a node whose degree drops to
    # ZERO simply vanishes from the edge list, so "removed = degree<2
    # rows" would silently never mark it (caught by the replay test).
    ctes.append("alive0 AS (SELECT id FROM full_deg)")
    for r in range(1, G05_ROUNDS + 1):
        # AS MATERIALIZED: every alive{r}/e{r} is referenced 3x by the
        # next round; without the hint DuckDB may inline the chain and
        # re-evaluate the whole upstream pipeline 3^rounds times.
        ctes.append(f"""d{r} AS MATERIALIZED (
      SELECT src AS id, COUNT(*) AS d FROM e{r - 1} GROUP BY src
    ),
    alive{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE d >= 2),
    rm{r} AS (
      SELECT id FROM alive{r - 1}
      WHERE id NOT IN (SELECT id FROM alive{r})
    ),
    e{r} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{r - 1} e
      WHERE e.src IN (SELECT id FROM alive{r})
        AND e.dst IN (SELECT id FROM alive{r})
    )""")
    removed = "\n      UNION ALL\n      ".join(
        f"SELECT id, {r} AS removed_at FROM rm{r}" for r in range(1, G05_ROUNDS + 1)
    )
    return f"""
    WITH {_simhash_sig_sql().strip()},
    pairs AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    ),
    {",".join(ctes)},
    removed AS (
      SELECT id, CAST(MIN(removed_at) AS BIGINT) AS removed_at FROM (
      {removed}
      ) GROUP BY id
    ),
    final_deg AS (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg_end
      FROM e{G05_ROUNDS} GROUP BY src
    )
    SELECT f.id AS doc_id, f.deg_start,
           COALESCE(r.removed_at, 0) AS removed_at,
           COALESCE(d.deg_end, 0) AS deg_end,
           CAST(r.id IS NULL AS BIGINT) AS in_core
    FROM full_deg f
    LEFT JOIN removed r ON r.id = f.id
    LEFT JOIN final_deg d ON d.id = f.id
    """


@register("g05_kcore_peel", oracle=_g05_oracle())
def g05_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _simhash_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint()  # graph-sized; every peel round reads it
    )
    full_deg = edges.groupBy("src").agg(F.count("*").alias("deg_start")).select(
        F.col("src").alias("id"), "deg_start"
    )
    removed = None
    cur = edges
    # alive tracked explicitly: a node whose degree drops to ZERO
    # vanishes from the edge list, so "removed = degree<2 rows" would
    # silently never mark it (caught by the replay test).
    alive = full_deg.select("id")
    for r in range(1, G05_ROUNDS + 1):
        survivors = (
            cur.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= 2)
            .select(F.col("src").alias("id"))
            # read 4x per round (rm, both edge semi-joins, next alive)
            .localCheckpoint()
        )
        rm = alive.join(survivors, "id", "left_anti").select(
            F.col("id").alias("rid")
        )
        tagged = rm.withColumn("removed_at", F.lit(r).cast("long"))
        removed = tagged if removed is None else removed.unionAll(tagged)
        cur = (
            cur.join(survivors, cur.src == survivors.id, "left_semi")
            .join(survivors, cur.dst == survivors.id, "left_semi")
            # cut lineage per round (d09 discipline) — round r+1 must
            # not replan rounds 1..r
            .localCheckpoint()
        )
        alive = survivors
    removed_first = removed.groupBy("rid").agg(
        F.min("removed_at").alias("removed_at")
    )
    final_deg = cur.groupBy("src").agg(F.count("*").alias("deg_end")).select(
        F.col("src").alias("id"), "deg_end"
    )
    return (
        full_deg.join(removed_first, full_deg.id == removed_first.rid, "left")
        .join(final_deg, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "deg_start",
            F.coalesce("removed_at", F.lit(0)).cast("long").alias("removed_at"),
            F.coalesce("deg_end", F.lit(0)).alias("deg_end"),
            F.col("rid").isNull().cast("long").alias("in_core"),
        )
    )


# --------------------------------------------------------------------------
# g06: label-propagation communities over the near-dup graph (Raghavan
# et al. 2007) — the cheap community detector curation runs when d09's
# connected components are too coarse (a single bridge pair fuses two
# big duplicate families into one component; LPA lets the two dense
# sides keep distinct labels). Synchronous variant, made deterministic:
# every node starts as its own label; each round every node adopts the
# most frequent label among its NEIGHBORS, ties broken by smallest
# label; G06_ROUNDS fixed rounds so the oracle can unroll the exact
# same rounds as CTE stages (the g01 fixed-point discipline — no
# convergence test, no randomness, bit-exact in both engines).
#
# Scale: per round one src-keyed join of labels onto the edge list and
# one (node, label) count — the standard data-parallel LPA round;
# labels are localCheckpoint'd per round (cluster: checkpoint()). The
# per-node argmax window partitions on node id, never a global window.
# --------------------------------------------------------------------------
G06_ROUNDS = 4


def _g06_chain_ctes() -> str:
    """Shared WITH-body for g06/g07 (structural composition — consumers
    splice the builder, never slice rendered SQL): simhash signatures,
    the near-dup ``pairs``/``edges`` graph, and the G06_ROUNDS unrolled
    LPA label tables l0..l{G06_ROUNDS}."""
    ctes = ["""nodes AS (SELECT DISTINCT src AS id FROM edges),
    l0 AS (SELECT id, id AS lbl FROM nodes)"""]
    for i in range(1, G06_ROUNDS + 1):
        ctes.append(f"""l{i} AS (
      SELECT id, lbl FROM (
        SELECT e.src AS id, r.lbl AS lbl,
               ROW_NUMBER() OVER (PARTITION BY e.src
                                  ORDER BY COUNT(*) DESC, r.lbl) AS rk
        FROM edges e JOIN l{i - 1} r ON r.id = e.dst
        GROUP BY e.src, r.lbl
      ) WHERE rk = 1
    )""")
    joined = ",\n    ".join(ctes)
    return f"""{_simhash_sig_sql().strip()},
    pairs AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    {joined}"""


def _g06_oracle() -> str:
    return f"""
    WITH {_g06_chain_ctes()},
    sizes AS (
      SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
      FROM l{G06_ROUNDS} GROUP BY lbl
    )
    SELECT l.id AS doc_id, CAST(l.lbl AS BIGINT) AS community,
           s.community_size
    FROM l{G06_ROUNDS} l JOIN sizes s ON s.lbl = l.lbl
    """


@register("g06_label_propagation", oracle=_g06_oracle())
def g06_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session-memoized: the G06_ROUNDS propagation loop (one join +
    # window + localCheckpoint ACTION per round) was re-run in full by
    # every consumer — this query, g07's modularity audit, and p08's
    # dup profile, three loop executions per session. Labels are one
    # row per document (bounded), deterministic by construction.
    return _materialized(
        spark, sf_dir, "g06_labels", lambda: _g06_build(spark, sf_dir)
    )


def _g06_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _simhash_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint()  # read twice per round across G06_ROUNDS rounds
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    w_node = W.partitionBy("id").orderBy(F.desc("cnt"), "lbl")
    for _ in range(G06_ROUNDS):
        labels = (
            edges.join(labels.select(F.col("id").alias("dst"), "lbl"), "dst")
            .groupBy(F.col("src").alias("id"), "lbl")
            .agg(F.count("*").alias("cnt"))
            .withColumn("rk", F.row_number().over(w_node))
            .filter(F.col("rk") == 1)
            .select("id", "lbl")
            .localCheckpoint()  # lineage cut per round (g01 discipline)
        )
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "lbl").select(
        F.col("id").alias("doc_id"),
        F.col("lbl").alias("community"),
        "community_size",
    )


# --------------------------------------------------------------------------
# g07: community-quality (modularity) audit — grades g06's label
# assignment the way Newman-Girvan modularity grades any partition:
#   Q = Σ_c [ e_c/m − (d_c / 2m)² ]
# (e_c = intra-community edges, d_c = total degree of the community's
# nodes, m = total undirected edges). Computed EXACTLY in integers on
# the common denominator 4m²: Q_micro = 10^6 · Σ_c (4·m·e_c − d_c²)
# div (4m²), so partial-agg order cannot move a bit. Emits the
# per-community terms (size, intra-edges, degree sum, contribution)
# plus the corpus-level Q in every row — the audit a curation run
# reads before trusting LPA communities over plain components.
#
# Scale: one label join onto the pair list (intra-edge count), one
# degree aggregate joined to labels — both |E|-sized with map-side
# combine; the modularity reduction is |communities|-sized. No new
# shuffle shape beyond g06's own.
# --------------------------------------------------------------------------
def _g07_oracle() -> str:
    # reuse g06's CTE chain (the shared builder) up to its label table
    return f"""
    WITH {_g06_chain_ctes()},
    labels AS (SELECT id, lbl FROM l{G06_ROUNDS}),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
    intra AS (
      SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM pairs p
      JOIN labels la ON la.id = p.doc_a
      JOIN labels lb ON lb.id = p.doc_b
      WHERE la.lbl = lb.lbl
      GROUP BY la.lbl
    ),
    degs AS (
      SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS d_c,
             CAST(COUNT(DISTINCT e.src) AS BIGINT) AS n_nodes
      FROM edges e JOIN labels la ON la.id = e.src
      GROUP BY la.lbl
    ),
    terms AS (
      SELECT d.lbl, d.n_nodes, COALESCE(i.e_c, 0) AS e_c, d.d_c,
             4 * m.m * COALESCE(i.e_c, 0) - d.d_c * d.d_c AS num
      FROM degs d LEFT JOIN intra i ON i.lbl = d.lbl CROSS JOIN m
    )
    SELECT t.lbl AS community, t.n_nodes, t.e_c AS intra_edges,
           t.d_c AS degree_sum,
           (1000000 * t.num) // (4 * m.m * m.m) AS contribution_micro,
           (SELECT CAST((1000000 * SUM(num)) // (4 * m2.m * m2.m) AS BIGINT)
            FROM terms, m AS m2 GROUP BY m2.m) AS modularity_micro
    FROM terms t CROSS JOIN m
    """


@register("g07_modularity_audit", oracle=_g07_oracle())
def g07_modularity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _simhash_pairs(spark, sf_dir)
    labels = g06_label_propagation(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("community").alias("lbl")
    )  # the g06 memo is already localCheckpointed; reads are block reads
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    m = pairs.agg(F.count("*").alias("m"))
    la = labels.select(F.col("id").alias("doc_a"), F.col("lbl").alias("lbl_a"))
    lb = labels.select(F.col("id").alias("doc_b"), F.col("lbl").alias("lbl_b"))
    intra = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("lbl_a") == F.col("lbl_b"))
        .groupBy(F.col("lbl_a").alias("lbl"))
        .agg(F.count("*").alias("e_c"))
    )
    degs = (
        edges.join(labels.select(F.col("id").alias("src"), "lbl"), "src")
        .groupBy("lbl")
        .agg(
            F.count("*").alias("d_c"),
            F.count_distinct("src").alias("n_nodes"),
        )
    )
    terms = (
        degs.join(intra, "lbl", "left")
        .join(F.broadcast(m))
        .select(
            "lbl",
            "n_nodes",
            F.coalesce("e_c", F.lit(0)).alias("e_c"),
            "d_c",
            "m",
            (
                4 * F.col("m") * F.coalesce("e_c", F.lit(0))
                - F.col("d_c") * F.col("d_c")
            ).alias("num"),
        )
    )
    q = terms.join(F.broadcast(m.select(F.col("m").alias("m2")))).agg(
        F.expr("(1000000 * sum(num)) div (4 * any_value(m2) * any_value(m2))")
        .alias("modularity_micro")
    )
    return (
        terms.join(F.broadcast(q))
        .select(
            F.col("lbl").alias("community"),
            "n_nodes",
            F.col("e_c").alias("intra_edges"),
            F.col("d_c").alias("degree_sum"),
            F.expr("(1000000 * num) div (4 * m * m)").alias("contribution_micro"),
            "modularity_micro",
        )
    )


# --------------------------------------------------------------------------
# d31: near-dup pair EXPLANATIONS — the audit row a human reviews when
# a merge decision is challenged: for every d02-verified pair, WHICH
# shared shingles drove the match, ranked rarest-first (document
# frequency ascending — a shared rare shingle is evidence, a shared
# stopword run is noise). Emits the overlap accounting (n_shared /
# n_union), the rarest shared shingle with its df, and a top-3
# preview. Ranking key is the single sortable string
# lpad(df)·'|'·shingle so both engines order byte-identically (no
# struct-comparison semantics in play).
#
# Scale: pairs come from the banding pipeline (never all-pairs); the
# shared-shingle explode is bounded by verified-pair overlap sizes,
# the df table is vocabulary-sized with map-side combine.
# --------------------------------------------------------------------------
def _d31_oracle() -> str:
    return f"""
    WITH {_lsh_cand_ctes()},
    verified AS (
      SELECT c.doc_a, c.doc_b, a.shingles AS sh_a, b.shingles AS sh_b,
             len(list_intersect(a.shingles, b.shingles)) AS n_shared,
             len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS n_union
      FROM cand c JOIN sh a ON c.doc_a = a.doc_id
                  JOIN sh b ON c.doc_b = b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
            / (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))
            >= {JACCARD_THRESHOLD}
    ),
    df AS (
      SELECT g AS shingle, CAST(COUNT(*) AS BIGINT) AS df
      FROM (SELECT doc_id, unnest(shingles) AS g FROM sh)
      GROUP BY g
    ),
    shared AS (
      SELECT v.doc_a, v.doc_b, v.n_shared, v.n_union,
             lpad(CAST(d.df AS VARCHAR), 12, '0') || '|' || t.g AS key
      FROM verified v, unnest(list_intersect(v.sh_a, v.sh_b)) t(g)
      JOIN df d ON d.shingle = t.g
    ),
    ranked AS (
      SELECT doc_a, doc_b, n_shared, n_union,
             list_sort(list(key)) AS keys
      FROM shared GROUP BY doc_a, doc_b, n_shared, n_union
    )
    SELECT doc_a, doc_b,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(n_union AS BIGINT) AS n_union,
           substr(keys[1], 14) AS rarest_shingle,
           CAST(CAST(substr(keys[1], 1, 12) AS BIGINT) AS BIGINT)
             AS rarest_df,
           array_to_string(
             list_transform(list_slice(keys, 1, 3), k -> substr(k, 14)),
             ',') AS top3_preview
    FROM ranked
    """


@register("d31_neardup_explanations", oracle=_d31_oracle())
def d31_neardup_explanations(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_df(spark, sf_dir)
    cand = _lsh_candidate_pairs(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.array_intersect(F.col("sh_a"), F.col("sh_b"))
    n_shared = F.size(inter)
    n_union = F.size("sh_a") + F.size("sh_b") - n_shared
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("shared", inter)
        .withColumn("n_shared", n_shared)
        .withColumn("n_union", n_union)
        .filter(
            F.col("n_shared").cast("double") / F.col("n_union")
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b", "n_shared", "n_union", "shared")
    )
    df_tab = (
        sh.select("doc_id", F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
    )
    shared = (
        verified.select(
            "doc_a", "doc_b", "n_shared", "n_union",
            F.explode("shared").alias("shingle"),
        )
        .join(df_tab, "shingle")
        .select(
            "doc_a", "doc_b", "n_shared", "n_union",
            F.concat(
                F.lpad(F.col("df").cast("string"), 12, "0"),
                F.lit("|"),
                F.col("shingle"),
            ).alias("key"),
        )
    )
    ranked = shared.groupBy("doc_a", "doc_b", "n_shared", "n_union").agg(
        F.sort_array(F.collect_list("key")).alias("keys")
    )
    return ranked.select(
        "doc_a",
        "doc_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_union").cast("long").alias("n_union"),
        F.expr("substr(keys[0], 14)").alias("rarest_shingle"),
        F.expr("CAST(substr(keys[0], 1, 12) AS BIGINT)").alias("rarest_df"),
        F.expr(
            "array_join(transform(slice(keys, 1, 3), k -> substr(k, 14)), ',')"
        ).alias("top3_preview"),
    )


# --------------------------------------------------------------------------
# t43: intra-document repetition via content-defined chunks — the
# self-repetition signal t11's fixed n-gram fractions miss when the
# repeated unit is long and variable-sized (boilerplate paragraphs,
# templated sections, chorus lines): d20's CDC chunking, but with
# chunk popularity counted WITHIN each document instead of corpus-
# wide. (Lives beside the CDC kernel it shares with d20 — the t-family
# name marks the text-analysis role.) A doc whose chunks repeat internally is template-heavy even if
# no other doc shares them. Entirely row-local after the chunk
# explode — the (doc, chunk-hash) count never crosses documents, so
# unlike d20 there is no corpus-wide popularity shuffle at all.
#
# Scale: the (doc_id, h) aggregate partitions by doc — corpus-linear
# rows, map-side combined, no hot keys (hashes are per-doc).
# --------------------------------------------------------------------------
def _t43_oracle() -> str:
    return f"""
    WITH {_cdc_flat_ctes()},
    occ AS (
      SELECT doc_id, h, CAST(COUNT(*) AS BIGINT) AS n_occ,
             CAST(SUM(n_tok) AS BIGINT) AS occ_tokens,
             ANY_VALUE(n) AS n
      FROM flat GROUP BY doc_id, h
    )
    SELECT doc_id,
           CAST(SUM(n_occ) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_tokens,
           -- identical chunk text ⇒ identical n_tok, so one
           -- occurrence's tokens = occ_tokens // n_occ exactly and the
           -- redundant (beyond-first) tokens are integer-exact
           CAST(COALESCE(SUM(CASE WHEN n_occ >= 2
                THEN occ_tokens - occ_tokens // n_occ END), 0) AS BIGINT)
             AS redundant_tokens,
           CAST((1000 * COALESCE(SUM(CASE WHEN n_occ >= 2
                THEN occ_tokens - occ_tokens // n_occ END), 0))
                // ANY_VALUE(n) AS BIGINT) AS rep_ratio_milli
    FROM occ GROUP BY doc_id
    """


@register("t43_intra_doc_repetition", oracle=_t43_oracle())
def t43_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _cdc_flat(spark, sf_dir)
    occ = flat.groupBy("doc_id", "h").agg(
        F.count("*").alias("n_occ"),
        F.sum("n_tok").alias("occ_tokens"),
        F.any_value("n").alias("n"),
    )
    redundant = F.when(
        F.col("n_occ") >= 2,
        F.col("occ_tokens") - F.expr("occ_tokens div n_occ"),
    )
    return occ.groupBy("doc_id").agg(
        F.sum("n_occ").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_distinct_chunks"),
        F.any_value("n").cast("long").alias("n_tokens"),
        F.coalesce(F.sum(redundant), F.lit(0)).cast("long")
        .alias("redundant_tokens"),
        F.expr(
            "CAST((1000 * coalesce(sum(CASE WHEN n_occ >= 2"
            " THEN occ_tokens - occ_tokens div n_occ END), 0))"
            " div any_value(n) AS BIGINT)"
        ).alias("rep_ratio_milli"),
    )


# --------------------------------------------------------------------------
# d32: normalized-exact dedup — the cheap pass every dedup stack runs
# BEFORE MinHash: case-fold, strip punctuation to spaces, collapse
# whitespace, then group exactly. Catches trivial re-encodings
# (casing, stray punctuation, double spaces) that d01's byte-exact
# hash misses while costing one linear scan — at 100 TB this pass
# typically removes the bulk of duplicates before any signature is
# computed. Normalization is the SAME regex pipeline in both engines
# (POSIX classes, no engine-specific escapes); groups key on the
# md5 of the normalized text.
#
# Output: the per-doc verdict table a curation pipeline consumes —
# each doc's normalized-group hash, group size, keep/drop verdict
# (keeper = min doc_id of the group), and whether its group holds
# ≥ 2 distinct RAW texts (the rows byte-exact d01 would miss). On a
# fixture with no trivial variants the groups are all singletons and
# every verdict is keep — the per-doc shape keeps the gate
# substantive either way (d01's group-level output is empty here).
#
# Scale: one scan → md5 groupBy (uniform 128-bit key, skew-free), the
# d01 shape with a normalization expression fused into the map side,
# then one group→doc join back.
# --------------------------------------------------------------------------
@register(
    "d32_normalized_exact_dedup",
    oracle="""
    WITH norm AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
      FROM documents
    ),
    grp AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS group_size,
             CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
             CAST(COUNT(DISTINCT text) >= 2 AS BIGINT) AS invisible_to_exact
      FROM norm GROUP BY h
    )
    SELECT n.doc_id, n.h AS group_hash, g.group_size, g.keeper_doc_id,
           CAST(n.doc_id = g.keeper_doc_id AS BIGINT) AS keep,
           g.invisible_to_exact
    FROM norm n JOIN grp g ON g.h = n.h
    """,
)
def d32_normalized_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    norm = docs.select(
        "doc_id",
        "text",
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
                    " +",
                    " ",
                )
            )
        ).alias("h"),
    )
    grp = norm.groupBy("h").agg(
        F.count("*").alias("group_size"),
        F.min("doc_id").alias("keeper_doc_id"),
        (F.count_distinct("text") >= 2).cast("long")
        .alias("invisible_to_exact"),
    )
    return norm.join(grp, "h").select(
        "doc_id",
        F.col("h").alias("group_hash"),
        "group_size",
        "keeper_doc_id",
        (F.col("doc_id") == F.col("keeper_doc_id")).cast("long").alias("keep"),
        "invisible_to_exact",
    )


# --------------------------------------------------------------------------
# g08: transitive near-dup candidates — common-neighbor link prediction
# over the verified pair graph. Signature blocking is probabilistic:
# when a~b and b~c verified but (a,c) never co-blocked, the pair list
# has an open wedge. Docs sharing >= 2 verified neighbors are the
# pairs a curation pipeline sends BACK to the verifier next round (the
# triangle-closing work-list), ranked by neighborhood Jaccard.
#
# Wedge centers are degree-capped (G08_DEG_CAP, part of the operator's
# contract in BOTH engines): a hub with degree d would generate d²
# wedges, and hub-mediated co-membership is weak evidence anyway (the
# same reason Adamic-Adar down-weights high-degree neighbors — here
# they are excluded outright). With the cap, wedge volume is
# Σ min(deg, cap)²/2 ≤ cap²·|V|/2 — linear in nodes, never Θ(N²); the
# candidate-volume gate pins the measured ~1.1·N fixture volume.
#
# Scale: pairs are dedup output (orders smaller than the corpus); one
# degree agg, one capped self-join on the center key, one (a,b) count
# with map-side combine, one anti-join against the edge list, two
# integer-key degree joins. Neighborhood Jaccard uses TRUE (uncapped)
# degrees — the cap bounds enumeration, not the reported overlap.
# --------------------------------------------------------------------------
G08_DEG_CAP = 32
G08_MIN_COMMON = 2


def _g08_graph_sql() -> str:
    return f"""
    pairs AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY src
    ),
    cadj AS (
      SELECT e.src, e.dst FROM edges e
      JOIN deg ON deg.id = e.src WHERE deg.d <= {G08_DEG_CAP}
    )"""


def _g08_oracle() -> str:
    return f"""
    WITH {_simhash_sig_sql().strip()},
    {_g08_graph_sql().strip()},
    wedge AS (
      SELECT a1.dst AS doc_a, a2.dst AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cadj a1 JOIN cadj a2
        ON a1.src = a2.src AND a1.dst < a2.dst
      GROUP BY a1.dst, a2.dst
    ),
    cand AS (
      SELECT w.doc_a, w.doc_b, w.n_common FROM wedge w
      WHERE w.n_common >= {G08_MIN_COMMON}
        AND NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.doc_a = w.doc_a AND p.doc_b = w.doc_b)
    )
    SELECT c.doc_a, c.doc_b, c.n_common,
           (1000 * c.n_common) // (da.d + db.d - c.n_common)
             AS nbr_jaccard_milli
    FROM cand c
    JOIN deg da ON da.id = c.doc_a
    JOIN deg db ON db.id = c.doc_b
    """


def _g08_capped_adj(spark: SparkSession, sf_dir: str):
    pairs = _simhash_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    cadj = edges.join(
        deg.filter(F.col("d") <= G08_DEG_CAP).select(F.col("id").alias("src")),
        "src",
    )
    return pairs, deg, cadj


@register_candidates("g08_transitive_candidates")
def _g08_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw wedge enumeration (center, a, b) BEFORE the count/
    anti-join — what the degree cap bounds to Σ min(deg,cap)²/2."""
    _, _, cadj = _g08_capped_adj(spark, sf_dir)
    a1 = cadj.select("src", F.col("dst").alias("doc_a"))
    a2 = cadj.select(F.col("src").alias("src2"), F.col("dst").alias("doc_b"))
    return a1.join(
        a2, (F.col("src") == F.col("src2")) & (F.col("doc_a") < F.col("doc_b"))
    )


@register("g08_transitive_candidates", oracle=_g08_oracle())
def g08_transitive_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, deg, cadj = _g08_capped_adj(spark, sf_dir)
    a1 = cadj.select("src", F.col("dst").alias("doc_a"))
    a2 = cadj.select(F.col("src").alias("src2"), F.col("dst").alias("doc_b"))
    wedge = (
        a1.join(
            a2,
            (F.col("src") == F.col("src2")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    cand = wedge.filter(F.col("n_common") >= G08_MIN_COMMON).join(
        pairs, ["doc_a", "doc_b"], "left_anti"
    )
    da = deg.select(F.col("id").alias("doc_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("id").alias("doc_b"), F.col("d").alias("d_b"))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.expr("(1000 * n_common) div (d_a + d_b - n_common)")
            .alias("nbr_jaccard_milli"),
        )
    )


# --------------------------------------------------------------------------
# d33: b-bit MinHash audit — the signature-compression calibration
# table (Li & König, CACM 2011): keeping only the low b bits of each
# MinHash permutation shrinks signatures 16x (64-bit -> 4-bit) — the
# storage/bandwidth lever for corpus-scale sketch-only dedup — at the
# cost of random low-bit collisions. The unbiased correction inverts
# E[P_b] = C + (1-C)·J with C = 2^-b: for b = 4,
# J_hat = (16·n_b − n) / (15·n) over n permutations. This audit emits,
# for every d02 candidate pair, the full-width estimate, the 4-bit
# raw-agreement and corrected estimates, and the correction's residual
# vs full width — all rationals of small integers (milli-scaled,
# clamped at 0 BEFORE the division so both engines stay in nonnegative
# integer arithmetic).
#
# Scale: identical plan shape to d02/d18 up to the candidate join
# (banding equi-join, never all-pairs; the shared candidate-volume
# gate entry covers it); the audit adds 2n integer comparisons per
# candidate, map-side. Production sketch-only mode ships the 4-bit
# signatures and this table is how their error budget gets validated
# on a sample first — the d18 discipline applied to the compressed
# signature.
# --------------------------------------------------------------------------
D33_B_BITS = 4


def _d33_oracle() -> str:
    n = len(MINHASH_PARAMS)
    mod = 1 << D33_B_BITS
    inv = (1 << D33_B_BITS) - 1  # 15: the (1 - 2^-b) denominator x 16
    agree_full = " + ".join(
        f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(n)
    )
    agree_b = " + ".join(
        f"CASE WHEN sa.mh{j} % {mod} = sb.mh{j} % {mod} THEN 1 ELSE 0 END"
        for j in range(n)
    )
    return f"""
    WITH {_lsh_cand_ctes()},
    audited AS (
      SELECT c.doc_a, c.doc_b,
             CAST(({agree_full}) AS BIGINT) AS n_agree_full,
             CAST(({agree_b}) AS BIGINT) AS n_agree_b4
      FROM cand c JOIN sigs sa ON c.doc_a = sa.doc_id
                  JOIN sigs sb ON c.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, n_agree_full, n_agree_b4,
           (1000 * n_agree_full) // {n} AS est_full_milli,
           (1000 * n_agree_b4) // {n} AS raw_b4_milli,
           (1000 * GREATEST(0, {mod} * n_agree_b4 - {n}))
             // ({inv} * {n}) AS est_b4_milli,
           (1000 * GREATEST(0, {mod} * n_agree_b4 - {n})) // ({inv} * {n})
             - (1000 * n_agree_full) // {n} AS correction_residual_milli
    FROM audited
    """


@register("d33_bbit_minhash_audit", oracle=_d33_oracle())
def d33_bbit_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = len(MINHASH_PARAMS)
    mod = 1 << D33_B_BITS
    inv = (1 << D33_B_BITS) - 1
    sigs = minhash_sigs(_shingles_df(spark, sf_dir), ["doc_id"])
    cand = _lsh_candidate_pairs(spark, sf_dir)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n)],
    )
    agree_full = sum(
        (F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(n)),
        F.lit(0),
    )
    agree_b = sum(
        (
            F.when(F.col(f"a{j}") % mod == F.col(f"b{j}") % mod, 1).otherwise(0)
            for j in range(n)
        ),
        F.lit(0),
    )
    audited = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            agree_full.cast("long").alias("n_agree_full"),
            agree_b.cast("long").alias("n_agree_b4"),
        )
    )
    return audited.select(
        "doc_a",
        "doc_b",
        "n_agree_full",
        "n_agree_b4",
        F.expr(f"(1000 * n_agree_full) div {n}").alias("est_full_milli"),
        F.expr(f"(1000 * n_agree_b4) div {n}").alias("raw_b4_milli"),
        F.expr(
            f"(1000 * greatest(0, {mod} * n_agree_b4 - {n})) div ({inv} * {n})"
        ).alias("est_b4_milli"),
        F.expr(
            f"(1000 * greatest(0, {mod} * n_agree_b4 - {n})) div ({inv} * {n})"
            f" - (1000 * n_agree_full) div {n}"
        ).alias("correction_residual_milli"),
    )


# --------------------------------------------------------------------------
# g09: edge embeddedness — the per-EDGE audit g08's candidate list is
# the complement of: for every VERIFIED near-dup pair, how many
# triangles support it (= common neighbors of its endpoints) and the
# neighborhood-overlap ratio n_tri / (deg_a + deg_b - 2 - n_tri).
# Zero-embeddedness bridges are the edges most likely to be spurious
# merges (one borderline signature match fusing two real clusters —
# exactly the d09-overmerge failure mode), so this is the review
# work-list BEFORE trusting component labels; g06/g07 quantify the
# same risk at community granularity, this pins it to single edges.
#
# Algorithm: g02's degree-oriented triangle enumeration (every
# triangle found exactly once, wedge fan-out bounded by out-degree ≤
# O(sqrt E)), then each triangle credits its three edges — one explode
# + one (a,b) count + one join onto the pair list.
#
# Scale: pairs are dedup output; the triangle list is bounded by the
# wedge-join argument in g02's note; every join is an integer-pair
# equi-join with map-side-combined counts.
# --------------------------------------------------------------------------
def _g09_oracle() -> str:
    return f"""
    WITH {_simhash_sig_sql().strip()},
    pairs AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    ),
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS id FROM pairs UNION ALL SELECT doc_b AS id FROM pairs
      ) GROUP BY id
    ),
    oriented AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND p.doc_a < p.doc_b)
                  THEN p.doc_a ELSE p.doc_b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND p.doc_a < p.doc_b)
                  THEN p.doc_b ELSE p.doc_a END AS dst,
             CASE WHEN da.d < db.d OR (da.d = db.d AND p.doc_a < p.doc_b)
                  THEN db.d ELSE da.d END AS dst_d
      FROM pairs p
      JOIN deg da ON da.id = p.doc_a
      JOIN deg db ON db.id = p.doc_b
    ),
    tri AS (
      SELECT w.src AS a, w.x, w.y
      FROM (
        SELECT o1.src, o1.dst AS x, o2.dst AS y
        FROM oriented o1 JOIN oriented o2
          ON o1.src = o2.src
         AND (o1.dst_d < o2.dst_d OR (o1.dst_d = o2.dst_d AND o1.dst < o2.dst))
      ) w
      JOIN oriented e ON e.src = w.x AND e.dst = w.y
    ),
    edge_tri AS (
      SELECT LEAST(u, v) AS doc_a, GREATEST(u, v) AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM (
        SELECT a AS u, x AS v FROM tri
        UNION ALL SELECT a, y FROM tri
        UNION ALL SELECT x, y FROM tri
      ) GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           COALESCE(t.n_tri, 0) AS n_tri,
           da.d AS deg_a, db.d AS deg_b,
           CASE WHEN da.d + db.d - 2 - COALESCE(t.n_tri, 0) > 0
                THEN (1000 * COALESCE(t.n_tri, 0))
                     // (da.d + db.d - 2 - COALESCE(t.n_tri, 0))
                ELSE CAST(1000 AS BIGINT) END AS embeddedness_milli,
           CAST(COALESCE(t.n_tri, 0) = 0
                AND da.d + db.d > 2 AS BIGINT) AS is_bridge_risk
    FROM pairs p
    JOIN deg da ON da.id = p.doc_a
    JOIN deg db ON db.id = p.doc_b
    LEFT JOIN edge_tri t ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
    """


def _g09_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented edge list (src = lower-degree endpoint) with each
    edge's dst degree — pair-list-sized; read by BOTH wedge sides + the
    closing probe."""
    pairs = _simhash_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("doc_a").alias("id"))
        .unionAll(pairs.select(F.col("doc_b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("id").alias("doc_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("id").alias("doc_b"), F.col("d").alias("d_b"))
    a_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
            F.when(a_first, F.col("d_b")).otherwise(F.col("d_a")).alias("dst_d"),
        )
        .localCheckpoint()
    )


def _g09_wedges_from(oriented: DataFrame) -> DataFrame:
    """Degree-ordered wedge enumeration off the oriented edge list —
    the g02 shape: each wedge materializes once at its lowest-degree
    apex, bounding the volume by Σ_v d_min(v)²/2 over the (already
    blocking-bounded) near-dup graph."""
    o1 = oriented.select("src", F.col("dst").alias("x"), F.col("dst_d").alias("x_d"))
    o2 = oriented.select(
        F.col("src").alias("src2"), F.col("dst").alias("y"), F.col("dst_d").alias("y_d")
    )
    return o1.join(
        o2,
        (F.col("src") == F.col("src2"))
        & (
            (F.col("x_d") < F.col("y_d"))
            | ((F.col("x_d") == F.col("y_d")) & (F.col("x") < F.col("y")))
        ),
    ).select(F.col("src").alias("a"), "x", "y")


@register_candidates("g09_edge_embeddedness")
def _g09_wedge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _g09_wedges_from(_g09_oriented(spark, sf_dir))


@register("g09_edge_embeddedness", oracle=_g09_oracle())
def g09_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _simhash_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("doc_a").alias("id"))
        .unionAll(pairs.select(F.col("doc_b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("id").alias("doc_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("id").alias("doc_b"), F.col("d").alias("d_b"))
    oriented = _g09_oriented(spark, sf_dir)
    wedges = _g09_wedges_from(oriented)
    closing = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    edge_tri = (
        tri.select(F.col("a").alias("u"), F.col("x").alias("v"))
        .unionAll(tri.select(F.col("a").alias("u"), F.col("y").alias("v")))
        .unionAll(tri.select(F.col("x").alias("u"), F.col("y").alias("v")))
        .select(
            F.least("u", "v").alias("doc_a"),
            F.greatest("u", "v").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_tri"))
    )
    denom = F.col("d_a") + F.col("d_b") - 2 - F.coalesce("n_tri", F.lit(0))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .join(edge_tri, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.col("d_a").alias("deg_a"),
            F.col("d_b").alias("deg_b"),
            F.when(
                denom > 0,
                F.expr(
                    "(1000 * coalesce(n_tri, 0))"
                    " div (d_a + d_b - 2 - coalesce(n_tri, 0))"
                ),
            )
            .otherwise(F.lit(1000).cast("long"))
            .alias("embeddedness_milli"),
            (
                (F.coalesce("n_tri", F.lit(0)) == 0)
                & (F.col("d_a") + F.col("d_b") > 2)
            ).cast("long").alias("is_bridge_risk"),
        )
    )


# --------------------------------------------------------------------------
# d34: detector disagreement audit — the table a pipeline team reads
# when choosing (or stacking) near-dup detectors: the full outer join
# of d02's MinHash-LSH verified pairs and d03's SimHash pairs, each
# pair tagged found_lexical / found_simhash / found_both. The two
# detectors measure different similarities (set-overlap Jaccard vs
# weighted-profile cosine via hamming), so one-sided pairs are not
# errors — they quantify COMPLEMENTARITY: how much recall stacking the
# second detector actually buys, and on which pairs. Verdicts:
# 'both', 'lexical_only', 'simhash_only'.
#
# Scale: both inputs are verified dedup OUTPUT (orders smaller than
# the corpus — d02 through banding, d03 through the wide-chunk
# blocking, both session-materialized); the audit itself is one
# integer-pair full outer join.
# --------------------------------------------------------------------------
def _d34_oracle() -> str:
    # the two chains both define a CTE named "sigs" (and the simhash
    # chain "toks"); build the simhash chain with namespaced CTE names
    sim = _simhash_sig_sql("sh_").strip()
    return f"""
    WITH {_lsh_cand_ctes()},
    lex AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))) AS j
      FROM cand c JOIN sh a ON c.doc_a = a.doc_id
                  JOIN sh b ON c.doc_b = b.doc_id
    ),
    lexical AS (
      SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard FROM lex
      WHERE j >= {JACCARD_THRESHOLD}
    ),
    {sim},
    simhash AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
             CAST(bit_count(xor(s1.simhash, s2.simhash)) AS BIGINT)
               AS hamming
      FROM sh_sigs s1 JOIN sh_sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    )
    SELECT COALESCE(l.doc_a, s.doc_a) AS doc_a,
           COALESCE(l.doc_b, s.doc_b) AS doc_b,
           l.jaccard, s.hamming,
           CASE WHEN l.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 'both'
                WHEN l.doc_a IS NOT NULL THEN 'lexical_only'
                ELSE 'simhash_only' END AS verdict
    FROM lexical l
    FULL OUTER JOIN simhash s ON s.doc_a = l.doc_a AND s.doc_b = l.doc_b
    """


@register("d34_detector_disagreement", oracle=_d34_oracle())
def d34_detector_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    lexical = d02_dedup_minhash_lsh(spark, sf_dir)
    simhash = d03_dedup_simhash(spark, sf_dir)  # session-materialized
    l = lexical.select("doc_a", "doc_b", "jaccard")
    s = simhash.select(
        F.col("doc_a").alias("s_a"), F.col("doc_b").alias("s_b"), "hamming"
    )
    joined = l.join(
        s, (F.col("doc_a") == F.col("s_a")) & (F.col("doc_b") == F.col("s_b")),
        "full_outer",
    )
    return joined.select(
        F.coalesce("doc_a", "s_a").alias("doc_a"),
        F.coalesce("doc_b", "s_b").alias("doc_b"),
        "jaccard",
        "hamming",
        F.when(
            F.col("doc_a").isNotNull() & F.col("s_a").isNotNull(), "both"
        )
        .when(F.col("doc_a").isNotNull(), "lexical_only")
        .otherwise("simhash_only")
        .alias("verdict"),
    )
