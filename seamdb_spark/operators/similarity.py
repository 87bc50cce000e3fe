"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Beyond-reference extension (BASELINE.json north star):
- ``s01_ann_bruteforce_topk`` — exact top-k cosine neighbors for a probe
  set; the correctness baseline. Dot products run through
  ``F.zip_with`` + ``F.aggregate`` (JVM codegen, no Python).
- ``s02_ann_lsh_topk`` — random-hyperplane LSH variant: 32-bit signs
  signature, blocked into 8 4-bit chunks, exact re-rank of candidates.
  The scale path: candidate generation is an equi-join on signature
  blocks instead of an all-pairs cross join. The md5-derived planes
  make the whole pipeline deterministic, so it has a full DuckDB
  oracle; recall < 1 by design is additionally checked vs s01 in
  pytest.
- ``d05_embedding_neardup`` — cosine near-duplicate pairs above a
  threshold (brute-force verified; the oracle mirrors it exactly).

Determinism: both engines fold the dot product left-to-right in double
precision (Spark ``aggregate``; DuckDB ``list_reduce``), then round to
6 decimals before any threshold/ordering decision.

Scale notes (100 TB): probes broadcast; the data side stays
partitioned. For a billion-vector corpus swap the brute-force stage for
IVF (cluster-id blocking) — the LSH variant demonstrates the identical
plan shape (block key equi-join + exact re-rank).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from ..sources import load_table
from .hashing import md5_prefix_long
from .materialize import materialized_df, materialized_value, session_tag
from .registry import ORACLE_SQL, register
from .rounding import dround

N_PROBES = 10
TOP_K = 5
NEARDUP_COSINE = 0.35
LSH_PLANES = 32
LSH_BLOCKS = 8
# Multi-probe LSH: each PROBE block key is also looked up with every
# single-bit flip (Hamming-1 neighborhood in key space). Only the O(1)
# probe side expands (x (1 + bits_per_block)); the corpus side and the
# candidate equi-join shape are unchanged. This is the standard
# recall-vs-candidates knob (Lv et al., multi-probe LSH) and lifts
# fixture recall 0.68 -> >=0.8 without more planes or tables.
LSH_MULTIPROBE_FLIPS = [0] + [
    1 << i for i in range(LSH_PLANES // LSH_BLOCKS)
]
# Fixed-point quantization scale (multiplying a float by a power of two
# is exact) — shared by s03/d06; int64 sums over it are order-independent
# and bit-identical across engines.
QUANT_SCALE = 1 << 20
_ISUM_SQL = "list_reduce(list_prepend(CAST(0 AS BIGINT), {l}), (x, y) -> x + y)"


def _dot(a: str | Column, b: str | Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: str | Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_DOT_SQL.format(a=a, b=b)} / "
        f"({_NORM_SQL.format(a=a)} * {_NORM_SQL.format(a=b)}))"
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --------------------------------------------------------------------------
# Brute-force exact top-k cosine (the ANN correctness baseline)
# --------------------------------------------------------------------------
@register(
    "s01_ann_bruteforce_topk",
    oracle=f"""
    WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe
                    FROM embeddings WHERE vec_id < {N_PROBES}),
    scored AS (
      SELECT probe_id, e.vec_id AS neighbor_id,
             ROUND({_cos_sql('pe', 'e.embedding')}, 6) AS cosine
      FROM probes JOIN embeddings e ON e.vec_id <> probe_id
    ),
    ranked AS (
      SELECT probe_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT probe_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
    """,
)
def s01_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            dround(
                _dot("pe", "embedding") / (_norm("pe") * _norm("embedding")), 6
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs
# --------------------------------------------------------------------------
@register(
    "d05_embedding_neardup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {NEARDUP_COSINE}
    """,
)
def d05_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: brute-force O(n^2) is the *verifier*; at corpus scale the
    # candidate set comes from LSH/IVF blocking (see s02) — this query is
    # the exact semantics both paths must agree with.
    # Perf: norms are precomputed once per vector (n rows) instead of
    # twice per pair (n^2) — same fold, bit-identical cosine.
    emb = _emb(spark, sf_dir)
    with_norm = emb.select("vec_id", "embedding", _norm("embedding").alias("nrm"))
    # The embeddings fixture is one parquet file → one partition; the
    # nested-loop pair join streams the non-broadcast side, so spread it
    # across the cluster first (explicit numPartitions so AQE keeps it).
    a = with_norm.repartition(64).select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = with_norm.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = _dot("ea", "eb") / (F.col("na") * F.col("nb"))
    # No forced broadcast: the corpus grows with SF, so the planner must
    # stay free to pick cartesian/BNLJ from its own size stats (it still
    # broadcasts b at fixture scale). d06 is the production path.
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= NEARDUP_COSINE)
        .select("vec_a", "vec_b", dround("cos_raw", 6).alias("cosine"))
    )


# --------------------------------------------------------------------------
# LSH-bucketed ANN (scale path). The hyperplanes are md5-derived (no
# RNG), so the ENTIRE pipeline — planes → sign signatures → block keys →
# candidate equi-join → exact re-rank — has a bit-exact DuckDB twin; the
# oracle below replicates it, and recall vs s01 is asserted in pytest.
# --------------------------------------------------------------------------
def _hyperplanes(spark: SparkSession, dims: int) -> DataFrame:
    """Deterministic pseudo-random hyperplanes derived from md5 — no RNG,
    reproducible across runs and engines."""
    rows = []
    import hashlib

    for p in range(LSH_PLANES):
        weights = []
        for d in range(dims):
            h = int(hashlib.md5(f"plane{p}_dim{d}".encode()).hexdigest()[:8], 16)
            weights.append((h % 2001 - 1000) / 1000.0)
        rows.append((p, weights))
    return local_frame(spark, rows, "plane int, w array<double>")


def _signatures(emb: DataFrame, planes: DataFrame) -> DataFrame:
    """Sign signature per vector, exploded into LSH_BLOCKS block keys
    (vec_id, block_id, block_key) — long format so candidate generation
    is one equi-join regardless of block count."""
    sig = (
        emb.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "plane",
            F.when(_dot("embedding", "w") > 0, F.lit(1)).otherwise(F.lit(0)).alias("bit"),
        )
        .groupBy("vec_id")
        .agg(F.sum(F.expr("shiftleft(CAST(bit AS BIGINT), plane)")).alias("sig"))
    )
    bits_per_block = LSH_PLANES // LSH_BLOCKS
    mask = (1 << bits_per_block) - 1
    # One explode pass builds every block row — a unionAll of per-block
    # projections would re-derive the whole signature pipeline (corpus ×
    # planes crossJoin + groupBy) once per block (same trap as d02 bands).
    block_structs = [
        F.struct(
            F.lit(b).alias("block_id"),
            F.expr(f"(shiftright(sig, {b * bits_per_block}) & {mask})").alias(
                "block_key"
            ),
        )
        for b in range(LSH_BLOCKS)
    ]
    return sig.select(
        "vec_id", F.explode(F.array(*block_structs)).alias("bk")
    ).select("vec_id", "bk.block_id", "bk.block_key")


def _s02_oracle() -> str:
    from .hashing import md5_prefix_long_sql

    plane_hash = md5_prefix_long_sql(
        "'plane' || CAST(p AS VARCHAR) || '_dim' || CAST(d AS VARCHAR)"
    )
    plane_dot = _DOT_SQL.format(a="e.embedding", b="pl.wl")
    bits_per_block = LSH_PLANES // LSH_BLOCKS
    mask = (1 << bits_per_block) - 1
    return f"""
    WITH planes AS (
      SELECT p, list(w ORDER BY d) AS wl
      FROM (
        SELECT p, d, ({plane_hash} % 2001 - 1000) / 1000.0 AS w
        FROM range(0, {LSH_PLANES}) t1(p), range(0, 64) t2(d)
      )
      GROUP BY p
    ),
    sigs AS (
      SELECT e.vec_id,
             SUM(CASE WHEN {plane_dot} > 0
                      THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS sig
      FROM embeddings e, planes pl
      GROUP BY e.vec_id
    ),
    blocks AS (
      SELECT vec_id, b AS block_id, (sig >> (b * {bits_per_block})) & {mask} AS block_key
      FROM sigs, range(0, {LSH_BLOCKS}) t(b)
    ),
    pblocks AS (
      SELECT vec_id, block_id, xor(block_key, f) AS block_key
      FROM blocks, (SELECT unnest({LSH_MULTIPROBE_FLIPS}) AS f)
      WHERE vec_id < {N_PROBES}
    ),
    cand AS (
      SELECT DISTINCT pb.vec_id AS probe_id, bl.vec_id
      FROM blocks bl
      JOIN pblocks pb ON bl.block_id = pb.block_id AND bl.block_key = pb.block_key
      WHERE bl.vec_id <> pb.vec_id
    ),
    scored AS (
      SELECT c.probe_id, c.vec_id AS neighbor_id,
             ROUND({_cos_sql('pe.embedding', 'ne.embedding')}, 6) AS cosine
      FROM cand c
      JOIN embeddings ne ON ne.vec_id = c.vec_id
      JOIN embeddings pe ON pe.vec_id = c.probe_id
    ),
    ranked AS (
      SELECT probe_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT probe_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
    """


@register("s02_ann_lsh_topk", oracle=_s02_oracle())
def s02_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-table random-hyperplane LSH: a candidate must share at least
    # one 4-bit block with the probe. With weakly-similar vectors (the
    # fixture tops out at cosine ~0.5) more, shorter tables buy recall
    # at the price of a larger candidate set — the knob a production
    # deployment tunes per corpus. Candidate generation is an equi-join
    # on (block_id, block_key); no cross join anywhere.
    emb = _emb(spark, sf_dir)
    with_norm = emb.select("vec_id", "embedding", _norm("embedding").alias("nrm"))
    planes = _hyperplanes(spark, 64)
    blocks = _signatures(emb, planes)
    # Multi-probe expansion on the O(1) probe side only: every block key
    # is also probed with each single-bit flip (Hamming-1 neighborhood).
    flip_arr = F.array(*[F.lit(f).cast("long") for f in LSH_MULTIPROBE_FLIPS])
    probe_blocks = (
        blocks.filter(F.col("vec_id") < N_PROBES)
        .select(F.col("vec_id").alias("probe_id"), "block_id", "block_key")
        .withColumn("flip", F.explode(flip_arr))
        .select(
            "probe_id",
            "block_id",
            F.col("block_key").bitwiseXOR(F.col("flip")).alias("block_key"),
        )
    )
    cand = (
        blocks.join(F.broadcast(probe_blocks), ["block_id", "block_key"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
        .dropDuplicates(["probe_id", "vec_id"])
    )
    probes = with_norm.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("nrm").alias("pn"),
    )
    scored = (
        cand.join(with_norm, "vec_id")
        .join(F.broadcast(probes), "probe_id")
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            dround(_dot("pe", "embedding") / (F.col("pn") * F.col("nrm")), 6).alias(
                "cosine"
            ),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: deterministic k-means coarse quantizer +
# cell-probed exact re-rank. The billion-vector scale path: candidate
# generation is an equi-join on cluster id; only nprobe/k of the corpus
# is scanned per probe.
#
# The whole pipeline runs on int64 fixed-point vectors
# (floor(x * 2^20) — exact in every engine), so every Lloyd step is
# bit-exact and order-independent: squared distances are int64 sums,
# centroid means are int64 sum `div` count (truncating division in both
# Spark and DuckDB), argmin ties break on cid. That determinism is what
# buys the iterative algorithm a full DuckDB oracle; recall vs s01 is
# additionally asserted in pytest.
# --------------------------------------------------------------------------
IVF_K = 16
# nprobe 6/16: multi-probing more cells is the IVF recall knob (probe
# side is O(1); candidate re-rank grows nprobe/K-linearly). 4/16 gave
# 0.58 fixture recall; 6/16 clears the 0.7 floor.
IVF_NPROBE = 6
IVF_ITERS = 2


def _quant_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized int64 fixed-point corpus (shared by s03/d17; see
    materialize.py — compute + checkpoint once per session)."""
    return materialized_df(
        spark, sf_dir, "quant_corpus",
        lambda: _qemb(_emb(spark, sf_dir)),
    )


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list:
    """Materialized Lloyd centroid table (K x 64 int64 — O(1) driver
    state, shared by s03/d17)."""
    return materialized_value(
        spark, sf_dir, "ivf_centroids",
        lambda: _centroid_rows(_quant_corpus(spark, sf_dir)),
    )


def _qemb(emb: DataFrame) -> DataFrame:
    """vec_id + int64 fixed-point vector q = floor(x * 2^20)."""
    return emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
        ).alias("q"),
    )


def _isum(l) -> Column:
    return F.aggregate(l, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _qd2(a: str | Column, b: str | Column) -> Column:
    """Exact int64 squared L2 distance (|diff| ≤ 2^21 → sum ≤ 2^48)."""
    return _isum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


_CENTROID_SCHEMA = T.StructType(
    [
        T.StructField("cid", T.IntegerType()),
        T.StructField("cvec", T.ArrayType(T.LongType())),
    ]
)


def centroid_frame(spark: SparkSession, centroids: list) -> DataFrame:
    """(cid, cvec) over driver-held (cid, vector) centroid rows — the
    one centroid frame. A JVM local relation, so reading it runs no
    Spark job. It carries no join hint: the join that consumes it
    (_cell_d2) applies the broadcast."""
    rows = [(int(c), [int(x) for x in v]) for c, v in centroids]
    return local_frame(spark, rows, _CENTROID_SCHEMA)


def _cell_d2(quant: DataFrame, cdf: DataFrame) -> DataFrame:
    """Every (vector, centroid) pair with its exact squared distance
    ``d2`` — the one centroid join. The K-row centroid table is
    broadcast here and nowhere else."""
    return quant.crossJoin(F.broadcast(cdf)).withColumn("d2", _qd2("q", "cvec"))


def assign_cells(
    quant: DataFrame, cdf: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, cid, q) nearest-centroid assignment: argmin via
    min(struct(d2, cid)) — a hash aggregate with map-side partial
    combine instead of a corpus×K row_number window; lexicographic
    struct-min == ORDER BY d2, cid (ties → lowest cid). ONE definition
    shared by the Lloyd trainer, the incremental IVF index
    (ivf_index.py) and every query that buckets the corpus into cells
    (s03, s12, s17, s19, s20, s23, d17, p12), so assignment semantics
    can never fork. A caller that needs only (vec_id, cid) selects
    them; Catalyst prunes the unused ``first(q)``.

    ``carry``: extra per-vector columns of ``quant`` passed through the
    aggregation (single-valued per vec_id, so F.first is exact) — lets
    a caller that already holds per-vector state (e.g. the index's
    previous cid in drift_report) keep it WITHOUT a second scan + join
    back on vec_id."""
    return (
        _cell_d2(quant, cdf)
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "cid")).alias("m"),
            F.first("q").alias("q"),
            *[F.first(c).alias(c) for c in carry],
        )
        .select("vec_id", F.col("m.cid").alias("cid"), "q", *carry)
    )


def probe_cells(probes: DataFrame, cdf: DataFrame, nprobe: int) -> DataFrame:
    """(vec_id, cid, crk): each probe vector's ``nprobe`` nearest cells,
    ranked 1.. by (d2, cid) — the probe-side twin of assign_cells (its
    crk = 1 cell is the assigned one). A row_number window over the
    probes × K pairs; only probe sets (O(N_PROBES) rows) come here."""
    w = W.partitionBy("vec_id").orderBy(F.col("d2"), F.col("cid"))
    return (
        _cell_d2(probes.select("vec_id", "q"), cdf)
        .withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= nprobe)
        .select("vec_id", "cid", "crk")
    )


def lloyd_means(assigned: DataFrame) -> DataFrame:
    """(cid, cvec) element-wise integer mean per cluster via posexplode
    → sum div count → re-assemble (exact, order-independent; empty
    cells simply yield no row — the _lloyd_means_sql twin)."""
    return (
        assigned.select("cid", F.posexplode("q").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.expr("sum(val) div count(*)").alias("cv"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pm"))
        .select("cid", F.expr("transform(pm, x -> x.cv)").alias("cvec"))
    )


def _centroid_rows(quant: DataFrame) -> list[tuple[int, list[int]]]:
    """Deterministic Lloyd iterations over fixed-point vectors —
    the FINAL centroid table (see _centroid_history for all rounds)."""
    return _centroid_history(quant)[-1]


def _centroid_history(
    quant: DataFrame, salt: str = ""
) -> list[list[tuple[int, list[int]]]]:
    """[seeds, c1, ..., c_IVF_ITERS] — every Lloyd round's centroid
    table. Seeds = the IVF_K vectors with the smallest md5-derived key
    (stable across runs/partitionings; ``salt`` appended to the hashed
    id gives an independent deterministic init — s23's stability
    audit; the empty default hashes the bare id, so s03/s17 are
    untouched). Each table is K x 64 int64 — the only thing that ever
    reaches the driver. s03 consumes the last round; s17's drift
    monitor consumes the whole history."""
    # The trainer loops bounded driver actions over a corpus-count
    # table; with the memo's 32 checkpoint partitions each Lloyd stage
    # on the gate fixture is overhead-dominated (32 near-empty tasks x
    # 3 stages x rounds). coalesce (no shuffle) packs the reads to
    # ~10k vectors/task — ~0.5s/round at sf0.1 — while large corpora
    # keep their parallelism (a flat coalesce(4) would serialize the
    # corpus x K x dim arithmetic that dominates at 10x+, the exact
    # superlinearity the scale spot-check exists to catch). Packing
    # cannot change any result: every Lloyd step is exact integer
    # arithmetic, order-independent by construction. The count is one
    # fast action over the localCheckpointed memo, paid once per
    # trainer invocation (itself session-memoized).
    n_parts = quant.rdd.getNumPartitions()
    target = max(4, min(n_parts, quant.count() // 10_000 + 1))
    if target < n_parts:
        quant = quant.coalesce(int(target))
    seeds = (
        quant.select(
            "vec_id",
            "q",
            md5_prefix_long(
                F.concat(F.col("vec_id").cast("string"), F.lit(salt))
            ).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(IVF_K)
        .collect()
    )
    centroids = [(i, [int(x) for x in r.q]) for i, r in enumerate(seeds)]
    history = [centroids]
    spark = quant.sparkSession
    for _ in range(IVF_ITERS):
        cdf = centroid_frame(spark, centroids)
        means = lloyd_means(assign_cells(quant, cdf)).collect()
        centroids = sorted((r.cid, [int(x) for x in r.cvec]) for r in means)
        history.append(centroids)
    return history


_QD2_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


def _lloyd_assign_sql(vecs: str, cents: str, extra: str = "") -> str:
    """One Lloyd assignment: nearest centroid per vector (ties → cid).
    Shared by the s03 oracle and the s17 drift-monitor oracle."""
    return f"""
      SELECT vec_id, q, cid FROM (
        SELECT v.vec_id, v.q, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_QD2_SQL.format(a='v.q', b='c.cvec')}, c.cid) AS rk
        FROM {vecs} v CROSS JOIN {cents} c {extra}
      ) WHERE rk = 1
    """


def _lloyd_means_sql(assigned: str) -> str:
    """Element-wise integer mean per cluster (sum // count, exact)."""
    return f"""
      SELECT cid, list(cv ORDER BY pos) AS cvec FROM (
        SELECT cid, pos, CAST(SUM(val) AS BIGINT) // COUNT(*) AS cv FROM (
          SELECT a.cid, t.pos, a.q[t.pos] AS val
          FROM {assigned} a, range(1, 65) t(pos)
        ) GROUP BY cid, pos
      ) GROUP BY cid
    """


def _ivf_replay_ctes(train: str) -> str:
    """The quant/train/seeds/a1..c2/cells CTE chain: Lloyd trained on
    ``train`` (a relation over quant — 'quant' itself for s03, the
    even-vec_id seed snapshot for the incremental-index oracles), with
    the FINAL assignment over ALL vectors. One definition shared by the
    s03, p20, and s27 oracles so the replayed trainer can never fork
    from itself."""
    from .hashing import md5_prefix_long_sql

    seed_hash = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)")
    assign = _lloyd_assign_sql
    means = _lloyd_means_sql

    return f"""quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    train AS (SELECT * FROM {train}),
    seeds AS (
      SELECT cid, q AS cvec FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_hash}, vec_id) - 1 AS cid, q
        FROM train
      ) WHERE cid < {IVF_K}
    ),
    a1 AS ({assign('train', 'seeds')}),
    c1 AS ({means('a1')}),
    a2 AS ({assign('train', 'c1')}),
    c2 AS ({means('a2')}),
    cells AS ({assign('quant', 'c2')})"""


def _ivf_topk_tail_sql() -> str:
    """norms/probes/cand/scored/ranked + final SELECT over the replay's
    ``cells``/``c2`` — the cell-probed exact re-rank, shared verbatim
    by the s03 and s27 oracles."""
    return f"""
    norms AS (
      SELECT vec_id, q, cid,
             {_ISUM_SQL.format(l='list_transform(q, v -> v * v)')} AS nq
      FROM cells
    ),
    probes AS (
      SELECT vec_id AS probe_id, cid FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_QD2_SQL.format(a='v.q', b='c.cvec')}, c.cid) AS rk
        FROM quant v CROSS JOIN c2 c WHERE v.vec_id < {N_PROBES}
      ) WHERE rk <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT DISTINCT p.probe_id, a.vec_id
      FROM norms a JOIN probes p ON a.cid = p.cid
      WHERE a.vec_id <> p.probe_id
    ),
    scored AS (
      SELECT c.probe_id, c.vec_id AS neighbor_id,
             ROUND(CAST({_ISUM_SQL.format(
                 l='list_transform(list_zip(pn.q, nn.q), p -> p[1] * p[2])')}
                 AS DOUBLE)
                 / (sqrt(CAST(pn.nq AS DOUBLE)) * sqrt(CAST(nn.nq AS DOUBLE))), 6)
               AS cosine
      FROM cand c
      JOIN norms nn ON nn.vec_id = c.vec_id
      JOIN norms pn ON pn.vec_id = c.probe_id
    ),
    ranked AS (
      SELECT probe_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT probe_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
    """


def _s03_oracle() -> str:
    return f"""
    WITH {_ivf_replay_ctes('quant')},
    {_ivf_topk_tail_sql()}
    """


def _ivf_topk(cells: DataFrame, cdf: DataFrame, probe_src: DataFrame) -> DataFrame:
    """Cell-probed exact top-k cosine re-rank over assigned (vec_id,
    cid, q) rows: probe vectors (vec_id < N_PROBES, read from
    ``probe_src`` — a cheap (vec_id, q) relation so the cells subtree
    isn't recomputed per branch) rank the IVF_NPROBE nearest
    centroids; candidates come only from those cells; exact cosine
    re-ranks. Shared by s03 (cells assigned per run) and s27 (cells
    READ from the maintained incremental index)."""
    with_norm = cells.withColumn("nq", _isum(F.transform("q", lambda v: v * v)))
    probes = probe_cells(
        probe_src.filter(F.col("vec_id") < N_PROBES), cdf, IVF_NPROBE
    ).select(F.col("vec_id").alias("probe_id"), "cid")
    probe_vecs = with_norm.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("q").alias("pq"),
        F.col("nq").alias("pn"),
    )
    cand = (
        with_norm.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .dropDuplicates(["probe_id", "vec_id"])
    )
    scored = cand.join(F.broadcast(probe_vecs), "probe_id").select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        dround(
            _isum(F.zip_with("pq", "q", lambda x, y: x * y)).cast("double")
            / (F.sqrt(F.col("pn").cast("double")) * F.sqrt(F.col("nq").cast("double"))),
            6,
        ).alias("cosine"),
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "rk")
    )


@register("s03_ann_ivf_topk", oracle=_s03_oracle())
def s03_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pin the quantized corpus once: every Lloyd round and the final
    # assignment/scoring reuse it instead of re-scanning the parquet
    # (localCheckpoint also truncates lineage across iterations).
    quant = _quant_corpus(spark, sf_dir)
    centroids = _ivf_centroids(spark, sf_dir)
    cdf = centroid_frame(spark, centroids)
    # Assign every vector to its cell (assign_cells: min(struct) hash
    # aggregate, map-side combine — no corpus×K window shuffle); probes
    # read from the checkpointed quant (N_PROBES×K rows — trivial).
    return _ivf_topk(assign_cells(quant, cdf), cdf, quant)


# --------------------------------------------------------------------------
# Block-matrix near-dup over fixed-point quantized embeddings.
#
# The scale design for exact all-pairs verification: vectors are
# quantized to int64 fixed-point (floor(x * 2^20) — multiplying a float
# by a power of two is exact, so quantization is deterministic in every
# engine), packed into per-block rows, and the 8x8 block-pair grid is
# processed by an Arrow-batched pandas/numpy kernel (int64 matmul —
# order-independent exact arithmetic, so the resulting cosines are
# bit-identical to the DuckDB oracle with NO rounding layer). Nothing
# touches the driver; block size is the memory knob.
# --------------------------------------------------------------------------
N_BLOCKS = 8


def _quant_oracle() -> str:
    q = "list_transform({e}, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT))"
    dot = ("list_sum(list_transform(list_zip(qa.q, qb.q), p -> p[1] * p[2]))")
    nrm = "sqrt(CAST(list_sum(list_transform({v}.q, x -> x * x)) AS DOUBLE))"
    return f"""
    WITH quant AS (
      SELECT vec_id, {q.format(e='embedding')} AS q FROM embeddings
    )
    SELECT qa.vec_id AS vec_a, qb.vec_id AS vec_b,
           CAST({dot} AS DOUBLE) / ({nrm.format(v='qa')} * {nrm.format(v='qb')})
               AS cosine
    FROM quant qa JOIN quant qb ON qa.vec_id < qb.vec_id
    WHERE CAST({dot} AS DOUBLE) /
          ({nrm.format(v='qa')} * {nrm.format(v='qb')}) >= {NEARDUP_COSINE}
    """


@register("d06_embedding_neardup_blocked", oracle=_quant_oracle())
def d06_embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    quant = _qemb(_emb(spark, sf_dir)).withColumn(
        "blk", F.col("vec_id") % N_BLOCKS
    )
    packed = quant.groupBy("blk").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "q"))).alias("rows")
    )
    a = packed.select(F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a"))
    b = packed.select(F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b"))
    # As in d08: pin the grid's partition count so the Python matmul
    # kernels run in parallel instead of on one AQE-coalesced task.
    grid = a.join(b, F.col("blk_a") <= F.col("blk_b")).repartition(
        N_BLOCKS * N_BLOCKS, "blk_a", "blk_b"
    )

    def kernel(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ids_a = np.array([r["vec_id"] for r in row["rows_a"]], dtype=np.int64)
                mat_a = np.array([r["q"] for r in row["rows_a"]], dtype=np.int64)
                ids_b = np.array([r["vec_id"] for r in row["rows_b"]], dtype=np.int64)
                mat_b = np.array([r["q"] for r in row["rows_b"]], dtype=np.int64)
                dots = mat_a @ mat_b.T  # exact int64
                na = np.sqrt((mat_a * mat_a).sum(axis=1).astype(np.float64))
                nb = np.sqrt((mat_b * mat_b).sum(axis=1).astype(np.float64))
                cos = dots.astype(np.float64) / (na[:, None] * nb[None, :])
                ia, ib = np.nonzero(cos >= NEARDUP_COSINE)
                va, vb, cv = ids_a[ia], ids_b[ib], cos[ia, ib]
                if row["blk_a"] == row["blk_b"]:
                    keep = va < vb  # each in-block pair appears twice
                    va, vb, cv = va[keep], vb[keep], cv[keep]
                else:
                    # off-diagonal cell holds each cross-block pair once;
                    # normalize orientation to (min, max)
                    lo = np.minimum(va, vb)
                    hi = np.maximum(va, vb)
                    va, vb = lo, hi
                out_a.append(va)
                out_b.append(vb)
                out_c.append(cv)
            yield pd.DataFrame(
                {
                    "vec_a": np.concatenate(out_a) if out_a else [],
                    "vec_b": np.concatenate(out_b) if out_b else [],
                    "cosine": np.concatenate(out_c) if out_c else [],
                }
            )

    return grid.mapInPandas(kernel, schema="vec_a long, vec_b long, cosine double")


# --------------------------------------------------------------------------
# Quantized-embedding top-k: the embedding-compression serving path.
#
# Per-vector symmetric int8-style quantization (q_i = floor(x_i * 127 /
# max|x|), values in [-127, 127]) shrinks a float32 corpus 4x before the
# similarity scan — the standard memory/bandwidth lever for
# billion-vector stores. Scoring then runs entirely in int64 (dot and
# squared-norm sums are exact integers), so results are bit-identical
# across engines with no fold-order or rounding concerns until the final
# double division — the same int-exactness trick as d06. Recall vs the
# float baseline (s01) is measured in tests.
# --------------------------------------------------------------------------
_Q_SQL = (
    "list_transform({a}, v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 / "
    "list_aggregate(list_transform({a}, u -> abs(CAST(u AS DOUBLE))), 'max')"
    ") AS BIGINT))"
)


@register(
    "s04_ann_quantized_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, qe,
             {_ISUM_SQL.format(l="list_transform(qe, v -> v * v)")} AS nq
      FROM (SELECT vec_id, {_Q_SQL.format(a="embedding")} AS qe FROM embeddings)
    ),
    probes AS (
      SELECT vec_id AS probe_id, qe AS pe, nq AS np FROM n
      WHERE vec_id < {N_PROBES}
    ),
    scored AS (
      SELECT probe_id, e.vec_id AS neighbor_id,
             ROUND(CAST({_ISUM_SQL.format(
                 l="list_transform(list_zip(pe, e.qe), p -> p[1] * p[2])")}
                 AS DOUBLE)
                 / (sqrt(CAST(np AS DOUBLE)) * sqrt(CAST(e.nq AS DOUBLE))), 6)
               AS cosine_q
      FROM probes JOIN n e ON e.vec_id <> probe_id
    ),
    ranked AS (
      SELECT probe_id, neighbor_id, cosine_q,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine_q DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT probe_id, neighbor_id, cosine_q, rk FROM ranked WHERE rk <= {TOP_K}
    """,
)
def s04_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    qe = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 127.0 / scale).cast("long"),
    )
    isum = lambda l: F.aggregate(l, F.lit(0).cast("long"), lambda acc, v: acc + v)
    n = emb.select(
        "vec_id",
        qe.alias("qe"),
        isum(F.transform(qe, lambda v: v * v)).alias("nq"),
    )
    probes = n.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qe").alias("pe"),
        F.col("nq").alias("np"),
    )
    dotq = isum(F.zip_with("pe", "qe", lambda x, y: x * y))
    # No repartition here: the parquet scan is already partition-parallel
    # and a repartition would shuffle the whole quantized corpus (arrays
    # included) before a broadcast probe join that needs no shuffle at
    # all (r2 measured it at 2.8x the r1 wall time).
    scored = (
        n.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            dround(
                dotq.cast("double")
                / (F.sqrt(F.col("np").cast("double")) * F.sqrt(F.col("nq").cast("double"))),
                6,
            ).alias("cosine_q"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine_q").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine_q", "rk")
    )


# --------------------------------------------------------------------------
# Range (radius) similarity search: ALL neighbors with cosine >= tau.
#
# Complements the top-k family: retrieval-augmented pipelines and
# near-dup audits often want every match above a floor, not a fixed k.
# Exact brute-force like s01 — probes broadcast (O(1): N_PROBES rows),
# corpus side stays partitioned, score + filter are one codegen'd map
# stage with NO shuffle at all (no window; the filter replaces top-k
# ranking). The threshold is applied to the ROUNDED cosine on both
# engines so the boundary decision is identical.
# --------------------------------------------------------------------------
RANGE_TAU = 0.25


@register(
    "s05_ann_range_search",
    oracle=f"""
    WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe
                    FROM embeddings WHERE vec_id < {N_PROBES}),
    scored AS (
      SELECT probe_id, e.vec_id AS neighbor_id,
             ROUND({_cos_sql('pe', 'e.embedding')}, 6) AS cosine
      FROM probes JOIN embeddings e ON e.vec_id <> probe_id
    )
    SELECT probe_id, neighbor_id, cosine FROM scored WHERE cosine >= {RANGE_TAU}
    """,
)
def s05_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    return (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            dround(
                _dot("pe", "embedding") / (_norm("pe") * _norm("embedding")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= RANGE_TAU)
    )


# --------------------------------------------------------------------------
# s06: metadata-filtered ANN — top-k under a per-probe attribute
# predicate (here: neighbors must carry a different label than the
# probe; stand-in for "same language", "not same source", ACL filters,
# …). The important property at scale: the filter applies BEFORE
# scoring, so the scorer touches only qualifying vectors — filters
# push into the scan, they don't post-filter a top-k (which would
# silently return < k rows).
#
# Scale: same shape as s01 (broadcast probes × partitioned corpus);
# the label predicate is evaluated row-locally pre-ranking, and for an
# IVF/LSH-accelerated variant the same predicate composes with the
# block-key equi-join unchanged.
# --------------------------------------------------------------------------
@register(
    "s06_ann_filtered_topk",
    oracle=f"""
    WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe, label AS pl
                    FROM embeddings WHERE vec_id < {N_PROBES}),
    scored AS (
      SELECT probe_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
             ROUND({_cos_sql('pe', 'e.embedding')}, 6) AS cosine
      FROM probes JOIN embeddings e
        ON e.vec_id <> probe_id AND e.label <> pl
    ),
    ranked AS (
      SELECT probe_id, neighbor_id, neighbor_label, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT probe_id, neighbor_id, neighbor_label, cosine, rk
    FROM ranked WHERE rk <= {TOP_K}
    """,
)
def s06_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("label").alias("pl"),
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter((F.col("vec_id") != F.col("probe_id")) & (F.col("label") != F.col("pl")))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            dround(
                _dot("pe", "embedding") / (_norm("pe") * _norm("embedding")), 6
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "neighbor_id", "neighbor_label", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# s07: two-stage retrieval — quantized candidate generation + exact
# float re-rank. THE production serving pattern: scan the 4x-smaller
# int8-style corpus for a candidate pool (top-20 by integer-exact
# quantized cosine), then re-score only the pool with full-precision
# floats and emit the top-5. Recall loss is confined to candidates the
# quantizer mis-ranks past the pool boundary; the pool size is the
# recall/cost knob.
#
# Scale: stage 1 is s04's broadcast-probes scan over the compressed
# corpus (the scan cost that matters at a billion vectors); stage 2
# touches probes × pool rows — negligible. The float fetch for the
# pool is a vec_id equi-join against the full-precision table (the
# "fetch from the vector store" step).
# --------------------------------------------------------------------------
RERANK_POOL = 20


@register(
    "s07_ann_rerank_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, qe,
             {_ISUM_SQL.format(l="list_transform(qe, v -> v * v)")} AS nq
      FROM (SELECT vec_id, {_Q_SQL.format(a="embedding")} AS qe FROM embeddings)
    ),
    probes AS (
      SELECT vec_id AS probe_id, qe AS pe, nq AS np FROM n
      WHERE vec_id < {N_PROBES}
    ),
    scored_q AS (
      SELECT probe_id, e.vec_id AS neighbor_id,
             ROUND(CAST({_ISUM_SQL.format(
                 l="list_transform(list_zip(pe, e.qe), p -> p[1] * p[2])")}
                 AS DOUBLE)
                 / (sqrt(CAST(np AS DOUBLE)) * sqrt(CAST(e.nq AS DOUBLE))), 6)
               AS cosine_q
      FROM probes JOIN n e ON e.vec_id <> probe_id
    ),
    pool AS (
      SELECT probe_id, neighbor_id, cosine_q FROM (
        SELECT probe_id, neighbor_id, cosine_q,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY cosine_q DESC, neighbor_id) AS rk_q
        FROM scored_q
      ) WHERE rk_q <= {RERANK_POOL}
    ),
    exact AS (
      SELECT p.probe_id, p.neighbor_id, p.cosine_q,
             ROUND({_cos_sql('pf.embedding', 'nf.embedding')}, 6) AS cosine
      FROM pool p
      JOIN embeddings pf ON pf.vec_id = p.probe_id
      JOIN embeddings nf ON nf.vec_id = p.neighbor_id
    )
    SELECT probe_id, neighbor_id, cosine, cosine_q, rk FROM (
      SELECT probe_id, neighbor_id, cosine, cosine_q,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM exact
    ) WHERE rk <= {TOP_K}
    """,
)
def s07_ann_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    qe = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 127.0 / scale).cast("long"),
    )
    isum = lambda l: F.aggregate(l, F.lit(0).cast("long"), lambda acc, v: acc + v)
    n = emb.select(
        "vec_id",
        qe.alias("qe"),
        isum(F.transform(qe, lambda v: v * v)).alias("nq"),
    )
    probes = n.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qe").alias("pe"),
        F.col("nq").alias("np"),
    )
    dotq = isum(F.zip_with("pe", "qe", lambda x, y: x * y))
    scored_q = (
        n.repartition(64)
        .crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            dround(
                dotq.cast("double")
                / (F.sqrt(F.col("np").cast("double")) * F.sqrt(F.col("nq").cast("double"))),
                6,
            ).alias("cosine_q"),
        )
    )
    wq = W.partitionBy("probe_id").orderBy(
        F.col("cosine_q").desc(), F.col("neighbor_id")
    )
    pool = (
        scored_q.withColumn("rk_q", F.row_number().over(wq))
        .filter(F.col("rk_q") <= RERANK_POOL)
        .drop("rk_q")
    )
    pf = emb.select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe_f"))
    nf = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne_f")
    )
    exact = (
        pool.join(pf, "probe_id")
        .join(nf, "neighbor_id")
        .select(
            "probe_id",
            "neighbor_id",
            dround(_dot("pe_f", "ne_f") / (_norm("pe_f") * _norm("ne_f")), 6).alias(
                "cosine"
            ),
            "cosine_q",
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "cosine_q", "rk")
    )


# --------------------------------------------------------------------------
# s08: Product-quantization ANN with asymmetric distance (PQ + ADC) —
# the billion-vector COMPRESSION path (Jégou et al., "Product
# Quantization for Nearest Neighbor Search"). The 64-dim vector is
# split into 8 sub-blocks; each sub-block is coded as the id of its
# nearest codeword from a 16-entry per-block codebook, so a vector
# stores as 8 bytes instead of 256. A probe never decompresses the
# corpus: it precomputes an 8x16 lookup table of (sub-probe -> codeword)
# distances and a neighbor's approximate distance is the SUM of 8 table
# lookups.
#
# Deterministic twin discipline (the s03 pattern): codebooks are the
# sub-blocks of the 16 md5-seeded corpus vectors over int64 fixed-point
# values, every distance is an exact int64 sum, argmin ties break on
# cid — so DuckDB replays codebook build, code assignment, LUT, and ADC
# ranking bit-identically and the gate hash-checks all of it.
#
# Scale (100 TB): the codebook (8x16x8 int64) and per-probe LUTs
# (O(1) rows) broadcast; code assignment is a corpus-local map stage
# (x128 comparisons per vector, no shuffle); the ADC scoring shuffles
# only map-side-combined (probe, vec) partial sums. The stored
# code table is 32x smaller than the raw vectors — at 100 TB of
# embeddings the scan drops to ~3 TB.
# --------------------------------------------------------------------------
PQ_BLOCKS = 8
PQ_SUB = 8  # dims per block (64 / PQ_BLOCKS)
PQ_K = 16
# ADC candidate-pool size before the exact re-rank. On this fixture's
# weak-similarity corpus (cosine tops out ~0.5, distances concentrate)
# the compressed ranking is candidate generation, not the final order:
# pool 200 recovers 0.86 of the true top-5 at sf0.01, pool 500 -> 1.0.
PQ_POOL = 200


def _qnorm(emb: DataFrame) -> DataFrame:
    """vec_id + int64 fixed-point NORMALIZED vector floor(x/||x|| * 2^20).

    PQ ranks by L2 distance; on unit vectors L2^2 = 2 - 2*cosine, so the
    ADC ordering matches the cosine baselines. The norm is the same
    left-fold double both engines compute for cosine (bit-identical),
    and floor() lands on the same int64 either side.
    """
    nrm = _norm("embedding")
    return emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") / nrm * QUANT_SCALE).cast("long"),
        ).alias("q"),
    )


_CODEBOOK_SCHEMA = T.StructType(
    [
        T.StructField("b", T.IntegerType()),
        T.StructField("cid", T.IntegerType()),
        T.StructField("cw", T.ArrayType(T.LongType())),
    ]
)


def codebook_frame(spark: SparkSession, rows: list) -> DataFrame:
    """(b, cid, cw) over the driver-held PQ codebook rows — the one
    codebook frame. Like centroid_frame: a local relation (no job to
    read it), hinted only at its join (_code_d2)."""
    return local_frame(spark, rows, _CODEBOOK_SCHEMA)


def pq_blocks(quant: DataFrame) -> DataFrame:
    """(vec_id, b, sub): each (vec_id, q) vector split into its
    PQ_BLOCKS subvectors of PQ_SUB dims, in one explode pass — the one
    subvector split, shared by the encoder and the probe-side LUTs."""
    blocks_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.slice("q", b * PQ_SUB + 1, PQ_SUB).alias("sub"),
            )
            for b in range(PQ_BLOCKS)
        ]
    )
    return quant.select("vec_id", F.explode(blocks_arr).alias("bk")).select(
        "vec_id", "bk.b", "bk.sub"
    )


def _code_d2(blocks: DataFrame, cb: DataFrame) -> DataFrame:
    """Every (subvector, same-block codeword) pair with its exact
    squared distance ``d2`` — the one codebook join. The PQ_BLOCKS x
    PQ_K codebook is broadcast here and nowhere else."""
    return blocks.join(F.broadcast(cb), "b").withColumn("d2", _qd2("sub", "cw"))


def pq_encode(blocks: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, b, code, d2): each subvector's nearest codeword and its
    distance — the one PQ encoder. Argmin via min(struct(d2, cid)) as
    in assign_cells (ties → lowest cid): a map-side-combined hash
    aggregate, no window. The winning distance rides along, so s22's
    distortion audit is free at encoding time."""
    return (
        _code_d2(blocks, cb)
        .groupBy("vec_id", "b")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("vec_id", "b", F.col("m.cid").alias("code"), "m.d2")
    )


def _pq_chain_sql() -> str:
    """Shared PQ CTE prefix (quant → seeds → codebook → per-vec
    subvector blocks) — spliced by both s08's search oracle and s22's
    distortion audit so the codebook derivation exists once."""
    from .hashing import md5_prefix_long_sql

    seed_hash = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)")
    norm = _NORM_SQL.format(a="embedding")
    return f"""quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / {norm} * {QUANT_SCALE})
                    AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT cid, q FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_hash}, vec_id) - 1 AS cid, q
        FROM quant
      ) WHERE cid < {PQ_K}
    ),
    cb AS (
      SELECT t.b, s.cid,
             list_slice(s.q, t.b * {PQ_SUB} + 1, t.b * {PQ_SUB} + {PQ_SUB}) AS cw
      FROM seeds s, range(0, {PQ_BLOCKS}) t(b)
    ),
    cblk AS (
      SELECT vec_id, t.b,
             list_slice(q, t.b * {PQ_SUB} + 1, t.b * {PQ_SUB} + {PQ_SUB}) AS sub
      FROM quant, range(0, {PQ_BLOCKS}) t(b)
    )"""


def _s08_oracle() -> str:
    d2 = _QD2_SQL.format(a="c.sub", b="k.cw")
    return f"""
    WITH {_pq_chain_sql()},
    codes AS (
      SELECT vec_id, b, cid AS code FROM (
        SELECT c.vec_id, c.b, k.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.b
                                  ORDER BY {d2}, k.cid) AS rk
        FROM cblk c JOIN cb k ON k.b = c.b
      ) WHERE rk = 1
    ),
    lut AS (
      SELECT c.vec_id AS probe_id, c.b, k.cid, {d2} AS d2
      FROM cblk c JOIN cb k ON k.b = c.b
      WHERE c.vec_id < {N_PROBES}
    ),
    approx AS (
      SELECT l.probe_id, c.vec_id AS neighbor_id,
             CAST(SUM(l.d2) AS BIGINT) AS approx_d2
      FROM codes c JOIN lut l ON l.b = c.b AND l.cid = c.code
      WHERE c.vec_id <> l.probe_id
      GROUP BY l.probe_id, c.vec_id
    ),
    pool AS (
      SELECT probe_id, neighbor_id, approx_d2 FROM (
        SELECT probe_id, neighbor_id, approx_d2,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY approx_d2, neighbor_id) AS rk_adc
        FROM approx
      ) WHERE rk_adc <= {PQ_POOL}
    ),
    exact AS (
      SELECT p.probe_id, p.neighbor_id, p.approx_d2,
             ROUND({_cos_sql('pe.embedding', 'ne.embedding')}, 6) AS cosine
      FROM pool p
      JOIN embeddings ne ON ne.vec_id = p.neighbor_id
      JOIN embeddings pe ON pe.vec_id = p.probe_id
    ),
    ranked AS (
      SELECT probe_id, neighbor_id, cosine, approx_d2,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM exact
    )
    SELECT probe_id, neighbor_id, cosine, approx_d2, rk
    FROM ranked WHERE rk <= {TOP_K}
    """


def _qnorm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized normalized fixed-point corpus (shared by s08/s12)."""
    return materialized_df(
        spark, sf_dir, "qnorm_corpus", lambda: _qnorm(_emb(spark, sf_dir))
    )


def _pq_codebook_rows(spark: SparkSession, sf_dir: str) -> list:
    """Materialized PQ codebook: the PQ_K smallest-md5-hash normalized
    vectors, split into PQ_BLOCKS subvector codewords (O(1) driver
    state; shared by s08/s12)."""
    def build() -> list:
        quant = _qnorm_corpus(spark, sf_dir)
        seeds = (
            quant.select(
                "vec_id", "q",
                md5_prefix_long(F.col("vec_id").cast("string")).alias("h"),
            )
            .orderBy("h", "vec_id")
            .limit(PQ_K)
            .collect()
        )
        rows = []
        for cid, r in enumerate(seeds):
            qv = [int(x) for x in r.q]
            for b in range(PQ_BLOCKS):
                rows.append((b, cid, qv[b * PQ_SUB : (b + 1) * PQ_SUB]))
        return rows

    return materialized_value(spark, sf_dir, "pq_codebook", build)


@register("s08_ann_pq_topk", oracle=_s08_oracle())
def s08_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = codebook_frame(spark, _pq_codebook_rows(spark, sf_dir))
    cblk = pq_blocks(_qnorm_corpus(spark, sf_dir))
    codes = pq_encode(cblk, cb).select("vec_id", "b", "code")
    # Per-probe ADC lookup tables: O(N_PROBES x 8 x 16) rows, broadcast.
    # The lut columns are renamed (lb/lcid) because both sides descend
    # from the same cblk lineage — joining codes.b to an attribute with
    # the SAME expression id would be self-referential (analyzer
    # auto-disambiguates today, but it's one resolution change away
    # from a silent cross join).
    lut = _code_d2(cblk.filter(F.col("vec_id") < N_PROBES), cb).select(
        F.col("vec_id").alias("probe_id"),
        F.col("b").alias("lb"),
        F.col("cid").alias("lcid"),
        "d2",
    )
    approx = (
        codes.join(
            F.broadcast(lut),
            (F.col("b") == F.col("lb")) & (F.col("code") == F.col("lcid")),
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("d2").alias("approx_d2"))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "approx_d2")
    )
    # Stage 2: the compressed-domain ranking is candidate GENERATION
    # (exactly how IVFADC deploys); the PQ_POOL survivors get an exact
    # cosine re-rank against the raw vectors. The pool bounds the exact
    # stage at O(N_PROBES x PQ_POOL) regardless of corpus size.
    w_adc = W.partitionBy("probe_id").orderBy(F.col("approx_d2"), F.col("neighbor_id"))
    pool = (
        approx.withColumn("rk_adc", F.row_number().over(w_adc))
        .filter(F.col("rk_adc") <= PQ_POOL)
        .drop("rk_adc")
    )
    emb = _emb(spark, sf_dir)
    # Only the N_PROBES probe vectors are ever joined on probe_id —
    # filter BEFORE the broadcast so the hint wraps an O(N_PROBES) table,
    # not the whole corpus (which grows with SF).
    probe_vecs = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    nf = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    exact = (
        pool.join(nf, "neighbor_id")
        .join(F.broadcast(probe_vecs), "probe_id")
        .select(
            "probe_id",
            "neighbor_id",
            dround(_dot("pe", "ne") / (_norm("pe") * _norm("ne")), 6).alias("cosine"),
            "approx_d2",
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "approx_d2", "rk")
    )


# --------------------------------------------------------------------------
# s09: approximate k-NN GRAPH construction — every vector gets its
# top-KNN_K neighbors, the precursor to graph-based dedup clustering
# (d09 consumes edges like these) and NN-descent index builds. Unlike
# s02 (O(1) probe set), here BOTH join sides are corpus-sized, so the
# whole pipeline must stay bucketed: vectors are grouped by their LSH
# (block_id, block_key) bucket and an Arrow-batched int64-matmul kernel
# (d06's pattern) scores each bucket IN PLACE — no per-pair array
# shuffle ever materializes. Each kernel emits only its bucket-local
# top-KNN_K per source; the global top-K is provably contained in the
# union of bucket-local top-Ks (a globally rank-r candidate has < r
# better candidates in any bucket it shares), so a cheap per-src window
# over <= LSH_BLOCKS * KNN_K survivors finishes the graph.
#
# Cosines run on int64 fixed-point vectors (floor(x * 2^20)): dots are
# exact order-independent integers and the final sqrt/divide are single
# correctly-rounded IEEE ops, so numpy and DuckDB produce bit-identical
# values — which is what lets the RANKING (not just the rounded output)
# hash-match the oracle.
#
# Scale: kernel cost is sum over buckets of |bucket|^2; keeping
# |bucket| bounded as the corpus grows is the standard LSH play of
# raising bits-per-block ~ log2(n) (more planes), which this layout
# absorbs as a constant change. Skewed buckets are the knob to watch —
# the 100 TB deployment caps bucket size and re-splits hot keys (same
# salting discipline as t07).
# --------------------------------------------------------------------------
KNN_K = 3


def _s09_chain() -> str:
    """CTE chain shared by the s09 oracle and the s11 expansion oracle:
    planes -> sigs -> blocks -> quant -> cand -> scored -> ranked."""
    from .hashing import md5_prefix_long_sql

    plane_hash = md5_prefix_long_sql(
        "'plane' || CAST(p AS VARCHAR) || '_dim' || CAST(d AS VARCHAR)"
    )
    plane_dot = _DOT_SQL.format(a="e.embedding", b="pl.wl")
    bits_per_block = LSH_PLANES // LSH_BLOCKS
    mask = (1 << bits_per_block) - 1
    return f"""planes AS (
      SELECT p, list(w ORDER BY d) AS wl
      FROM (
        SELECT p, d, ({plane_hash} % 2001 - 1000) / 1000.0 AS w
        FROM range(0, {LSH_PLANES}) t1(p), range(0, 64) t2(d)
      )
      GROUP BY p
    ),
    sigs AS (
      SELECT e.vec_id,
             SUM(CASE WHEN {plane_dot} > 0
                      THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS sig
      FROM embeddings e, planes pl
      GROUP BY e.vec_id
    ),
    blocks AS (
      SELECT vec_id, b AS block_id, (sig >> (b * {bits_per_block})) & {mask} AS block_key
      FROM sigs, range(0, {LSH_BLOCKS}) t(b)
    ),
    quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
      FROM blocks a
      JOIN blocks b ON a.block_id = b.block_id AND a.block_key = b.block_key
      WHERE a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT c.src, c.dst,
             CAST(list_sum(list_transform(list_zip(sq.q, dq.q),
                                          p -> p[1] * p[2])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(sq.q, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(dq.q, x -> x * x)) AS DOUBLE)))
               AS cosine
      FROM cand c
      JOIN quant sq ON sq.vec_id = c.src
      JOIN quant dq ON dq.vec_id = c.dst
    ),
    ranked AS (
      SELECT src, dst, cosine,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rk
      FROM scored
    )"""


def _s09_oracle() -> str:
    return f"""
    WITH {_s09_chain()}
    SELECT src, dst, ROUND(cosine, 6) AS cosine, rk
    FROM ranked WHERE rk <= {KNN_K}
    """


@register("s09_knn_graph", oracle=_s09_oracle())
def s09_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialized: the graph is the input of the s11 NN-descent round.
    return materialized_df(
        spark, sf_dir, "knn_graph", lambda: _s09_build(spark, sf_dir)
    )


def _s09_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = _emb(spark, sf_dir)
    planes = _hyperplanes(spark, 64)
    blocks = _signatures(emb, planes)
    bucketed = blocks.join(_qemb(emb), "vec_id")
    packed = bucketed.groupBy("block_id", "block_key").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "q"))).alias("rows")
    )
    # Pin bucket-task fan-out so the numpy kernels parallelize instead
    # of landing on a few AQE-coalesced tasks (same move as d06/d08).
    packed = packed.repartition(LSH_BLOCKS * 8, "block_id", "block_key")

    def kernel(batches):
        for pdf in batches:
            srcs, dsts, coss = [], [], []
            for _, row in pdf.iterrows():
                rows = row["rows"]
                if len(rows) < 2:
                    continue
                ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
                mat = np.array([r["q"] for r in rows], dtype=np.int64)
                dots = mat @ mat.T  # exact int64
                nrm = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
                cos = dots.astype(np.float64) / (nrm[:, None] * nrm[None, :])
                k = min(KNN_K, len(rows) - 1)
                for i in range(len(rows)):
                    order = np.lexsort((ids, -cos[i]))
                    order = order[ids[order] != ids[i]][:k]
                    srcs.extend(int(x) for x in [ids[i]] * len(order))
                    dsts.extend(int(x) for x in ids[order])
                    coss.extend(float(x) for x in cos[i, order])
            yield pd.DataFrame(
                {
                    "src": pd.array(srcs, dtype="int64"),
                    "dst": pd.array(dsts, dtype="int64"),
                    "cosine": pd.array(coss, dtype="float64"),
                }
            )

    local = packed.mapInPandas(kernel, schema="src long, dst long, cosine double")
    # The same pair can surface from several blocks with an identical
    # (bit-exact) cosine — dedup before ranking so it counts once.
    survivors = local.dropDuplicates(["src", "dst"])
    w = W.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KNN_K)
        .select("src", "dst", dround(F.col("cosine"), 6).alias("cosine"), "rk")
    )


# --------------------------------------------------------------------------
# s10: maximum inner product search (MIPS) with LOSSLESS norm-bound
# pruning. Recommendation/retrieval scoring is dot-product, not cosine
# — there is no normalized sphere, so LSH/IVF recall tricks need
# asymmetric transforms; the classic exact approach is Cauchy-Schwarz:
# dot(q, x) <= |q| * |x|. Stage 1 scores the M corpus vectors with the
# largest norms exactly and takes each probe's current kth-best; stage
# 2 scans the remainder but computes the dot ONLY where the norm-bound
# upper bound clears that threshold (minus a float-slack epsilon, so
# rounding can only ADD candidates, never drop a true neighbor). The
# result is bit-identical to brute force — the oracle IS brute force.
#
# Scale: the norm column is one pass at write time; stage 1 is a
# TakeOrdered(M) + an M x probes broadcast product; stage 2 streams the
# corpus with a scalar norm filter ahead of the 64-wide dot, so the
# expensive arithmetic runs only on the surviving fraction (norm-sorted
# parquet layout would turn the filter into partition pruning).
# --------------------------------------------------------------------------
MIPS_STAGE1_M = 50
_MIPS_SLACK = 1e-6


@register(
    "s10_mips_topk",
    oracle=f"""
    WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe
                    FROM embeddings WHERE vec_id < {N_PROBES}),
    scored AS (
      SELECT probe_id, e.vec_id AS neighbor_id,
             ROUND({_DOT_SQL.format(a='pe', b='e.embedding')}, 6) AS dot
      FROM probes JOIN embeddings e ON e.vec_id <> probe_id
    ),
    ranked AS (
      SELECT probe_id, neighbor_id, dot,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY dot DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT probe_id, neighbor_id, dot, rk FROM ranked WHERE rk <= {TOP_K}
    """,
)
def s10_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn("xnorm", _norm("embedding"))
    probes = (
        emb.filter(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pe"),
            F.col("xnorm").alias("qnorm"),
        )
    )
    top_m = (
        emb.orderBy(F.desc("xnorm"), "vec_id")
        .limit(MIPS_STAGE1_M)
        .select("vec_id", "embedding", "xnorm")
    )
    stage1 = (
        top_m.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .withColumn("dot", dround(_dot("pe", "embedding"), 6))
    )
    thresholds = (
        stage1.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("probe_id").orderBy(F.desc("dot"), "vec_id")
            ),
        )
        .filter(F.col("rk") == TOP_K)
        .select("probe_id", F.col("dot").alias("tk"))
    )
    probe_side = F.broadcast(probes.join(thresholds, "probe_id"))
    rest = emb.join(
        F.broadcast(top_m.select(F.col("vec_id").alias("m_id"))),
        F.col("vec_id") == F.col("m_id"),
        "left_anti",
    )
    stage2 = (
        rest.crossJoin(probe_side)
        .filter(F.col("vec_id") != F.col("probe_id"))
        # Cauchy-Schwarz upper bound: cheap scalar product prunes before
        # the 64-wide dot; the epsilon makes float rounding one-sided.
        .filter(F.col("qnorm") * F.col("xnorm") >= F.col("tk") - _MIPS_SLACK)
        .withColumn("dot", dround(_dot("pe", "embedding"), 6))
    )
    merged = stage1.select("probe_id", F.col("vec_id").alias("neighbor_id"), "dot").unionByName(
        stage2.select("probe_id", F.col("vec_id").alias("neighbor_id"), "dot")
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("dot"), "neighbor_id")
    return (
        merged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "neighbor_id", "dot", "rk")
    )


# --------------------------------------------------------------------------
# d17: SemDeDup-style semantic dedup — cluster the corpus with the s03
# int64 Lloyd kernel, then search for near-duplicates ONLY within each
# cluster (Abbas et al. 2023, "SemDeDup": semantic dup pairs are
# overwhelmingly co-located in embedding clusters, so the all-pairs
# O(n^2) comparison collapses to sum-of-squared-cluster-sizes). A
# vector is dropped when a smaller-id vector in the same cell has
# quantized cosine >= the d05/d06 near-dup threshold — the
# deterministic "keep the first representative" rule.
#
# The oracle replays the SAME two Lloyd iterations in SQL (fragments
# mirror _s03_oracle) and the same within-cell pair predicate, so cell
# assignment, cosines, and keep/drop flags all hash-match.
#
# Scale: the per-cell self-join is the only quadratic term and it is
# quadratic in CELL size, not corpus size; with K scaled to keep cells
# ~constant (K ~ n / target_cell) the total work is O(n * target_cell).
# Cells that still blow up switch to the d06/s09 per-bucket block
# matmul kernel — same join keys, denser arithmetic.
# --------------------------------------------------------------------------
@register(
    "d17_semantic_dedup",
    oracle=None,  # replaced below — needs the Lloyd chain builder
)
def d17_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    quant = _quant_corpus(spark, sf_dir)
    cells = assign_cells(
        quant, centroid_frame(spark, _ivf_centroids(spark, sf_dir))
    )
    with_norm = cells.withColumn(
        "nq", _isum(F.transform("q", lambda v: v * v))
    )
    a = with_norm.select(
        "cid",
        F.col("vec_id").alias("a_id"),
        F.col("q").alias("aq"),
        F.col("nq").alias("an"),
    )
    b = with_norm.select(
        "cid",
        F.col("vec_id").alias("b_id"),
        F.col("q").alias("bq"),
        F.col("nq").alias("bn"),
    )
    dups = (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cosine",
            dround(
                _isum(F.zip_with("aq", "bq", lambda x, y: x * y)).cast("double")
                / (
                    F.sqrt(F.col("an").cast("double"))
                    * F.sqrt(F.col("bn").cast("double"))
                ),
                6,
            ),
        )
        .filter(F.col("cosine") >= NEARDUP_COSINE)
        .select(F.col("b_id").alias("dup_id"))
        .distinct()
    )
    return (
        with_norm.join(
            dups, with_norm.vec_id == dups.dup_id, "left"
        )
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cid"),
            F.col("dup_id").isNull().alias("keep"),
        )
    )


def _d17_chain() -> str:
    """Lloyd chain fragments mirror _s03_oracle (same seeds, same two
    iterations); the dedup predicate mirrors d05's rounded cosine.
    Returns the CTE list (quant ... dups) shared by the d17 oracle and
    the p03 decision-record oracle."""
    from .hashing import md5_prefix_long_sql

    seed_hash = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)")

    def assign(vecs: str, cents: str) -> str:
        return f"""
      SELECT vec_id, q, cid FROM (
        SELECT v.vec_id, v.q, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_QD2_SQL.format(a='v.q', b='c.cvec')}, c.cid) AS rk
        FROM {vecs} v CROSS JOIN {cents} c
      ) WHERE rk = 1
    """

    def means(assigned: str) -> str:
        return f"""
      SELECT cid, list(cv ORDER BY pos) AS cvec FROM (
        SELECT cid, pos, CAST(SUM(val) AS BIGINT) // COUNT(*) AS cv FROM (
          SELECT a.cid, t.pos, a.q[t.pos] AS val
          FROM {assigned} a, range(1, 65) t(pos)
        ) GROUP BY cid, pos
      ) GROUP BY cid
    """

    pair_dot = _ISUM_SQL.format(
        l="list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])"
    )
    return f"""quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT cid, q AS cvec FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_hash}, vec_id) - 1 AS cid, q
        FROM quant
      ) WHERE cid < {IVF_K}
    ),
    a1 AS ({assign('quant', 'seeds')}),
    c1 AS ({means('a1')}),
    a2 AS ({assign('quant', 'c1')}),
    c2 AS ({means('a2')}),
    cells AS ({assign('quant', 'c2')}),
    norms AS (
      SELECT vec_id, q, cid,
             {_ISUM_SQL.format(l='list_transform(q, v -> v * v)')} AS nq
      FROM cells
    ),
    dups AS (
      SELECT DISTINCT b.vec_id AS dup_id
      FROM norms a JOIN norms b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE ROUND(CAST({pair_dot} AS DOUBLE)
                  / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))),
                  6) >= {NEARDUP_COSINE}
    )"""


def _d17_oracle() -> str:
    return f"""
    WITH {_d17_chain()}
    SELECT n.vec_id,
           CAST(n.cid AS BIGINT) AS cid,
           d.dup_id IS NULL AS keep
    FROM norms n LEFT JOIN dups d ON n.vec_id = d.dup_id
    """


ORACLE_SQL["d17_semantic_dedup"] = _d17_oracle()


# --------------------------------------------------------------------------
# s11: one NN-descent expansion round over the s09 k-NN graph — the
# neighbor-of-a-neighbor-is-probably-a-neighbor step (Dong et al. 2011)
# that turns a bucket-local approximate graph into a higher-recall one
# without ever scoring all pairs. Candidates = current edges ∪ 2-hop
# paths (g1.dst = g2.src); each candidate is exactly re-scored with the
# same int64 quantized cosine and the per-source top-K is re-ranked.
# `discovered` marks edges the base graph missed — the recall gain is
# part of the checked output.
#
# The oracle replays the ENTIRE s09 chain (shared CTE builder) plus the
# same 2-hop expansion, so graph, expansion, scores, ranks, and
# discovered flags all hash-match.
#
# Scale: the expansion join is graph-sized (n×K ⋈ n×K on a K-bounded
# key), never corpus-sized; re-scoring touches ≤ n×K² candidate pairs.
# Iterating this round to convergence is the standard kNN-graph build;
# each further round is the same plan on the previous output.
# --------------------------------------------------------------------------
def _s11_oracle() -> str:
    pair_cos = (
        "CAST(list_sum(list_transform(list_zip(sq.q, dq.q),"
        " p -> p[1] * p[2])) AS DOUBLE)"
        " / (sqrt(CAST(list_sum(list_transform(sq.q, x -> x * x)) AS DOUBLE))"
        " * sqrt(CAST(list_sum(list_transform(dq.q, x -> x * x)) AS DOUBLE)))"
    )
    return f"""
    WITH {_s09_chain()},
    knn AS (SELECT src, dst FROM ranked WHERE rk <= {KNN_K}),
    cand2 AS (
      SELECT src, dst FROM knn
      UNION
      SELECT g1.src AS src, g2.dst AS dst
      FROM knn g1 JOIN knn g2 ON g1.dst = g2.src
      WHERE g2.dst <> g1.src
    ),
    scored2 AS (
      SELECT c.src, c.dst, {pair_cos} AS cosine
      FROM cand2 c
      JOIN quant sq ON sq.vec_id = c.src
      JOIN quant dq ON dq.vec_id = c.dst
    ),
    ranked2 AS (
      SELECT src, dst, cosine,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rk
      FROM scored2
    )
    SELECT r.src, r.dst, ROUND(r.cosine, 6) AS cosine, r.rk,
           b.src IS NULL AS discovered
    FROM ranked2 r
    LEFT JOIN knn b ON b.src = r.src AND b.dst = r.dst
    WHERE r.rk <= {KNN_K}
    """


@register("s11_knn_graph_descent", oracle=_s11_oracle())
def s11_knn_graph_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = s09_knn_graph(spark, sf_dir).select("src", "dst")
    two_hop = (
        base.alias("g1")
        .join(base.alias("g2"), F.col("g1.dst") == F.col("g2.src"))
        .select(F.col("g1.src").alias("src"), F.col("g2.dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    cand = base.unionByName(two_hop).distinct()
    quant = _quant_corpus(spark, sf_dir)
    with_norm = quant.withColumn("nq", _isum(F.transform("q", lambda v: v * v)))
    sq = with_norm.select(
        F.col("vec_id").alias("src"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    dq = with_norm.select(
        F.col("vec_id").alias("dst"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    scored = (
        cand.join(sq, "src")
        .join(dq, "dst")
        .withColumn(
            "cosine",
            _isum(F.zip_with("qa", "qb", lambda x, y: x * y)).cast("double")
            / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
        )
        .select("src", "dst", "cosine")
    )
    w = W.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    ranked = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= KNN_K
    )
    base_flag = base.withColumn("_in_base", F.lit(True))
    return (
        ranked.join(base_flag, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            dround(F.col("cosine"), 6).alias("cosine"),
            "rk",
            F.col("_in_base").isNull().alias("discovered"),
        )
    )


# --------------------------------------------------------------------------
# s12: IVF-PQ — the production ANN index layout (FAISS's IndexIVFPQ
# shape): an IVF coarse quantizer prunes the corpus to IVF_NPROBE cells
# per probe, PQ codes give each surviving vector an 8-byte compressed
# representation scored by ADC table lookups, and an exact cosine
# re-rank fixes the top-K. Composes the s03 kernel (Lloyd cells — here
# over the NORMALIZED fixed-point corpus so L2 ordering matches
# cosine) with the s08 kernel (codebook / codes / LUT), both shared
# materialized intermediates. Simplification vs FAISS: codes encode
# the raw normalized vector, not the cell residual — documented delta,
# same plan shape.
#
# The oracle replays the full composition: Lloyd chain on the
# normalized corpus, PQ code assignment, per-probe LUTs, the
# cell-restricted ADC aggregation, pool, and re-rank.
#
# Scale: the scan side is |corpus| × (nprobe/K) rows of 8-byte codes —
# both the cell pruning and the 32× code compression multiply; the
# exact stage touches POOL floats per probe. This is the
# billion-vector layout; cells partition the parquet, so probing is
# partition pruning.
# --------------------------------------------------------------------------
S12_POOL = 100


def _s12_oracle() -> str:
    from .hashing import md5_prefix_long_sql

    seed_hash = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)")
    d2 = _QD2_SQL.format(a="c.sub", b="k.cw")
    norm = _NORM_SQL.format(a="embedding")

    def assign(vecs: str, cents: str) -> str:
        return f"""
      SELECT vec_id, q, cid FROM (
        SELECT v.vec_id, v.q, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_QD2_SQL.format(a='v.q', b='c.cvec')}, c.cid) AS rk
        FROM {vecs} v CROSS JOIN {cents} c
      ) WHERE rk = 1
    """

    def means(assigned: str) -> str:
        return f"""
      SELECT cid, list(cv ORDER BY pos) AS cvec FROM (
        SELECT cid, pos, CAST(SUM(val) AS BIGINT) // COUNT(*) AS cv FROM (
          SELECT a.cid, t.pos, a.q[t.pos] AS val
          FROM {assigned} a, range(1, 65) t(pos)
        ) GROUP BY cid, pos
      ) GROUP BY cid
    """

    return f"""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / {norm} * {QUANT_SCALE})
                    AS BIGINT)) AS q
      FROM embeddings
    ),
    ivf_seeds AS (
      SELECT cid, q AS cvec FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_hash}, vec_id) - 1 AS cid, q
        FROM quant
      ) WHERE cid < {IVF_K}
    ),
    a1 AS ({assign('quant', 'ivf_seeds')}),
    c1 AS ({means('a1')}),
    a2 AS ({assign('quant', 'c1')}),
    c2 AS ({means('a2')}),
    cells AS ({assign('quant', 'c2')}),
    pq_seeds AS (
      SELECT cid, q FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_hash}, vec_id) - 1 AS cid, q
        FROM quant
      ) WHERE cid < {PQ_K}
    ),
    cb AS (
      SELECT t.b, s.cid,
             list_slice(s.q, t.b * {PQ_SUB} + 1, t.b * {PQ_SUB} + {PQ_SUB}) AS cw
      FROM pq_seeds s, range(0, {PQ_BLOCKS}) t(b)
    ),
    cblk AS (
      SELECT vec_id, t.b,
             list_slice(q, t.b * {PQ_SUB} + 1, t.b * {PQ_SUB} + {PQ_SUB}) AS sub
      FROM quant, range(0, {PQ_BLOCKS}) t(b)
    ),
    codes AS (
      SELECT vec_id, b, cid AS code FROM (
        SELECT c.vec_id, c.b, k.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.b
                                  ORDER BY {d2}, k.cid) AS rk
        FROM cblk c JOIN cb k ON k.b = c.b
      ) WHERE rk = 1
    ),
    probes AS (
      SELECT vec_id AS probe_id, cid FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_QD2_SQL.format(a='v.q', b='c.cvec')}, c.cid) AS rk
        FROM quant v CROSS JOIN c2 c WHERE v.vec_id < {N_PROBES}
      ) WHERE rk <= {IVF_NPROBE}
    ),
    lut AS (
      SELECT c.vec_id AS probe_id, c.b, k.cid, {d2} AS d2
      FROM cblk c JOIN cb k ON k.b = c.b
      WHERE c.vec_id < {N_PROBES}
    ),
    approx AS (
      SELECT l.probe_id, c.vec_id AS neighbor_id,
             CAST(SUM(l.d2) AS BIGINT) AS approx_d2
      FROM codes c
      JOIN cells cl ON cl.vec_id = c.vec_id
      JOIN probes p ON p.cid = cl.cid
      JOIN lut l ON l.b = c.b AND l.cid = c.code AND l.probe_id = p.probe_id
      WHERE c.vec_id <> l.probe_id
      GROUP BY l.probe_id, c.vec_id
    ),
    pool AS (
      SELECT probe_id, neighbor_id, approx_d2 FROM (
        SELECT probe_id, neighbor_id, approx_d2,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY approx_d2, neighbor_id) AS rk_adc
        FROM approx
      ) WHERE rk_adc <= {S12_POOL}
    ),
    exact AS (
      SELECT p.probe_id, p.neighbor_id, p.approx_d2,
             ROUND({_cos_sql('pe.embedding', 'ne.embedding')}, 6) AS cosine
      FROM pool p
      JOIN embeddings ne ON ne.vec_id = p.neighbor_id
      JOIN embeddings pe ON pe.vec_id = p.probe_id
    ),
    ranked AS (
      SELECT probe_id, neighbor_id, cosine, approx_d2,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM exact
    )
    SELECT probe_id, neighbor_id, cosine, approx_d2, rk
    FROM ranked WHERE rk <= {TOP_K}
    """


@register("s12_ann_ivfpq_topk", oracle=_s12_oracle())
def s12_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    quant = _qnorm_corpus(spark, sf_dir)
    # IVF side: Lloyd centroids over the SAME normalized corpus
    centroids = materialized_value(
        spark, sf_dir, "ivf_centroids_qnorm", lambda: _centroid_rows(quant)
    )
    cdf = centroid_frame(spark, centroids)
    cells = assign_cells(quant, cdf).select("vec_id", "cid")
    probes = probe_cells(
        quant.filter(F.col("vec_id") < N_PROBES), cdf, IVF_NPROBE
    ).select(F.col("vec_id").alias("probe_id"), "cid")
    # PQ side: shared codebook, per-vector codes, per-probe ADC LUTs
    cb = codebook_frame(spark, _pq_codebook_rows(spark, sf_dir))
    cblk = pq_blocks(quant)
    codes = pq_encode(cblk, cb).select("vec_id", "b", "code")
    lut = _code_d2(cblk.filter(F.col("vec_id") < N_PROBES), cb).select(
        F.col("vec_id").alias("probe_id"),
        "b",
        F.col("cid").alias("cw_cid"),
        "d2",
    )
    # ADC restricted to probed cells: codes ⋈ cells ⋈ probes ⋈ lut
    approx = (
        codes.join(cells, "vec_id")
        .join(F.broadcast(probes), "cid")
        .join(F.broadcast(lut), ["probe_id", "b"])
        .filter(F.col("code") == F.col("cw_cid"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("approx_d2"))
    )
    pool = (
        approx.withColumn(
            "rk_adc",
            F.row_number().over(
                W.partitionBy("probe_id").orderBy("approx_d2", "neighbor_id")
            ),
        )
        .filter(F.col("rk_adc") <= S12_POOL)
        .drop("rk_adc")
    )
    emb = _emb(spark, sf_dir)
    pe = emb.select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe"))
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    probe_vecs = pe.filter(F.col("probe_id") < N_PROBES)  # O(N_PROBES) rows
    exact = (
        pool.join(F.broadcast(probe_vecs), "probe_id")
        .join(ne, "neighbor_id")
        .withColumn(
            "cosine",
            dround(_dot("pe", "ne") / (_norm("pe") * _norm("ne")), 6),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine", "approx_d2", "rk")
    )


# --------------------------------------------------------------------------
# s13: greedy BEAM SEARCH over the s09 k-NN graph — the query-time half
# of graph-based ANN (the HNSW layer-0 walk, Malkov & Yashunin 2018):
# from a fixed set of entry nodes, repeatedly score the current beam's
# graph neighbors against the probe and keep the best S13_BEAM, for
# S13_HOPS hops; report each probe's top-S13_TOP discovered neighbors.
# s09/s11 BUILD the graph — this demonstrates SEARCHING it, where
# per-query cost is O(hops x beam x degree) score evaluations instead
# of a corpus scan. Edges are SYMMETRIZED first (HNSW keeps links
# bidirectional precisely so walks can climb "uphill" into a
# neighborhood), and multiple fixed entries stand in for the upper
# hierarchy layers — measured on the fixture: 1 entry/3 hops/beam 4
# reaches 0.13 recall@3-of-exact-top5; 4 entries/6 hops/beam 24
# reaches 0.87 (floor 0.6 in tests).
#
# Determinism: scores are the same exact int64-quantized cosines as
# s09 (bit-identical across engines), beams break ties by node id, and
# the hop count is fixed — so the oracle replays the whole walk as
# S13_HOPS unrolled expand-score-prune CTE stages over its own replay
# of the s09 graph.
#
# Scale: the beam table is O(probes x beam) and joins the edge list on
# src (graph is n x K edges, equi-join, probe side broadcastable);
# scoring joins the candidate ids against the quantized corpus by key.
# Nothing corpus-quadratic; hops are driver-side loop iterations over
# tiny DataFrames, the pattern d09 uses for pointer-jumping rounds.
# --------------------------------------------------------------------------
S13_BEAM = 24
S13_HOPS = 6
S13_TOP = 3
S13_ENTRIES = [0, 101, 202, 303]


def _s13_oracle() -> str:
    probe_cos = (
        "CAST(list_sum(list_transform(list_zip(p.pq, nq.q),"
        " t -> t[1] * t[2])) AS DOUBLE)"
        " / (sqrt(CAST(list_sum(list_transform(p.pq, x -> x * x)) AS DOUBLE))"
        " * sqrt(CAST(list_sum(list_transform(nq.q, x -> x * x)) AS DOUBLE)))"
    )
    stages = []
    prev = "beam0"
    for k in range(1, S13_HOPS + 1):
        stages.append(f"""cand{k} AS (
      SELECT DISTINCT probe_id, node FROM (
        SELECT probe_id, node FROM {prev}
        UNION ALL
        SELECT b.probe_id, e.dst AS node
        FROM {prev} b JOIN sknn e ON e.src = b.node
      )
    ),
    scored{k} AS (
      SELECT probe_id, node, qcos,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY qcos DESC, node) AS rk
      FROM (
        SELECT c.probe_id, c.node, {probe_cos} AS qcos
        FROM cand{k} c
        JOIN mquant nq ON nq.vec_id = c.node
        JOIN probes p ON p.probe_id = c.probe_id
        WHERE c.node <> c.probe_id
      )
    ),
    beam{k} AS (SELECT probe_id, node FROM scored{k} WHERE rk <= {S13_BEAM})""")
        prev = f"beam{k}"
    return f"""
    WITH {_s09_chain()},
    knn AS (SELECT src, dst FROM ranked WHERE rk <= {KNN_K}),
    -- MATERIALIZED: every hop stage references these; without the hint
    -- DuckDB inlines the whole LSH-graph chain into all {S13_HOPS}
    -- stages (measured 15s -> sub-second on the sf0.01 fixture)
    sknn AS MATERIALIZED (
      SELECT src, dst FROM knn
      UNION
      SELECT dst AS src, src AS dst FROM knn
    ),
    mquant AS MATERIALIZED (SELECT vec_id, q FROM quant),
    probes AS MATERIALIZED (
      SELECT vec_id AS probe_id, q AS pq FROM quant WHERE vec_id < {N_PROBES}
    ),
    beam0 AS (
      SELECT probe_id,
             CAST(unnest({S13_ENTRIES}) AS BIGINT) AS node
      FROM probes
    ),
    {", ".join(stages)}
    SELECT probe_id, node AS neighbor_id, ROUND(qcos, 6) AS cosine, rk
    FROM scored{S13_HOPS}
    WHERE rk <= {S13_TOP}
    """



def _sym_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized s09 edge list (src, dst) — materialized once per
    session: s13 and s16 walk it every hop, and re-deriving the union+
    distinct per run re-shuffles the (tiny) edge table repeatedly."""
    def build() -> DataFrame:
        base = s09_knn_graph(spark, sf_dir).select("src", "dst")
        return base.unionByName(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

    return materialized_df(spark, sf_dir, "sym_knn_edges", build)


@register("s13_graph_beam_search", oracle=_s13_oracle())
def s13_graph_beam_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _sym_knn_edges(spark, sf_dir)
    quant = _quant_corpus(spark, sf_dir)
    probes = quant.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("q").alias("pq")
    )
    nodes = quant.select(F.col("vec_id").alias("node"), F.col("q").alias("nq"))
    qdot = _isum(F.zip_with("pq", "nq", lambda x, y: x * y))
    qcos = qdot.cast("double") / (
        F.sqrt(_isum(F.transform("pq", lambda x: x * x)).cast("double"))
        * F.sqrt(_isum(F.transform("nq", lambda x: x * x)).cast("double"))
    )
    # O(1) fixed entry set
    entries = local_frame(spark, [(e,) for e in S13_ENTRIES], "node long")
    beam = probes.select("probe_id").crossJoin(F.broadcast(entries))
    scored = None
    w_probe = W.partitionBy("probe_id").orderBy(F.col("qcos").desc(), "node")
    for hop_i in range(S13_HOPS):
        hop = edges.select(F.col("src").alias("node"), "dst")
        expanded = beam.join(hop, "node").select(
            "probe_id", F.col("dst").alias("node")
        )
        cand = beam.unionByName(expanded).distinct()
        scored = (
            cand.filter(F.col("node") != F.col("probe_id"))
            .join(nodes, "node")
            .join(F.broadcast(probes), "probe_id")
            .withColumn("qcos", qcos)
            .withColumn("rk", F.row_number().over(w_probe))
        )
        # Cut lineage each hop: the beam is O(probes x S13_BEAM) rows,
        # and without the checkpoint hop h's plan re-derives hops 1..h-1
        # (exponential plan growth — the d09 pointer-jumping discipline).
        # The FINAL hop's beam is never consumed (the result reads
        # `scored`), so its eager checkpoint job is skipped.
        if hop_i < S13_HOPS - 1:
            beam = (
                scored.filter(F.col("rk") <= S13_BEAM)
                .select("probe_id", "node")
                .localCheckpoint()
            )
    return scored.filter(F.col("rk") <= S13_TOP).select(
        "probe_id",
        F.col("node").alias("neighbor_id"),
        dround(F.col("qcos"), 6).alias("cosine"),
        "rk",
    )


# --------------------------------------------------------------------------
# s14: ANN recall audit — the similarity-family counterpart of d18's
# estimator audit: run the exact baseline (s01) and the two sketch
# indexes (s02 LSH, s03 IVF) IN-ENGINE and report each method's
# pair-level recall against the exact top-k as one dashboard row per
# method. This is the query an index-tuning loop actually runs before
# changing b/r or nprobe on a production corpus sample — and because
# every composed pipeline is deterministic, the whole audit is
# hash-checked end-to-end (the oracle replays all three pipelines).
#
# Scale: the cost is the three composed pipelines' own (documented)
# costs on a SAMPLE — the audit itself adds two doc-keyed semi-joins
# and a 3-row aggregate. Run it on a probe sample, not the corpus.
# --------------------------------------------------------------------------
def _s14_oracle() -> str:
    from .registry import ORACLE_SQL

    exact = ORACLE_SQL["s01_ann_bruteforce_topk"]
    lsh = ORACLE_SQL["s02_ann_lsh_topk"]
    ivf = ORACLE_SQL["s03_ann_ivf_topk"]
    return f"""
    WITH exact_pairs AS (
      SELECT probe_id, neighbor_id FROM ({exact})
    ),
    methods AS (
      SELECT 'lsh' AS method, probe_id, neighbor_id FROM ({lsh})
      UNION ALL
      SELECT 'ivf' AS method, probe_id, neighbor_id FROM ({ivf})
    ),
    n_exact AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM exact_pairs),
    hits AS (
      SELECT m.method,
             CAST(COUNT(*) AS BIGINT) AS n_found,
             CAST(COUNT(e.probe_id) AS BIGINT) AS n_hit
      FROM methods m
      LEFT JOIN exact_pairs e
        ON e.probe_id = m.probe_id AND e.neighbor_id = m.neighbor_id
      GROUP BY m.method
    )
    SELECT h.method, h.n_found, h.n_hit, x.n AS n_exact,
           (1000 * h.n_hit) // x.n AS recall_milli
    FROM hits h CROSS JOIN n_exact x
    """


@register("s14_ann_recall_audit", oracle=_s14_oracle())
def s14_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = s01_ann_bruteforce_topk(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    methods = (
        s02_ann_lsh_topk(spark, sf_dir)
        .select(F.lit("lsh").alias("method"), "probe_id", "neighbor_id")
        .unionAll(
            s03_ann_ivf_topk(spark, sf_dir).select(
                F.lit("ivf").alias("method"), "probe_id", "neighbor_id"
            )
        )
    )
    n_exact = exact.agg(F.count("*").alias("n"))
    hit = exact.withColumn("hit", F.lit(1))
    return (
        methods.join(hit, ["probe_id", "neighbor_id"], "left")
        .groupBy("method")
        .agg(
            F.count("*").alias("n_found"),
            F.count("hit").alias("n_hit"),
        )
        .join(F.broadcast(n_exact))
        .select(
            "method", "n_found", "n_hit", F.col("n").alias("n_exact"),
            F.expr("(1000 * n_hit) div n").alias("recall_milli"),
        )
    )


# --------------------------------------------------------------------------
# s15: MMR-diversified top-k rerank (Carbonell & Goldstein 1998,
# "maximal marginal relevance") — the post-retrieval stage that turns
# a relevance-ordered candidate pool into a RELEVANT-BUT-DIVERSE
# result set: greedily pick argmax of
#   mmr(c) = 0.7·rel(c) − 0.3·max_{s∈selected} cos(c, s)
# (max-sim floored at 0 — the common practical variant), K rounds.
# Completes the retrieval chain recall (s02/s03) → rerank (s07) →
# diversify.
#
# The greedy loop is SEQUENTIAL by nature; K is small and fixed, so
# the rounds UNROLL into the plan (the g01/Lloyd unrolled-iteration
# discipline) — each round is one per-probe window argmax plus one
# candidates⋈selected join computing the new max-sim. All arithmetic
# is fixed-expression IEEE doubles over the proven cosine fold, so the
# oracle replays the identical rounds CTE-by-CTE.
#
# Scale: everything is keyed and partitioned by probe_id; per-probe
# work is O(K·P) cosines over a P-row pool. The pool itself comes from
# any upstream retriever — brute force here for exactness; swap in
# s03/s08 output at corpus scale.
# --------------------------------------------------------------------------
MMR_POOL = 8
MMR_K = 4
MMR_LAMBDA = "0.7"


def _s15_oracle() -> str:
    cos_cs = _cos_sql("r.ne", "s.ne")
    ctes = [f"""probes AS (SELECT vec_id AS probe_id, embedding AS pe
                    FROM embeddings WHERE vec_id < {N_PROBES}),
    scored AS (
      SELECT probe_id, e.vec_id AS nid, e.embedding AS ne,
             {_cos_sql('pe', 'e.embedding')} AS rel
      FROM probes JOIN embeddings e ON e.vec_id <> probe_id
    ),
    rem0 AS (
      SELECT probe_id, nid, ne, rel, CAST(0.0 AS DOUBLE) AS ms
      FROM (
        SELECT s.*, ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY rel DESC, nid) AS rk
        FROM scored s
      ) WHERE rk <= {MMR_POOL}
    )"""]
    for t in range(1, MMR_K + 1):
        ctes.append(f"""sel{t} AS (
      SELECT probe_id, nid, ne, rel, mmr FROM (
        SELECT r.*, {MMR_LAMBDA} * r.rel - (1 - {MMR_LAMBDA}) * r.ms AS mmr,
               ROW_NUMBER() OVER (PARTITION BY r.probe_id
                 ORDER BY {MMR_LAMBDA} * r.rel - (1 - {MMR_LAMBDA}) * r.ms DESC,
                          r.nid) AS rn
        FROM rem{t - 1} r
      ) WHERE rn = 1
    ),
    rem{t} AS (
      SELECT r.probe_id, r.nid, r.ne, r.rel,
             GREATEST(r.ms, {cos_cs}) AS ms
      FROM rem{t - 1} r JOIN sel{t} s
        ON s.probe_id = r.probe_id AND s.nid <> r.nid
    )""")
    selects = "\n      UNION ALL\n      ".join(
        f"SELECT probe_id, {t} AS mmr_rank, nid AS neighbor_id,"
        f" ROUND(rel, 6) AS cosine, ROUND(mmr, 6) AS mmr_score FROM sel{t}"
        for t in range(1, MMR_K + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT * FROM (
      {selects}
    )
    """


@register("s15_mmr_diversified_topk", oracle=_s15_oracle())
def s15_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    lam = float(MMR_LAMBDA)
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("nid"),
            F.col("embedding").alias("ne"),
            (_dot("pe", "embedding") / (_norm("pe") * _norm("embedding"))).alias(
                "rel"
            ),
        )
    )
    w_pool = W.partitionBy("probe_id").orderBy(F.col("rel").desc(), F.col("nid"))
    rem = (
        scored.withColumn("rk", F.row_number().over(w_pool))
        .filter(F.col("rk") <= MMR_POOL)
        .select("probe_id", "nid", "ne", "rel", F.lit(0.0).alias("ms"))
        # The pool is N_PROBES × MMR_POOL rows (~80); without this the
        # unrolled rounds re-derive the full corpus cross-join per
        # round (measured 11.8s -> ~2s at sf0.1). Tiny checkpoint, no
        # block churn (cf. the d22 counter-example).
        .localCheckpoint()
    )
    mmr = F.lit(lam) * F.col("rel") - F.lit(1 - lam) * F.col("ms")
    picks = []
    for t in range(1, MMR_K + 1):
        w_sel = W.partitionBy("probe_id").orderBy(mmr.desc(), F.col("nid"))
        sel = (
            rem.withColumn("mmr", mmr)
            .withColumn("rn", F.row_number().over(w_sel))
            .filter(F.col("rn") == 1)
            .select("probe_id", "nid", "ne", "rel", "mmr")
        )
        picks.append(
            sel.select(
                "probe_id",
                F.lit(t).alias("mmr_rank"),
                F.col("nid").alias("neighbor_id"),
                dround("rel", 6).alias("cosine"),
                dround("mmr", 6).alias("mmr_score"),
            )
        )
        if t < MMR_K:
            s = sel.select(
                F.col("probe_id").alias("sp"),
                F.col("nid").alias("snid"),
                F.col("ne").alias("se"),
            )
            rem = (
                rem.join(
                    s,
                    (F.col("probe_id") == F.col("sp"))
                    & (F.col("nid") != F.col("snid")),
                )
                .select(
                    "probe_id", "nid", "ne", "rel",
                    F.greatest(
                        F.col("ms"),
                        _dot("ne", "se") / (_norm("ne") * _norm("se")),
                    ).alias("ms"),
                )
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out


# --------------------------------------------------------------------------
# s16: multi-layer HNSW search — s13 with the upper hierarchy made
# real (Malkov & Yashunin 2018, the full shape): instead of hardcoded
# entry points (S13_ENTRIES), each probe FINDS its layer-0 entries by
# descending a layer hierarchy. Layers are nested hash samples of the
# corpus — node v is on layer 1 iff md5(v) % 4 == 0 and on layer 2 iff
# md5(v) % 16 == 0 (so L2 ⊂ L1 ⊂ L0 by construction, the geometric
# level assignment of the paper made deterministic/replayable):
#   entry sample (FIXED size S16_L2_SAMPLE, n-decoupled): the
#     S16_L2_SAMPLE nodes smallest by (md5, id) order — scored
#     exhaustively per probe. Real HNSW's top layer holds O(1) nodes
#     regardless of corpus size; a %-based top layer would instead
#     grow linearly with n and degenerate into a cheaper brute force
#     (the round-5 finding this replaces), so the entry set is a
#     fixed-cardinality hash sample: top-k by hash is one map-side
#     scan + a k-row reduce, and the per-probe scoring work is
#     probes × S16_L2_SAMPLE — constant in n;
#   layer 2 (~n/16): greedy beam walk RESTRICTED to layer-2 members
#     (md5(v) % 16 == 0, both endpoints, 2-hop closure edges),
#     S16_L2_HOPS hops, beam S16_L2_BEAM; top S16_ENTRIES seed L1;
#   layer 1 (~n/4): same walk over layer-1 members (md5(v) % 4 == 0),
#     S16_L1_HOPS hops, beam S16_L1_BEAM; top S16_ENTRIES seed L0;
#   layer 0: the s13 walk (S13_HOPS hops, beam S13_BEAM) over the full
#     symmetrized s09 graph, from DESCENT-FOUND entries.
# Reuses the memoized s09 graph and quantized corpus; determinism as
# s13 (int64-quantized cosines, id tie-breaks, fixed hop counts), so
# the oracle unrolls the whole descent as CTE stages.
#
# Scale: every per-probe stage is bounded independently of n — entry
# scoring is probes × S16_L2_SAMPLE, each walk is O(probes × beam ×
# degree) per hop, never corpus-linear. The corpus-linear costs that
# remain (hash-sampling the entry set, building the closure edge
# tables) are one-time index-build passes, not per-query work.
# Entry-point sensitivity is gone: a probe far from every fixed S13
# entry still descends into its own neighborhood.
# --------------------------------------------------------------------------
S16_L1_MOD = 4
S16_L2_MOD = 16
S16_L2_SAMPLE = 64  # fixed top-entry set size — does NOT grow with n
S16_ENTRIES = 4
S16_L1_HOPS = 2
S16_L1_BEAM = 8
S16_L2_HOPS = 2
S16_L2_BEAM = 8
# Layer-0 ef: wider than s13's fixed-entry beam (24) — descent enters
# exactly one coarse neighborhood, so the layer-0 walk needs more
# in-flight candidates to match 4 spread entries' coverage; 32
# measures 0.90 recall vs s13's 0.87 on the fixture.
S16_L0_BEAM = 32


def _s16_oracle() -> str:
    from .hashing import md5_prefix_long_sql

    probe_cos = (
        "CAST(list_sum(list_transform(list_zip(p.pq, nq.q),"
        " t -> t[1] * t[2])) AS DOUBLE)"
        " / (sqrt(CAST(list_sum(list_transform(p.pq, x -> x * x)) AS DOUBLE))"
        " * sqrt(CAST(list_sum(list_transform(nq.q, x -> x * x)) AS DOUBLE)))"
    )

    def walk_stages(layer: int, hops: int, beam: int, edges: str,
                    first: str) -> tuple[list[str], str]:
        stages = []
        prev = first
        for k in range(1, hops + 1):
            tag = f"w{layer}_{k}"
            stages.append(f"""cand{tag} AS (
      SELECT DISTINCT probe_id, node FROM (
        SELECT probe_id, node FROM {prev}
        UNION ALL
        SELECT b.probe_id, e.dst AS node
        FROM {prev} b JOIN {edges} e ON e.src = b.node
      )
    ),
    scored{tag} AS (
      SELECT probe_id, node, qcos,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY qcos DESC, node) AS rk
      FROM (
        SELECT c.probe_id, c.node, {probe_cos} AS qcos
        FROM cand{tag} c
        JOIN mquant nq ON nq.vec_id = c.node
        JOIN probes p ON p.probe_id = c.probe_id
        WHERE c.node <> c.probe_id
      )
    ),
    beam{tag} AS (SELECT probe_id, node FROM scored{tag} WHERE rk <= {beam})""")
            prev = f"beam{tag}"
        return stages, prev

    lh = lambda e: md5_prefix_long_sql(f"CAST({e} AS VARCHAR)")  # noqa: E731
    s2, _ = walk_stages(2, S16_L2_HOPS, S16_L2_BEAM, "l2edges", "entry2")
    s1, last1 = walk_stages(1, S16_L1_HOPS, S16_L1_BEAM, "l1edges", "entry1")
    s0, _ = walk_stages(0, S13_HOPS, S16_L0_BEAM, "sknn", "entry0")
    return f"""
    WITH {_s09_chain()},
    knn AS (SELECT src, dst FROM ranked WHERE rk <= {KNN_K}),
    sknn AS MATERIALIZED (
      SELECT src, dst FROM knn
      UNION
      SELECT dst AS src, src AS dst FROM knn
    ),
    mquant AS MATERIALIZED (SELECT vec_id, q FROM quant),
    probes AS MATERIALIZED (
      SELECT vec_id AS probe_id, q AS pq FROM quant WHERE vec_id < {N_PROBES}
    ),
    l1edges AS MATERIALIZED (
      -- 2-hop closure: upper-layer links route THROUGH layer-0 nodes
      -- (src -> mid -> dst with both ends on layer 1) — the restricted
      -- 1-hop subgraph of a K=3 kNN graph is near-empty on a 1/4
      -- sample, so upper-layer walks could never move (HNSW builds
      -- dedicated long-range links per layer; the closure is the
      -- replayable equivalent, degree <= K^2)
      SELECT DISTINCT a.src, b.dst
      FROM sknn a JOIN sknn b ON a.dst = b.src
      WHERE a.src <> b.dst
        AND {lh('a.src')} % {S16_L1_MOD} = 0 AND {lh('b.dst')} % {S16_L1_MOD} = 0
    ),
    l2edges AS MATERIALIZED (
      SELECT DISTINCT a.src, b.dst
      FROM sknn a JOIN sknn b ON a.dst = b.src
      WHERE a.src <> b.dst
        AND {lh('a.src')} % {S16_L2_MOD} = 0 AND {lh('b.dst')} % {S16_L2_MOD} = 0
    ),
    l2sample AS MATERIALIZED (
      -- fixed-size entry set: top S16_L2_SAMPLE nodes by (md5, id)
      SELECT vec_id FROM mquant
      ORDER BY {lh('vec_id')}, vec_id LIMIT {S16_L2_SAMPLE}
    ),
    scoredl2 AS (
      SELECT probe_id, node, qcos,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY qcos DESC, node) AS rk
      FROM (
        SELECT p.probe_id, nq.vec_id AS node, {probe_cos} AS qcos
        FROM probes p, mquant nq JOIN l2sample ls ON ls.vec_id = nq.vec_id
        WHERE nq.vec_id <> p.probe_id
      )
    ),
    entry2 AS (SELECT probe_id, node FROM scoredl2 WHERE rk <= {S16_ENTRIES}),
    {", ".join(s2)},
    entry1 AS (
      SELECT probe_id, node FROM scoredw2_{S16_L2_HOPS} WHERE rk <= {S16_ENTRIES}
    ),
    {", ".join(s1)},
    entry0 AS (
      SELECT probe_id, node FROM scoredw1_{S16_L1_HOPS} WHERE rk <= {S16_ENTRIES}
    ),
    {", ".join(s0)}
    SELECT probe_id, node AS neighbor_id, ROUND(qcos, 6) AS cosine, rk
    FROM scoredw0_{S13_HOPS}
    WHERE rk <= {S13_TOP}
    """


@register("s16_hnsw_layered_search", oracle=_s16_oracle())
def s16_hnsw_layered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _sym_knn_edges(spark, sf_dir)
    quant = _quant_corpus(spark, sf_dir)
    probes = quant.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("q").alias("pq")
    )
    nodes = quant.select(F.col("vec_id").alias("node"), F.col("q").alias("nq"))
    qdot = _isum(F.zip_with("pq", "nq", lambda x, y: x * y))
    qcos = qdot.cast("double") / (
        F.sqrt(_isum(F.transform("pq", lambda x: x * x)).cast("double"))
        * F.sqrt(_isum(F.transform("nq", lambda x: x * x)).cast("double"))
    )
    w_probe = W.partitionBy("probe_id").orderBy(F.col("qcos").desc(), "node")

    def walk(beam: DataFrame, hop_edges: DataFrame, hops: int,
             beam_width: int) -> DataFrame:
        scored = None
        for hop_i in range(hops):
            expanded = beam.join(
                hop_edges.select(F.col("src").alias("node"), "dst"), "node"
            ).select("probe_id", F.col("dst").alias("node"))
            cand = beam.unionByName(expanded).distinct()
            scored = (
                cand.filter(F.col("node") != F.col("probe_id"))
                .join(nodes, "node")
                .join(F.broadcast(probes), "probe_id")
                .withColumn("qcos", qcos)
                .withColumn("rk", F.row_number().over(w_probe))
            )
            # Lineage cut per hop — the s13/d09 iteration discipline;
            # the beam stays O(probes x beam_width). The final hop's
            # beam is never consumed (callers read `scored`), so its
            # eager checkpoint job is skipped.
            if hop_i < hops - 1:
                beam = (
                    scored.filter(F.col("rk") <= beam_width)
                    .select("probe_id", "node")
                    .localCheckpoint()
                )
        return scored

    # Fixed-size coarse entry: the S16_L2_SAMPLE nodes smallest by
    # (md5, id). orderBy().limit() plans as TakeOrderedAndProject — a
    # distributed map-side top-k + k-row reduce, never a global sort —
    # so the entry stage's per-probe cost is constant in n (the
    # round-5 n/16 exhaustive scan grew linearly with the corpus).
    l2sample = (
        quant.select(
            F.col("vec_id").alias("node"),
            md5_prefix_long(F.col("vec_id").cast("string")).alias("lh"),
        )
        .orderBy("lh", "node")
        .limit(S16_L2_SAMPLE)
        .select("node")
    )
    scored_entry = (
        nodes.join(l2sample, "node")
        .crossJoin(F.broadcast(probes))
        .filter(F.col("node") != F.col("probe_id"))
        .withColumn("qcos", qcos)
        .withColumn("rk", F.row_number().over(w_probe))
    )
    entry2 = scored_entry.filter(F.col("rk") <= S16_ENTRIES).select(
        "probe_id", "node"
    ).localCheckpoint()

    # 2-hop closure through any layer-0 node (see oracle note): the
    # member-restricted 1-hop subgraph is near-empty at K=3.
    # Materialized: the walk re-reads it every hop.
    #
    # Membership (md5(v) % mod == 0) is an expression, not a table, so
    # it prefilters BOTH self-join inputs before the join — the left
    # side keeps only member sources (n*K/mod edges), the right only
    # member destinations — instead of joining the full K^2*n closure
    # and then member-joining it down (the round-12 shape: 2.4s+1.8s
    # build -> 0.9s+0.6s, identical outputs; at scale the prejoin
    # volume drops mod^2-fold for the mid-join's probe side).
    def _closure_edges(mod: int) -> DataFrame:
        h = lambda c: md5_prefix_long(F.col(c).cast("string"))  # noqa: E731
        left = edges.filter(h("src") % mod == 0).select(
            "src", F.col("dst").alias("mid")
        )
        right = edges.filter(h("dst") % mod == 0).select(
            F.col("src").alias("mid"), "dst"
        )
        return (
            left.join(right, "mid")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )

    edges1 = materialized_df(
        spark, sf_dir, "s16_l1_edges", lambda: _closure_edges(S16_L1_MOD)
    )
    edges2 = materialized_df(
        spark, sf_dir, "s16_l2_edges", lambda: _closure_edges(S16_L2_MOD)
    )
    # Layer 2: walk the sparsest member subgraph from the fixed sample
    scored2 = walk(entry2, edges2, S16_L2_HOPS, S16_L2_BEAM)
    entry1 = scored2.filter(F.col("rk") <= S16_ENTRIES).select(
        "probe_id", "node"
    ).localCheckpoint()
    # Layer 1: walk the member-restricted subgraph
    scored1 = walk(entry1, edges1, S16_L1_HOPS, S16_L1_BEAM)
    entry0 = scored1.filter(F.col("rk") <= S16_ENTRIES).select(
        "probe_id", "node"
    ).localCheckpoint()
    # Layer 0: the s13 walk from descent-found entries
    scored0 = walk(entry0, edges, S13_HOPS, S16_L0_BEAM)
    return scored0.filter(F.col("rk") <= S13_TOP).select(
        "probe_id",
        F.col("node").alias("neighbor_id"),
        dround(F.col("qcos"), 6).alias("cosine"),
        "rk",
    )


# --------------------------------------------------------------------------
# s17: IVF reassignment (centroid-drift) monitor — the index-health
# dashboard an ANN deployment reads before trusting cell-pruned
# search: per Lloyd round transition, how many vectors each cell
# keeps. Stable cells mean the coarse quantizer has converged and
# nprobe pruning is trustworthy; high churn means more iterations (or
# a re-train on drifted data) before relying on the cell routing.
# Per cell: sizes under every round's assignment (seeds → c1 → c2)
# and the stay counts across consecutive rounds, plus integer churn
# = 1000 * (size_r2 − stayed_into_final) div size_r2. Everything
# derives from the SAME deterministic Lloyd history s03 runs
# (_centroid_history — shared, so the monitor audits the real index,
# not a re-derivation).
#
# Scale: three broadcast centroid tables (K x 64 int64 driver state,
# the s03 argument) × one corpus pass each for assignment, then
# vec_id-keyed joins and a K-row aggregate. No new shuffle shape.
# --------------------------------------------------------------------------
def _s17_oracle() -> str:
    from .hashing import md5_prefix_long_sql

    seed_hash = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)")
    assign = _lloyd_assign_sql
    means = _lloyd_means_sql
    return f"""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT cid, q AS cvec FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_hash}, vec_id) - 1 AS cid, q
        FROM quant
      ) WHERE cid < {IVF_K}
    ),
    a1 AS ({assign('quant', 'seeds')}),
    c1 AS ({means('a1')}),
    a2 AS ({assign('quant', 'c1')}),
    c2 AS ({means('a2')}),
    af AS ({assign('quant', 'c2')}),
    joined AS (
      SELECT a1.vec_id, a1.cid AS cid1, a2.cid AS cid2, af.cid AS cidf
      FROM a1 JOIN a2 USING (vec_id) JOIN af USING (vec_id)
    ),
    cells AS (SELECT DISTINCT cid FROM seeds)
    SELECT c.cid,
           CAST(COALESCE(SUM(CASE WHEN j.cid1 = c.cid THEN 1 END), 0) AS BIGINT)
             AS n_round1,
           CAST(COALESCE(SUM(CASE WHEN j.cid2 = c.cid THEN 1 END), 0) AS BIGINT)
             AS n_round2,
           CAST(COALESCE(SUM(CASE WHEN j.cidf = c.cid THEN 1 END), 0) AS BIGINT)
             AS n_final,
           CAST(COALESCE(SUM(CASE WHEN j.cid1 = c.cid AND j.cid2 = c.cid
                             THEN 1 END), 0) AS BIGINT) AS stay_12,
           CAST(COALESCE(SUM(CASE WHEN j.cid2 = c.cid AND j.cidf = c.cid
                             THEN 1 END), 0) AS BIGINT) AS stay_2f,
           CAST((1000 * (COALESCE(SUM(CASE WHEN j.cid2 = c.cid THEN 1 END), 0)
                 - COALESCE(SUM(CASE WHEN j.cid2 = c.cid AND j.cidf = c.cid
                                THEN 1 END), 0)))
                // GREATEST(COALESCE(SUM(CASE WHEN j.cid2 = c.cid THEN 1 END),
                                     0), 1) AS BIGINT) AS churn_milli
    FROM cells c LEFT JOIN joined j ON TRUE
    GROUP BY c.cid
    """


@register("s17_ivf_drift_monitor", oracle=_s17_oracle())
def s17_ivf_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    quant = _quant_corpus(spark, sf_dir)
    history = materialized_value(
        spark, sf_dir, "lloyd_history", lambda: _centroid_history(quant)
    )

    def assigned(cents: list, name: str) -> DataFrame:
        return assign_cells(quant, centroid_frame(spark, cents)).select(
            "vec_id", F.col("cid").alias(name)
        )

    seeds, c1, c2 = history[0], history[1], history[2]
    joined = (
        assigned(seeds, "cid1")
        .join(assigned(c1, "cid2"), "vec_id")
        .join(assigned(c2, "cidf"), "vec_id")
    )
    cells = local_frame(spark, [(c,) for c, _ in seeds], "cid int")
    per = joined.crossJoin(F.broadcast(cells)).groupBy("cid").agg(
        F.count(F.when(F.col("cid1") == F.col("cid"), 1)).alias("n_round1"),
        F.count(F.when(F.col("cid2") == F.col("cid"), 1)).alias("n_round2"),
        F.count(F.when(F.col("cidf") == F.col("cid"), 1)).alias("n_final"),
        F.count(
            F.when((F.col("cid1") == F.col("cid")) & (F.col("cid2") == F.col("cid")), 1)
        ).alias("stay_12"),
        F.count(
            F.when((F.col("cid2") == F.col("cid")) & (F.col("cidf") == F.col("cid")), 1)
        ).alias("stay_2f"),
    )
    return per.select(
        "cid", "n_round1", "n_round2", "n_final", "stay_12", "stay_2f",
        F.expr(
            "CAST((1000 * (n_round2 - stay_2f)) div greatest(n_round2, 1)"
            " AS BIGINT)"
        ).alias("churn_milli"),
    )


# --------------------------------------------------------------------------
# s18: embedding QA / norm-outlier screen — the sanity gate an
# embedding pipeline runs before indexing a batch: degenerate vectors
# (collapsed near-zero norms from a failed forward pass, or exploded
# norms from numeric issues) poison both cosine similarity (division
# amplifies noise) and IVF training (outliers drag centroids). Per
# vector: the exact int64 quantized squared norm, its deviation from
# the corpus median (the robust center — mean would be dragged by the
# very outliers being screened), and the flag at the standard
# median +/- fraction band. Median and band bounds are exact integers
# (DuckDB's quantile_disc == Spark's percentile on int64 with
# discrete interpolation via sort-rank... computed here via the exact
# distributed rank to avoid engine interpolation differences).
#
# Scale: the quantized corpus is a shared artifact; the median comes
# from the range-partition global rank over the norms table (one
# column!), and the screen itself is a row-local comparison against
# two broadcast scalars.
# --------------------------------------------------------------------------
S18_BAND_MILLI = 300  # flag norms outside median ± 30%


@register(
    "s18_embedding_norm_screen",
    oracle=f"""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS n2
      FROM quant
    ),
    ranked AS (
      SELECT vec_id, n2,
             ROW_NUMBER() OVER (ORDER BY n2, vec_id) AS rk,
             COUNT(*) OVER () AS n
      FROM norms
    ),
    med AS (
      SELECT n2 AS median_n2 FROM ranked WHERE rk = (n + 1) // 2
    )
    SELECT r.vec_id, r.n2,
           m.median_n2,
           (1000 * r.n2) // m.median_n2 AS ratio_milli,
           ((1000 * r.n2) // m.median_n2 < 1000 - {S18_BAND_MILLI}
            OR (1000 * r.n2) // m.median_n2 > 1000 + {S18_BAND_MILLI})
             AS is_outlier
    FROM ranked r CROSS JOIN med m
    """,
)
def s18_embedding_norm_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ranks import global_rank

    quant = _quant_corpus(spark, sf_dir)
    norms = quant.select(
        "vec_id", _isum(F.transform("q", lambda v: v * v)).alias("n2")
    )
    ranked, n = global_rank(
        norms, [F.col("n2").asc(), F.col("vec_id").asc()], "rk"
    )
    med = (
        ranked.filter(F.col("rk") == (n + 1) // 2)
        .select(F.col("n2").alias("median_n2"))
    )  # exactly 1 row — the discrete lower median
    ratio = F.expr("(1000 * n2) div median_n2")
    return (
        ranked.select("vec_id", "n2")
        .join(F.broadcast(med))
        .select(
            "vec_id",
            "n2",
            "median_n2",
            ratio.alias("ratio_milli"),
            (
                (ratio < 1000 - S18_BAND_MILLI)
                | (ratio > 1000 + S18_BAND_MILLI)
            ).alias("is_outlier"),
        )
    )


# --------------------------------------------------------------------------
# s19: IVF probe-recall tuning curve — the parameter sweep an index
# operator runs BEFORE committing an nprobe setting to a production
# corpus: one row per candidate nprobe value with its pair-level
# recall against the exact top-k (s01), so the recall-vs-scan-cost
# knee is read off a table instead of guessed. s14 audits the SHIPPED
# configuration; this sweeps the alternatives (FAISS's nprobe
# benchmark loop, in-engine and hash-checked).
#
# Scale: the quantized corpus, Lloyd centroids, and cell assignment
# are computed ONCE (session-materialized + checkpointed) and shared
# by all sweep points; each nprobe value then adds only its own
# candidate equi-join + per-probe top-k window, with candidate volume
# growing linearly in nprobe (nprobe/K of the corpus per probe). The
# exact baseline is the one O(probes x corpus) pass s01 already pays.
# --------------------------------------------------------------------------
S19_NPROBES = (1, 2, 4, 6, 8)


def _s19_oracle() -> str:
    from .hashing import md5_prefix_long_sql
    from .registry import ORACLE_SQL

    seed_hash = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)")
    exact = ORACLE_SQL["s01_ann_bruteforce_topk"]
    dot = _ISUM_SQL.format(
        l="list_transform(list_zip(pn.q, nn.q), p -> p[1] * p[2])"
    )
    per_p = []
    selects = []
    for p in S19_NPROBES:
        per_p.append(f"""cand{p} AS (
      SELECT DISTINCT pr.probe_id, a.vec_id
      FROM norms a JOIN pranks pr ON a.cid = pr.cid AND pr.crk <= {p}
      WHERE a.vec_id <> pr.probe_id
    ),
    ranked{p} AS (
      SELECT probe_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM (
        SELECT c.probe_id, c.vec_id AS neighbor_id,
               ROUND(CAST({dot} AS DOUBLE)
                     / (sqrt(CAST(pn.nq AS DOUBLE)) * sqrt(CAST(nn.nq AS DOUBLE))), 6)
                 AS cosine
        FROM cand{p} c
        JOIN norms nn ON nn.vec_id = c.vec_id
        JOIN norms pn ON pn.vec_id = c.probe_id
      )
    ),
    res{p} AS (
      SELECT CAST({p} AS BIGINT) AS nprobe,
             CAST(COUNT(*) AS BIGINT) AS n_found,
             CAST(COUNT(e.probe_id) AS BIGINT) AS n_hit
      FROM ranked{p} r
      LEFT JOIN exact_pairs e
        ON e.probe_id = r.probe_id AND e.neighbor_id = r.neighbor_id
      WHERE r.rk <= {TOP_K}
    )""")
        selects.append(f"SELECT * FROM res{p}")
    joined = ",\n    ".join(per_p)
    unioned = "\n      UNION ALL\n      ".join(selects)
    return f"""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT cid, q AS cvec FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_hash}, vec_id) - 1 AS cid, q
        FROM quant
      ) WHERE cid < {IVF_K}
    ),
    a1 AS ({_lloyd_assign_sql('quant', 'seeds')}),
    c1 AS ({_lloyd_means_sql('a1')}),
    a2 AS ({_lloyd_assign_sql('quant', 'c1')}),
    c2 AS ({_lloyd_means_sql('a2')}),
    cells AS ({_lloyd_assign_sql('quant', 'c2')}),
    norms AS (
      SELECT vec_id, q, cid,
             {_ISUM_SQL.format(l='list_transform(q, v -> v * v)')} AS nq
      FROM cells
    ),
    exact_pairs AS (
      SELECT probe_id, neighbor_id FROM ({exact})
    ),
    n_exact AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM exact_pairs),
    pranks AS (
      SELECT probe_id, cid, crk FROM (
        SELECT v.vec_id AS probe_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_QD2_SQL.format(a='v.q', b='c.cvec')}, c.cid) AS crk
        FROM quant v CROSS JOIN c2 c WHERE v.vec_id < {N_PROBES}
      ) WHERE crk <= {max(S19_NPROBES)}
    ),
    {joined}
    SELECT r.nprobe, r.n_found, r.n_hit, x.n AS n_exact,
           (1000 * r.n_hit) // x.n AS recall_milli
    FROM (
      {unioned}
    ) r CROSS JOIN n_exact x
    """


@register("s19_ivf_probe_recall_curve", oracle=_s19_oracle())
def s19_ivf_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    quant = _quant_corpus(spark, sf_dir)
    centroids = _ivf_centroids(spark, sf_dir)
    cdf = centroid_frame(spark, centroids)
    # Cell assignment + norms shared by every sweep point — session-
    # materialized so the five candidate joins read one artifact.
    def _build_cells():
        return assign_cells(quant, cdf).withColumn(
            "nq", _isum(F.transform("q", lambda v: v * v))
        )

    with_norm = materialized_df(spark, sf_dir, "s19_cells_norm", _build_cells)
    pranks = (
        probe_cells(
            quant.filter(F.col("vec_id") < N_PROBES), cdf, max(S19_NPROBES)
        )
        .select(F.col("vec_id").alias("probe_id"), "cid", "crk")
        # probes x max(nprobe) rows, consumed once per sweep point —
        # pin it so the sweep doesn't re-derive the centroid ranking.
        .localCheckpoint()
    )
    probe_vecs = with_norm.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("q").alias("pq"),
        F.col("nq").alias("pn"),
    )
    # N_PROBES x TOP_K rows; without the checkpoint every sweep point
    # re-runs the full brute-force baseline.
    exact = (
        s01_ann_bruteforce_topk(spark, sf_dir)
        .select("probe_id", "neighbor_id", F.lit(1).alias("hit"))
        .localCheckpoint()
    )
    n_exact = exact.agg(F.count("*").alias("n"))
    results = None
    for p in S19_NPROBES:
        probes = pranks.filter(F.col("crk") <= p).select("probe_id", "cid")
        cand = (
            with_norm.join(F.broadcast(probes), "cid")
            .filter(F.col("vec_id") != F.col("probe_id"))
            .dropDuplicates(["probe_id", "vec_id"])
        )
        scored = cand.join(F.broadcast(probe_vecs), "probe_id").select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            dround(
                _isum(F.zip_with("pq", "q", lambda x, y: x * y)).cast("double")
                / (
                    F.sqrt(F.col("pn").cast("double"))
                    * F.sqrt(F.col("nq").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        w = W.partitionBy("probe_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        topk = scored.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") <= TOP_K
        )
        row = (
            topk.join(exact, ["probe_id", "neighbor_id"], "left")
            .agg(
                F.count("*").alias("n_found"),
                F.count("hit").alias("n_hit"),
            )
            .select(
                F.lit(p).cast("long").alias("nprobe"), "n_found", "n_hit"
            )
        )
        results = row if results is None else results.unionAll(row)
    return results.join(F.broadcast(n_exact)).select(
        "nprobe",
        "n_found",
        "n_hit",
        F.col("n").alias("n_exact"),
        F.expr("(1000 * n_hit) div n").alias("recall_milli"),
    )


# --------------------------------------------------------------------------
# s20: IVF cluster-purity audit — grades the coarse quantizer's cells
# against the embeddings' ground-truth labels, the clustering-quality
# check run before trusting cells as retrieval shards or diversity
# strata: per cell, its size, the modal label (ties broken toward the
# smaller label id) and that label's share in milli, plus the corpus
# purity (size-weighted modal share) repeated per row for the
# dashboard. Complements s17 (drift across Lloyd rounds) with an
# EXTERNAL quality reference.
#
# Scale: the assignment is the shared materialized s19/s03 artifact;
# everything else is (K x |labels|)-sized aggregation and a 1-row
# broadcast total.
# --------------------------------------------------------------------------
def _s20_oracle() -> str:
    from .hashing import md5_prefix_long_sql

    seed_hash = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)")
    return f"""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT cid, q AS cvec FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_hash}, vec_id) - 1 AS cid, q
        FROM quant
      ) WHERE cid < {IVF_K}
    ),
    a1 AS ({_lloyd_assign_sql('quant', 'seeds')}),
    c1 AS ({_lloyd_means_sql('a1')}),
    a2 AS ({_lloyd_assign_sql('quant', 'c1')}),
    c2 AS ({_lloyd_means_sql('a2')}),
    cells AS ({_lloyd_assign_sql('quant', 'c2')}),
    labeled AS (
      SELECT c.cid, e.label FROM cells c JOIN embeddings e USING (vec_id)
    ),
    cl AS (
      SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n
      FROM labeled GROUP BY cid, label
    ),
    modal AS (
      SELECT cid, label AS top_label, n AS top_n FROM (
        SELECT cid, label, n,
               ROW_NUMBER() OVER (PARTITION BY cid
                                  ORDER BY n DESC, label) AS rk
        FROM cl
      ) WHERE rk = 1
    ),
    sizes AS (
      SELECT cid, CAST(SUM(n) AS BIGINT) AS n_vecs FROM cl GROUP BY cid
    ),
    overall AS (
      SELECT CAST(SUM(m.top_n) AS BIGINT) AS hits,
             CAST(SUM(s.n_vecs) AS BIGINT) AS total
      FROM modal m JOIN sizes s USING (cid)
    )
    SELECT CAST(s.cid AS BIGINT) AS cid, s.n_vecs,
           CAST(m.top_label AS BIGINT) AS top_label, m.top_n,
           (1000 * m.top_n) // s.n_vecs AS purity_milli,
           (1000 * o.hits) // o.total AS corpus_purity_milli
    FROM sizes s JOIN modal m USING (cid) CROSS JOIN overall o
    """


@register("s20_ivf_purity_audit", oracle=_s20_oracle())
def s20_ivf_purity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "label")
    quant = _quant_corpus(spark, sf_dir)
    cdf = centroid_frame(spark, _ivf_centroids(spark, sf_dir))
    cells = assign_cells(quant, cdf).select("vec_id", "cid")
    cl = (
        cells.join(emb, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").alias("n"))
        # K x |labels| rows, read by modal + sizes + overall
        .localCheckpoint()
    )
    w = W.partitionBy("cid").orderBy(F.col("n").desc(), F.col("label"))
    modal = (
        cl.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cid", F.col("label").alias("top_label"), F.col("n").alias("top_n"))
    )
    sizes = cl.groupBy("cid").agg(F.sum("n").alias("n_vecs"))
    overall = modal.join(sizes, "cid").agg(
        F.sum("top_n").alias("hits"), F.sum("n_vecs").alias("total")
    )
    return (
        sizes.join(modal, "cid")
        .join(F.broadcast(overall))
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_vecs",
            F.col("top_label").cast("long").alias("top_label"),
            "top_n",
            F.expr("(1000 * top_n) div n_vecs").alias("purity_milli"),
            F.expr("(1000 * hits) div total").alias("corpus_purity_milli"),
        )
    )


# --------------------------------------------------------------------------
# s21: embedding label-separability audit — the Fisher-style check run
# before trusting labels (or label-conditioned sampling) in embedding
# space: per label, the mean squared distance of members to their own
# label centroid (intra-class scatter) vs the squared distance to the
# NEAREST other centroid (inter-class margin), and their ratio in
# milli — ratios near or above 1000 mean the label structure is not
# recoverable from the embeddings. All on the int64 fixed-point
# vectors (exact elementwise integer means, exact squared distances —
# the Lloyd arithmetic reused for ground-truth labels instead of
# learned cells).
#
# Scale: one pass for the per-label sums (posexplode, map-side
# combined, |labels| x 64 rows), one broadcast of the |labels|-row
# centroid table back for member distances, K² centroid pairs.
# --------------------------------------------------------------------------
def _s21_oracle() -> str:
    return f"""
    WITH quant AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    cent AS (
      SELECT label, list(cv ORDER BY pos) AS cvec FROM (
        SELECT label, pos, CAST(SUM(val) AS BIGINT) // COUNT(*) AS cv FROM (
          SELECT a.label, t.pos, a.q[t.pos] AS val
          FROM quant a, range(1, 65) t(pos)
        ) GROUP BY label, pos
      ) GROUP BY label
    ),
    intra AS (
      SELECT v.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM({_QD2_SQL.format(a='v.q', b='c.cvec')}) // COUNT(*)
                  AS BIGINT) AS mean_intra_d2
      FROM quant v JOIN cent c USING (label)
      GROUP BY v.label
    ),
    inter AS (
      SELECT a.label,
             CAST(MIN({_QD2_SQL.format(a='a.cvec', b='b.cvec')})
                  AS BIGINT) AS nearest_other_d2
      FROM cent a JOIN cent b ON a.label <> b.label
      GROUP BY a.label
    )
    SELECT CAST(i.label AS BIGINT) AS label, i.n_vecs, i.mean_intra_d2,
           x.nearest_other_d2,
           (1000 * i.mean_intra_d2) // GREATEST(x.nearest_other_d2, 1)
             AS scatter_margin_milli
    FROM intra i JOIN inter x USING (label)
    """


@register("s21_label_separability", oracle=_s21_oracle())
def s21_label_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "label")
    quant = _quant_corpus(spark, sf_dir).join(emb, "vec_id")
    cent = (
        quant.select("label", F.posexplode("q").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.expr("sum(val) div count(*)").alias("cv"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pm"))
        .select("label", F.expr("transform(pm, x -> x.cv)").alias("cvec"))
        # |labels|-row centroid table, read by intra AND inter
        .localCheckpoint()
    )
    intra = (
        quant.join(F.broadcast(cent), "label")
        .withColumn("d2", _qd2("q", "cvec"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.expr("CAST(sum(d2) div count(*) AS BIGINT)").alias(
                "mean_intra_d2"
            ),
        )
    )
    ca = cent.select(F.col("label").alias("la"), F.col("cvec").alias("va"))
    cb = cent.select(F.col("label").alias("lb"), F.col("cvec").alias("vb"))
    inter = (
        ca.join(F.broadcast(cb), F.col("la") != F.col("lb"))
        .withColumn("d2", _qd2("va", "vb"))
        .groupBy("la")
        .agg(F.min("d2").alias("nearest_other_d2"))
        .select(F.col("la").alias("label"), "nearest_other_d2")
    )
    return intra.join(inter, "label").select(
        F.col("label").cast("long").alias("label"),
        "n_vecs",
        "mean_intra_d2",
        "nearest_other_d2",
        F.expr(
            "(1000 * mean_intra_d2) div greatest(nearest_other_d2, 1)"
        ).alias("scatter_margin_milli"),
    )


# --------------------------------------------------------------------------
# s22: PQ distortion audit — the codebook-health table an IVFADC
# deployment reads next to s17 (cell drift) and s20 (cell purity):
# per PQ block, the exact int64 quantization error of every vector's
# subvector against its ASSIGNED codeword (the same argmin the encoder
# uses — the min(struct) carries the winning distance, so the audit is
# free at assignment time), codebook utilization (distinct codewords
# actually used, of PQ_K), and the share of vectors whose error
# exceeds 2× the block mean (data-relative flag: d2·n > 2·Σd2 — no
# magic constants, exact integers). A block with low utilization or a
# fat high-error tail needs more codewords or a re-train before its
# ADC distances can be trusted.
#
# Oracle: splices the SAME _pq_chain_sql prefix s08 searches through,
# so the audited codebook IS the search codebook.
#
# Scale: one corpus pass for assignment (broadcast PQ_K×PQ_BLOCKS
# codebook), then a PQ_BLOCKS-row aggregate and one recount join
# against the 8-row stats broadcast.
# --------------------------------------------------------------------------
def _s22_oracle() -> str:
    d2 = _QD2_SQL.format(a="c.sub", b="k.cw")
    return f"""
    WITH {_pq_chain_sql()},
    errs AS (
      SELECT vec_id, b, cid, d2 FROM (
        SELECT c.vec_id, c.b, k.cid, {d2} AS d2,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.b
                                  ORDER BY {d2}, k.cid) AS rk
        FROM cblk c JOIN cb k ON k.b = c.b
      ) WHERE rk = 1
    ),
    per AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(d2) AS BIGINT) AS sum_d2,
             CAST(MAX(d2) AS BIGINT) AS max_d2,
             CAST(COUNT(DISTINCT cid) AS BIGINT) AS codes_used
      FROM errs GROUP BY b
    )
    SELECT p.b, p.n_vecs,
           p.sum_d2 // p.n_vecs AS avg_d2,
           p.max_d2, p.codes_used,
           (1000 * p.codes_used) // {PQ_K} AS util_milli,
           CAST((SELECT COUNT(*) FROM errs e
                 WHERE e.b = p.b AND e.d2 * p.n_vecs > 2 * p.sum_d2)
                AS BIGINT) AS n_high,
           (1000000 * (SELECT COUNT(*) FROM errs e
                       WHERE e.b = p.b AND e.d2 * p.n_vecs > 2 * p.sum_d2))
             // p.n_vecs AS high_ppm
    FROM per p
    """


@register("s22_pq_distortion_audit", oracle=_s22_oracle())
def s22_pq_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = codebook_frame(spark, _pq_codebook_rows(spark, sf_dir))
    errs = pq_encode(
        pq_blocks(_qnorm_corpus(spark, sf_dir)), cb
    ).localCheckpoint()  # read by the stats agg AND the tail recount
    per = errs.groupBy("b").agg(
        F.count("*").alias("n_vecs"),
        F.sum("d2").alias("sum_d2"),
        F.max("d2").alias("max_d2"),
        F.count_distinct("code").alias("codes_used"),
    )
    high = (
        errs.join(F.broadcast(per.select("b", "n_vecs", "sum_d2")), "b")
        .filter(F.col("d2") * F.col("n_vecs") > 2 * F.col("sum_d2"))
        .groupBy("b")
        .agg(F.count("*").alias("n_high"))
    )
    return (
        per.join(high, "b", "left")
        .select(
            "b",
            "n_vecs",
            F.expr("sum_d2 div n_vecs").alias("avg_d2"),
            "max_d2",
            "codes_used",
            F.expr(f"(1000 * codes_used) div {PQ_K}").alias("util_milli"),
            F.coalesce("n_high", F.lit(0)).alias("n_high"),
            F.expr("(1000000 * coalesce(n_high, 0)) div n_vecs").alias("high_ppm"),
        )
    )


# --------------------------------------------------------------------------
# s23: k-means init-stability audit — how much of the IVF cell
# structure is DATA and how much is seed luck? Two fully deterministic
# Lloyd runs differing only in their seed ordering hash (md5(id) vs
# md5(id·salt)), compared by the exact Rand index over the final
# assignments: agreement = same-cell-in-both + split-in-both pairs,
# over all C(n,2) pairs, computed from the K×K contingency table in
# closed form (Σ C(m_ij,2) etc. — never enumerating pairs). A low
# Rand says the quantizer's cells are init-artifacts and nprobe
# pruning (s03/s19) is shakier than its recall curve suggests —
# completing the index-health quartet (s17 drift, s20 purity, s22
# distortion, s23 stability).
#
# Output: one row per contingency cell (cid_a, cid_b, n_shared), each
# carrying the corpus-level rand_milli and pair accounting.
#
# Scale: two Lloyd runs (each the s03 cost: IVF_ITERS bounded rounds,
# K×64 driver state), one corpus join on vec_id, then K² arithmetic.
# --------------------------------------------------------------------------
S23_SALT = "b"


def _s23_oracle() -> str:
    from .hashing import md5_prefix_long_sql

    assign = _lloyd_assign_sql
    means = _lloyd_means_sql
    hA = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)")
    hB = md5_prefix_long_sql(f"CAST(vec_id AS VARCHAR) || '{S23_SALT}'")

    def chain(tag: str, seed_hash: str) -> str:
        return f"""seeds{tag} AS (
      SELECT cid, q AS cvec FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_hash}, vec_id) - 1 AS cid, q
        FROM quant
      ) WHERE cid < {IVF_K}
    ),
    a1{tag} AS ({assign('quant', f'seeds{tag}')}),
    c1{tag} AS ({means(f'a1{tag}')}),
    a2{tag} AS ({assign('quant', f'c1{tag}')}),
    c2{tag} AS ({means(f'a2{tag}')}),
    cells{tag} AS ({assign('quant', f'c2{tag}')})"""

    return f"""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))
               AS q
      FROM embeddings
    ),
    {chain('A', hA)},
    {chain('B', hB)},
    cont AS (
      SELECT a.cid AS cid_a, b.cid AS cid_b,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM cellsA a JOIN cellsB b USING (vec_id)
      GROUP BY 1, 2
    ),
    sums AS (
      SELECT CAST(SUM(m) AS BIGINT) AS n,
             CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS ss
      FROM cont
    ),
    asz AS (SELECT cid_a, CAST(SUM(m) AS BIGINT) AS a FROM cont
            GROUP BY cid_a),
    bsz AS (SELECT cid_b, CAST(SUM(m) AS BIGINT) AS b FROM cont
            GROUP BY cid_b),
    agg AS (
      SELECT s.n, s.ss,
             (SELECT CAST(SUM(a * (a - 1) // 2) AS BIGINT) FROM asz) AS sa,
             (SELECT CAST(SUM(b * (b - 1) // 2) AS BIGINT) FROM bsz) AS sb,
             s.n * (s.n - 1) // 2 AS pairs
      FROM sums s
    )
    SELECT c.cid_a, c.cid_b, c.m AS n_shared,
           g.n AS n_vecs,
           (1000 * (g.ss + (g.pairs - g.sa - g.sb + g.ss))) // g.pairs
             AS rand_milli
    FROM cont c CROSS JOIN agg g
    """


@register("s23_kmeans_stability_audit", oracle=_s23_oracle())
def s23_kmeans_stability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import run_concurrently
    from .materialize import materialized_value

    quant = _quant_corpus(spark, sf_dir)

    # The two Lloyd trainings differ only in seed salt and are fully
    # independent driver-action chains over the same memoized corpus —
    # build both centroid memos concurrently (guide §2.6) so the
    # second training back-fills the cores the first leaves idle
    # between its bounded collect steps. Results are unchanged: each
    # training is deterministic in its salt alone.
    run_concurrently(
        lambda: materialized_value(
            spark, sf_dir, "s23_centroids_a",
            lambda: _centroid_history(quant, "")[-1],
        ),
        lambda: materialized_value(
            spark, sf_dir, "s23_centroids_b",
            lambda: _centroid_history(quant, S23_SALT)[-1],
        ),
    )

    def assign_with(salt: str, tag: str) -> DataFrame:
        cents = materialized_value(
            spark, sf_dir, f"s23_centroids_{tag}",
            lambda: _centroid_history(quant, salt)[-1],
        )
        return assign_cells(quant, centroid_frame(spark, cents)).select(
            "vec_id", F.col("cid").alias(f"cid_{tag}")
        )

    cont = (
        assign_with("", "a")
        .join(assign_with(S23_SALT, "b"), "vec_id")
        .groupBy("cid_a", "cid_b")
        .agg(F.count("*").alias("m"))
        .localCheckpoint()  # K×K frame, read by every aggregate below
    )
    sums = cont.agg(
        F.sum("m").alias("n"),
        F.sum(F.expr("m * (m - 1) div 2")).alias("ss"),
    )
    sa = (
        cont.groupBy("cid_a").agg(F.sum("m").alias("a"))
        .agg(F.sum(F.expr("a * (a - 1) div 2")).alias("sa"))
    )
    sb = (
        cont.groupBy("cid_b").agg(F.sum("m").alias("b"))
        .agg(F.sum(F.expr("b * (b - 1) div 2")).alias("sb"))
    )
    agg = (
        sums.join(F.broadcast(sa)).join(F.broadcast(sb))
        .select(
            "n", "ss", "sa", "sb",
            F.expr("n * (n - 1) div 2").alias("pairs"),
        )
    )
    return cont.join(F.broadcast(agg)).select(
        "cid_a", "cid_b", F.col("m").alias("n_shared"),
        F.col("n").alias("n_vecs"),
        F.expr(
            "(1000 * (ss + (pairs - sa - sb + ss))) div pairs"
        ).alias("rand_milli"),
    )


# --------------------------------------------------------------------------
# s24: pre- vs post-filter ANN audit — the vector-store design table
# for predicate-constrained search: pre-filtering (score only rows
# matching the predicate — s06's shape) is exact but needs the
# predicate pushed into the index; post-filtering (take an expanded
# unfiltered top-K', then apply the predicate) reuses one shared index
# but loses recall when matches are sparse in the top-K'. Per probe
# (predicate: same label as the probe) this audit emits how many
# label-matches survive in the unfiltered top-4k, the post-filter
# result size, and post-filter recall@k against the exact pre-filter
# answer — the measured basis for choosing a filter strategy and
# sizing the K' expansion.
#
# Ranking ties break on the ROUNDED cosine then neighbor_id in both
# engines (the s06 float discipline), so pre/post sets are
# deterministic and the intersection count is exact.
#
# Scale: the fixture path is the exact brute-force audit twin (probes
# broadcast, one corpus scan); production replaces the scorer with the
# IVF path (s03) and keeps the same audit joins, which are
# probe-bounded (≤ N_PROBES × 4k rows).
# --------------------------------------------------------------------------
S24_EXPAND = 4 * TOP_K


@register(
    "s24_prepost_filter_audit",
    oracle=f"""
    WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe, label AS pl
                    FROM embeddings WHERE vec_id < {N_PROBES}),
    scored AS (
      SELECT probe_id, pl, e.vec_id AS neighbor_id, e.label AS nl,
             ROUND({_cos_sql('pe', 'e.embedding')}, 6) AS cosine
      FROM probes JOIN embeddings e ON e.vec_id <> probe_id
    ),
    ranked_all AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ),
    pre AS (
      SELECT probe_id, neighbor_id, rk_pre FROM (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk_pre
        FROM scored WHERE nl = pl
      ) WHERE rk_pre <= {TOP_K}
    ),
    post AS (
      SELECT probe_id, neighbor_id, rk_post FROM (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk_post
        FROM ranked_all WHERE rk <= {S24_EXPAND} AND nl = pl
      ) WHERE rk_post <= {TOP_K}
    )
    SELECT p.probe_id, ANY_VALUE(p.pl) AS probe_label,
           CAST(COUNT(*) FILTER (r.rk <= {S24_EXPAND} AND r.nl = p.pl)
                AS BIGINT) AS n_survivors_at_expand,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM post
            WHERE post.probe_id = p.probe_id) AS n_post,
           (SELECT CAST(1000 * COUNT(*) AS BIGINT) // {TOP_K}
            FROM pre JOIN post ON pre.probe_id = post.probe_id
                              AND pre.neighbor_id = post.neighbor_id
            WHERE pre.probe_id = p.probe_id) AS postfilter_recall_milli
    FROM probes p JOIN ranked_all r ON r.probe_id = p.probe_id
    GROUP BY p.probe_id
    """,
)
def s24_prepost_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("label").alias("pl"),
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "pl",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nl"),
            dround(
                _dot("pe", "embedding") / (_norm("pe") * _norm("embedding")), 6
            ).alias("cosine"),
        )
        .localCheckpoint()  # read by the all-rank, pre-rank, and tally
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    ranked_all = scored.select("*", F.row_number().over(w).alias("rk"))
    pre = (
        scored.filter(F.col("nl") == F.col("pl"))
        .select("*", F.row_number().over(w).alias("rk_pre"))
        .filter(F.col("rk_pre") <= TOP_K)
        .select("probe_id", "neighbor_id")
    )
    post = (
        ranked_all.filter((F.col("rk") <= S24_EXPAND) & (F.col("nl") == F.col("pl")))
        .select("*", F.row_number().over(w).alias("rk_post"))
        .filter(F.col("rk_post") <= TOP_K)
        .select("probe_id", "neighbor_id")
    )
    survivors = (
        ranked_all.filter((F.col("rk") <= S24_EXPAND) & (F.col("nl") == F.col("pl")))
        .groupBy("probe_id")
        .agg(F.count("*").alias("n_survivors_at_expand"))
    )
    n_post = post.groupBy("probe_id").agg(F.count("*").alias("n_post"))
    hits = (
        pre.join(post, ["probe_id", "neighbor_id"])
        .groupBy("probe_id")
        .agg(F.expr(f"CAST(1000 * count(*) AS BIGINT) div {TOP_K}").alias(
            "postfilter_recall_milli"
        ))
    )
    base = probes.select("probe_id", F.col("pl").alias("probe_label"))
    return (
        base.join(survivors, "probe_id", "left")
        .join(n_post, "probe_id", "left")
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            "probe_label",
            F.coalesce("n_survivors_at_expand", F.lit(0)).cast("long")
            .alias("n_survivors_at_expand"),
            F.coalesce("n_post", F.lit(0)).cast("long").alias("n_post"),
            F.coalesce("postfilter_recall_milli", F.lit(0)).cast("long")
            .alias("postfilter_recall_milli"),
        )
    )


# --------------------------------------------------------------------------
# s26: hybrid lexical+vector retrieval with Reciprocal Rank Fusion —
# the combiner modern retrieval stacks actually ship (BM25/keyword
# rank and embedding rank fused as Σ 1/(k + rank), k=60 per the
# original RRF formulation): neither signal's raw score scale leaks
# into the fusion, only ranks do, which is why RRF needs no score
# normalization and is the default hybrid mode in production vector
# stores. Per probe document (the s01 probe set, restricted to ids
# carrying BOTH text and an embedding), candidates are ranked twice —
# lexically by distinct-shared-token count against the probe's text,
# and by embedding cosine (the s01 kernel) — and the fused top-k is
# emitted with both constituent ranks, so the gate checks the full
# fusion arithmetic, not just the final ordering. Ranks use the
# rounded cosine and (score, id) tie-breaks so both engines compute
# identical integers; the fused score is a two-term double from those
# integers, bit-identical cross-engine.
#
# Scale: the probe set broadcasts (s01's shape) and each ranking is a
# per-probe window — maximal parallelism in the probe dimension. At
# corpus scale the two candidate lists come from indexes (inverted
# index / ANN, s02-s03) instead of full scans, and RRF fuses the
# RETRIEVED lists (size k each) — the fusion stage itself is O(k) per
# probe regardless of corpus size.
# --------------------------------------------------------------------------
RRF_K = 60
S26_TOP_K = 10


@register(
    "s26_hybrid_rrf_fusion",
    oracle=f"""
    WITH corpus AS (
      SELECT d.doc_id AS id,
             list_distinct(string_split(d.text, ' ')) AS toks,
             e.embedding AS emb
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    probes AS (SELECT * FROM corpus WHERE id < {N_PROBES}),
    scored AS (
      SELECT p.id AS probe_id, c.id AS cand_id,
             len(list_intersect(p.toks, c.toks)) AS lex_score,
             ROUND({_cos_sql('p.emb', 'c.emb')}, 6) AS cosine
      FROM probes p JOIN corpus c ON c.id <> p.id
    ),
    ranked AS (
      SELECT probe_id, cand_id, lex_score, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY lex_score DESC, cand_id) AS lex_rank,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, cand_id) AS vec_rank
      FROM scored
    ),
    fused AS (
      SELECT probe_id, cand_id, lex_rank, vec_rank,
             ROUND(1.0 / ({RRF_K} + lex_rank)
                   + 1.0 / ({RRF_K} + vec_rank), 9) AS rrf_score
      FROM ranked
    )
    SELECT probe_id, cand_id, CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(vec_rank AS BIGINT) AS vec_rank, rrf_score,
           CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                ORDER BY rrf_score DESC, cand_id) AS BIGINT) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {S26_TOP_K}
    """,
)
def s26_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    emb = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )
    corpus = docs.join(emb, "id")
    probes = corpus.filter(F.col("id") < N_PROBES).select(
        F.col("id").alias("probe_id"),
        F.col("toks").alias("ptoks"),
        F.col("emb").alias("pemb"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col("id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("id").alias("cand_id"),
            F.size(F.array_intersect("ptoks", "toks")).alias("lex_score"),
            dround(
                _dot("pemb", "emb") / (_norm("pemb") * _norm("emb")), 6
            ).alias("cosine"),
        )
    )
    w_lex = W.partitionBy("probe_id").orderBy(
        F.col("lex_score").desc(), F.col("cand_id")
    )
    w_vec = W.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    ranked = scored.select(
        "probe_id",
        "cand_id",
        F.row_number().over(w_lex).cast("long").alias("lex_rank"),
        F.row_number().over(w_vec).cast("long").alias("vec_rank"),
    )
    fused = ranked.withColumn(
        "rrf_score",
        dround(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank"))
            + F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")),
            9,
        ),
    )
    w_f = W.partitionBy("probe_id").orderBy(
        F.col("rrf_score").desc(), F.col("cand_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f).cast("long"))
        .filter(F.col("fused_rank") <= S26_TOP_K)
        .select(
            "probe_id", "cand_id", "lex_rank", "vec_rank", "rrf_score",
            "fused_rank",
        )
    )


# --------------------------------------------------------------------------
# p20/s27: incremental IVF index maintenance through the oracle gate —
# the p16 snapshot-backed-index move applied to the similarity family
# (ivf_index.IncrementalIVFIndex). The embeddings table is committed to
# a snapshot source in TWO batches (vec_id parity split); the index
# trains Lloyd centroids on the seed batch (refresh #1, mode="train"),
# then assigns ONLY the append batch against those persisted centroids
# (refresh #2 — mode MUST be "incremental", pinned by the
# second_refresh_incremental column) and folds per-cell (count, Σvec)
# running stats into the manifest.
#
# Correctness identities pinned by the DuckDB full replay (batch-blind:
# train Lloyd on even vec_ids, assign ALL vectors in one shot):
#   1. incremental assignment over any batch split == one-shot
#      assignment of the final corpus against seed-trained centroids
#      (per-vector determinism given centroids) — n_vecs/n_new per cell;
#   2. the running per-cell stat monoids == a full groupBy over all
#      assignments (the p15 rollup identity): the candidate re-centered
#      centroids come from the RUNNING SUMS on the Spark side but from
#      a full-aggregate means() in the oracle, so the per-cell n_moved
#      drift counts only match if the incremental sums are exact;
#   3. the drift decision (exact integer compare) stays below the
#      retrain threshold on same-distribution appends —
#      retrain_triggered pinned FALSE (the retrain path itself is
#      pinned in tests/test_dedup_index.py with retrain_permille=0).
#
# Scale: refresh #2 scans only the append batch (O(batch × K),
# broadcast centroids); candidate centroids are O(K) from the running
# stats; the drift count scans index rows × K broadcast (sampled at
# full scale — ivf_index.py module notes). s27 then serves ANN top-k
# straight FROM the maintained index rows (a parquet scan of vec_id/
# cid/q — no training, no corpus re-assignment in the query path),
# which is the warm-index read a 100 TB corpus actually runs;
# its oracle is the s03 replay with even-trained centroids.
# --------------------------------------------------------------------------
_EVEN_TRAIN = "(SELECT * FROM quant WHERE vec_id % 2 = 0)"


def _ivf_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id bigint, embedding): the source rows of the IVF gates."""
    return _emb(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )


def _ivf_index_at(spark: SparkSession, sf_dir: str, base: str, **kw):
    """The IVF index over a gate layout: ``<base>/vecs`` source rows,
    state in ``<base>/state``; ``kw`` as IncrementalIVFIndex's."""
    from ..ivf_index import IncrementalIVFIndex

    return IncrementalIVFIndex(
        spark, base + "/vecs", _ivf_vecs(spark, sf_dir).schema, base + "/state",
        **kw,
    )


def _p20_build_index(spark: SparkSession, sf_dir: str) -> tuple:
    """The session-memoized two-batch IVF index layout p20 and s27
    share: (layout base dir, modes-ran-as-expected flag, retrained)."""
    from .materialize import fresh_external_dir, materialized_value

    tag = session_tag(spark, sf_dir)

    def build() -> tuple:
        base = fresh_external_dir("/tmp/seamdb_ivfindex", tag)
        emb = _ivf_vecs(spark, sf_dir)
        idx = _ivf_index_at(spark, sf_dir, base)
        src = idx.source
        modes = idx.refresh_after([
            lambda: src.commit(emb.filter(F.col("vec_id") % 2 == 0), mode="overwrite"),
            lambda: src.commit(emb.filter(F.col("vec_id") % 2 == 1)),
        ])
        retrained = modes == ["train", "retrain", "noop"]
        modes_ok = retrained or modes == ["train", "incremental", "noop"]
        return base, modes_ok, retrained

    return materialized_value(spark, sf_dir, "p20_ivf_index", build)


def _p20_oracle() -> str:
    assign = _lloyd_assign_sql
    means = _lloyd_means_sql
    return f"""
    WITH {_ivf_replay_ctes(_EVEN_TRAIN)},
    cand_c AS ({means('cells')}),
    recells AS ({assign('cells', 'cand_c')})
    SELECT c.cid AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN c.vec_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN r.cid <> c.cid THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           TRUE AS second_refresh_incremental,
           FALSE AS retrain_triggered
    FROM cells c JOIN recells r ON r.vec_id = c.vec_id
    GROUP BY c.cid
    """


@register("p20_incremental_ivf_index", oracle=_p20_oracle())
def p20_incremental_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, modes_ok, retrained = _p20_build_index(spark, sf_dir)
    idx = _ivf_index_at(spark, sf_dir, base)
    new_counts = (
        idx.index()
        .groupBy("cid")
        .agg(
            F.sum(
                F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)
            ).alias("n_new")
        )
    )
    return (
        idx.drift_report()
        .join(new_counts, "cid")
        .select(
            "cid",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.col("n_new").cast("long").alias("n_new"),
            F.col("n_moved").cast("long").alias("n_moved"),
            F.lit(bool(modes_ok)).alias("second_refresh_incremental"),
            F.lit(bool(retrained)).alias("retrain_triggered"),
        )
    )


def _s27_oracle() -> str:
    return f"""
    WITH {_ivf_replay_ctes(_EVEN_TRAIN)},
    {_ivf_topk_tail_sql()}
    """


@register("s27_ann_incremental_index_topk", oracle=_s27_oracle())
def s27_ann_incremental_index_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base, _modes_ok, _retrained = _p20_build_index(spark, sf_dir)
    idx = _ivf_index_at(spark, sf_dir, base)
    cells = idx.index()
    cdf = centroid_frame(spark, idx.centroids())
    # probes read from the index rows too — the whole query path is
    # parquet scans of the maintained index; nothing re-trains or
    # re-assigns (compare s03, which builds its index per run)
    return _ivf_topk(cells, cdf, cells.select("vec_id", "q"))


# --------------------------------------------------------------------------
# p22: drift-triggered IVF re-center through the gate — p20 pins the
# steady state (same-distribution appends, drift below threshold, no
# retrain); this pins the OTHER branch with a deliberately shifted
# append batch: the seed snapshot is the full original corpus, the
# append is the same corpus SCALED ×64 (ids +10M) — raw floats scaled
# BEFORE quantization (×64 is exact in binary floating point, so
# floor(64x·S) is the same value in both engines). The scaled mass
# dominates every cell's one-step re-centered mean (candidate |c|
# grows ~32×), so nearly all ORIGINAL vectors flee to the candidate
# with the smallest norm — drift is large by GEOMETRY, not fixture
# luck, at any SF — and refresh() MUST take the retrain branch:
# candidate centroids become the index centroids and every row is
# reassigned. The oracle replays exactly that, batch-blind: train on
# the originals, assign all, take one exact Lloyd-step mean, reassign
# all — per-cell n_vecs/n_appended of the POST-RETRAIN state are the
# checked columns, with retrain_triggered pinned TRUE (p20 pins it
# FALSE — both branches of the drift decision now have driver rows).
#
# Scale: identical shapes to p20; the retrain itself is one extra
# assignment pass over index rows (K×64 broadcast), the cost a
# distribution shift legitimately buys.
# --------------------------------------------------------------------------
P22_RETRAIN_PERMILLE = 100


def _p22_build_index(spark: SparkSession, sf_dir: str) -> tuple:
    from .materialize import fresh_external_dir, materialized_value

    tag = session_tag(spark, sf_dir)

    def build() -> tuple:
        base = fresh_external_dir("/tmp/seamdb_ivfdrift", tag)
        emb = _ivf_vecs(spark, sf_dir)
        idx = _ivf_index_at(
            spark, sf_dir, base, retrain_permille=P22_RETRAIN_PERMILLE
        )
        shifted = emb.select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            # CAST back to float: ×64 is an exponent shift (exact in binary
            # FP), but the int literal promotes to double and would break
            # the snapshot's array<float> schema
            F.expr(
                "transform(embedding, x -> CAST(x * 64 AS FLOAT))"
            ).alias("embedding"),
        )
        modes = idx.refresh_after([
            lambda: idx.source.commit(emb, mode="overwrite"),
            lambda: idx.source.commit(shifted),
        ])
        return base, modes == ["train", "retrain", "noop"]

    return materialized_value(spark, sf_dir, "p22_ivf_drift", build)


def _p22_oracle() -> str:
    from .hashing import md5_prefix_long_sql

    seed_hash = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)")
    assign = _lloyd_assign_sql
    means = _lloyd_means_sql
    return f"""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    appq AS (
      SELECT vec_id + 10000000 AS vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x * 64 AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    quant_all AS (SELECT * FROM quant UNION ALL SELECT * FROM appq),
    seeds AS (
      SELECT cid, q AS cvec FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {seed_hash}, vec_id) - 1 AS cid, q
        FROM quant
      ) WHERE cid < {IVF_K}
    ),
    a1 AS ({assign('quant', 'seeds')}),
    c1 AS ({means('a1')}),
    a2 AS ({assign('quant', 'c1')}),
    c2 AS ({means('a2')}),
    pre AS ({assign('quant_all', 'c2')}),
    cand AS ({means('pre')}),
    post AS ({assign('quant_all', 'cand')})
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN vec_id >= 10000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_appended,
           TRUE AS retrain_triggered
    FROM post GROUP BY cid
    """


@register("p22_ivf_drift_retrain", oracle=_p22_oracle())
def p22_ivf_drift_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, modes_ok = _p22_build_index(spark, sf_dir)
    idx = _ivf_index_at(
        spark, sf_dir, base, retrain_permille=P22_RETRAIN_PERMILLE
    )
    return (
        idx.index()
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(
                F.when(F.col("vec_id") >= 10_000_000, 1).otherwise(0)
            ).cast("long").alias("n_appended"),
        )
        .select(
            "cid", "n_vecs", "n_appended",
            F.lit(bool(modes_ok)).alias("retrain_triggered"),
        )
    )


# --------------------------------------------------------------------------
# p23: per-batch embedding near-dup against the maintained IVF index —
# the VECTOR analogue of p21's admission check, completing the
# batch-ingest story for both modalities: when an embedding batch
# lands (the odd-vec_id half), a growing corpus does not brute-force
# it against everything — it looks up each new vector's CELL in the
# maintained index (p20's layout: the new rows are already assigned,
# already carry q) and verifies exact cosine only within the cell
# (d06's fixed-point arithmetic, so the score is bit-identical across
# engines). Cell blocking is the documented approximation (cross-cell
# near-dups are missed — s03's nprobe trade); the oracle replays the
# SAME blocking batch-blind: DuckDB trains on the even seed corpus,
# assigns everything one-shot, and joins cells-to-cells restricted to
# pairs touching the batch — so the maintained index's per-batch
# verdicts (including the blocking behavior itself) are pinned, not
# idealized away.
#
# Scale: the batch's rows join the index on cid (shuffle on cell id,
# K-bounded build side per cell); exact cosines only on same-cell
# pairs — O(batch × cell occupancy), corpus-independent for a fixed
# cell granularity. Existing vectors never pair among themselves.
# --------------------------------------------------------------------------
def _p23_oracle() -> str:
    dot = "list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2]))"
    nrm = "sqrt(CAST(list_sum(list_transform({v}.q, x -> x * x)) AS DOUBLE))"
    return f"""
    WITH {_ivf_replay_ctes(_EVEN_TRAIN)}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(a.cid AS INTEGER) AS cid,
           ROUND(CAST({dot} AS DOUBLE)
                 / ({nrm.format(v='a')} * {nrm.format(v='b')}), 6) AS cosine
    FROM cells a JOIN cells b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE (a.vec_id % 2 = 1 OR b.vec_id % 2 = 1)
      AND CAST({dot} AS DOUBLE)
          / ({nrm.format(v='a')} * {nrm.format(v='b')}) >= {NEARDUP_COSINE}
    """


@register("p23_incremental_vector_neardup", oracle=_p23_oracle())
def p23_incremental_vector_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base, _modes_ok, _retrained = _p20_build_index(spark, sf_dir)
    idx = _ivf_index_at(spark, sf_dir, base)
    rows = idx.index()
    batch = rows.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("bid"), "cid", F.col("q").alias("bq")
    )
    # batch × same-cell index rows; exact fixed-point cosine verify
    paired = (
        batch.join(rows, "cid")
        .filter(F.col("vec_id") != F.col("bid"))
        .select(
            F.least("bid", "vec_id").alias("vec_a"),
            F.greatest("bid", "vec_id").alias("vec_b"),
            "cid",
            (
                _isum(F.zip_with("bq", "q", lambda x, y: x * y)).cast("double")
                / (
                    F.sqrt(
                        _isum(F.transform("bq", lambda v: v * v)).cast("double")
                    )
                    * F.sqrt(
                        _isum(F.transform("q", lambda v: v * v)).cast("double")
                    )
                )
            ).alias("raw_cosine"),
        )
        .filter(F.col("raw_cosine") >= NEARDUP_COSINE)
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return paired.select(
        "vec_a", "vec_b", "cid", dround(F.col("raw_cosine"), 6).alias("cosine")
    )


# --------------------------------------------------------------------------
# p28: IVF index rebuild across source compaction — p25's move for the
# vector family (the ivf_index rebuild branch was pytest-only:
# tests/test_dedup_index.py::test_ivf_vanished_segments_force_rebuild):
# after the indexed vector source's history is rewritten as ONE
# segment, the manifest diff can no longer prove which vectors are
# assigned, so refresh() must RETRAIN on the full current corpus and
# reassign — not double-assign or drop vectors. Sequence: even-half
# commit → refresh (train), odd-half append → refresh (incremental),
# coalesce(1)-overwrite compaction → refresh (rebuild), then noop —
# all four modes pinned. The post-rebuild per-cell populations must
# equal DuckDB's batch-blind replay that trains Lloyd on the FULL
# corpus and assigns one-shot (_ivf_replay_ctes('quant') — the
# rebuild's exact contract, vs p20/s27's even-seed replay).
#
# Scale: rebuild cost is one train+assign over the compacted table —
# the same order of work compaction itself just paid, amortized over
# the O(batch x K) refreshes it re-enables; steady-state reads (s27's
# warm top-k) are unchanged. Own session-memoized layout so p20/s27
# keep gating the incremental path on theirs.
# --------------------------------------------------------------------------
def _p28_oracle() -> str:
    return f"""
    WITH {_ivf_replay_ctes('quant')}
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           TRUE AS rebuild_triggered,
           CAST(1 AS BIGINT) AS source_segments_after_compaction
    FROM cells GROUP BY cid
    """


@register("p28_ivf_compaction_rebuild", oracle=_p28_oracle())
def p28_ivf_compaction_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .materialize import fresh_external_dir, materialized_value

    tag = session_tag(spark, sf_dir)

    def build() -> tuple[str, bool, int]:
        base = fresh_external_dir("/tmp/seamdb_ivfrebuild", tag)
        emb = _ivf_vecs(spark, sf_dir)
        idx = _ivf_index_at(spark, sf_dir, base)
        src = idx.source
        modes = idx.refresh_after([
            lambda: src.commit(emb.filter(F.col("vec_id") % 2 == 0), mode="overwrite"),
            lambda: src.commit(emb.filter(F.col("vec_id") % 2 == 1)),
            # compaction: full content rewritten as ONE segment (old
            # segments survive under manifest retention while it writes)
            lambda: src.commit(
                src.read(spark, emb.schema).coalesce(1), mode="overwrite"
            ),
        ])
        modes_ok = modes == ["train", "incremental", "rebuild", "noop"]
        return base, modes_ok, len(src.current_files())

    base, modes_ok, n_segments = materialized_value(
        spark, sf_dir, "p28_ivf_rebuild", build
    )
    idx = _ivf_index_at(spark, sf_dir, base)
    return (
        idx.index()
        .groupBy("cid")
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_vecs",
            F.lit(bool(modes_ok)).alias("rebuild_triggered"),
            F.lit(int(n_segments)).cast("long").alias(
                "source_segments_after_compaction"
            ),
        )
    )
