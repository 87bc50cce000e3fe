"""End-to-end corpus-curation pipeline over the ``documents`` table.

The composed training-data flow the individual operators exist for:
quality filter (t02 formula) -> near-dup clustering (d03 simhash pairs
-> d09 connected components) -> one keeper per cluster among the
quality survivors (d11 argmax) -> a per-document verdict. One query,
one oracle, so the whole chain is hash-checked end-to-end rather than
only stage-by-stage.

Scale (100 TB): the chain adds nothing beyond its stages' own costs —
the verdict join is doc_id-keyed (skew-free), and the keeper argmax is
a groupBy over cluster assignments whose group sizes are bounded by
near-dup cluster sizes. Cluster membership is computed on the FULL
corpus and the keeper among quality survivors only (the conservative
production choice: a dropped bridge document does not re-split a
cluster into two keepers); the oracle encodes the identical rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import run_concurrently
from .dedup import _cc_clusters, _cc_ctes
from .materialize import fresh_external_dir, materialized_value, session_tag
from .registry import register
from .rounding import dround
from .rowmap import row_map
from .text import QUALITY_SQL, quality_frame, t02_quality_score

QUALITY_MIN = 0.10

# (doc_id, text): the source rows of every text-index gate layout
_DOC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)


def _pipeline_oracle() -> str:
    return f"""
    WITH RECURSIVE {_cc_ctes()},
    labels AS (
      SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ),
    quality AS ({QUALITY_SQL}),
    members AS (
      SELECT q.doc_id, q.quality_score, l.cluster_id
      FROM quality q LEFT JOIN labels l ON l.doc_id = q.doc_id
    ),
    ranked AS (
      SELECT cluster_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY quality_score DESC, doc_id ASC) AS rn
      FROM members
      WHERE cluster_id IS NOT NULL AND quality_score >= {QUALITY_MIN}
    ),
    keepers AS (
      SELECT cluster_id, doc_id AS keeper_doc_id FROM ranked WHERE rn = 1
    )
    SELECT m.doc_id,
           ROUND(m.quality_score, 6) AS quality_score,
           CAST(m.cluster_id AS BIGINT) AS cluster_id,
           CASE
             WHEN m.quality_score < {QUALITY_MIN} THEN 'dropped_quality'
             WHEN m.cluster_id IS NOT NULL
                  AND m.doc_id <> k.keeper_doc_id THEN 'dropped_duplicate'
             ELSE 'kept'
           END AS status
    FROM members m LEFT JOIN keepers k ON m.cluster_id = k.cluster_id
    """


@register("p01_curation_pipeline", oracle=_pipeline_oracle())
def p01_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    quality = t02_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    clusters = _cc_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    members = quality.join(clusters, "doc_id", "left")
    keepers = (
        members.filter(
            F.col("cluster_id").isNotNull()
            & (F.col("quality_score") >= QUALITY_MIN)
        )
        .groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("quality_score").alias("q"),
                    (-F.col("doc_id")).alias("neg_id"),
                )
            ).alias("m")
        )
        .select("cluster_id", (-F.col("m.neg_id")).alias("keeper_doc_id"))
    )
    verdict = (
        F.when(F.col("quality_score") < QUALITY_MIN, F.lit("dropped_quality"))
        .when(
            F.col("cluster_id").isNotNull()
            & (F.col("doc_id") != F.col("keeper_doc_id")),
            F.lit("dropped_duplicate"),
        )
        .otherwise(F.lit("kept"))
    )
    return (
        members.join(keepers, "cluster_id", "left")
        .select(
            "doc_id",
            dround(F.col("quality_score"), 6).alias("quality_score"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            verdict.alias("status"),
        )
    )


# --------------------------------------------------------------------------
# p02: semantic dedup — near-duplicate *embedding* pairs (d06's exact
# block-matrix int64 kernel) joined back to the documents table and
# classified: pairs whose surface text is byte-identical (md5 of
# normalized text matches) vs semantic-only near-dups whose text
# differs. The cross-modal composition a curation pipeline runs after
# lexical dedup: embedding-similar but textually-distinct pairs are
# the paraphrase/translation candidates lexical methods miss.
#
# Scale: d06's kernel cost dominates (see SCALING.md); the doc join is
# two doc_id-keyed equi-joins (skew-free), and the pair table is the
# near-dup output — orders smaller than the corpus.
# --------------------------------------------------------------------------
from .similarity import _quant_oracle, d06_embedding_neardup_blocked


def _semantic_oracle() -> str:
    return f"""
    WITH pairs AS ({_quant_oracle()})
    SELECT p.vec_a AS doc_a, p.vec_b AS doc_b, p.cosine,
           CAST(md5(lower(trim(da.text))) = md5(lower(trim(db.text)))
                AS BIGINT) AS same_text,
           CAST(LEAST(p.vec_a, p.vec_b) AS BIGINT) AS keeper_doc_id
    FROM pairs p
    JOIN documents da ON da.doc_id = p.vec_a
    JOIN documents db ON db.doc_id = p.vec_b
    """


@register("p02_semantic_dedup", oracle=_semantic_oracle())
def p02_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    pairs = d06_embedding_neardup_blocked(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("h")
    )
    da = docs.select(F.col("doc_id").alias("vec_a"), F.col("h").alias("h_a"))
    db = docs.select(F.col("doc_id").alias("vec_b"), F.col("h").alias("h_b"))
    return (
        pairs.join(da, "vec_a")
        .join(db, "vec_b")
        .select(
            F.col("vec_a").alias("doc_a"),
            F.col("vec_b").alias("doc_b"),
            "cosine",
            (F.col("h_a") == F.col("h_b")).cast("long").alias("same_text"),
            F.least("vec_a", "vec_b").alias("keeper_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# p03: unified dedup decision record — one row per document carrying
# every dedup signal the stack computes and the final verdict a
# curation run acts on:
#   is_exact_dup     d01's content-hash group, non-minimal member
#   is_lexical_dup   d09's connected-component label, non-canonical
#   is_semantic_dup  d17's within-cluster embedding near-dup, dropped
#   verdict          first matching of drop_exact > drop_lexical >
#                    drop_semantic > keep
# This is the audit artifact a production pipeline persists alongside
# the cleaned corpus: every dropped doc names WHICH stage dropped it.
#
# The oracle composes the full recursive-CTE cluster chain (shared
# with d09/d11/p01) and the full Lloyd chain (shared with d17) in one
# statement — all three signals and the verdict hash-match.
#
# Scale: three doc_id-keyed equi-joins over per-doc flag tables; every
# expensive input is a shared materialized intermediate (d03 graph, cc
# labels, quant corpus + centroids), so the record costs three cheap
# joins beyond what the stack already computed.
# --------------------------------------------------------------------------
from .similarity import _d17_chain, d17_semantic_dedup


def _p03_oracle() -> str:
    return f"""
    WITH RECURSIVE {_cc_ctes()},
    labels AS (
      SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ),
    {_d17_chain()},
    exact AS (
      SELECT doc_id, md5(lower(trim(text))) AS h FROM documents
    ),
    exact_flag AS (
      SELECT doc_id,
             doc_id > MIN(doc_id) OVER (PARTITION BY h) AS is_exact_dup
      FROM exact
    ),
    sem_flag AS (
      SELECT n.vec_id AS doc_id, d.dup_id IS NOT NULL AS is_semantic_dup
      FROM norms n LEFT JOIN dups d ON n.vec_id = d.dup_id
    )
    SELECT e.doc_id,
           e.is_exact_dup,
           COALESCE(l.doc_id <> l.cluster_id, FALSE) AS is_lexical_dup,
           COALESCE(s.is_semantic_dup, FALSE) AS is_semantic_dup,
           CASE WHEN e.is_exact_dup THEN 'drop_exact'
                WHEN COALESCE(l.doc_id <> l.cluster_id, FALSE)
                  THEN 'drop_lexical'
                WHEN COALESCE(s.is_semantic_dup, FALSE)
                  THEN 'drop_semantic'
                ELSE 'keep' END AS verdict
    FROM exact_flag e
    LEFT JOIN labels l ON l.doc_id = e.doc_id
    LEFT JOIN sem_flag s ON s.doc_id = e.doc_id
    """


@register("p03_dedup_decision_record", oracle=_p03_oracle())
def p03_dedup_decision_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("h")
    )
    exact_flag = docs.select(
        "doc_id",
        (F.col("doc_id") > F.min("doc_id").over(W.partitionBy("h"))).alias(
            "is_exact_dup"
        ),
    )
    lex = _cc_clusters(spark, sf_dir).select(
        "doc_id", (~F.col("is_canonical")).alias("lex_dup")
    )
    sem = d17_semantic_dedup(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), (~F.col("keep")).alias("sem_dup")
    )
    merged = (
        exact_flag.join(lex, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "doc_id",
            "is_exact_dup",
            F.coalesce("lex_dup", F.lit(False)).alias("is_lexical_dup"),
            F.coalesce("sem_dup", F.lit(False)).alias("is_semantic_dup"),
        )
    )
    return merged.withColumn(
        "verdict",
        F.when(F.col("is_exact_dup"), "drop_exact")
        .when(F.col("is_lexical_dup"), "drop_lexical")
        .when(F.col("is_semantic_dup"), "drop_semantic")
        .otherwise("keep"),
    )


# --------------------------------------------------------------------------
# p04: data-SELECTION pipeline — the round-4 counterpart of p01's
# curation chain, composing the selection-era stages end-to-end into
# one per-document decision: eval holdout split -> contamination drop
# (d10 rule) -> quality floor (t02) -> intra-corpus duplication budget
# (d20 CDC dup ratio) -> DSIR importance tier (t27). One query, one
# oracle: the full chain is hash-checked as a unit, so a regression in
# ANY composed stage surfaces here as well as in its own gate.
#
# Scale: every stage is its own documented plan (t27 broadcasts a
# 1024-row weight table, d20 shuffles once on chunk hash, d10
# broadcasts the eval universe); the final verdict is a doc_id-keyed
# join chain — skew-free, no new shuffle shape.
# --------------------------------------------------------------------------
P04_DUP_MAX_MILLI = 500


def _p04_oracle() -> str:
    from .dedup import EVAL_SET_MOD
    from .registry import ORACLE_SQL

    dsir = ORACLE_SQL["t27_dsir_importance"]
    cdc = ORACLE_SQL["d20_cdc_chunk_dedup"]
    cont = ORACLE_SQL["d10_decontaminate"]
    return f"""
    WITH quality AS ({QUALITY_SQL})
    SELECT q.doc_id,
           ROUND(q.quality_score, 6) AS quality_score,
           cdc.dup_ratio_milli,
           COALESCE(dsir.selected, FALSE) AS dsir_selected,
           CAST(COALESCE(cont.drop_doc, 0) AS BIGINT) AS contaminated,
           CASE WHEN q.doc_id % {EVAL_SET_MOD} = 0 THEN 'eval_holdout'
                WHEN COALESCE(cont.drop_doc, 0) = 1 THEN 'drop_contaminated'
                WHEN q.quality_score < {QUALITY_MIN} THEN 'drop_quality'
                WHEN cdc.dup_ratio_milli >= {P04_DUP_MAX_MILLI}
                  THEN 'drop_duplication'
                WHEN NOT COALESCE(dsir.selected, FALSE)
                  THEN 'defer_low_importance'
                ELSE 'select' END AS decision
    FROM quality q
    JOIN ({cdc}) cdc ON cdc.doc_id = q.doc_id
    LEFT JOIN ({dsir}) dsir ON dsir.doc_id = q.doc_id
    LEFT JOIN ({cont}) cont ON cont.doc_id = q.doc_id
    """


@register("p04_selection_pipeline", oracle=_p04_oracle())
def p04_selection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import EVAL_SET_MOD, d10_decontaminate, d20_cdc_chunk_dedup
    from .text import t27_dsir_importance

    quality = t02_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    cdc = d20_cdc_chunk_dedup(spark, sf_dir).select("doc_id", "dup_ratio_milli")
    dsir = t27_dsir_importance(spark, sf_dir).select(
        "doc_id", F.col("selected").alias("dsir_sel")
    )
    cont = d10_decontaminate(spark, sf_dir).select("doc_id", "drop_doc")
    base = (
        quality.join(cdc, "doc_id")
        .join(dsir, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .select(
            "doc_id",
            dround("quality_score", 6).alias("quality_score"),
            "dup_ratio_milli",
            F.coalesce("dsir_sel", F.lit(False)).alias("dsir_selected"),
            F.coalesce("drop_doc", F.lit(0)).cast("long").alias("contaminated"),
        )
    )
    return base.withColumn(
        "decision",
        F.when(F.col("doc_id") % EVAL_SET_MOD == 0, "eval_holdout")
        .when(F.col("contaminated") == 1, "drop_contaminated")
        .when(F.col("quality_score") < QUALITY_MIN, "drop_quality")
        .when(F.col("dup_ratio_milli") >= P04_DUP_MAX_MILLI, "drop_duplication")
        .when(~F.col("dsir_selected"), "defer_low_importance")
        .otherwise("select"),
    )


# --------------------------------------------------------------------------
# p05: model-based curation report — the round-5 composition proving
# the supervised/paragraph-granularity stages compose end-to-end: per
# document, the t29 classifier logit, d25's contaminated-paragraph
# ratio, and the source's t28 temperature sampling weight, folded into
# one decision. The decision order mirrors how production curation
# stacks sequence these: holdout isolation first, then structural
# paragraph-level dedup, then the model-based quality gate; survivors
# carry their source's mixing weight out to the sampler.
#
# Scale: composes three documented plans (t29 broadcasts a 512-row
# weight table, d25 is banding-equi-join-bounded, t28 is a
# |sources|-row broadcast) plus doc_id-keyed verdict joins and one
# broadcast source join — no new shuffle shape.
# --------------------------------------------------------------------------
P05_PARA_DUP_MAX_MILLI = 500


def _p05_oracle() -> str:
    from .dedup import EVAL_SET_MOD
    from .registry import ORACLE_SQL

    t29 = ORACLE_SQL["t29_hashed_classifier_score"]
    d25 = ORACLE_SQL["d25_paragraph_neardup"]
    t28 = ORACLE_SQL["t28_temperature_sampling"]
    return f"""
    SELECT c.doc_id,
           c.score AS classifier_score,
           p.dup_ratio_milli AS para_dup_milli,
           t.temp_ppm AS source_temp_ppm,
           CASE WHEN c.doc_id % {EVAL_SET_MOD} = 0 THEN 'eval_holdout'
                WHEN p.dup_ratio_milli >= {P05_PARA_DUP_MAX_MILLI}
                  THEN 'drop_paragraph_dup'
                WHEN c.score <= 0 THEN 'drop_classifier'
                ELSE 'select' END AS decision
    FROM ({t29}) c
    JOIN ({d25}) p ON p.doc_id = c.doc_id
    JOIN documents d ON d.doc_id = c.doc_id
    JOIN ({t28}) t ON t.source = d.source
    """


@register("p05_model_curation_report", oracle=_p05_oracle())
def p05_model_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table
    from .dedup import EVAL_SET_MOD, d25_paragraph_neardup
    from .text import t28_temperature_sampling, t29_hashed_classifier_score

    clf = t29_hashed_classifier_score(spark, sf_dir).select(
        "doc_id", F.col("score").alias("classifier_score")
    )
    para = d25_paragraph_neardup(spark, sf_dir).select(
        "doc_id", F.col("dup_ratio_milli").alias("para_dup_milli")
    )
    temp = t28_temperature_sampling(spark, sf_dir).select(
        "source", F.col("temp_ppm").alias("source_temp_ppm")
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    base = (
        clf.join(para, "doc_id")
        .join(src, "doc_id")
        .join(F.broadcast(temp), "source")  # |sources| rows
        .select("doc_id", "classifier_score", "para_dup_milli",
                "source_temp_ppm")
    )
    return base.withColumn(
        "decision",
        F.when(F.col("doc_id") % EVAL_SET_MOD == 0, "eval_holdout")
        .when(
            F.col("para_dup_milli") >= P05_PARA_DUP_MAX_MILLI,
            "drop_paragraph_dup",
        )
        .when(F.col("classifier_score") <= 0, "drop_classifier")
        .otherwise("select"),
    )


# --------------------------------------------------------------------------
# d28: cluster-quality audit — cross-validates the two independent
# lexical similarity spaces the stack maintains: d09's clusters come
# from SIMHASH fingerprints, so for each multi-doc cluster this
# measures how strongly MINHASH-verified Jaccard (the d02 kernel)
# agrees: intra-cluster pair density and mean Jaccard. Low density or
# low mean Jaccard flags clusters glued together by fingerprint
# collisions rather than real overlap — the audit a curation run
# consults before dropping every non-canonical member. (The inverse
# check — MinHash pairs CROSSING cluster boundaries — is d13's
# cross-source shape and falls out of the same join.)
#
# Scale: two doc_id-keyed label joins over the verified pair list +
# one |clusters|-row aggregate; both inputs are shared artifacts (cc
# labels materialized, d02's banding-bounded pairs).
# --------------------------------------------------------------------------
def _d28_oracle() -> str:
    from .dedup import JACCARD_THRESHOLD
    from .hashing import (
        MINHASH_PARAMS,
        N_BANDS,
        ROWS_PER_BAND,
        md5_prefix_long_sql,
        minhash_value_sql,
    )
    from .dedup import _SHINGLES_SQL

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
            f"SELECT doc_id, {band} AS band_id, {cols} AS band_key FROM mh_sigs"
        )
    bands_sql = "\n      UNION ALL\n      ".join(band_rows)
    # The MinHash chain carries mh_ prefixes: the recursive CC chain
    # already owns the names sigs/pairs/hashed.
    return f"""
    WITH RECURSIVE {_cc_ctes()},
    labels AS (
      SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
      FROM reach GROUP BY id
    ),
    sizes AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM labels GROUP BY cluster_id HAVING COUNT(*) >= 2
    ),
    mh_sh AS ({_SHINGLES_SQL}),
    mh_exploded AS (SELECT doc_id, unnest(shingles) AS sh FROM mh_sh),
    mh_hashed AS (SELECT doc_id, {h} AS h FROM mh_exploded),
    mh_sigs AS (
      SELECT doc_id, {mh_exprs}
      FROM mh_hashed GROUP BY doc_id
    ),
    mh_bands AS (
      {bands_sql}
    ),
    mh_cand AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM mh_bands b1 JOIN mh_bands b2
        ON b1.band_id = b2.band_id AND b1.band_key = b2.band_key
       AND b1.doc_id < b2.doc_id
    ),
    mh_verified AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))) AS j
      FROM mh_cand c JOIN mh_sh a ON c.doc_a = a.doc_id
                     JOIN mh_sh b ON c.doc_b = b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
            (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles)))
            >= {JACCARD_THRESHOLD}
    ),
    intra AS (
      SELECT la.cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_intra_pairs,
             ROUND(AVG(v.j), 6) AS mean_intra_jaccard
      FROM mh_verified v
      JOIN labels la ON la.doc_id = v.doc_a
      JOIN labels lb ON lb.doc_id = v.doc_b
      WHERE la.cluster_id = lb.cluster_id
      GROUP BY la.cluster_id
    )
    SELECT s.cluster_id, s.n_docs,
           COALESCE(i.n_intra_pairs, 0) AS n_intra_pairs,
           (1000 * 2 * COALESCE(i.n_intra_pairs, 0))
             // (s.n_docs * (s.n_docs - 1)) AS density_milli,
           i.mean_intra_jaccard
    FROM sizes s LEFT JOIN intra i ON i.cluster_id = s.cluster_id
    """


@register("d28_cluster_quality_audit", oracle=_d28_oracle())
def d28_cluster_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _cc_clusters, d02_dedup_minhash_lsh

    labels = _cc_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    sizes = (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    pairs = d02_dedup_minhash_lsh(spark, sf_dir)
    la = labels.select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca"))
    lb = labels.select(F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb"))
    intra = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_intra_pairs"),
            dround(F.avg("jaccard"), 6).alias("mean_intra_jaccard"),
        )
    )
    return sizes.join(intra, "cluster_id", "left").select(
        "cluster_id",
        "n_docs",
        F.coalesce("n_intra_pairs", F.lit(0)).alias("n_intra_pairs"),
        F.expr(
            "(1000 * 2 * coalesce(n_intra_pairs, 0))"
            " div (n_docs * (n_docs - 1))"
        ).alias("density_milli"),
        "mean_intra_jaccard",
    )


# --------------------------------------------------------------------------
# p06: corpus report card — the one-row executive summary a curation
# run publishes with each snapshot: corpus size, exact-duplicate rate
# (d01: copies beyond each content-hash keeper), lexical near-dup
# rate (d09: non-canonical members of simhash components),
# contamination rate (d10's drop verdicts), quality-floor failure
# rate (t02 score below QUALITY_MIN), and source concentration (share
# of the largest source). Every rate is an exact integer milli over
# exact counts, so the whole card hash-matches; the oracle composes
# the content-hash, recursive-CC, decontamination, and quality chains
# in one statement (the p03/p04 composition discipline).
#
# Scale: each input is a documented bounded plan; the card itself is
# five 1-row aggregates joined together — O(1) beyond its stages.
# --------------------------------------------------------------------------
def _p06_oracle() -> str:
    from .dedup import DECONTAM_MIN_SHINGLES, EVAL_SET_MOD, _SHINGLES_SQL

    return f"""
    WITH RECURSIVE {_cc_ctes()},
    labels AS (
      SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ),
    n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    exact_extra AS (
      SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_exact_dups FROM (
        SELECT COUNT(*) AS c FROM documents
        GROUP BY md5(lower(trim(text))) HAVING COUNT(*) > 1
      )
    ),
    lex_extra AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN doc_id <> cluster_id THEN 1 END), 0)
                  AS BIGINT) AS n_lex_dups
      FROM labels
    ),
    sh2 AS ({_SHINGLES_SQL}),
    exploded2 AS (SELECT doc_id, unnest(shingles) AS s FROM sh2),
    eval_univ AS (
      SELECT DISTINCT s FROM exploded2 WHERE doc_id % {EVAL_SET_MOD} = 0
    ),
    contam AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_contaminated FROM (
        SELECT e.doc_id FROM exploded2 e JOIN eval_univ u ON e.s = u.s
        WHERE e.doc_id % {EVAL_SET_MOD} <> 0
        GROUP BY e.doc_id
        HAVING COUNT(*) >= {DECONTAM_MIN_SHINGLES}
      )
    ),
    lowq AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_low_quality
      FROM ({QUALITY_SQL}) WHERE quality_score < {QUALITY_MIN}
    ),
    srcs AS (
      SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(MAX(c) AS BIGINT) AS top_source_docs
      FROM (SELECT source, COUNT(*) AS c FROM documents GROUP BY source)
    )
    SELECT t.n AS n_docs,
           e.n_exact_dups, (1000 * e.n_exact_dups) // t.n AS exact_dup_milli,
           l.n_lex_dups, (1000 * l.n_lex_dups) // t.n AS lexical_dup_milli,
           c.n_contaminated, (1000 * c.n_contaminated) // t.n
             AS contaminated_milli,
           q.n_low_quality, (1000 * q.n_low_quality) // t.n
             AS low_quality_milli,
           s.n_sources, (1000 * s.top_source_docs) // t.n
             AS top_source_milli
    FROM n_tot t, exact_extra e, lex_extra l, contam c, lowq q, srcs s
    """


@register("p06_corpus_report_card", oracle=_p06_oracle())
def p06_corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table
    from .dedup import (
        d01_dedup_exact,
        d10_decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_tot = docs.agg(F.count("*").alias("n"))
    exact_extra = d01_dedup_exact(spark, sf_dir).agg(
        F.coalesce(F.sum(F.col("n_copies") - 1), F.lit(0))
        .cast("long")
        .alias("n_exact_dups")
    )
    lex_extra = _cc_clusters(spark, sf_dir).agg(
        F.coalesce(
            F.sum(F.when(F.col("doc_id") != F.col("cluster_id"), 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_lex_dups")
    )
    contam = (
        d10_decontaminate(spark, sf_dir)
        .filter(F.col("drop_doc") == 1)
        .agg(F.count("*").alias("n_contaminated"))
    )
    lowq = (
        t02_quality_score(spark, sf_dir)
        .filter(F.col("quality_score") < QUALITY_MIN)
        .agg(F.count("*").alias("n_low_quality"))
    )
    srcs = (
        docs.groupBy("source")
        .agg(F.count("*").alias("c"))
        .agg(
            F.count("*").alias("n_sources"),
            F.max("c").alias("top_source_docs"),
        )
    )
    card = (
        n_tot.join(F.broadcast(exact_extra))
        .join(F.broadcast(lex_extra))
        .join(F.broadcast(contam))
        .join(F.broadcast(lowq))
        .join(F.broadcast(srcs))
    )  # all 1-row
    return card.select(
        F.col("n").alias("n_docs"),
        "n_exact_dups",
        F.expr("(1000 * n_exact_dups) div n").alias("exact_dup_milli"),
        "n_lex_dups",
        F.expr("(1000 * n_lex_dups) div n").alias("lexical_dup_milli"),
        "n_contaminated",
        F.expr("(1000 * n_contaminated) div n").alias("contaminated_milli"),
        "n_low_quality",
        F.expr("(1000 * n_low_quality) div n").alias("low_quality_milli"),
        "n_sources",
        F.expr("(1000 * top_source_docs) div n").alias("top_source_milli"),
    )


# --------------------------------------------------------------------------
# p07: stage-attrition funnel — the SEQUENTIAL survival accounting of
# the full curation chain (p06 reports each defect rate independently;
# this applies the stages in pipeline order and reports what each one
# actually removes from what reaches it, which is what capacity
# planning and "why did the corpus shrink 40%" postmortems need):
#   1 rules     — t20's hard rule gate
#   2 quality   — t02 score >= QUALITY_MIN
#   3 exact     — keep only each content-hash group's min-doc_id keeper
#   4 near_dup  — keep component canonicals / unclustered (d09 labels)
#   5 decontam  — drop d10's eval-contaminated docs
# Per stage: docs in, docs out, dropped, and drop rate in milli OF THE
# DOCS THAT REACHED IT (marginal, not marginal-of-total) — all exact
# integers.
#
# Scale: one per-doc flag row built from doc_id-keyed joins of the
# stages' own (documented, bounded) outputs; the funnel itself is ONE
# aggregate computing six conditional counts, reshaped to five rows by
# a literal stack. Nothing new is corpus-sized.
# --------------------------------------------------------------------------
def _p07_oracle() -> str:
    from .dedup import DECONTAM_MIN_SHINGLES, EVAL_SET_MOD, _SHINGLES_SQL
    from .registry import ORACLE_SQL

    rules = ORACLE_SQL["t20_rule_filter"]
    return f"""
    WITH RECURSIVE {_cc_ctes()},
    labels AS (
      SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ),
    rules AS (SELECT doc_id, keep FROM ({rules})),
    quality AS ({QUALITY_SQL}),
    keeper AS (
      SELECT md5(lower(trim(text))) AS h, MIN(doc_id) AS keeper_id
      FROM documents GROUP BY md5(lower(trim(text)))
    ),
    sh2 AS ({_SHINGLES_SQL}),
    exploded2 AS (SELECT doc_id, unnest(shingles) AS s FROM sh2),
    eval_univ AS (
      SELECT DISTINCT s FROM exploded2 WHERE doc_id % {EVAL_SET_MOD} = 0
    ),
    contam AS (
      SELECT e.doc_id FROM exploded2 e JOIN eval_univ u ON e.s = u.s
      WHERE e.doc_id % {EVAL_SET_MOD} <> 0
      GROUP BY e.doc_id
      HAVING COUNT(*) >= {DECONTAM_MIN_SHINGLES}
    ),
    flags AS (
      SELECT d.doc_id,
             r.keep = 1 AS f1,
             q.quality_score >= {QUALITY_MIN} AS f2,
             k.keeper_id = d.doc_id AS f3,
             l.cluster_id IS NULL OR l.cluster_id = d.doc_id AS f4,
             c.doc_id IS NULL AS f5
      FROM documents d
      JOIN rules r ON r.doc_id = d.doc_id
      JOIN quality q ON q.doc_id = d.doc_id
      JOIN keeper k ON k.h = md5(lower(trim(d.text)))
      LEFT JOIN labels l ON l.doc_id = d.doc_id
      LEFT JOIN contam c ON c.doc_id = d.doc_id
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(COUNT(*) FILTER (WHERE f1) AS BIGINT) AS n1,
             CAST(COUNT(*) FILTER (WHERE f1 AND f2) AS BIGINT) AS n2,
             CAST(COUNT(*) FILTER (WHERE f1 AND f2 AND f3) AS BIGINT) AS n3,
             CAST(COUNT(*) FILTER (WHERE f1 AND f2 AND f3 AND f4)
                  AS BIGINT) AS n4,
             CAST(COUNT(*) FILTER (WHERE f1 AND f2 AND f3 AND f4 AND f5)
                  AS BIGINT) AS n5
      FROM flags
    )
    SELECT stage, stage_name, n_in, n_out,
           n_in - n_out AS n_dropped,
           (1000 * (n_in - n_out)) // n_in AS drop_milli
    FROM (
      SELECT CAST(1 AS BIGINT) AS stage, 'rules' AS stage_name,
             n0 AS n_in, n1 AS n_out FROM agg
      UNION ALL SELECT 2, 'quality', n1, n2 FROM agg
      UNION ALL SELECT 3, 'exact_dedup', n2, n3 FROM agg
      UNION ALL SELECT 4, 'near_dedup', n3, n4 FROM agg
      UNION ALL SELECT 5, 'decontam', n4, n5 FROM agg
    )
    """


@register("p07_attrition_funnel", oracle=_p07_oracle())
def p07_attrition_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table
    from .dedup import d10_decontaminate
    from .text import t20_rule_filter

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rules = t20_rule_filter(spark, sf_dir).select("doc_id", "keep")
    quality = t02_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    h = F.md5(F.lower(F.trim(F.col("text"))))
    keeper = (
        docs.groupBy(h.alias("h")).agg(F.min("doc_id").alias("keeper_id"))
    )
    labels = _cc_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    contam = (
        d10_decontaminate(spark, sf_dir)
        .filter(F.col("drop_doc") == 1)
        .select("doc_id", F.lit(1).alias("contaminated"))
    )
    flags = (
        docs.join(rules, "doc_id")
        .join(quality, "doc_id")
        .withColumn("h", h)
        .join(keeper, "h")
        .join(labels, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            (F.col("keep") == 1).alias("f1"),
            (F.col("quality_score") >= QUALITY_MIN).alias("f2"),
            (F.col("keeper_id") == F.col("doc_id")).alias("f3"),
            (
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("doc_id"))
            ).alias("f4"),
            F.col("contaminated").isNull().alias("f5"),
        )
    )
    agg = flags.agg(
        F.count("*").alias("n0"),
        F.count(F.when(F.col("f1"), 1)).alias("n1"),
        F.count(F.when(F.col("f1") & F.col("f2"), 1)).alias("n2"),
        F.count(F.when(F.col("f1") & F.col("f2") & F.col("f3"), 1)).alias("n3"),
        F.count(
            F.when(F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4"), 1)
        ).alias("n4"),
        F.count(
            F.when(
                F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4")
                & F.col("f5"),
                1,
            )
        ).alias("n5"),
    )
    staged = agg.select(
        F.expr(
            "stack(5,"
            " CAST(1 AS BIGINT), 'rules', n0, n1,"
            " CAST(2 AS BIGINT), 'quality', n1, n2,"
            " CAST(3 AS BIGINT), 'exact_dedup', n2, n3,"
            " CAST(4 AS BIGINT), 'near_dedup', n3, n4,"
            " CAST(5 AS BIGINT), 'decontam', n4, n5)"
            " AS (stage, stage_name, n_in, n_out)"
        )
    )
    return staged.select(
        "stage",
        "stage_name",
        "n_in",
        "n_out",
        (F.col("n_in") - F.col("n_out")).alias("n_dropped"),
        F.expr("(1000 * (n_in - n_out)) div n_in").alias("drop_milli"),
    )


# --------------------------------------------------------------------------
# p08: tokenizer-readiness report card — the per-source go/no-go table
# a team reads before training a tokenizer on a corpus slice, composing
# the round-6 additions end-to-end: t41's BPE compression savings
# (does the source's text actually compress under the learned merges?),
# x14's length-distribution bands (is the p95 document length inside
# the packing budget?), and the g06 near-dup community count relative
# to doc count (is the slice mostly unique?). Verdict is a pinned
# integer rule: ready ⇔ saved_ppm ≥ P08_MIN_SAVED_PPM AND p95_hi ≤
# P08_MAX_P95_TOKENS AND communities·1000 ≥ P08_MIN_UNIQUE_MILLI·docs.
#
# Oracle: the three constituent oracles splice in as CTEs (the p01/p05
# composition discipline — reuse registered SQL, never re-derive).
#
# Scale: all three inputs are per-source/bounded frames already argued
# scale-safe; the report is a |sources|-row join.
# --------------------------------------------------------------------------
P08_MIN_SAVED_PPM = 10_000       # merges must save >= 1% of tokens
P08_MAX_P95_TOKENS = 4096        # p95 doc length within packing budget
P08_MIN_UNIQUE_MILLI = 900       # >= 0.9 communities per near-dup doc


def _p08_oracle() -> str:
    from .registry import ORACLE_SQL as _or

    t41 = _or["t41_bpe_compression_eval"]
    x14 = _or["x14_log2_histogram_quantiles"]
    g06 = _or["g06_label_propagation"]
    return f"""
    WITH comp AS ({t41}),
    lens AS ({x14}),
    comm AS ({g06}),
    dup_profile AS (
      SELECT d.source,
             CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS neardup_docs,
             CAST(COUNT(DISTINCT c.community) AS BIGINT) AS communities
      FROM comm c JOIN documents d ON d.doc_id = c.doc_id
      GROUP BY d.source
    )
    SELECT c.source, c.n_docs, c.tokens_before, c.saved_ppm,
           l.p95_hi AS p95_len_hi,
           COALESCE(dp.neardup_docs, 0) AS neardup_docs,
           COALESCE(dp.communities, 0) AS communities,
           CAST(c.saved_ppm >= {P08_MIN_SAVED_PPM}
                AND l.p95_hi <= {P08_MAX_P95_TOKENS}
                AND COALESCE(dp.communities, 0) * 1000
                    >= {P08_MIN_UNIQUE_MILLI} * COALESCE(dp.neardup_docs, 0)
                AS BIGINT) AS tokenizer_ready
    FROM comp c
    JOIN lens l ON l.source = c.source
    LEFT JOIN dup_profile dp ON dp.source = c.source
    """


@register("p08_tokenizer_readiness", oracle=_p08_oracle())
def p08_tokenizer_readiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table
    from .dedup import g06_label_propagation
    from .events import x14_log2_histogram_quantiles
    from .text import t41_bpe_compression_eval

    comp = t41_bpe_compression_eval(spark, sf_dir)
    lens = x14_log2_histogram_quantiles(spark, sf_dir).select(
        "source", F.col("p95_hi").alias("p95_len_hi")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    dup_profile = (
        g06_label_propagation(spark, sf_dir)
        .join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("neardup_docs"),
            F.count_distinct("community").alias("communities"),
        )
    )
    ready = (
        (F.col("saved_ppm") >= P08_MIN_SAVED_PPM)
        & (F.col("p95_len_hi") <= P08_MAX_P95_TOKENS)
        & (
            F.coalesce("communities", F.lit(0)) * 1000
            >= P08_MIN_UNIQUE_MILLI * F.coalesce("neardup_docs", F.lit(0))
        )
    )
    return (
        comp.join(lens, "source")
        .join(F.broadcast(dup_profile), "source", "left")
        .select(
            "source", "n_docs", "tokens_before", "saved_ppm", "p95_len_hi",
            F.coalesce("neardup_docs", F.lit(0)).alias("neardup_docs"),
            F.coalesce("communities", F.lit(0)).alias("communities"),
            ready.cast("long").alias("tokenizer_ready"),
        )
    )


# --------------------------------------------------------------------------
# p09: dedup-invariant audit — the self-consistency contract the whole
# dedup family must satisfy, emitted as pinned-zero violation counts
# so ANY future regression in one operator that breaks a cross-
# operator guarantee turns into a hash mismatch here:
#   byte_exact_within_normalized — two docs with identical raw text
#     MUST share a normalized group (d32 can only merge, never split
#     what d01 merges);
#   neardup_within_component — every d03 near-dup pair's endpoints
#     MUST carry the same d09 component label (components are the
#     transitive closure OF those pairs);
#   canonical_in_own_cluster — every d09 canonical doc MUST be a
#     member of the cluster it canonicalizes (keeper sanity).
# n_checked shows each invariant exercised real rows; n_violations is
# pinned 0 in the oracle.
#
# Scale: equi-joins on md5/doc_id keys over already-argued pipelines;
# nothing quadratic, nothing new to shuffle.
# --------------------------------------------------------------------------
def _p09_oracle() -> str:
    from .dedup import _cc_ctes

    return f"""
    WITH RECURSIVE {_cc_ctes()},
    labels AS (
      SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cid,
             (id = MIN(r)) AS is_canon
      FROM reach GROUP BY id
    ),
    norm AS (
      SELECT doc_id, md5(text) AS raw_h,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_h
      FROM documents
    ),
    exact_pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(a.norm_h <> b.norm_h AS BIGINT) AS viol
      FROM norm a JOIN norm b
        ON a.raw_h = b.raw_h AND a.doc_id < b.doc_id
    ),
    pair_labels AS (
      SELECT p.doc_a, p.doc_b,
             CAST(la.cid <> lb.cid AS BIGINT) AS viol
      FROM pairs p JOIN labels la ON la.doc_id = p.doc_a
                   JOIN labels lb ON lb.doc_id = p.doc_b
    ),
    canon AS (
      SELECT doc_id, CAST(cid <> doc_id AS BIGINT) AS viol
      FROM labels WHERE is_canon
    )
    SELECT 'byte_exact_within_normalized' AS invariant,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(COALESCE(SUM(viol), 0) AS BIGINT) AS n_violations
    FROM exact_pairs
    UNION ALL
    SELECT 'neardup_within_component',
           CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(viol), 0) AS BIGINT)
    FROM pair_labels
    UNION ALL
    SELECT 'canonical_in_own_cluster',
           CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(viol), 0) AS BIGINT)
    FROM canon
    """


@register("p09_dedup_invariants", oracle=_p09_oracle())
def p09_dedup_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table
    from .dedup import _simhash_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = docs.select(
        "doc_id",
        F.md5("text").alias("raw_h"),
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
                    " +",
                    " ",
                )
            )
        ).alias("norm_h"),
    )
    na = norm.select(
        F.col("doc_id").alias("da"), F.col("raw_h"), F.col("norm_h").alias("nh_a")
    )
    nb = norm.select(
        F.col("doc_id").alias("db"), F.col("raw_h"), F.col("norm_h").alias("nh_b")
    )
    exact_pairs = (
        na.join(nb, "raw_h")
        .filter(F.col("da") < F.col("db"))
        .select((F.col("nh_a") != F.col("nh_b")).cast("long").alias("viol"))
    )
    labels = _cc_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "is_canonical"
    )
    pairs = _simhash_pairs(spark, sf_dir)
    la = labels.select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca"))
    lb = labels.select(F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb"))
    pair_labels = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .select((F.col("ca") != F.col("cb")).cast("long").alias("viol"))
    )
    canon = labels.filter("is_canonical").select(
        (F.col("cluster_id") != F.col("doc_id")).cast("long").alias("viol")
    )

    def tally(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("invariant"),
            F.count("*").alias("n_checked"),
            F.coalesce(F.sum("viol"), F.lit(0)).alias("n_violations"),
        )

    return (
        tally(exact_pairs, "byte_exact_within_normalized")
        .unionAll(tally(pair_labels, "neardup_within_component"))
        .unionAll(tally(canon, "canonical_in_own_cluster"))
    )


# --------------------------------------------------------------------------
# p10: mixture quota allocation — the planning step that turns "train
# on B tokens" into per-(lang, source) sampling quotas. Proportional
# allocation with LARGEST-REMAINDER (Hamilton) rounding: each bucket
# gets floor(B·bucket/total) tokens, and the B − Σfloor leftover goes
# one token-quota each to the buckets with the largest division
# remainders (ties broken by (lang, source) — fully deterministic).
# Quotas then sum to B EXACTLY — no ppm-rate drift, no float shares;
# downstream per-bucket samplers (t21/x12/x15) consume the quota
# column directly.
#
# Exactness precondition (documented, t42-style): the products
# B·bucket_tokens stay within int64 — holds through ~3e9 corpus tokens
# at the 20% budget. Beyond that, run the SAME formula on kilo/mega-
# token units in both engines: quantization error is bounded by
# granularity·|buckets|, and the leftover redistribution still lands
# quotas within one unit of exact.
#
# Scale: one corpus scan into a map-side-combined (lang, source) token
# agg; every later stage (totals broadcast, remainder rank window,
# bonus assignment) runs on the |langs|×|sources|-bounded frame — the
# partitionBy-free window is over that bounded frame, never the corpus.
# --------------------------------------------------------------------------
P10_BUDGET_PCT = 20


def _p10_alloc_ctes() -> str:
    """The allocation CTE chain ``tok, tot, base, ranked`` — shared by
    the p10 oracle and p11's quota join so both engines' sampler uses
    the exact allocation p10 reports."""
    return f"""tok AS (
      SELECT lang, source,
             CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS bucket_tokens
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT CAST(SUM(bucket_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(bucket_tokens) * {P10_BUDGET_PCT} // 100 AS BIGINT)
               AS budget
      FROM tok
    ),
    base AS (
      SELECT t.lang, t.source, t.bucket_tokens, tot.total_tokens, tot.budget,
             (tot.budget * t.bucket_tokens) // tot.total_tokens AS quota_floor,
             (tot.budget * t.bucket_tokens) % tot.total_tokens AS rem
      FROM tok t CROSS JOIN tot
    ),
    ranked AS (
      SELECT b.*,
             SUM(quota_floor) OVER () AS floor_sum,
             ROW_NUMBER() OVER (ORDER BY rem DESC, lang, source) AS rk
      FROM base b
    )"""


def _p10_oracle() -> str:
    return f"""
    WITH {_p10_alloc_ctes()}
    SELECT lang, source, bucket_tokens,
           CAST(quota_floor
                + CASE WHEN rk <= budget - floor_sum THEN 1 ELSE 0 END
                AS BIGINT) AS quota,
           CAST(rk <= budget - floor_sum AS BIGINT) AS got_bonus,
           CAST((1000000 * bucket_tokens) // total_tokens AS BIGINT)
             AS share_ppm,
           CAST((1000000 * (quota_floor
                + CASE WHEN rk <= budget - floor_sum THEN 1 ELSE 0 END))
                // bucket_tokens AS BIGINT) AS rate_ppm
    FROM ranked
    """


def _p10_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The allocation frame (``ranked`` in the oracle CTEs) — bounded
    at |langs|×|sources| rows; shared by p10's report and p11's
    sampler."""
    from pyspark.sql import Window

    from ..sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("lang", "source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("bucket_tokens")
    )
    tot = tok.agg(
        F.sum("bucket_tokens").cast("long").alias("total_tokens"),
        F.expr(f"CAST(sum(bucket_tokens) * {P10_BUDGET_PCT} div 100 AS BIGINT)")
        .alias("budget"),
    )
    base = tok.join(F.broadcast(tot)).select(
        "lang",
        "source",
        "bucket_tokens",
        "total_tokens",
        "budget",
        F.expr("(budget * bucket_tokens) div total_tokens").alias("quota_floor"),
        F.expr("(budget * bucket_tokens) % total_tokens").alias("rem"),
    )
    # bounded frame: |langs|x|sources| rows — the global window is safe
    return base.select(
        "*",
        F.sum("quota_floor").over(Window.partitionBy()).alias("floor_sum"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "lang", "source"))
        .alias("rk"),
    )


@register("p10_mixture_quota_allocation", oracle=_p10_oracle())
def p10_mixture_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = _p10_ranked(spark, sf_dir)
    bonus = F.col("rk") <= F.col("budget") - F.col("floor_sum")
    return ranked.select(
        "lang",
        "source",
        "bucket_tokens",
        (F.col("quota_floor") + bonus.cast("long")).alias("quota"),
        bonus.cast("long").alias("got_bonus"),
        F.expr("(1000000 * bucket_tokens) div total_tokens").alias("share_ppm"),
        F.expr(
            "(1000000 * (quota_floor + CAST(rk <= budget - floor_sum AS BIGINT)))"
            " div bucket_tokens"
        ).alias("rate_ppm"),
    )


# --------------------------------------------------------------------------
# p11: quota sampler — p10's plan executed: inside each (lang, source)
# bucket, docs are ordered by the deterministic md5 shuffle key (t10's
# convention) and taken in order until the bucket's cumulative token
# count reaches its p10 quota (the boundary doc overshoots by < one
# doc — the standard take-until-quota contract). Emits the per-doc
# verdict with the running token position and the bucket quota, so the
# selection is fully auditable and reproducible from the table alone.
#
# Scale: the running sum is a per-bucket PREFIX SCAN — the one shape a
# partitionBy(bucket) window gets catastrophically wrong at corpus
# scale (a terabyte bucket lands on ONE task). p11 instead uses
# ranks.grouped_running_sum: range-partition on (bucket, key), per-
# partition per-bucket partials to the driver (≤ #partitions + #buckets
# rows), broadcast offsets back, and a partition-LOCAL window — no
# task ever holds more than one partition, whatever the bucket skew.
# The quota join broadcasts the |buckets|-row allocation frame.
# --------------------------------------------------------------------------
def _p11_oracle() -> str:
    from .hashing import md5_prefix_long_sql

    h = md5_prefix_long_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH {_p10_alloc_ctes()},
    q AS (
      SELECT lang, source,
             CAST(quota_floor
                  + CASE WHEN rk <= budget - floor_sum THEN 1 ELSE 0 END
                  AS BIGINT) AS quota
      FROM ranked
    ),
    docs AS (
      SELECT doc_id, lang, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             {h} AS h
      FROM documents
    ),
    r AS (
      SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY lang, source
                     ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS running_tokens
      FROM docs
    )
    SELECT r.doc_id, r.lang, r.source, r.n_tokens, r.running_tokens,
           q.quota,
           CAST(r.running_tokens - r.n_tokens < q.quota AS BIGINT)
             AS selected
    FROM r JOIN q ON q.lang = r.lang AND q.source = r.source
    """


@register("p11_quota_sampler", oracle=_p11_oracle())
def p11_quota_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table
    from .hashing import md5_prefix_long
    from .ranks import grouped_running_sum

    quotas = _p10_ranked(spark, sf_dir).select(
        "lang",
        "source",
        (
            F.col("quota_floor")
            + (F.col("rk") <= F.col("budget") - F.col("floor_sum")).cast("long")
        ).alias("quota"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
        .alias("n_tokens"),
        md5_prefix_long(F.col("doc_id").cast("string")).alias("h"),
    )
    r = grouped_running_sum(
        docs,
        ["lang", "source"],
        [F.col("h"), F.col("doc_id")],
        "n_tokens",
        "running_tokens",
    )
    return r.join(F.broadcast(quotas), ["lang", "source"]).select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "running_tokens",
        "quota",
        (F.col("running_tokens") - F.col("n_tokens") < F.col("quota"))
        .cast("long")
        .alias("selected"),
    )


# --------------------------------------------------------------------------
# p12: cluster-balanced corpus sample — the SemDeDup-adjacent long-tail
# flattening step a curation pipeline runs between clustering and
# training-set assembly: assign every embedding to its IVF cell (the
# memoized s03 Lloyd centroids), then keep isqrt(cell size) members per
# cell — big near-duplicate-heavy clusters are decimated toward their
# square root while singleton-tail cells survive intact, the standard
# diversity-preserving rebalance. Selection is deterministic (t09/x12
# discipline: rank members by (md5(vec_id), vec_id) within each cell)
# and the output pins the EXACT sample via the per-cell id checksum,
# not just its size. isqrt is computed exactly in both engines: float
# floor(sqrt(n)) then a ±1 integer correction, so no binary-boundary
# divergence can reach the hash gate.
#
# Scale: cell assignment is the benched s03 path (broadcast K=16
# centroid table, one corpus scan); sizes/quotas are K-row frames; the
# per-cell rank is a keyed window over K strata — at 100 TB raise K
# with the corpus (IVF cells ~ sqrt(N) members each) or swap in
# ranks.grouped_running_sum (the p11 discipline) for huge strata.
# --------------------------------------------------------------------------
def _p12_oracle() -> str:
    from .hashing import md5_prefix_long_sql
    from .similarity import (
        IVF_K,
        QUANT_SCALE,
        _lloyd_assign_sql,
        _lloyd_means_sql,
    )

    seed_hash = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)")
    member_hash = md5_prefix_long_sql("CAST(c.vec_id AS VARCHAR)")
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
    sizes AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM cells GROUP BY cid
    ),
    quotas AS (
      SELECT cid, n_members,
             CAST(CASE WHEN (q0 + 1) * (q0 + 1) <= n_members THEN q0 + 1
                       WHEN q0 * q0 > n_members THEN q0 - 1
                       ELSE q0 END AS BIGINT) AS quota
      FROM (SELECT cid, n_members,
                   CAST(FLOOR(SQRT(CAST(n_members AS DOUBLE))) AS BIGINT)
                     AS q0
            FROM sizes)
    ),
    ranked AS (
      SELECT c.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY c.cid
                                ORDER BY {member_hash}, c.vec_id) AS rk
      FROM cells c
    )
    SELECT CAST(q.cid AS BIGINT) AS cid, q.n_members, q.quota,
           CAST((1000000 * q.quota) // q.n_members AS BIGINT) AS kept_ppm,
           CAST(SUM(r.vec_id) AS BIGINT) AS sampled_id_sum
    FROM ranked r JOIN quotas q USING (cid)
    WHERE r.rk <= q.quota
    GROUP BY q.cid, q.n_members, q.quota
    """


@register("p12_cluster_balanced_sample", oracle=_p12_oracle())
def p12_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .hashing import md5_prefix_long
    from .similarity import (
        _ivf_centroids, _quant_corpus, assign_cells, centroid_frame,
    )

    cdf = centroid_frame(spark, _ivf_centroids(spark, sf_dir))
    cells = (
        assign_cells(_quant_corpus(spark, sf_dir), cdf)
        .select("vec_id", "cid")
        # read by sizes AND the per-cell rank
        .localCheckpoint()
    )
    sizes = cells.groupBy("cid").agg(F.count("*").alias("n_members"))
    q0 = F.floor(F.sqrt(F.col("n_members").cast("double"))).cast("long")
    quotas = sizes.select(
        "cid",
        "n_members",
        F.when((q0 + 1) * (q0 + 1) <= F.col("n_members"), q0 + 1)
        .when(q0 * q0 > F.col("n_members"), q0 - 1)
        .otherwise(q0)
        .alias("quota"),
    )
    w = W.partitionBy("cid").orderBy(
        md5_prefix_long(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = cells.withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quotas), "cid")
        .filter(F.col("rk") <= F.col("quota"))
        .groupBy("cid", "n_members", "quota")
        .agg(F.sum("vec_id").alias("sampled_id_sum"))
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_members",
            "quota",
            F.expr("(1000000 * quota) div n_members").alias("kept_ppm"),
            "sampled_id_sum",
        )
    )


# --------------------------------------------------------------------------
# p13: orientation-robust image dedup — the round-8 multimodal chain
# composed end-to-end: a camera-rotated copy of an image (stored
# sideways with the matching TIFF orientation tag, the way phones
# actually save photos) MUST dedup against its upright original, and
# does only if hashing happens AFTER orientation normalization. Per
# sampled doc two variants exist: the upright ramp (tag 1) and the
# same image stored pre-rotated by the tag's inverse (tag o =
# 1 + (doc_id // 8) % 8 — the // 8 survives the doc_id % 8 == 0
# sample filter, so the gate exercises ALL 8 tags, not just tag 1).
# Both run the REAL pipeline — build_bmp →
# bmp_pixels parse → (naive) ahash_rgb on stored pixels vs
# (normalized) ahash_rgb after orient_normalize(tag). The fixture
# ramp's gray plane is c + 4x + 5y for EVERY doc, so the upright
# aHash is the half-plane constant 65152 (16ci + 20cj >= 54 cells)
# and no nontrivial D4 transform preserves that pattern — giving the
# closed forms the oracle pins: naive_match ⇔ tag = 1 (rotation
# breaks naive dedup for all 7 rotated cases), normalized_match TRUE
# always (BMP is lossless and the transform is exact), norm_hash =
# 65152.
#
# Scale: row-local Arrow-batched mapInPandas (two in-memory variants
# per doc, ~1.5 KB each), zero shuffle — the m15 shape. In a real
# corpus the dedup is then m09's hash groupBy on the normalized hash;
# the per-doc verdicts here pin exactly the property that makes that
# groupBy correct.
# --------------------------------------------------------------------------
_P13_SCHEMA = (
    "doc_id long, orientation long, naive_match boolean,"
    " normalized_match boolean, norm_hash long"
)
P13_UPRIGHT_AHASH = 65152


@register(
    "p13_orientation_robust_dedup",
    oracle="""
    SELECT doc_id,
           CAST(1 + (doc_id // 8) % 8 AS BIGINT) AS orientation,
           ((doc_id // 8) % 8) = 0 AS naive_match,
           TRUE AS normalized_match,
           CAST(65152 AS BIGINT) AS norm_hash
    FROM documents
    WHERE doc_id % 8 = 0
    """,
)
def p13_orientation_robust_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..sources import load_table
    from .multimodal import (
        _ORIENT_INVERSE,
        M15_SAMPLE_MOD,
        _ramp_rgb,
        ahash_rgb,
        bmp_pixels,
        build_bmp,
        orient_normalize,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % M15_SAMPLE_MOD == 0)
        .select("doc_id")
    )

    def decoded(arr):
        # the real pipeline step: lossless container round-trip
        raw = bmp_pixels(build_bmp(16, 16, arr.tobytes()))
        return np.frombuffer(raw, dtype=np.uint8).reshape(16, 16, 3)

    def audit(doc_id):
        d = int(doc_id)
        o = 1 + (d // 8) % 8
        upright = _ramp_rgb(d)
        stored = orient_normalize(upright, _ORIENT_INVERSE[o])
        pix_a = decoded(upright)   # variant A: tag 1
        pix_b = decoded(stored)    # variant B: tag o
        naive_a = ahash_rgb(16, 16, pix_a.tobytes())
        naive_b = ahash_rgb(16, 16, pix_b.tobytes())
        norm_a = ahash_rgb(
            16, 16, orient_normalize(pix_a, 1).tobytes()
        )
        norm_b = ahash_rgb(
            16, 16, orient_normalize(pix_b, o).tobytes()
        )
        yield d, o, naive_a == naive_b, norm_a == norm_b, norm_b

    return row_map(docs, audit, _P13_SCHEMA)


# --------------------------------------------------------------------------
# p14: snapshot time-travel diff — the ENGINE's versioned-manifest
# layer (snapshots.py: Delta/Iceberg-shaped version → file-list
# manifests, ≙ the reference's read-at-timestamp MVCC semantics,
# /root/reference/src/tablet/memory.rs:73-81) driven through the
# oracle gate instead of pytest only: build a two-version table
# (v1 = nations with n_nationkey < 13, v2 = append the rest), read
# BOTH versions via time travel, and emit the anti-join delta — the
# "what did this corpus refresh add" question every incremental
# pipeline run asks of its snapshot store. The layout is session-
# memoized and app-id-namespaced under /tmp (the j02/j03 discipline,
# reclaimed by session_external_dir); the oracle replays the
# deterministic construction from the raw table.
#
# Scale: the diff is an anti-join on the row key over two manifest
# file lists — time travel costs nothing beyond reading the retained
# older segments; version count retained is the KEEP_MANIFESTS knob.
# --------------------------------------------------------------------------
_P14_SCHEMA_SPLIT = 13


@register(
    "p14_snapshot_diff",
    oracle=f"""
    SELECT n_nationkey, n_name,
           CAST(1 AS BIGINT) AS v_from, CAST(2 AS BIGINT) AS v_to
    FROM nation WHERE n_nationkey >= {_P14_SCHEMA_SPLIT}
    """,
)
def p14_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..snapshots import TableSnapshots
    from ..sources import load_table

    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
        ]
    )

    tag = session_tag(spark, sf_dir)

    def build() -> str:
        base = fresh_external_dir("/tmp/seamdb_snapdiff", tag)
        path = base + "/nation"
        snaps = TableSnapshots(path)
        nat = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("long"), "n_name"
        )
        snaps.commit(
            nat.filter(F.col("n_nationkey") < _P14_SCHEMA_SPLIT),
            mode="overwrite",
        )
        snaps.commit(nat.filter(F.col("n_nationkey") >= _P14_SCHEMA_SPLIT))
        return path

    path = materialized_value(spark, sf_dir, "p14_snapshots", build)
    snaps = TableSnapshots(path)
    v2 = snaps.read(spark, schema, version=2)
    v1 = snaps.read(spark, schema, version=1)
    return (
        v2.join(v1, ["n_nationkey"], "left_anti")
        .select(
            "n_nationkey",
            "n_name",
            F.lit(1).cast("long").alias("v_from"),
            F.lit(2).cast("long").alias("v_to"),
        )
    )


# --------------------------------------------------------------------------
# p15: incremental rollup refresh — the ENGINE's continuous-aggregate
# layer (rollups.py: mergeable count/sum partials, refresh = diff the
# source snapshot manifest and fold ONLY newly appended segments)
# driven through the oracle gate like p14 did for time travel: create
# an engine table, insert the fixed 25-row nation dim in TWO batches
# with a refresh after each, and return the rollup READ — which must
# equal the oracle's one-shot full aggregate because count/sum
# partials form a commutative monoid (merge order and batching cannot
# change the result). second_refresh_incremental pins that the second
# fold ran in O(new-segments) mode, not a rebuild.
#
# Scale: per-refresh scan = new segments only; the merge shuffles on
# the rollup key (its cardinality, not the fact table's); state
# commits reuse the atomic snapshot writer. The warehouse is
# session-memoized and app-id-namespaced with j02/j03's reclamation.
# --------------------------------------------------------------------------
_P15_SPLIT = 13


@register(
    "p15_incremental_rollup",
    oracle=f"""
    WITH src AS (
      SELECT n_nationkey % 5 AS bucket,
             CAST(n_nationkey AS DOUBLE) * 1.5 AS value
      FROM nation
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(value), 6) AS sum_value,
           ROUND(SUM(value) / COUNT(*), 6) AS avg_value,
           TRUE AS second_refresh_incremental
    FROM src GROUP BY bucket
    """,
)
def p15_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..engine import Engine
    from ..rollups import ContinuousRollup
    from ..sources import load_table

    tag = session_tag(spark, sf_dir)

    def engine_at(warehouse: str) -> Engine:
        return Engine(spark, warehouse, database="p15db", user="pipeline")

    def rollup_of(eng: Engine) -> ContinuousRollup:
        return ContinuousRollup(
            eng, "nation_by_bucket", "metrics",
            keys=[("bucket", "bucket")], sum_cols=["value"],
        )

    def build() -> tuple[str, bool]:
        warehouse = fresh_external_dir("/tmp/seamdb_rollup", tag) + "/wh"
        eng = engine_at(warehouse)
        eng.sql(
            "CREATE TABLE metrics (id serial PRIMARY KEY,"
            " bucket bigint, value double precision)"
        )
        # the fixed 25-row nation dim (bounded driver collect), split
        # into two insert batches so TWO refreshes run
        rows = sorted(
            (int(r.n_nationkey) % 5, int(r.n_nationkey) * 1.5)
            for r in load_table(spark, sf_dir, "nation")
            .select("n_nationkey")
            .collect()
        )

        def insert(first: bool):
            vals = ", ".join(
                f"({b}, {v})" for b, v in rows if (v < _P15_SPLIT * 1.5) == first
            )
            return lambda: eng.sql(f"INSERT INTO metrics (bucket, value) VALUES {vals}")

        modes = rollup_of(eng).refresh_after([insert(True), insert(False)])
        return warehouse, modes == ["incremental", "incremental", "noop"]

    warehouse, incremental = materialized_value(
        spark, sf_dir, "p15_rollup", build
    )
    out = rollup_of(engine_at(warehouse)).read()
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_rows").cast("long").alias("n_rows"),
        dround(F.col("sum_value"), 6).alias("sum_value"),
        dround(F.col("avg_value"), 6).alias("avg_value"),
        F.lit(bool(incremental)).alias("second_refresh_incremental"),
    )


# --------------------------------------------------------------------------
# p16: incremental LSH index maintenance — the last engine layer that
# was pytest-only (dedup_index.py) driven through the oracle gate the
# way p14 did snapshots and p15 did rollups: the documents table is
# committed to a snapshot-backed source in TWO batches (doc_id parity
# split), an IncrementalLSHIndex refreshes after each (the second
# MUST run in O(new-segments) incremental mode — pinned by the
# second_refresh_incremental column, which would read false and fail
# the gate on a rebuild fallback), and the maintained index's
# candidate pairs are returned. Correctness identity: incremental
# banding over any batch split equals full re-banding of the final
# corpus (band rows are per-document and deterministic), so the
# DuckDB oracle replays d02's full shingle→minhash→band→self-join
# pipeline (_lsh_cand_ctes, byte-identical banding constants) with no
# knowledge of the batching.
#
# Scale: per-refresh banding scans only newly appended segments; the
# candidate join touches band rows only (N_BANDS per doc — tiny vs
# the corpus); the source text never participates after indexing.
# The snapshot layout is session-memoized and app-id-namespaced under
# /tmp with j02/j03's reclamation discipline.
# --------------------------------------------------------------------------
def _p16_oracle() -> str:
    from .dedup import _lsh_cand_ctes

    return f"""
    WITH {_lsh_cand_ctes()}
    SELECT doc_a, doc_b, TRUE AS second_refresh_incremental
    FROM cand
    """


# ---------------------------------------------------------------------
# Session-memoized derivation hints for the snapshot-backed text
# indexes — now defined in dedup.py (the batch kernels d02/d03 and
# e44's batch twin share the same memos, so the derivation lives with
# the family that owns the kernels); re-imported here for the six gate
# layouts (p16/p26 and the streaming ingest gates e49-e52).
from .dedup import (  # noqa: E402
    _docs_band_rows_hint,
    _docs_simhash_hint,
)


def _stream_gate_layout(spark: SparkSession, sf_dir: str, base: str):
    """(snaps, lsh, sh) handles over a gate layout rooted at ``base`` —
    the one layout shape all four streaming ingest gates use
    (/docs + /lsh_state + /sh_state, hint-backed indexes)."""
    lsh = _doc_index(
        spark, base, "LSH", _docs_band_rows_hint(spark, sf_dir), "/lsh_state"
    )
    sh = _doc_index(
        spark, base, "SimHash", _docs_simhash_hint(spark, sf_dir), "/sh_state"
    )
    return lsh.source, lsh, sh


def _stream_gate_base(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized pre-stream corpus layout shared by the four
    streaming ingest gates (e49-e52): the evens half committed as
    /docs v1 and both incremental text indexes refreshed over it —
    the byte-identical prologue every gate previously rebuilt for
    itself. Each gate CLONES this layout into its own fresh dir
    (snapshots.clone_layout: segment byte-copy + manifest path
    rewrite) and runs its feed/stream sequence there, so gates stay
    mutation-isolated (e52's compaction rewrites only its clone)
    while the corpus build is paid once per session."""
    from ..sources import load_table

    tag = session_tag(spark, sf_dir)

    def build() -> str:
        base = fresh_external_dir("/tmp/seamdb_sgbase", tag)
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long"), "text"
        )
        snaps, lsh, sh = _stream_gate_layout(spark, sf_dir, base)
        snaps.commit(docs.filter(F.col("doc_id") % 2 == 0), mode="overwrite")
        # independent index builds (own state dirs; hint memos under
        # distinct keys) — overlapped per guide §2.6
        run_concurrently(lsh.refresh, sh.refresh)
        return base

    return materialized_value(spark, sf_dir, "stream_gate_base", build)


def _clone_stream_gate_base(
    spark: SparkSession, sf_dir: str, root: str, tag: str
):
    """Fresh gate layout at ``<root>/<tag>`` cloned from the shared
    base; returns (base, snaps, lsh, sh)."""
    from ..snapshots import clone_layout

    src = _stream_gate_base(spark, sf_dir)
    base = fresh_external_dir(root, tag)
    clone_layout(src, base)
    snaps, lsh, sh = _stream_gate_layout(spark, sf_dir, base)
    return base, snaps, lsh, sh


def _doc_index(
    spark: SparkSession, base: str, kind: str, derive_hint=None,
    state: str = "/state",
):
    """The ``kind`` ("LSH", "SimHash" or "Eval") text index over a gate
    layout: _DOC_SCHEMA rows in ``<base>/docs``, state in ``<base><state>``."""
    from .. import dedup_index

    return getattr(dedup_index, f"Incremental{kind}Index").over_snapshots(
        spark, base + "/docs", _DOC_SCHEMA, "doc_id", "text", base + state,
        derive_hint=derive_hint,
    )


def _p16_build_index(spark: SparkSession, sf_dir: str) -> tuple[str, bool]:
    """The session-memoized two-batch index layout p16 and p17 share:
    (layout base dir, every-refresh-ran-in-the-expected-mode flag)."""
    from ..sources import load_table

    tag = session_tag(spark, sf_dir)

    def build() -> tuple[str, bool]:
        base = fresh_external_dir("/tmp/seamdb_lshindex", tag)
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long"), "text"
        )
        idx = _doc_index(spark, base, "LSH", _docs_band_rows_hint(spark, sf_dir))
        src = idx.source
        modes = idx.refresh_after([
            lambda: src.commit(docs.filter(F.col("doc_id") % 2 == 0), mode="overwrite"),
            lambda: src.commit(docs.filter(F.col("doc_id") % 2 == 1)),
        ])
        return base, modes == ["incremental", "incremental", "noop"]

    return materialized_value(spark, sf_dir, "p16_lsh_index", build)


@register("p16_incremental_lsh_index", oracle=_p16_oracle())
def p16_incremental_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, incremental = _p16_build_index(spark, sf_dir)
    return _doc_index(spark, base, "LSH").candidate_pairs().select(
        "doc_a",
        "doc_b",
        F.lit(bool(incremental)).alias("second_refresh_incremental"),
    )


# --------------------------------------------------------------------------
# p17: per-batch candidate lookup against the maintained LSH index —
# the OTHER half of the incremental-dedup API (p16 gates refresh +
# full candidate_pairs; this gates new_candidate_pairs): when a new
# insert batch arrives, a growing corpus does NOT re-join the whole
# index against itself — it joins the new batch's band rows (small,
# broadcast-sized) against the full index and asks only "which
# existing or sibling documents does THIS batch collide with". The
# identity pinned cross-engine: that per-batch lookup equals the full
# banding self-join RESTRICTED to pairs touching the batch (the
# tests/test_dedup_index.py equality, now against DuckDB's
# batch-blind full re-banding replay with a parity filter).
#
# Scale: the new-batch doc-id set broadcasts into the index (band
# rows only); existing documents are never re-banded and never pair
# among themselves — per-batch cost is O(batch x collision rate),
# independent of corpus size. Reuses p16's session-memoized index
# layout, so the banding derivation runs once for both queries.
# --------------------------------------------------------------------------
def _p17_oracle() -> str:
    from .dedup import _lsh_cand_ctes

    return f"""
    WITH {_lsh_cand_ctes()}
    SELECT doc_a, doc_b, TRUE AS second_refresh_incremental
    FROM cand
    WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
    """


@register("p17_incremental_batch_candidates", oracle=_p17_oracle())
def p17_incremental_batch_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import load_table

    # build (or reuse) the two-batch index p16 materialized; the
    # second insert batch (odd doc_ids) is "the batch being checked"
    base, incremental = _p16_build_index(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select(F.col("doc_id").cast("long"))
    )
    idx = _doc_index(spark, base, "LSH")
    return idx.new_candidate_pairs(batch).select(
        "doc_a",
        "doc_b",
        F.lit(bool(incremental)).alias("second_refresh_incremental"),
    )


# --------------------------------------------------------------------------
# p18: compaction equivalence — the engine's OPTIMIZE layer
# (engine.compact: fold accumulated small append segments into one
# fresh overwrite commit) through the oracle gate, completing the
# p14-p17 series over the snapshot machinery. The invariants a
# warehouse relies on, each pinned as a checked column: (1) CONTENT —
# the post-compaction read equals the oracle's view of the raw data
# (the row set itself); (2) LAYOUT — the fixture's two insert
# segments fold into a single segment (compacted_single_segment);
# (3) HISTORY RETENTION — readers pinned to pre-compaction manifests
# still see exactly what they saw before (v1 = first batch, 13 rows;
# v2 = both batches, 25 rows), because compaction retains the files
# older manifests reference until GC — the MVCC-analogue guarantee
# p14 gates for time travel, here asserted ACROSS a history rewrite.
#
# Scale: compaction reads the current snapshot once and writes
# ~128 MB output files (target = bytes/128MB, the maxPartitionBytes
# match); old-version reads cost nothing beyond retaining the old
# segments. The warehouse is session-memoized and app-id-namespaced
# with j02/j03's reclamation discipline.
# --------------------------------------------------------------------------
_P18_SPLIT = 13


@register(
    "p18_compaction_equivalence",
    oracle=f"""
    SELECT n_nationkey, n_name,
           TRUE AS compacted_single_segment,
           CAST({_P18_SPLIT} AS BIGINT) AS v1_rows,
           CAST(25 AS BIGINT) AS v2_rows
    FROM nation
    """,
)
def p18_compaction_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..engine import Engine
    from ..snapshots import TableSnapshots
    from ..sources import load_table

    tag = session_tag(spark, sf_dir)

    def build() -> tuple[str, bool, int, int]:
        warehouse = fresh_external_dir("/tmp/seamdb_compact", tag) + "/wh"
        eng = Engine(spark, warehouse, database="p18db", user="pipeline")
        eng.sql(
            "CREATE TABLE nat (id serial PRIMARY KEY,"
            " n_nationkey bigint, n_name text)"
        )
        rows = sorted(
            (int(r.n_nationkey), str(r.n_name))
            for r in load_table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name")
            .collect()
        )

        def insert(batch):
            vals = ", ".join(f"({k}, '{n}')" for k, n in batch)
            eng.sql(f"INSERT INTO nat (n_nationkey, n_name) VALUES {vals}")

        insert([r for r in rows if r[0] < _P18_SPLIT])
        insert([r for r in rows if r[0] >= _P18_SPLIT])
        snaps = TableSnapshots(eng.store.table_dir("p18db", "nat"))
        files_before = len(snaps.current_files())
        eng.compact("nat")
        files_after = len(snaps.current_files())
        # history retention: versions 1 and 2 predate the rewrite
        desc = eng.store.get_table("p18db", "nat")
        v1 = snaps.read(spark, desc.spark_schema(), version=1).count()
        v2 = snaps.read(spark, desc.spark_schema(), version=2).count()
        single = files_after == 1 and files_after <= files_before
        return warehouse, single, int(v1), int(v2)

    warehouse, single, v1_rows, v2_rows = materialized_value(
        spark, sf_dir, "p18_compaction", build
    )
    eng = Engine(spark, warehouse, database="p18db", user="pipeline")
    return eng.table("nat").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name").alias("n_name"),
        F.lit(bool(single)).alias("compacted_single_segment"),
        F.lit(int(v1_rows)).cast("long").alias("v1_rows"),
        F.lit(int(v2_rows)).cast("long").alias("v2_rows"),
    )


# --------------------------------------------------------------------------
# p19: retention GC — the snapshot layer's garbage collector through
# the oracle gate, closing the engine series (p14 time travel, p15
# rollup refresh, p16/p17 index maintenance, p18 compaction): five
# overwrite commits of growing nation prefixes (v_i = n_nationkey <
# 5*i) leave, under KEEP_MANIFESTS=3, exactly manifests v3..v5 on
# disk, exactly the three segment directories those manifests
# reference (v1/v2's unreferenced segments are deleted — the leak
# compaction/overwrite would otherwise create), the retained versions
# still reading their exact historical contents (v3=15, v4=20 rows),
# and the expired version raising the documented "not retained"
# error rather than returning wrong data. Every one of those is a
# pinned column; the row set itself is the current (v5) read.
#
# Scale: GC cost is a directory walk over ONE table's segment dirs at
# commit time; retention is the KEEP_MANIFESTS knob, and pinned
# readers of retained versions are unaffected by design. The layout
# is session-memoized and app-id-namespaced with j02/j03's
# reclamation discipline.
# --------------------------------------------------------------------------
@register(
    "p19_retention_gc",
    oracle="""
    SELECT n_nationkey, n_name,
           CAST(5 AS BIGINT) AS current_version,
           CAST(3 AS BIGINT) AS manifests_on_disk,
           CAST(3 AS BIGINT) AS segment_dirs_on_disk,
           CAST(15 AS BIGINT) AS v3_rows,
           CAST(20 AS BIGINT) AS v4_rows,
           TRUE AS expired_version_rejected
    FROM nation
    """,
)
def p19_retention_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..snapshots import TableSnapshots
    from ..sources import load_table

    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
        ]
    )

    tag = session_tag(spark, sf_dir)

    def build() -> tuple[str, int, int, int, int, int, bool]:
        base = fresh_external_dir("/tmp/seamdb_gc", tag)
        path = base + "/nation"
        snaps = TableSnapshots(path)
        nat = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("long"), "n_name"
        )
        for i in range(1, 6):
            snaps.commit(
                nat.filter(F.col("n_nationkey") < 5 * i), mode="overwrite"
            )
        manifests = sum(
            1
            for n in _os.listdir(path)
            if n.startswith("manifest-v") and n.endswith(".json")
        )
        seg_dirs = sum(
            1
            for n in _os.listdir(path)
            if n.startswith("seg-") and _os.path.isdir(_os.path.join(path, n))
        )
        v3 = snaps.read(spark, schema, version=3).count()
        v4 = snaps.read(spark, schema, version=4).count()
        try:
            snaps.read(spark, schema, version=1)
            rejected = False
        except ValueError:
            rejected = True
        return (
            path, snaps.current_version(), manifests, seg_dirs,
            int(v3), int(v4), rejected,
        )

    path, cur, manifests, seg_dirs, v3, v4, rejected = materialized_value(
        spark, sf_dir, "p19_retention_gc", build
    )
    return TableSnapshots(path).read(spark, schema).select(
        "n_nationkey",
        "n_name",
        F.lit(int(cur)).cast("long").alias("current_version"),
        F.lit(int(manifests)).cast("long").alias("manifests_on_disk"),
        F.lit(int(seg_dirs)).cast("long").alias("segment_dirs_on_disk"),
        F.lit(int(v3)).cast("long").alias("v3_rows"),
        F.lit(int(v4)).cast("long").alias("v4_rows"),
        F.lit(bool(rejected)).alias("expired_version_rejected"),
    )


# --------------------------------------------------------------------------
# p21: incremental ingest-admission pipeline — the END-TO-END form of
# the maintained-index story (p16/p17/p20 gate the index layers; this
# gates the decision a growing corpus actually makes per ingest
# batch): for every document in the new batch (the odd-doc_id half),
# admit/drop with first-come-wins dedup against the MAINTAINED LSH
# index and the t02 quality gate, in p01's precedence order (quality
# first — the cheap row-local filter runs before any index lookup):
#   - dropped_quality:   quality_score < QUALITY_MIN (t02's formula);
#   - dropped_duplicate: the doc band-collides with any EARLIER
#     document (partner doc_id < its own — first-come-wins is the
#     deterministic batch analogue of d11's canonical keeper; a new
#     doc colliding only with LATER docs is the keeper and stays);
#   - admitted:          everything else.
# n_earlier_collisions is emitted so the gate checks the collision
# counting, not just the boolean. The oracle is batch-blind: DuckDB
# re-bands the FULL corpus (d02's CTE chain), restricts to pairs whose
# larger side is odd, and applies the same precedence — the maintained
# index's per-batch lookup must agree exactly.
#
# Scale: quality is row-local on the batch; the dup check is p17's
# O(batch × collision-rate) broadcast lookup against band rows only;
# the verdict join is doc_id-keyed. Nothing rescans the indexed
# corpus. Reuses p16's session-memoized index layout, so the banding
# derivation runs once across p16/p17/p21.
# --------------------------------------------------------------------------
def _p21_oracle() -> str:
    from .dedup import _lsh_cand_ctes
    from .text import QUALITY_SQL

    return f"""
    WITH {_lsh_cand_ctes()},
    quality AS ({QUALITY_SQL}),
    earlier AS (
      SELECT doc_b AS doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM cand WHERE doc_b % 2 = 1 GROUP BY doc_b
    )
    SELECT q.doc_id,
           ROUND(q.quality_score, 6) AS quality_score,
           COALESCE(e.n, 0) AS n_earlier_collisions,
           CASE
             WHEN q.quality_score < {QUALITY_MIN} THEN 'dropped_quality'
             WHEN e.n IS NOT NULL THEN 'dropped_duplicate'
             ELSE 'admitted'
           END AS status
    FROM quality q LEFT JOIN earlier e ON e.doc_id = q.doc_id
    WHERE q.doc_id % 2 = 1
    """


@register("p21_incremental_admission", oracle=_p21_oracle())
def p21_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    base, _incremental = _p16_build_index(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select(F.col("doc_id").cast("long"))
    )
    idx = _doc_index(spark, base, "LSH")
    # first-come-wins: a batch doc is a duplicate iff it collides with
    # any SMALLER doc_id — i.e. it appears as the pair's larger side
    # (new_candidate_pairs emits doc_a < doc_b)
    earlier = (
        idx.new_candidate_pairs(batch)
        .filter(F.col("doc_b") % 2 == 1)
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    quality = t02_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    return (
        quality.filter(F.col("doc_id") % 2 == 1)
        .join(earlier, "doc_id", "left")
        .select(
            "doc_id",
            dround(F.col("quality_score"), 6).alias("quality_score"),
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias(
                "n_earlier_collisions"
            ),
            F.when(F.col("quality_score") < QUALITY_MIN, "dropped_quality")
            .when(F.col("n").isNotNull(), "dropped_duplicate")
            .otherwise("admitted")
            .alias("status"),
        )
    )


# --------------------------------------------------------------------------
# p24: incremental EVAL-index decontamination through the gate — the
# last index layer that was pytest-only (IncrementalEvalIndex,
# dedup_index.py) driven through the oracle the way p16 did the LSH
# index and p20 the IVF index, completing the maintained-index series:
# an EVAL corpus (doc_id % 10 = 0 — a 10% rule, chosen over d15's
# 1-in-97 so BOTH batches are non-empty even at sf0.001's 50-doc
# fixture) is committed to a snapshot source in TWO batches (split on
# doc_id % 20), the index refreshes after each (the second pinned
# incremental via the checked column), and ``contaminated()`` then
# decontaminates the full training side (doc_id % 10 <> 0) against the
# MAINTAINED index: the Bloom bitmap is re-packed from index rows
# (a 1024-word bit_or, never an eval re-scan) and shipped as a plan
# literal; exact verification joins the maintained shingle universe.
# The oracle is d15's replay (shared _decontam_oracle definition),
# batch-blind — Bloom hit counts, exact hits, the false-positive gap,
# and the drop verdict must all match an implementation that derived
# the eval side in one shot.
#
# Scale: per-refresh shingle-hashing scans only new eval segments; the
# decontamination probe is d15's scan-stage Bloom kill (non-candidate
# train shingles die inside the scan); only Bloom survivors reach the
# exact join. The snapshot layout is session-memoized and
# app-id-namespaced with the j02/j03 reclamation discipline.
# --------------------------------------------------------------------------
P24_EVAL_MOD = 10


def _p24_build_index(spark: SparkSession, sf_dir: str) -> tuple:
    from ..sources import load_table

    tag = session_tag(spark, sf_dir)

    def build() -> tuple:
        base = fresh_external_dir("/tmp/seamdb_evalindex", tag)
        ev = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % P24_EVAL_MOD == 0)
            .select(F.col("doc_id").cast("long"), "text")
        )
        idx = _doc_index(spark, base, "Eval")
        src = idx.source
        modes = idx.refresh_after([
            lambda: src.commit(ev.filter(F.col("doc_id") % 20 == 0), mode="overwrite"),
            lambda: src.commit(ev.filter(F.col("doc_id") % 20 != 0)),
        ])
        return base, modes == ["incremental", "incremental", "noop"]

    return materialized_value(spark, sf_dir, "p24_eval_index", build)


def _p24_oracle() -> str:
    from .dedup import _decontam_oracle

    return _decontam_oracle(
        P24_EVAL_MOD, ",\n           TRUE AS second_refresh_incremental"
    )


@register("p24_incremental_eval_decontam", oracle=_p24_oracle())
def p24_incremental_eval_decontam(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import load_table

    base, incremental = _p24_build_index(spark, sf_dir)
    idx = _doc_index(spark, base, "Eval")
    train = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % P24_EVAL_MOD != 0)
        .select(F.col("doc_id").cast("long"), "text")
    )
    return idx.contaminated(train, "doc_id", "text").select(
        "doc_id", "n_bloom_hits", "n_exact_hits", "n_false_pos", "drop_doc",
        F.lit(bool(incremental)).alias("second_refresh_incremental"),
    )


# --------------------------------------------------------------------------
# p25: index rebuild across source compaction — the one
# _IncrementalTextIndex transition p16/p21/p24 don't drive through the
# oracle (it was pytest-only): when COMPACTION rewrites the indexed
# source's history (p18's OPTIMIZE — every processed segment vanishes
# from the manifest), the manifest diff can no longer prove which
# documents are already indexed, so refresh() must take the REBUILD
# branch (overwrite re-derivation of the full current file set) rather
# than silently double-indexing or dropping documents. Sequence:
# two-batch commit with an incremental refresh after each (same as
# p16), then the source's full content is rewritten as ONE segment
# (coalesce(1) overwrite — compaction's layout), then refresh must
# report mode="rebuild" and a further refresh mode="noop". The
# maintained index's candidate pairs after the rebuild must equal
# DuckDB's batch-blind, compaction-blind full re-banding replay —
# banding is per-document and deterministic, so a correct rebuild is
# invisible in the result. rebuild_triggered and the pinned
# single-segment count would read false/wrong on any other path.
#
# Scale: rebuild cost is one full derivation of the compacted table —
# the same cost compaction itself just paid, amortized over the
# O(new-segments) refreshes it re-enables; candidate reads are
# unchanged. Own session-memoized layout (p16's stays two-segment so
# p16/p17/p21 keep gating the incremental path).
# --------------------------------------------------------------------------
def _p25_oracle() -> str:
    from .dedup import _lsh_cand_ctes

    return f"""
    WITH {_lsh_cand_ctes()}
    SELECT doc_a, doc_b,
           TRUE AS rebuild_triggered,
           CAST(1 AS BIGINT) AS source_segments_after_compaction
    FROM cand
    """


@register("p25_index_compaction_rebuild", oracle=_p25_oracle())
def p25_index_compaction_rebuild(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import load_table

    tag = session_tag(spark, sf_dir)

    def build() -> tuple[str, bool, int]:
        base = fresh_external_dir("/tmp/seamdb_lshrebuild", tag)
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long"), "text"
        )
        idx = _doc_index(spark, base, "LSH", _docs_band_rows_hint(spark, sf_dir))
        src = idx.source
        modes = idx.refresh_after([
            lambda: src.commit(docs.filter(F.col("doc_id") % 2 == 0), mode="overwrite"),
            lambda: src.commit(docs.filter(F.col("doc_id") % 2 == 1)),
            # compaction: the table's full content rewritten as ONE
            # segment (snapshot reads stay safe — the old segments
            # survive under manifest retention while it is written)
            lambda: src.commit(
                src.read(spark, _DOC_SCHEMA).coalesce(1), mode="overwrite"
            ),
        ])
        modes_ok = modes == ["incremental", "incremental", "rebuild", "noop"]
        return base, modes_ok, len(src.current_files())

    base, modes_ok, n_segments = materialized_value(
        spark, sf_dir, "p25_lsh_rebuild", build
    )
    return _doc_index(spark, base, "LSH").candidate_pairs().select(
        "doc_a",
        "doc_b",
        F.lit(bool(modes_ok)).alias("rebuild_triggered"),
        F.lit(int(n_segments)).cast("long").alias(
            "source_segments_after_compaction"
        ),
    )


# --------------------------------------------------------------------------
# p26: incremental SimHash index maintenance — the p16/p20/p24 move
# applied to the LAST dedup sketch family without a maintained index
# (d03's 32-bit SimHash): documents committed to a snapshot source in
# TWO batches (doc_id parity), IncrementalSimHashIndex refreshed
# after each (both pinned incremental — signatures are per-document
# and deterministic, so append-derivation is exact; a rebuild
# fallback would flip the flag and fail the gate), and the maintained
# index's verified near-dup pairs returned. The index persists ONE
# row per document (the signature int); the 28-per-doc block keys are
# derived at read time by bit arithmetic. Correctness identity:
# signatures over any batch split equal full-corpus signatures, so
# the DuckDB oracle replays d03's brute-force hamming verify
# (_simhash_sig_sql — recall 1 vs the blocking by the pigeonhole
# construction) with no knowledge of batching or blocking.
#
# Scale: per-refresh signature pass scans only new segments; the
# candidate join touches 28-per-doc key rows (never text); per-batch
# admission uses new_candidate_pairs' broadcast lookup. With LSH
# (p16), IVF (p20), eval shingles (p24) and now SimHash, every sketch
# family the dedup suite ships has a maintained O(new-data) index.
# --------------------------------------------------------------------------
def _p26_oracle() -> str:
    from .dedup import SIMHASH_MAX_HAMMING, _simhash_sig_sql

    return f"""
    WITH {_simhash_sig_sql()}
    SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
           CAST(bit_count(xor(s1.simhash, s2.simhash)) AS BIGINT) AS hamming,
           TRUE AS second_refresh_incremental
    FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
    WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


def _p26_build_index(spark: SparkSession, sf_dir: str) -> tuple[str, bool]:
    from ..sources import load_table

    tag = session_tag(spark, sf_dir)

    def build() -> tuple[str, bool]:
        base = fresh_external_dir("/tmp/seamdb_simhashindex", tag)
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long"), "text"
        )
        idx = _doc_index(spark, base, "SimHash", _docs_simhash_hint(spark, sf_dir))
        src = idx.source
        modes = idx.refresh_after([
            lambda: src.commit(docs.filter(F.col("doc_id") % 2 == 0), mode="overwrite"),
            lambda: src.commit(docs.filter(F.col("doc_id") % 2 == 1)),
        ])
        return base, modes == ["incremental", "incremental", "noop"]

    return materialized_value(spark, sf_dir, "p26_simhash_index", build)


@register("p26_incremental_simhash_index", oracle=_p26_oracle())
def p26_incremental_simhash_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base, incremental = _p26_build_index(spark, sf_dir)
    return _doc_index(spark, base, "SimHash").candidate_pairs().select(
        "doc_a",
        "doc_b",
        "hamming",
        F.lit(bool(incremental)).alias("second_refresh_incremental"),
    )


# --------------------------------------------------------------------------
# p27: per-batch candidate lookup against the maintained SimHash index
# — p17's move for the SimHash family (p26 gates refresh + full
# pairs; this gates new_candidate_pairs): a new insert batch asks
# only "which existing or sibling documents is THIS batch within
# hamming 2 of". The batch's 28-per-doc block keys broadcast into the
# index's keys; existing documents never re-key and never pair among
# themselves. Identity pinned cross-engine: the per-batch lookup
# equals the batch-blind brute-force hamming verify RESTRICTED to
# pairs touching the batch (odd doc_ids — the second insert batch).
#
# Scale: O(batch x bucket occupancy), independent of corpus size.
# Reuses p26's session-memoized index layout, so the signature
# derivation runs once for both queries.
# --------------------------------------------------------------------------
def _p27_oracle() -> str:
    from .dedup import SIMHASH_MAX_HAMMING, _simhash_sig_sql

    return f"""
    WITH {_simhash_sig_sql()}
    SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
           CAST(bit_count(xor(s1.simhash, s2.simhash)) AS BIGINT) AS hamming,
           TRUE AS second_refresh_incremental
    FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
    WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
      AND (s1.doc_id % 2 = 1 OR s2.doc_id % 2 = 1)
    """


@register("p27_simhash_batch_candidates", oracle=_p27_oracle())
def p27_simhash_batch_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import load_table

    base, incremental = _p26_build_index(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select(F.col("doc_id").cast("long"))
    )
    return _doc_index(spark, base, "SimHash").new_candidate_pairs(batch).select(
        "doc_a",
        "doc_b",
        "hamming",
        F.lit(bool(incremental)).alias("second_refresh_incremental"),
    )


# --------------------------------------------------------------------------
# p29: dual-detector incremental ingest admission — p21's pipeline
# with BOTH maintained near-dup indexes stacked (d34 quantifies the
# lexical/simhash detectors' complementarity offline; this is the
# decision a production ingest actually makes with it): per new-batch
# document, in precedence order —
#   dropped_quality:      t02 quality below the floor (cheap,
#                         row-local — runs before any index lookup);
#   dropped_lexical_dup:  band-collides with any EARLIER doc in the
#                         maintained LSH index (p21's rule);
#   dropped_simhash_dup:  within hamming 2 of an EARLIER doc in the
#                         maintained SimHash index — catches the
#                         near-dups whose shingle sets drifted past
#                         banding but whose token distribution didn't
#                         (d34's simhash_only class);
#   admitted:             everything else.
# Both collision counts are emitted so the gate checks the counting
# of each detector, not just the merged verdict. The oracle is
# batch-blind and index-blind: DuckDB re-derives both detectors over
# the full corpus (d02's banding CTEs + d03's signature CTEs, the
# d34 composition) and applies the same precedence.
#
# Scale: quality is row-local on the batch; both dup checks are
# O(batch)-broadcast lookups against maintained indexes (band rows /
# 28 block keys — never the corpus text); the verdict join is
# doc_id-keyed. Reuses p16's AND p26's session-memoized layouts, so
# this query adds NO index build cost to a session that ran either.
# --------------------------------------------------------------------------
def _p29_oracle() -> str:
    from .dedup import SIMHASH_MAX_HAMMING, _lsh_cand_ctes, _simhash_sig_sql
    from .text import QUALITY_SQL

    sim = _simhash_sig_sql("sh_").strip()
    return f"""
    WITH {_lsh_cand_ctes()},
    quality AS ({QUALITY_SQL}),
    {sim},
    earlier_lex AS (
      SELECT doc_b AS doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM cand WHERE doc_b % 2 = 1 GROUP BY doc_b
    ),
    earlier_sh AS (
      SELECT s2.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM sh_sigs s1 JOIN sh_sigs s2 ON s1.doc_id < s2.doc_id
      WHERE s2.doc_id % 2 = 1
        AND bit_count(xor(s1.simhash, s2.simhash)) <= {SIMHASH_MAX_HAMMING}
      GROUP BY s2.doc_id
    )
    SELECT q.doc_id,
           ROUND(q.quality_score, 6) AS quality_score,
           COALESCE(l.n, 0) AS n_lexical_collisions,
           COALESCE(h.n, 0) AS n_simhash_collisions,
           CASE
             WHEN q.quality_score < {QUALITY_MIN} THEN 'dropped_quality'
             WHEN l.n IS NOT NULL THEN 'dropped_lexical_dup'
             WHEN h.n IS NOT NULL THEN 'dropped_simhash_dup'
             ELSE 'admitted'
           END AS status
    FROM quality q
    LEFT JOIN earlier_lex l ON l.doc_id = q.doc_id
    LEFT JOIN earlier_sh h ON h.doc_id = q.doc_id
    WHERE q.doc_id % 2 = 1
    """


_DECISION_COLS = [
    "doc_id", "quality_score", "n_lexical_collisions",
    "n_simhash_collisions", "status",
]


def _admission_decisions(
    quality: DataFrame, lex_pairs: DataFrame, sh_pairs: DataFrame
) -> DataFrame:
    """p29's decision record for the docs in ``quality`` (doc_id,
    quality_score). Each pair frame holds only the (doc_a, doc_b) pairs
    that count against their doc_b; the precedence is quality, then
    lexical, then SimHash duplicate."""

    def per_doc(pairs: DataFrame, n: str) -> DataFrame:
        return pairs.groupBy(F.col("doc_b").alias("doc_id")).agg(
            F.count("*").cast("long").alias(n)
        )

    return (
        quality.select("doc_id", "quality_score")
        .join(per_doc(lex_pairs, "n_lex"), "doc_id", "left")
        .join(per_doc(sh_pairs, "n_sh"), "doc_id", "left")
        .select(
            "doc_id",
            dround(F.col("quality_score"), 6).alias("quality_score"),
            F.coalesce(F.col("n_lex"), F.lit(0).cast("long")).alias(
                "n_lexical_collisions"
            ),
            F.coalesce(F.col("n_sh"), F.lit(0).cast("long")).alias(
                "n_simhash_collisions"
            ),
            F.when(F.col("quality_score") < QUALITY_MIN, "dropped_quality")
            .when(F.col("n_lex").isNotNull(), "dropped_lexical_dup")
            .when(F.col("n_sh").isNotNull(), "dropped_simhash_dup")
            .otherwise("admitted")
            .alias("status"),
        )
    )


@register("p29_dual_detector_admission", oracle=_p29_oracle())
def p29_dual_detector_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    lsh_base, _ = _p16_build_index(spark, sf_dir)
    sh_base, _ = _p26_build_index(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select(F.col("doc_id").cast("long"))
    )
    # first-come-wins per detector: the batch doc is the pair's larger
    # side (both lookups emit doc_a < doc_b)
    earlier_lex, earlier_sh = (
        idx.new_candidate_pairs(batch).filter(F.col("doc_b") % 2 == 1)
        for idx in (
            _doc_index(spark, lsh_base, "LSH"),
            _doc_index(spark, sh_base, "SimHash"),
        )
    )
    quality = t02_quality_score(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    return _admission_decisions(quality, earlier_lex, earlier_sh)


# --------------------------------------------------------------------------
# p30: bucket-pruned unique-clash admission — the last engine branch
# without a driver-gated oracle query (VERDICT r11 "What's missing" #3;
# the same move p25/p28 made for the index rebuild branches). A
# bucketed engine table (hash-clustered on the primary key,
# engine.bucket_table) takes three INSERT statements end-to-end through
# engine.sql: a seed batch (nations with n_nationkey < 13), a CLASH
# batch whose three keys {7, 39, 45} all hash to ONE bucket
# (pmod(xxhash64(k), 8) == 1 for each — precomputed constants,
# re-derived Spark-side at build time) and whose key 7 already exists —
# rejected atomically (UniqueIndexError; the two fresh keys 39/45 must
# NOT land), then a clean batch (nations >= 13) — admitted. The pinned
# columns replay each admission decision batch-blind in DuckDB from the
# raw nation table, and pin the PHYSICAL pruning property: the clash
# probe's snapshot read (snapshots.read(buckets={1}), the exact
# construction the INSERT clash checks use: dml._first_clash for a
# VALUES batch, dml.execute_insert for a SELECT) touches only bucket-1
# segment files — measured with input_file_name() against the
# manifest's per-file bucket ids — and strictly fewer files than the
# full table read.
#
# Scale: this is the 100 TB insert design (SCALING.md Engine §) — the
# per-batch clash check reads O(touched buckets) of the table, not
# O(table); a 3-key batch against a trillion-row table scans ~1/N of
# it. The warehouse is session-memoized and app-id-namespaced with the
# p18/p19 reclamation discipline; build() starts from
# fresh_external_dir so bench gate-retimes re-enter the exact
# first-build sequence.
# --------------------------------------------------------------------------
_P30_BUCKETS = 8
_P30_CLASH_KEY = 7
_P30_FRESH_KEYS = (39, 45)  # same xxhash64 bucket as key 7 (bucket 1)
_P30_SPLIT = 13


def _p30_oracle() -> str:
    k1, k2 = _P30_FRESH_KEYS
    return f"""
    SELECT n_nationkey, n_name,
           CAST((SELECT COUNT(*) FROM nation
                 WHERE n_nationkey IN ({_P30_CLASH_KEY}, {k1}, {k2})
                   AND n_nationkey < {_P30_SPLIT}) > 0
                AS BOOLEAN) AS clash_batch_rejected,
           CAST((SELECT COUNT(*) FROM nation
                 WHERE n_nationkey IN ({k1}, {k2})) = 0
                AS BOOLEAN) AS rejected_keys_absent,
           CAST((SELECT COUNT(*) FROM nation
                 WHERE n_nationkey >= {_P30_SPLIT}
                   AND n_nationkey IN (SELECT n_nationkey FROM nation
                                       WHERE n_nationkey < {_P30_SPLIT})) = 0
                AS BOOLEAN) AS clean_batch_admitted,
           CAST(1 AS BIGINT) AS probe_buckets,
           TRUE AS probe_scans_only_matching_bucket
    FROM nation
    """


@register("p30_bucket_pruned_unique_clash", oracle=_p30_oracle())
def p30_bucket_pruned_unique_clash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os as _os
    from ..engine import Engine
    from ..errors import UniqueIndexError
    from ..snapshots import TableSnapshots
    from ..sources import load_table

    tag = session_tag(spark, sf_dir)
    k1, k2 = _P30_FRESH_KEYS

    def build() -> tuple[str, bool, bool, bool, int, bool]:
        warehouse = fresh_external_dir("/tmp/seamdb_bucketclash", tag) + "/wh"
        eng = Engine(spark, warehouse, database="p30db", user="pipeline")
        eng.sql(
            "CREATE TABLE nat (n_nationkey bigint PRIMARY KEY, n_name text)"
        )
        eng.bucket_table("nat", _P30_BUCKETS)
        rows = sorted(
            (int(r.n_nationkey), str(r.n_name))
            for r in load_table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name")
            .collect()
        )

        def insert(batch) -> int:
            vals = ", ".join(
                "({}, '{}')".format(k, n.replace("'", "''")) for k, n in batch
            )
            return int(
                eng.sql(f"INSERT INTO nat VALUES {vals}").collect()[0][0]
            )

        insert([r for r in rows if r[0] < _P30_SPLIT])
        # the clash batch's bucket footprint, derived Spark-side with
        # the expression snapshots.bucket_column builds for the INSERT
        # paths: pmod(xxhash64(key), n)
        clash_keys = [_P30_CLASH_KEY, k1, k2]
        batch_buckets = {
            r[0]
            for r in spark.range(0, 1)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.pmod(
                                F.xxhash64(F.lit(k).cast("long")),
                                F.lit(_P30_BUCKETS),
                            ).cast("int")
                            for k in clash_keys
                        ]
                    )
                ).alias("b")
            )
            .distinct()
            .collect()
        }
        rejected = False
        try:
            insert([(k, "dup" if k == _P30_CLASH_KEY else f"u{k}") for k in clash_keys])
        except UniqueIndexError:
            rejected = True
        # the physical pruning property: the clash probe's snapshot
        # read touches ONLY segment files recorded under the batch's
        # buckets, and strictly fewer than the full table's files
        snaps = TableSnapshots(eng.store.table_dir("p30db", "nat"))
        desc = eng.store.get_table("p30db", "nat")
        pruned = snaps.read(spark, desc.spark_schema(), buckets=batch_buckets)
        # full normalized paths, never basenames: a bucketed commit
        # writes per-__bucket=K files that SHARE one part-file basename
        scanned = {
            _os.path.normpath(r[0].replace("file://", ""))
            for r in pruned.select(F.input_file_name()).distinct().collect()
        }
        entries = snaps.current_file_entries()
        matching = {
            _os.path.normpath(p) for p, b in entries if b in batch_buckets
        }
        all_files = {_os.path.normpath(p) for p, _ in entries}
        only_matching = (
            bool(scanned)
            and scanned <= matching
            and len(matching) < len(all_files)
        )
        admitted = (
            insert([r for r in rows if r[0] >= _P30_SPLIT])
            == len([r for r in rows if r[0] >= _P30_SPLIT])
        )
        absent = (
            eng.table("nat")
            .filter(F.col("n_nationkey").isin(k1, k2))
            .count()
            == 0
        )
        return (
            warehouse,
            rejected,
            absent,
            admitted,
            len(batch_buckets),
            only_matching,
        )

    warehouse, rejected, absent, admitted, n_buckets, only_matching = (
        materialized_value(spark, sf_dir, "p30_bucket_clash", build)
    )
    eng = Engine(spark, warehouse, database="p30db", user="pipeline")
    return eng.table("nat").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name").alias("n_name"),
        F.lit(bool(rejected)).alias("clash_batch_rejected"),
        F.lit(bool(absent)).alias("rejected_keys_absent"),
        F.lit(bool(admitted)).alias("clean_batch_admitted"),
        F.lit(int(n_buckets)).cast("long").alias("probe_buckets"),
        F.lit(bool(only_matching)).alias("probe_scans_only_matching_bucket"),
    )


# --------------------------------------------------------------------------
# The streaming admission harness behind e49-e52: p29's dual-detector
# decision fed by a real file-source stream, the production ingest
# shape (micro-batch -> snapshot commit -> O(new segment) LSH and
# SimHash refresh -> per-batch lookup), keeping both indexes current
# per arrival without rescanning the corpus (the EDBT 2019 streaming
# similarity-search design).
#
# _AdmissionStream is the one runner. It clones the pre-stream base
# (evens committed and indexed, _stream_gate_base) into the gate's own
# /tmp root, writes the odds as the gate's ordered feed (one file per
# micro-batch, see _write_ordered_feed), runs the foreachBatch /
# availableNow stream and returns the bids it consumed. Each micro-
# batch is committed with commit_once, so a replayed batch skips the
# append; the index refreshes diff the manifest, so they are no-ops on
# a replay and finish an interrupted refresh otherwise.
#
# A gate supplies only its policy: the feed (one filter per micro-
# batch, in arrival order) and a per-batch hook. A hook may refresh the
# indexes, write under the gate's base dir and record what it saw on
# the driver. It writes each output to a per-bid or per-epoch dir in
# overwrite mode, so a replay rewrites its own output; and any other
# commit to /docs must carry the manifest extra forward, or the
# commit_once guard is lost (e52's compaction). The shared hooks:
#   decide: per-batch FINAL decisions (e49, e52). Valid only for
#     id-ordered arrival: a pair's larger side doc_b never arrives
#     before its smaller side, so doc_b's count is complete at doc_b's
#     own micro-batch.
#   log:    every candidate pair involving the batch, both detectors
#     and no larger-side restriction, plus the batch's quality scores;
#     no decision (e50, e51). A sweep over the logs decides later.
#     new_candidate_pairs emits a pair exactly once, at its LATER
#     endpoint's batch, so the logs' union is the one-shot pair set
#     whatever the arrival order.
# The bookkeeping (bids consumed, refresh modes, sealed and amended
# epochs) is kept in driver records, not read back from listings of
# the output dirs: foreachBatch runs on the driver, so the records are
# exact, and they hold on any filesystem, not only a local one.
#
# Every gate ends with one check, pinned as stream_matches_batch: its
# final decision set equals p29's one-shot batch answer exactly
# (anti-join both ways plus count). Each oracle is p29's batch-blind,
# index-blind DuckDB replay plus the gate's verdict columns.
#
# Scale: a micro-batch pays O(batch) quality scoring, an O(new segment)
# refresh and O(batch x collision rate) lookups, never a corpus rescan;
# a sweep reads only the pair and quality logs, key-grouped.
# --------------------------------------------------------------------------
def _write_ordered_feed(df: DataFrame, src: str, conds: list) -> None:
    """Write one single-file parquet per condition into ``src`` with a
    GUARANTEED replay order: slice i becomes ``src/{i:02d}_slice.parquet``
    with an explicit mtime i*2 seconds apart. FileStreamSource orders
    micro-batches by file modification time, and the previous
    append-then-sleep(0.05) scheme relied on sub-second mtime
    granularity — on a coarse-mtime filesystem the two feed files could
    tie and fall back to listing order over random UUID part names
    (ADVICE r13). Each slice stages into a scratch dir and its part
    file is renamed into place, so the name is deterministic too.
    Every file operation (listStatus, rename, delete, setTimes) goes
    through the Hadoop FileSystem of ``src``'s scheme, so the feed
    stages the same way on a local disk, HDFS or s3a."""
    import time as _time

    spark = df.sparkSession
    path = spark._jvm.org.apache.hadoop.fs.Path
    root = path(src)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(root)
    base_ms = int((_time.time() - 60) * 1000)  # past; stream starts later
    for i, cond in enumerate(conds):
        stage = path(f"{src}__stage{i}")
        df.filter(cond).coalesce(1).write.mode("overwrite").parquet(str(stage))
        (part,) = [
            st.getPath() for st in fs.listStatus(stage)
            if st.getPath().getName().endswith(".parquet")
            and not st.getPath().getName().startswith(("_", "."))
        ]
        dest = path(root, f"{i:02d}_slice.parquet")
        fs.delete(dest, False)
        if not fs.rename(part, dest):
            raise OSError(f"cannot move {part} to {dest}")
        fs.delete(stage, True)
        ts = base_ms + 2000 * i
        fs.setTimes(dest, ts, ts)


def _id_ranges(odds: DataFrame, n: int) -> list:
    """Feed of ``n`` contiguous doc_id ranges, oldest first: id-ordered
    arrival, so every per-batch decision is final."""
    cuts = odds.approxQuantile("doc_id", [i / n for i in range(1, n)], 0.0)
    le = [F.col("doc_id") <= c for c in cuts]
    gt = [F.col("doc_id") > c for c in cuts]
    return [le[0]] + [gt[i] & le[i + 1] for i in range(n - 2)] + [gt[-1]]


class _AdmissionStream:
    """One gate's stream over a fresh clone of the pre-stream base at
    ``<root>/<session tag>``, with the ``snaps``/``lsh``/``sh`` handles
    over that ``base``."""

    def __init__(self, spark: SparkSession, sf_dir: str, root: str):
        from ..sources import load_table

        self.spark, self.sf_dir = spark, sf_dir
        self.base, self.snaps, self.lsh, self.sh = _clone_stream_gate_base(
            spark, sf_dir, root, session_tag(spark, sf_dir)
        )
        self.docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long"), "text"
        )

    def read(self, rel: str) -> DataFrame:
        return self.spark.read.parquet(f"{self.base}/{rel}")

    def write(self, df: DataFrame, rel: str) -> None:
        df.write.mode("overwrite").parquet(f"{self.base}/{rel}")

    def run(self, feed, on_batch) -> list[int]:
        """Stream the odds, sliced by ``feed(odds)`` (one filter per
        micro-batch), through ``on_batch(batch, bid)``; returns the
        distinct bids consumed, in arrival order."""
        odds = self.docs.filter(F.col("doc_id") % 2 == 1)
        src = self.base + "/src"
        _write_ordered_feed(odds, src, feed(odds))
        bids: list[int] = []

        def consume(bdf: DataFrame, bid: int) -> None:
            batch = bdf.select("doc_id", "text").persist()
            self.snaps.commit_once(batch, bid)
            on_batch(batch, bid)
            if bid not in bids:
                bids.append(bid)
            batch.unpersist()

        (
            self.spark.readStream.schema(self.docs.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(src)
            .writeStream.foreachBatch(consume)
            .option("checkpointLocation", self.base + "/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return bids

    def decide(self, batch: DataFrame, bid: int) -> tuple[str, str]:
        """Per-batch final decisions to ``decisions/bid=<bid>``; returns
        the (LSH, SimHash) refresh modes."""
        ids = batch.select("doc_id")
        # independent refreshes (own state dirs), overlapped so the
        # batch's small jobs keep the cores busy
        modes = run_concurrently(self.lsh.refresh, self.sh.refresh)
        batch_b = ids.withColumnRenamed("doc_id", "doc_b")
        lex, shc = (
            idx.new_candidate_pairs(ids, bounded=True).join(
                F.broadcast(batch_b), "doc_b", "left_semi"
            )
            for idx in (self.lsh, self.sh)
        )
        self.write(
            _admission_decisions(quality_frame(batch), lex, shc),
            f"decisions/bid={bid}",
        )
        return tuple(m["mode"] for m in modes)

    def log(self, batch: DataFrame, bid: int) -> None:
        """Log the batch's pairs to ``pairs_lex``/``pairs_sh`` and its
        quality scores to ``quality``, each under ``bid=<bid>``."""
        ids = batch.select("doc_id")

        def pair_leg(idx, log: str):
            def leg() -> None:
                idx.refresh()
                self.write(
                    idx.new_candidate_pairs(ids, bounded=True).select(
                        "doc_a", "doc_b"
                    ),
                    f"{log}/bid={bid}",
                )

            return leg

        # three independent chains of small jobs writing disjoint dirs,
        # overlapped
        run_concurrently(
            pair_leg(self.lsh, "pairs_lex"),
            pair_leg(self.sh, "pairs_sh"),
            lambda: self.write(
                quality_frame(batch).select("doc_id", "quality_score"),
                f"quality/bid={bid}",
            ),
        )

    def out_of_order(self) -> bool:
        """Arrival audit over the quality log: True iff some batch
        carries an id below an earlier batch's max (one row per batch)."""
        spans = sorted(
            (int(r["bid"]), int(r["lo"]), int(r["hi"]))
            for r in self.read("quality")
            .groupBy("bid")
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .collect()
        )
        return any(
            lo < max(h for _, _, h in spans[:i])
            for i, (_, lo, _) in enumerate(spans)
            if i > 0
        )

    def matches_batch(self, rel: str) -> bool:
        """The decision set under ``rel`` equals p29's one-shot answer.
        p29's memoized p16/p26 layouts hold what the streamed indexes
        now hold, so the corpus-wide signature derivation is paid once
        per family per session. Its answer is pinned: three comparison
        actions must not replay the quality and lookup lineage."""
        cols = _DECISION_COLS
        batch_ans = (
            p29_dual_detector_admission(self.spark, self.sf_dir)
            .select(*cols)
            .localCheckpoint()
        )
        got = self.read(rel).select(*cols)
        return (
            got.join(batch_ans, cols, "left_anti").count() == 0
            and batch_ans.join(got, cols, "left_anti").count() == 0
            and got.count() == batch_ans.count()
        )


def _with_verdicts(df: DataFrame, verdicts: dict, *cols: str) -> DataFrame:
    """The decision columns, then ``cols``, then each verdict as a
    constant boolean column."""
    return df.select(
        *_DECISION_COLS,
        *cols,
        *(F.lit(bool(v)).alias(k) for k, v in verdicts.items()),
    )


# e49: the policy is per-batch decisions over two id-ordered micro-
# batches, the fewest that make stream-vs-batch an incremental identity
# rather than a one-batch tautology (pinned as ran_multiple_batches).
def _e49_oracle() -> str:
    return f"""
    SELECT t.*, TRUE AS stream_matches_batch, TRUE AS ran_multiple_batches
    FROM ({_p29_oracle()}) t
    """


@register("e49_streaming_admission_parity", oracle=_e49_oracle())
def e49_streaming_admission_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    def build() -> tuple[str, dict]:
        run = _AdmissionStream(spark, sf_dir, "/tmp/seamdb_streamadmit")
        bids = run.run(lambda odds: _id_ranges(odds, 2), run.decide)
        return run.base, {
            "stream_matches_batch": run.matches_batch("decisions"),
            "ran_multiple_batches": len(bids) >= 2,
        }

    base, verdicts = materialized_value(
        spark, sf_dir, "e49_stream_admission", build
    )
    return _with_verdicts(spark.read.parquet(base + "/decisions"), verdicts)


# --------------------------------------------------------------------------
# p31: legacy-segment safety + compaction migration for the bucketed
# unique-index path — the branch p30 doesn't reach (tests
# tests/test_bucketing.py::test_legacy_unbucketed_segments_still_checked,
# previously pytest-only): rows inserted BEFORE bucketing was declared
# live in segments with NO bucket id, and the pruned clash probe must
# ALWAYS scan them (they might hold any key — skipping them would
# admit duplicates), while compact() migrates them into hash-clustered
# prunable segments. Sequence: seed (nation < 13) into a LEGACY
# segment → declare bucketing → insert nation >= 13 (clustered
# segments) → clash batch {7, 39, 45} (single-bucket footprint, key 7
# exists in the LEGACY segment) rejected, with the probe's physical
# scan pinned to INCLUDE the legacy file despite the bucket
# restriction (safety) → compact() → every manifest entry now carries
# a bucket id (migration) → the SAME probe now touches only
# matching-bucket files, strictly fewer than all (prunability
# restored) → the clash re-attempt still rejected. Decisions replayed
# batch-blind in DuckDB from raw nation; physical properties pinned as
# measured booleans (p30's input_file_name() audit).
#
# Scale: this is the schema-evolution story at 100 TB — declaring
# bucketing on an existing petabyte table must not require an
# immediate rewrite (legacy segments stay correct, just unpruned), and
# one OPTIMIZE pass restores O(touched buckets) clash checks. The
# warehouse is session-memoized; build() starts from
# fresh_external_dir so bench gate-retimes re-enter the exact
# first-build sequence.
# --------------------------------------------------------------------------
def _p31_oracle() -> str:
    k1, k2 = _P30_FRESH_KEYS
    return f"""
    SELECT n_nationkey, n_name,
           CAST((SELECT COUNT(*) FROM nation
                 WHERE n_nationkey IN ({_P30_CLASH_KEY}, {k1}, {k2})
                   AND n_nationkey < {_P30_SPLIT}) > 0
                AS BOOLEAN) AS legacy_clash_rejected,
           CAST((SELECT COUNT(*) FROM nation
                 WHERE n_nationkey IN ({k1}, {k2})) = 0
                AS BOOLEAN) AS rejected_keys_absent,
           TRUE AS pre_compact_probe_includes_legacy,
           TRUE AS migrated_all_bucketed,
           TRUE AS post_compact_probe_pruned,
           CAST((SELECT COUNT(*) FROM nation
                 WHERE n_nationkey IN ({_P30_CLASH_KEY}, {k1}, {k2})
                   AND n_nationkey < {_P30_SPLIT}) > 0
                AS BOOLEAN) AS post_compact_clash_rejected
    FROM nation
    """


@register("p31_legacy_bucket_migration", oracle=_p31_oracle())
def p31_legacy_bucket_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os as _os
    from ..engine import Engine
    from ..errors import UniqueIndexError
    from ..snapshots import TableSnapshots
    from ..sources import load_table

    tag = session_tag(spark, sf_dir)
    k1, k2 = _P30_FRESH_KEYS
    clash_keys = [_P30_CLASH_KEY, k1, k2]

    def build() -> tuple[str, bool, bool, bool, bool, bool, bool]:
        warehouse = fresh_external_dir("/tmp/seamdb_legacybucket", tag) + "/wh"
        eng = Engine(spark, warehouse, database="p31db", user="pipeline")
        eng.sql(
            "CREATE TABLE nat (n_nationkey bigint PRIMARY KEY, n_name text)"
        )
        rows = sorted(
            (int(r.n_nationkey), str(r.n_name))
            for r in load_table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name")
            .collect()
        )

        def insert(batch) -> int:
            vals = ", ".join(
                "({}, '{}')".format(k, n.replace("'", "''")) for k, n in batch
            )
            return int(
                eng.sql(f"INSERT INTO nat VALUES {vals}").collect()[0][0]
            )

        def try_clash() -> bool:
            try:
                insert(
                    [
                        (k, "dup" if k == _P30_CLASH_KEY else f"u{k}")
                        for k in clash_keys
                    ]
                )
                return False
            except UniqueIndexError:
                return True

        snaps = TableSnapshots(eng.store.table_dir("p31db", "nat"))
        desc = eng.store.get_table("p31db", "nat")

        def probe_files(buckets: set[int]) -> set[str]:
            pruned = snaps.read(spark, desc.spark_schema(), buckets=buckets)
            # full normalized paths, never basenames: a bucketed
            # commit writes per-__bucket=K files that SHARE one
            # part-file basename
            return {
                _os.path.normpath(r[0].replace("file://", ""))
                for r in pruned.select(F.input_file_name())
                .distinct()
                .collect()
            }

        # seed BEFORE bucketing: one legacy segment, no bucket ids
        insert([r for r in rows if r[0] < _P30_SPLIT])
        eng.bucket_table("nat", _P30_BUCKETS)
        insert([r for r in rows if r[0] >= _P30_SPLIT])

        batch_buckets = {
            r[0]
            for r in spark.range(0, 1)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.pmod(
                                F.xxhash64(F.lit(k).cast("long")),
                                F.lit(_P30_BUCKETS),
                            ).cast("int")
                            for k in clash_keys
                        ]
                    )
                ).alias("b")
            )
            .distinct()
            .collect()
        }
        rejected = try_clash()
        entries = snaps.current_file_entries()
        legacy = {_os.path.normpath(p) for p, b in entries if b is None}
        scanned = probe_files(batch_buckets)
        # safety: the bucket-restricted probe still reads every legacy
        # (unbucketed) file — key 7 lives there and nowhere else
        includes_legacy = bool(legacy) and legacy <= scanned

        eng.compact("nat")
        entries2 = snaps.current_file_entries()
        migrated = bool(entries2) and all(b is not None for _, b in entries2)
        scanned2 = probe_files(batch_buckets)
        matching2 = {
            _os.path.normpath(p) for p, b in entries2 if b in batch_buckets
        }
        all2 = {_os.path.normpath(p) for p, _ in entries2}
        pruned_after = (
            bool(scanned2)
            and scanned2 <= matching2
            and len(matching2) < len(all2)
        )
        rejected_after = try_clash()
        absent = (
            eng.table("nat")
            .filter(F.col("n_nationkey").isin(k1, k2))
            .count()
            == 0
        )
        return (
            warehouse,
            rejected,
            absent,
            includes_legacy,
            migrated,
            pruned_after,
            rejected_after,
        )

    (
        warehouse,
        rejected,
        absent,
        includes_legacy,
        migrated,
        pruned_after,
        rejected_after,
    ) = materialized_value(spark, sf_dir, "p31_legacy_bucket", build)
    eng = Engine(spark, warehouse, database="p31db", user="pipeline")
    return eng.table("nat").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name").alias("n_name"),
        F.lit(bool(rejected)).alias("legacy_clash_rejected"),
        F.lit(bool(absent)).alias("rejected_keys_absent"),
        F.lit(bool(includes_legacy)).alias(
            "pre_compact_probe_includes_legacy"
        ),
        F.lit(bool(migrated)).alias("migrated_all_bucketed"),
        F.lit(bool(pruned_after)).alias("post_compact_probe_pruned"),
        F.lit(bool(rejected_after)).alias("post_compact_clash_rejected"),
    )


# --------------------------------------------------------------------------
# e50: OUT-OF-ORDER streaming ingest admission — e49 without its one
# assumption, id-ordered arrival. The policy logs every batch (the
# harness's log hook) and decides nothing per batch; one finalization
# sweep after the feed drains distinct-unions the pair logs, counts
# per odd larger-side doc, joins the quality log and applies p29's
# precedence. The feed is deliberately interleaved: file 1 holds the
# odds with doc_id % 4 == 3, file 2 those with doc_id % 4 == 1, so the
# second micro-batch carries ids BELOW the first batch's (pinned as
# out_of_order_observed), and some pairs' smaller side arrives a full
# batch after their larger side (pinned as finalization_reconciled,
# data-derived in BOTH engines as "a candidate pair with doc_a%4==1
# and doc_b%4==3 exists", the exact shape a per-batch-final consumer
# like e49's would miscount). In production the sweep runs
# periodically over the not-yet-finalized bid range (e51): the
# lateness bound is the sweep period, the contract of a watermark.
# --------------------------------------------------------------------------
def _e50_oracle() -> str:
    from .dedup import SIMHASH_MAX_HAMMING, _lsh_cand_ctes, _simhash_sig_sql

    sim = _simhash_sig_sql("sh_").strip()
    return f"""
    SELECT t.*,
           TRUE AS stream_matches_batch,
           TRUE AS ran_multiple_batches,
           TRUE AS out_of_order_observed,
           (WITH {_lsh_cand_ctes()},
            {sim},
            allp AS (
              SELECT doc_a, doc_b FROM cand
              UNION
              SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
              FROM sh_sigs s1 JOIN sh_sigs s2 ON s1.doc_id < s2.doc_id
              WHERE bit_count(xor(s1.simhash, s2.simhash))
                      <= {SIMHASH_MAX_HAMMING}
            )
            SELECT COUNT(*) > 0 FROM allp
            WHERE doc_a % 4 = 1 AND doc_b % 4 = 3
           ) AS finalization_reconciled
    FROM ({_p29_oracle()}) t
    """


@register("e50_outoforder_admission", oracle=_e50_oracle())
def e50_outoforder_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> tuple[str, dict]:
        run = _AdmissionStream(spark, sf_dir, "/tmp/seamdb_ooo_admit")
        bids = run.run(
            lambda odds: [F.col("doc_id") % 4 == r for r in (3, 1)], run.log
        )
        # the finalization sweep: pair logs -> decisions, one shot
        lex, shp = (
            run.read(log).select("doc_a", "doc_b").distinct().localCheckpoint()
            for log in ("pairs_lex", "pairs_sh")
        )
        reconciled = (
            lex.unionByName(shp)
            .filter((F.col("doc_a") % 4 == 1) & (F.col("doc_b") % 4 == 3))
            .limit(1)
            .count()
            > 0
        )
        run.write(
            _admission_decisions(
                run.read("quality"),
                lex.filter(F.col("doc_b") % 2 == 1),
                shp.filter(F.col("doc_b") % 2 == 1),
            ),
            "decisions",
        )
        return run.base, {
            "stream_matches_batch": run.matches_batch("decisions"),
            "ran_multiple_batches": len(bids) >= 2,
            "out_of_order_observed": run.out_of_order(),
            "finalization_reconciled": reconciled,
        }

    base, verdicts = materialized_value(
        spark, sf_dir, "e50_ooo_admission", build
    )
    return _with_verdicts(spark.read.parquet(base + "/decisions"), verdicts)


# --------------------------------------------------------------------------
# e51 — PERIODIC finalization sweeps: e50's production shape. A
# production ingest never drains, so decisions seal per epoch. The
# policy logs every batch (the harness's log hook) and, every
# E51_SEAL_EVERY micro-batches, runs a sweep inside the stream: it
# seals the docs that arrived in that epoch's bid range using every
# pair logged so far, and amends earlier-sealed docs hit by a pair that
# landed AFTER their seal (the smaller-id endpoint arriving a full
# epoch later). The lateness bound is the sweep period (the watermark
# contract); seal and amendment dirs are per-epoch overwrites, so a
# replayed micro-batch re-runs its sweep deterministically. The feed
# interleaves residues mod 8 across FOUR micro-batches (order 7,3,5,1)
# so late pairs span a seal boundary: epoch 0 seals bids 0-1 (residues
# 7,3), epoch 1 seals bids 2-3 (residues 5,1), and any near-dup pair
# whose smaller side has residue 5/1 and larger side residue 3/7 is
# logged after its doc_b sealed — the amendment case, pinned
# data-derived in BOTH engines.
# --------------------------------------------------------------------------
E51_SEAL_EVERY = 2  # micro-batches per seal epoch (the sweep period)


def _e51_oracle() -> str:
    from .dedup import SIMHASH_MAX_HAMMING, _lsh_cand_ctes, _simhash_sig_sql

    sim = _simhash_sig_sql("sh_").strip()
    return f"""
    WITH {_lsh_cand_ctes()},
    {sim},
    allp AS (
      SELECT doc_a, doc_b FROM cand
      UNION
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM sh_sigs s1 JOIN sh_sigs s2 ON s1.doc_id < s2.doc_id
      WHERE bit_count(xor(s1.simhash, s2.simhash))
              <= {SIMHASH_MAX_HAMMING}
    ),
    -- a doc's sealed decision is amended iff some pair's smaller-id
    -- endpoint arrives an epoch AFTER the doc sealed: feed order
    -- 7,3,5,1 (mod 8) puts residues 7/3 in seal epoch 0 and 5/1 in
    -- epoch 1, so the late pairs are exactly (doc_a%8 IN (5,1),
    -- doc_b%8 IN (3,7)) — doc_b sealed at epoch 0, pair logged at the
    -- later endpoint's bid in epoch 1
    amended_docs AS (
      SELECT DISTINCT doc_b AS doc_id FROM allp
      WHERE doc_b % 8 IN (3, 7) AND doc_a % 8 IN (1, 5)
    )
    SELECT t.doc_id, t.quality_score, t.n_lexical_collisions,
           t.n_simhash_collisions, t.status,
           CAST(CASE WHEN t.doc_id % 8 IN (3, 7) THEN 0 ELSE 1 END
                AS INTEGER) AS seal_epoch,
           (a.doc_id IS NOT NULL) AS amended,
           TRUE AS stream_matches_batch,
           TRUE AS ran_multiple_epochs,
           (SELECT COUNT(*) > 0 FROM amended_docs)
             AS late_pairs_amended,
           TRUE AS out_of_order_observed
    FROM ({_p29_oracle()}) t
    LEFT JOIN amended_docs a ON a.doc_id = t.doc_id
    """


@register("e51_periodic_finalization", oracle=_e51_oracle())
def e51_periodic_finalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    def build() -> tuple[str, dict]:
        run = _AdmissionStream(spark, sf_dir, "/tmp/seamdb_epoch_seal")
        sealed: set[int] = set()  # epochs swept, recorded on the driver
        amended: set[int] = set()

        def decisions_for(qual: DataFrame, upto_bid: int) -> DataFrame:
            """Records for the docs in ``qual`` from every pair logged
            in bids <= upto_bid."""
            lex, shp = (
                run.read(log)
                .filter(F.col("bid") <= upto_bid)
                .select("doc_a", "doc_b")
                .distinct()
                .filter(F.col("doc_b") % 2 == 1)
                for log in ("pairs_lex", "pairs_sh")
            )
            return _admission_decisions(qual, lex, shp)

        def sweep(epoch: int, upto_bid: int) -> None:
            """Seal epoch ``epoch`` and amend the earlier-sealed docs
            hit by pairs logged in its bid range."""
            quality = run.read("quality")
            lo = epoch * E51_SEAL_EVERY
            in_epoch = (F.col("bid") >= lo) & (F.col("bid") <= upto_bid)

            def seal() -> None:
                run.write(
                    decisions_for(quality.filter(in_epoch), upto_bid),
                    f"sealed/epoch={epoch}",
                )

            def amend() -> None:
                # each pair is logged once, at its later endpoint's bid,
                # so the epoch's bid range is exactly "newly logged";
                # doc_b's arrival bid comes from the quality log
                hit = (
                    run.read("pairs_lex").filter(in_epoch)
                    .select("doc_a", "doc_b")
                    .unionByName(
                        run.read("pairs_sh").filter(in_epoch)
                        .select("doc_a", "doc_b")
                    )
                    .filter(F.col("doc_b") % 2 == 1)
                    .select(F.col("doc_b").alias("doc_id"))
                    .distinct()
                )
                late = hit.join(
                    quality.filter(F.col("bid") < lo).select(
                        "doc_id", "quality_score"
                    ),
                    "doc_id",
                )
                run.write(
                    decisions_for(late, upto_bid), f"amendments/epoch={epoch}"
                )

            if epoch == 0:
                seal()
            else:
                # both read the same written logs and write disjoint
                # epoch dirs, so they overlap
                run_concurrently(seal, amend)
                amended.add(epoch)
            sealed.add(epoch)

        def on_batch(batch: DataFrame, bid: int) -> None:
            run.log(batch, bid)
            if (bid + 1) % E51_SEAL_EVERY == 0:
                sweep((bid + 1) // E51_SEAL_EVERY - 1, bid)

        bids = run.run(
            lambda odds: [F.col("doc_id") % 8 == r for r in (7, 3, 5, 1)],
            on_batch,
        )
        # drain-time sweep: seal any bid range the periodic cadence left
        # open (none when the batch count divides evenly)
        if len(sealed) * E51_SEAL_EVERY <= max(bids):
            sweep(len(sealed), max(bids))

        # final assembly: latest record per doc (amendment over seal),
        # plus the doc's seal epoch and whether it was amended
        rec = _DECISION_COLS
        seals = run.read("sealed").withColumnRenamed("epoch", "seal_epoch")
        if amended:
            latest_am = (
                run.read("amendments")
                .withColumn(
                    "__rn",
                    F.row_number().over(
                        W.partitionBy("doc_id").orderBy(F.desc("epoch"))
                    ),
                )
                .filter(F.col("__rn") == 1)
                .select(*rec)
            )
        else:
            latest_am = seals.select(*rec).limit(0)
        amended_ids = latest_am.select("doc_id")
        run.write(
            seals.join(amended_ids, "doc_id", "left_anti")
            .select(*rec, "seal_epoch")
            .unionByName(
                latest_am.join(
                    seals.select("doc_id", "seal_epoch"), "doc_id"
                ).select(*rec, "seal_epoch")
            )
            .join(
                amended_ids.withColumn("amended", F.lit(True)),
                "doc_id",
                "left",
            )
            .select(
                *rec,
                F.col("seal_epoch").cast("int").alias("seal_epoch"),
                F.coalesce("amended", F.lit(False)).alias("amended"),
            ),
            "final",
        )
        return run.base, {
            "stream_matches_batch": run.matches_batch("final"),
            "ran_multiple_epochs": len(sealed) >= 2,
            "late_pairs_amended": latest_am.count() > 0,
            "out_of_order_observed": run.out_of_order(),
        }

    base, verdicts = materialized_value(spark, sf_dir, "e51_epoch_seal", build)
    return _with_verdicts(
        spark.read.parquet(base + "/final"), verdicts, "seal_epoch", "amended"
    )


# --------------------------------------------------------------------------
# e52 — ONLINE COMPACTION DURING STREAMING INGEST: the production
# interaction between the maintained indexes and the snapshot layout.
# A long-running ingest table accumulates small per-batch segments, and
# OPTIMIZE (engine.compact's rewrite-as-one-segment) runs while the
# stream keeps consuming. Two things must survive: (1) the incremental
# indexes' manifest diff sees every pre-compaction file VANISH and must
# take the REBUILD branch (p25/p28's contract) rather than double-index
# or drop documents, and the post-rebuild batch's decisions must be
# exactly what they would have been without the compaction; (2) the
# exactly-once guard (commit_once's last_bid in the manifest extra)
# must be carried through the compaction's overwrite commit, else a
# micro-batch replay arriving just after OPTIMIZE would double-commit.
# The policy: per-batch decisions (the harness's decide hook) over
# three id-ordered micro-batches; after batch 1's decisions land, the
# table is compacted to ONE segment with its extra carried forward;
# batch 2's refreshes must then both report mode="rebuild". Scale: the
# rebuild is the p25/p28 cost (two corpus passes, amortized over the
# compaction interval); per-batch cost before and after is unchanged.
# --------------------------------------------------------------------------
def _e52_oracle() -> str:
    return f"""
    SELECT t.*,
           TRUE AS stream_matches_batch,
           TRUE AS ran_multiple_batches,
           TRUE AS compaction_rebuilt,
           TRUE AS guard_preserved
    FROM ({_p29_oracle()}) t
    """


@register("e52_compaction_during_ingest", oracle=_e52_oracle())
def e52_compaction_during_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    def build() -> tuple[str, dict]:
        # the compaction rewrites only this gate's clone of the base
        run = _AdmissionStream(spark, sf_dir, "/tmp/seamdb_online_compact")
        snaps = run.snaps
        modes: dict[int, tuple[str, str]] = {}  # per-bid refresh modes
        compacted = {"to_one": False, "guard": False}

        def on_batch(batch: DataFrame, bid: int) -> None:
            modes[bid] = run.decide(batch, bid)
            if bid == 1:
                # ONLINE OPTIMIZE: fold the table (evens + two decided
                # batches) into one segment, carrying extra forward
                # EXPLICITLY (engine.compact preserves bucketing the
                # same way)
                snaps.commit(
                    snaps.read(spark, run.docs.schema).coalesce(1),
                    mode="overwrite",
                    extra=snaps.current_extra(),
                )
                compacted["to_one"] = len(snaps.current_files()) == 1
                compacted["guard"] = (
                    int(snaps.current_extra().get("last_bid", -1)) == 1
                )

        bids = run.run(lambda odds: _id_ranges(odds, 3), on_batch)
        inc, reb = ("incremental",) * 2, ("rebuild",) * 2
        return run.base, {
            "stream_matches_batch": run.matches_batch("decisions"),
            "ran_multiple_batches": len(bids) >= 3,
            # pre-compaction batches refresh incrementally; the first
            # post-compaction batch must rebuild both index families
            "compaction_rebuilt": (
                [modes.get(b) for b in range(3)] == [inc, inc, reb]
                and compacted["to_one"]
            ),
            "guard_preserved": compacted["guard"],
        }

    base, verdicts = materialized_value(
        spark, sf_dir, "e52_online_compact", build
    )
    return _with_verdicts(spark.read.parquet(base + "/decisions"), verdicts)
