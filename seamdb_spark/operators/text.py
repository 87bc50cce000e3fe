"""Text-analysis operators over the ``documents`` table.

Beyond-reference extension (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting. All pure
DataFrame expressions (JVM codegen); every query carries a DuckDB
oracle computing the identical deterministic formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources import load_table
from .hashing import md5_prefix_long, md5_prefix_long_sql
from .ranks import global_rank
from .registry import register
from .rounding import dround

# Marker-word lists for the n-gram language heuristic. The fixture text
# is synthetic English-ish vocabulary, so the heuristic's *output* is
# what's checked (same formula both engines), not agreement with the
# fixture's synthetic `lang` label.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "fast", "slow"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _in_list_sql(items: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in items)


# --------------------------------------------------------------------------
# Token counting: whitespace + BPE-ish regex token counts
# --------------------------------------------------------------------------
@register(
    "t01_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)      AS ws_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)             AS bpe_ish_tokens,
           CAST(length(text) AS BIGINT)                                     AS n_chars
    FROM documents
    """,
)
def t01_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("ws_tokens"),
        F.regexp_count(
            F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
        ).cast("long").alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


# --------------------------------------------------------------------------
# Quality scoring: length / punctuation / stopword ratios
# --------------------------------------------------------------------------
def quality_frame(docs: DataFrame) -> DataFrame:
    """t02's quality kernel over an arbitrary (doc_id, text) frame —
    row-local, so it applies unchanged to a streaming micro-batch
    (e49 computes per-batch admission quality with exactly this
    expression tree, guaranteeing bitwise-equal scores to the batch
    t02 run)."""
    stop_list = _in_list_sql(STOPWORDS)
    feats = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens_i"),
        F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]")).alias("n_punct"),
        F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_list})))").alias("n_stop"),
    )
    punct_ratio = F.col("n_punct") / F.col("n_chars")
    stop_ratio = F.col("n_stop") / F.col("n_tokens_i")
    return feats.select(
        "doc_id",
        "n_chars",
        F.col("n_tokens_i").cast("long").alias("n_tokens"),
        dround(punct_ratio, 6).alias("punct_ratio"),
        dround(stop_ratio, 6).alias("stopword_ratio"),
        dround(F.col("n_chars") / F.col("n_tokens_i"), 6).alias("avg_token_len"),
        dround(
            F.least(F.lit(1.0), F.col("n_tokens_i") / 100.0)
            * (1.0 - punct_ratio)
            * (0.5 + stop_ratio),
            6,
        ).alias("quality_score"),
    )



# doc_id + the composite quality score, as a standalone SELECT — reused
# by the d11 canonical-keeper oracle so both engines rank by the exact
# same formula (single source of truth for the DuckDB side).
QUALITY_SQL = f"""
    SELECT doc_id,
           ROUND(LEAST(1.0, len(string_split(text, ' ')) / 100.0)
                 * (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                        * 1.0 / length(text))
                 * (0.5 + len(list_filter(string_split(text, ' '),
                        t -> t IN ({_in_list_sql(STOPWORDS)})))
                        * 1.0 / len(string_split(text, ' '))), 6) AS quality_score
    FROM documents
"""


@register(
    "t02_quality_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ({_in_list_sql(STOPWORDS)}))) AS n_stop
      FROM documents
    ),
    scored AS ({QUALITY_SQL})
    SELECT f.doc_id, f.n_chars,
           CAST(f.n_tokens AS BIGINT) AS n_tokens,
           ROUND(f.n_punct * 1.0 / f.n_chars, 6) AS punct_ratio,
           ROUND(f.n_stop * 1.0 / f.n_tokens, 6) AS stopword_ratio,
           ROUND(f.n_chars * 1.0 / f.n_tokens, 6) AS avg_token_len,
           s.quality_score
    FROM feats f JOIN scored s ON f.doc_id = s.doc_id
    """,
)
def t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_frame(_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# Language ID: marker-word scores + deterministic argmax
# --------------------------------------------------------------------------
def _lang_oracle() -> str:
    score_cols = ",\n             ".join(
        f"len(list_filter(string_split(lower(text), ' '),"
        f" t -> t IN ({_in_list_sql(words)}))) AS s_{lang}"
        for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    # deterministic argmax: first language (in fixed order) achieving max
    case = "CASE "
    for lang in langs:
        others = " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang)
        case += f"WHEN s_{lang} > 0 AND {others} THEN '{lang}' "
    case += "ELSE 'unknown' END"
    return f"""
    WITH scores AS (
      SELECT doc_id, lang AS labeled_lang,
             {score_cols}
      FROM documents
    )
    SELECT doc_id, labeled_lang, {case} AS pred_lang,
           CAST(GREATEST({", ".join("s_" + lang for lang in langs)}) AS BIGINT)
               AS best_score
    FROM scores
    """


@register("t03_lang_id", oracle=_lang_oracle())
def t03_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    langs = list(LANG_MARKERS)
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            F.expr(
                f"size(filter(split(lower(text), ' '),"
                f" t -> t IN ({_in_list_sql(words)})))"
            ).alias(f"s_{lang}")
            for lang, words in LANG_MARKERS.items()
        ],
    )
    pred = F.lit("unknown")
    # build CASE in reverse so the first language in fixed order wins ties
    for lang in reversed(langs):
        cond = F.col(f"s_{lang}") > 0
        for other in langs:
            if other != lang:
                cond = cond & (F.col(f"s_{lang}") >= F.col(f"s_{other}"))
        pred = F.when(cond, lang).otherwise(pred)
    return scored.select(
        "doc_id",
        "labeled_lang",
        pred.alias("pred_lang"),
        F.greatest(*[F.col(f"s_{lang}") for lang in langs]).cast("long").alias("best_score"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting: normalized-content digest + length bucket
# --------------------------------------------------------------------------
@register(
    "t04_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '[^a-z0-9]+', ' ', 'g'))   AS fingerprint,
           substr(md5(regexp_replace(lower(trim(text)), '[^a-z0-9]+', ' ', 'g')), 1, 4)
                                                                            AS fp_prefix,
           CAST(length(text) // 100 AS BIGINT)                              AS len_bucket
    FROM documents
    """,
)
def t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9]+", " ")
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.substring(F.md5(normalized), 1, 4).alias("fp_prefix"),
        F.floor(F.length("text") / 100).cast("long").alias("len_bucket"),
    )


# --------------------------------------------------------------------------
# Word frequency via explode (array/lateral coverage)
# --------------------------------------------------------------------------
@register(
    "t05_wordcount",
    oracle="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    HAVING COUNT(*) >= 10
    """,
)
def t05_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .filter(F.col("freq") >= 10)
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per document
# --------------------------------------------------------------------------
@register(
    "t06_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             ROUND(tf.tf * LN(n.n_docs * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, tok, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) AS rk
      FROM scored
    )
    SELECT doc_id, tok, tfidf, rk FROM ranked WHERE rk <= 3
    """,
)
def t06_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: tf and df are both partial-aggregated shuffles on (doc, tok)
    # / tok; the doc-count scalar broadcasts; ranking shuffles once on
    # doc_id. No driver-side anything.
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            dround(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tfidf", "rk")
    )


# --------------------------------------------------------------------------
# Salted heavy-hitter aggregation: two-phase count for skewed keys.
# Phase 1 groups on (token, salt) so one hot token spreads over 16
# reducers; phase 2 merges the partials. Result identical to a plain
# groupBy — the salt is engine-internal.
# --------------------------------------------------------------------------
@register(
    "t07_heavy_hitters_salted",
    oracle="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    HAVING COUNT(*) >= 100
    """,
)
def t07_heavy_hitters_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    salted = toks.withColumn("salt", F.xxhash64(F.monotonically_increasing_id()) % 16)
    partial = salted.groupBy("token", "salt").agg(F.count("*").alias("c"))
    return (
        partial.groupBy("token")
        .agg(F.sum("c").alias("freq"))
        .filter(F.col("freq") >= 100)
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split: hash-mod bucketing.
#
# Training-pipeline staple: a split that is (a) stable across runs and
# engines (md5-prefix hash, not rand()), (b) computed row-local — no
# shuffle, no global ordering, scales to any table size because each
# row's assignment depends only on its own key.
# --------------------------------------------------------------------------
@register(
    "t08_train_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             {md5_prefix_long_sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents
    )
    """,
)
def t08_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bucket = md5_prefix_long(F.col("doc_id").cast("string")) % 100
    return docs.select(
        "doc_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# --------------------------------------------------------------------------
# Stratified sampling: exact per-stratum fractions, deterministic order.
#
# row_number over (hash, doc_id) within each `lang` stratum gives a
# reproducible uniform-ish permutation; keeping rn <= ceil(n/10) yields
# an exact 10% per stratum. One shuffle on the stratum key; at scale the
# count-per-stratum is a broadcast-sized side input (Spark computes it
# as a window partial in the same shuffle).
# --------------------------------------------------------------------------
@register(
    "t09_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {md5_prefix_long_sql("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    WHERE rn <= (n + 9) // 10
    """,
)
def t09_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    h = md5_prefix_long(F.col("doc_id").cast("string"))
    w = W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(W.partitionBy("lang")).alias("n"),
        )
        .filter(F.col("rn") <= F.expr("(n + 9) div 10"))
        .select("doc_id", "lang")
    )


# --------------------------------------------------------------------------
# Deterministic global shuffle: reproducible training-example order.
#
# Orders the corpus by (md5-hash, doc_id) — an engine-independent,
# seed-stable permutation, unlike rand(). Spark executes the total
# order as a range-partitioned sort (sampled boundaries, no single
# reducer), so the plan holds at any scale; the hash key is uniform by
# construction, so range partitions are balanced even if doc_ids are
# skewed or sorted.
# --------------------------------------------------------------------------
@register(
    "t10_deterministic_shuffle",
    oracle=f"""
    SELECT doc_id,
           ROW_NUMBER() OVER (
             ORDER BY {md5_prefix_long_sql("CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS shuffle_pos
    FROM documents
    """,
)
def t10_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT a global window (ROW_NUMBER with no PARTITION BY collapses to a
    # single partition in Spark): range-partition on the hash key, then
    # compose the global rank from per-bucket row_numbers plus bucket
    # offsets (one #buckets-row aggregate to the driver). Range buckets
    # are ordered, so offset(bucket) + rank-in-bucket IS the global rank
    # — no single-reducer stage, and no .rdd/Python round-trip of the
    # corpus (the per-bucket window shuffles each bucket to one task,
    # the same parallelism the range partitioning already has).
    docs = _docs(spark, sf_dir)
    h = md5_prefix_long(F.col("doc_id").cast("string"))
    bucketed = (
        docs.select("doc_id", h.alias("h"))
        .repartitionByRange(64, F.col("h"), F.col("doc_id"))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()  # pin the row↔bucket assignment across jobs
    )
    stats = bucketed.groupBy("__pid").agg(F.count("*").alias("__cnt")).collect()
    offsets, acc = [], 0
    for r in sorted(stats, key=lambda r: r["__pid"]):
        offsets.append((r["__pid"], acc))
        acc += r["__cnt"]
    odf = spark.createDataFrame(offsets, "__pid int, __off long")
    w = W.partitionBy("__pid").orderBy("h", "doc_id")
    return (
        bucketed.join(F.broadcast(odf), "__pid")
        .withColumn(
            "shuffle_pos",
            (F.col("__off") + F.row_number().over(w)).cast("long"),
        )
        .select("doc_id", "shuffle_pos")
    )


# --------------------------------------------------------------------------
# Gopher-style repetition signals: the quality filters a training-data
# pipeline runs before dedup (Rae et al. 2021 "Scaling Language Models"
# repetition heuristics — top-token fraction, distinct-token ratio,
# duplicate-bigram fraction). Pure array expressions (JVM codegen, no
# explode/shuffle: per-doc arrays are ~55 tokens, so the O(distinct ×
# tokens) in-array count stays cheap and row-local — zero shuffles,
# embarrassingly parallel at any corpus size).
# --------------------------------------------------------------------------
@register(
    "t11_repetition_signals",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    feats AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             len(list_distinct(t)) AS n_distinct,
             list_max(list_transform(list_distinct(t),
                 d -> len(list_filter(t, x -> x = d)))) AS top_cnt,
             len(list_distinct(list_transform(range(1, len(t)),
                 i -> concat_ws(' ', t[i], t[i+1])))) AS nb_distinct,
             len(t) - 1 AS nb
      FROM toks WHERE len(t) >= 2
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(n_distinct * 1.0 / n_tokens, 6) AS distinct_token_ratio,
           ROUND(top_cnt * 1.0 / n_tokens, 6) AS top_token_frac,
           ROUND(1.0 - nb_distinct * 1.0 / nb, 6) AS dup_bigram_frac
    FROM feats
    """,
)
def t11_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    feats = docs.select(
        "doc_id",
        F.size(t).alias("n_tokens_i"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        F.array_max(
            F.transform(
                F.array_distinct(t),
                lambda d: F.size(F.filter(t, lambda x: x == d)),
            )
        ).alias("top_cnt"),
        F.size(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(split(text, ' ')) - 2),"
                    " i -> concat_ws(' ', split(text, ' ')[i],"
                    " split(text, ' ')[i+1]))"
                )
            )
        ).alias("nb_distinct"),
        (F.size(t) - 1).alias("nb"),
    ).filter(F.col("n_tokens_i") >= 2)
    return feats.select(
        "doc_id",
        F.col("n_tokens_i").cast("long").alias("n_tokens"),
        dround(F.col("n_distinct") / F.col("n_tokens_i"), 6).alias(
            "distinct_token_ratio"
        ),
        dround(F.col("top_cnt") / F.col("n_tokens_i"), 6).alias("top_token_frac"),
        dround(1.0 - F.col("nb_distinct") / F.col("nb"), 6).alias(
            "dup_bigram_frac"
        ),
    )


# --------------------------------------------------------------------------
# Unigram language-model quality score (CCNet-style LM filtering).
#
# Fit a unigram LM on the corpus itself (token frequency / total
# tokens), then score each document by its mean token log-probability —
# the classic perplexity-bucket signal used to quality-partition
# training data. Per-token log-probs are quantized to int64 MILLINATS
# before summing, so the per-doc aggregate is order-independent and
# bit-identical across engines (same fixed-point trick as d06/s04/q50).
#
# Scale (100 TB): freq is vocabulary-sized (AQE broadcasts it while it
# fits; vocabulary grows sublinearly in corpus size), the token→freq
# join is the standard tf-idf shape (t06), and the per-doc aggregate is
# map-side partial. No Python anywhere.
# --------------------------------------------------------------------------
@register(
    "t12_lm_quality_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY token),
    n AS (SELECT CAST(SUM(f) AS BIGINT) AS n_total FROM freq),
    lp AS (
      SELECT t.doc_id,
             CAST(FLOOR(LN(CAST(f.f AS DOUBLE) / CAST(n.n_total AS DOUBLE))
                        * 1000) AS BIGINT) AS lp_millinats
      FROM tok t JOIN freq f ON t.token = f.token CROSS JOIN n
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)          AS n_tokens,
           CAST(SUM(lp_millinats) AS BIGINT) AS logprob_millinats,
           ROUND(CAST(SUM(lp_millinats) AS DOUBLE) / (1000.0 * COUNT(*)), 6)
                                             AS mean_logprob
    FROM lp GROUP BY doc_id
    """,
)
def t12_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("f"))
    n_total = freq.agg(F.sum("f").alias("n_total"))
    lp = (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            F.floor(
                F.log(F.col("f").cast("double") / F.col("n_total").cast("double"))
                * 1000
            )
            .cast("long")
            .alias("lp_millinats"),
        )
    )
    return lp.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("lp_millinats").alias("logprob_millinats"),
        dround(F.sum("lp_millinats") / (1000.0 * F.count("*")), 6).alias(
            "mean_logprob"
        ),
    )


# --------------------------------------------------------------------------
# Sequence packing: greedy contiguous fill of fixed token-budget bins.
#
# The pre-training batching stage: concatenate documents (in a
# deterministic order) into packs of ~PACK_BUDGET tokens so every
# training sequence is near-full. Greedy contiguous packing is
# inherently sequential, so it is sharded first — each shard packs
# independently (what a real pipeline does per input shard), keeping
# the window partitioned and parallel instead of a global single-
# partition sort. A pack may overflow by at most one document
# (boundary docs are not split), flagged in the output.
# --------------------------------------------------------------------------
PACK_BUDGET = 256
PACK_SHARDS = 8


@register(
    "t13_sequence_pack",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             doc_id % {PACK_SHARDS} AS shard,
             len(string_split(text, ' ')) AS tok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, shard, tok,
             SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM toks
    ),
    packed AS (
      SELECT shard, (cum_tok - tok) // {PACK_BUDGET} AS pack_id,
             doc_id, tok
      FROM cum
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(pack_id AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc,
           SUM(tok) > {PACK_BUDGET} AS overflow
    FROM packed
    GROUP BY shard, pack_id
    """,
)
def t13_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tok"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = toks.withColumn("cum_tok", F.sum("tok").over(w)).withColumn(
        # Bin by tokens-before-this-doc: integer division on both engines.
        "pack_id",
        F.expr(f"(cum_tok - tok) div {PACK_BUDGET}"),
    )
    return packed.groupBy(
        F.col("shard").cast("long").alias("shard"),
        F.col("pack_id").cast("long").alias("pack_id"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        (F.sum("tok") > PACK_BUDGET).alias("overflow"),
    )


# --------------------------------------------------------------------------
# PII detection + redaction: regex scrub pass.
#
# The fixture vocabulary contains no PII, so the query injects a
# deterministic synthetic email + phone per document (derived from
# doc_id) and then runs the actual product logic: pattern counting and
# global regex redaction. Patterns stick to character classes shared by
# Java regex (Spark) and RE2 (DuckDB); DuckDB's regexp_replace needs
# the explicit 'g' flag to match Spark's replace-all default.
# Row-local, zero-shuffle — scales linearly.
# --------------------------------------------------------------------------
_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
_PHONE_RE = "555-[0-9]{4}"


@register(
    "t14_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_hash,
           CAST(length(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
    FROM aug
    """,
)
def t14_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ).alias("t"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_hash"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


# --------------------------------------------------------------------------
# Domain-mixture weights: temperature-scaled sampling distribution.
#
# The data-mixing stage: per-domain (language) token counts are
# re-weighted by p^ALPHA (temperature sampling, alpha < 1 upsamples
# tail domains) and normalized. The global-total window runs over the
# per-domain aggregate — a domain-cardinality table (5 rows here,
# thousands at worst in production), same dimension-table-only caveat
# as q19. pow() is IEEE-identical on both engines for these inputs;
# ratios go through dround like every float-compared column.
# --------------------------------------------------------------------------
MIXTURE_ALPHA = 0.3


@register(
    "t15_domain_mixture",
    oracle=f"""
    WITH per_lang AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    p AS (
      SELECT lang, n_docs, n_tokens,
             n_tokens * 1.0 / SUM(n_tokens) OVER () AS p_raw,
             pow(n_tokens * 1.0 / SUM(n_tokens) OVER (), {MIXTURE_ALPHA}) AS w_raw
      FROM per_lang
    )
    SELECT lang, n_docs, n_tokens,
           ROUND(p_raw, 6) AS token_share,
           ROUND(w_raw / SUM(w_raw) OVER (), 6) AS sample_weight
    FROM p
    """,
)
def t15_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_lang = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )
    w_all = W.partitionBy()
    p_raw = F.col("n_tokens") / F.sum("n_tokens").over(w_all)
    p = per_lang.select(
        "lang",
        "n_docs",
        "n_tokens",
        p_raw.alias("p_raw"),
        F.pow(p_raw, F.lit(MIXTURE_ALPHA)).alias("w_raw"),
    )
    return p.select(
        "lang",
        "n_docs",
        "n_tokens",
        dround(F.col("p_raw"), 6).alias("token_share"),
        dround(F.col("w_raw") / F.sum("w_raw").over(w_all), 6).alias("sample_weight"),
    )


# --------------------------------------------------------------------------
# Bigram language-model score: corpus-estimated conditional
# probabilities, all-integer arithmetic.
#
# A real LM-quality stage: estimate p(w2 | w1) from the whole corpus's
# bigram/unigram occurrence counts, then score each document by the
# mean and min conditional probability over its own bigram stream. The
# probability is kept as an INTEGER ppm value, (c_bigram * 1e6) div
# c_first, so every comparison and sum is exact 64-bit arithmetic in
# both engines — no log(), no float accumulation order to worry about.
#
# Scale (100 TB): two shuffles over the bigram stream (count, then join
# occurrences back to counts) + one doc-level agg. The count tables are
# vocabulary-sized (Heaps-law sublinear in corpus size) and skew on
# frequent bigrams is absorbed by the partial-agg (map-side combine)
# before the shuffle; the occurrence⋈counts join broadcasts under AQE
# while vocab fits, degrading to a hash join keyed on the bigram — the
# same plan a word-count carries. No forced hints: vocab grows with
# corpus.
# --------------------------------------------------------------------------
@register(
    "t16_bigram_lm_score",
    oracle="""
    WITH occ AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                 i -> struct_pack(w1 := string_split(text, ' ')[i],
                                  g  := concat_ws(' ', string_split(text, ' ')[i],
                                                  string_split(text, ' ')[i+1])))) AS b
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    flat AS (SELECT doc_id, b.w1 AS w1, b.g AS g FROM occ),
    bg_counts AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c_bg FROM flat GROUP BY g),
    u_counts  AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_u FROM flat GROUP BY w1),
    scored AS (
      SELECT f.doc_id, (b.c_bg * 1000000) // u.c_u AS ppm
      FROM flat f JOIN bg_counts b ON f.g = b.g
                  JOIN u_counts u ON f.w1 = u.w1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(MIN(ppm) AS BIGINT) AS min_ppm,
           ROUND(CAST(SUM(ppm) AS BIGINT) * 1.0 / COUNT(*), 2) AS mean_ppm
    FROM scored
    GROUP BY doc_id
    """,
)
def t16_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    flat = (
        docs.filter(F.size(F.split("text", " ")) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "flatten(transform(array(split(text, ' ')),"
                    " toks -> transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS w1,"
                    "             concat_ws(' ', toks[i], toks[i+1]) AS g))))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.g")
    )
    bg_counts = flat.groupBy("g").agg(F.count("*").alias("c_bg"))
    u_counts = flat.groupBy("w1").agg(F.count("*").alias("c_u"))
    scored = (
        flat.join(bg_counts, "g")
        .join(u_counts, "w1")
        .select("doc_id", F.expr("(c_bg * 1000000) div c_u").alias("ppm"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.min("ppm").alias("min_ppm"),
        dround(F.sum("ppm") * F.lit(1.0) / F.count("*"), 2).alias("mean_ppm"),
    )


# --------------------------------------------------------------------------
# t17: document chunking — fixed-size token windows with overlap, the
# standard pre-tokenization step for long-document training pipelines
# (chunk 40 tokens, stride 30 → 10-token overlap). Every document
# yields ceil(max(0, n-40)/30) + 1 chunks; the final chunk may be
# short (slice clamps at the end of the array).
#
# Scale: pure row-local array work (split once, slice per chunk) —
# zero shuffle, linear in output tokens; the explode multiplies rows
# ~n/30-fold which parquet scan partitioning absorbs.
# --------------------------------------------------------------------------
CHUNK_TOKENS = 40
CHUNK_STRIDE = 30


@register(
    "t17_doc_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    idx AS (
      SELECT doc_id, t,
             UNNEST(generate_series(0,
               CAST(CEIL(GREATEST(n - {CHUNK_TOKENS}, 0) / {CHUNK_STRIDE}.0)
                    AS BIGINT))) AS k
      FROM toks
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS chunk_id,
           array_to_string(list_slice(t, k * {CHUNK_STRIDE} + 1,
                                      k * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')
             AS chunk_text,
           CAST(len(list_slice(t, k * {CHUNK_STRIDE} + 1,
                               k * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS BIGINT)
             AS chunk_tokens
    FROM idx
    """,
)
def t17_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).alias("n"),
    )
    n_extra = F.ceil(
        F.greatest(F.col("n") - CHUNK_TOKENS, F.lit(0)) / F.lit(float(CHUNK_STRIDE))
    ).cast("long")
    chunked = toks.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0).cast("long"), n_extra)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("t"), (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"), CHUNK_TOKENS
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("chunk_tokens"),
    )


# --------------------------------------------------------------------------
# t18: n-gram novelty — per document, the fraction of its distinct
# 3-word shingles that no earlier document (smaller doc_id) contains.
# The streaming-corpus view of contamination/duplication: a curation
# pipeline ingesting shards in order uses this to measure marginal new
# content per shard.
#
# Scale: one explode + distinct on (shingle, doc_id), a groupBy shingle
# for the first-seen owner (min doc_id), then a per-doc count — all
# equi-shuffles on high-cardinality keys. Hot shingles (stopword runs)
# skew the min-agg only through its map-side partials, which absorb
# them before the shuffle.
# --------------------------------------------------------------------------
from .dedup import _SHINGLES_SQL  # noqa: E402  (same 3-word shingles as d02/d04)


@register(
    "t18_ngram_novelty",
    oracle="""
    WITH sh AS ({shingles}),
    flat AS (
      SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh
    ),
    first_seen AS (
      SELECT g, MIN(doc_id) AS first_doc FROM flat GROUP BY g
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) FILTER (WHERE fs.first_doc = f.doc_id) AS BIGINT)
             AS n_novel,
           ROUND(COUNT(*) FILTER (WHERE fs.first_doc = f.doc_id) * 1.0
                 / COUNT(*), 6) AS novelty
    FROM flat f JOIN first_seen fs ON f.g = fs.g
    GROUP BY f.doc_id
    """.format(shingles=_SHINGLES_SQL),
)
def t18_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _shingles_df

    flat = (
        _shingles_df(spark, sf_dir)
        .select("doc_id", F.explode("shingles").alias("g"))
        .distinct()
    )
    first_seen = flat.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        flat.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias(
                "n_novel"
            ),
            dround(
                F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
                * F.lit(1.0)
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
    )


# --------------------------------------------------------------------------
# t19: corpus vocabulary profile per source — token volume, vocabulary
# size, type/token ratio, and hapax fraction (words seen exactly once).
# The corpus-health dashboard numbers a curation run tracks shard over
# shard: a collapsing type/token ratio or hapax fraction signals
# boilerplate flooding or dedup failure upstream.
#
# Scale: explode is linear in tokens; the (source, word) count is an
# equi-shuffle whose hot keys (stopwords) are absorbed by map-side
# partials; the per-source rollup is |sources| groups.
# --------------------------------------------------------------------------
@register(
    "t19_vocab_profile",
    oracle="""
    WITH words AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counts AS (
      SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           ROUND(COUNT(*) * 1.0 / SUM(c), 6) AS type_token_ratio,
           ROUND(count_if(c = 1) * 1.0 / COUNT(*), 6) AS hapax_fraction
    FROM counts
    GROUP BY source
    """,
)
def t19_vocab_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").alias("vocab_size"),
        dround(F.count("*") * F.lit(1.0) / F.sum("c"), 6).alias("type_token_ratio"),
        dround(
            F.count_if(F.col("c") == 1) * F.lit(1.0) / F.count("*"), 6
        ).alias("hapax_fraction"),
    )


# --------------------------------------------------------------------------
# t20: rule-based quality filter — the hard-threshold screen (Gopher/
# C4-style) that runs before any learned scoring: token-count range,
# mean word length range, symbol-to-word ratio cap, and a minimum
# stopword hit count. Emits per-rule booleans plus the conjunction, so
# downstream stages (and audits) see WHY a document was dropped, not
# just that it was.
#
# Scale: row-local codegen expressions, zero shuffle — the cheapest
# possible full-corpus pass, which is exactly why pipelines run it
# first.
# --------------------------------------------------------------------------
RULE_MIN_TOKENS = 10
RULE_MAX_TOKENS = 1000
RULE_MIN_MEAN_WORD = 2.0
RULE_MAX_MEAN_WORD = 12.0
RULE_MAX_SYMBOL_RATIO = 0.1
RULE_MIN_STOPWORD_HITS = 1


@register(
    "t20_rule_filter",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             length(replace(text, ' ', '')) * 1.0
               / len(string_split(text, ' ')) AS mean_word_len,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0
               / len(string_split(text, ' ')) AS symbol_ratio,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ({_in_list_sql(STOPWORDS)}))) AS stop_hits
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens BETWEEN {RULE_MIN_TOKENS} AND {RULE_MAX_TOKENS}
                AS BIGINT) AS ok_length,
           CAST(mean_word_len BETWEEN {RULE_MIN_MEAN_WORD}
                AND {RULE_MAX_MEAN_WORD} AS BIGINT) AS ok_word_len,
           CAST(symbol_ratio <= {RULE_MAX_SYMBOL_RATIO} AS BIGINT)
             AS ok_symbols,
           CAST(stop_hits >= {RULE_MIN_STOPWORD_HITS} AS BIGINT) AS ok_stop,
           CAST(n_tokens BETWEEN {RULE_MIN_TOKENS} AND {RULE_MAX_TOKENS}
                AND mean_word_len BETWEEN {RULE_MIN_MEAN_WORD}
                    AND {RULE_MAX_MEAN_WORD}
                AND symbol_ratio <= {RULE_MAX_SYMBOL_RATIO}
                AND stop_hits >= {RULE_MIN_STOPWORD_HITS} AS BIGINT) AS keep
    FROM feats
    """,
)
def t20_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    stop_list = _in_list_sql(STOPWORDS)
    n_tokens = F.size(F.split("text", " "))
    feats = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            * F.lit(1.0)
            / n_tokens
        ).alias("mean_word_len"),
        (
            F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"))
            * F.lit(1.0)
            / n_tokens
        ).alias("symbol_ratio"),
        F.expr(
            f"size(filter(split(text, ' '), t -> t IN ({stop_list})))"
        ).alias("stop_hits"),
    )
    ok_length = F.col("n_tokens").between(RULE_MIN_TOKENS, RULE_MAX_TOKENS)
    ok_word_len = F.col("mean_word_len").between(
        RULE_MIN_MEAN_WORD, RULE_MAX_MEAN_WORD
    )
    ok_symbols = F.col("symbol_ratio") <= RULE_MAX_SYMBOL_RATIO
    ok_stop = F.col("stop_hits") >= RULE_MIN_STOPWORD_HITS
    return feats.select(
        "doc_id",
        ok_length.cast("long").alias("ok_length"),
        ok_word_len.cast("long").alias("ok_word_len"),
        ok_symbols.cast("long").alias("ok_symbols"),
        ok_stop.cast("long").alias("ok_stop"),
        (ok_length & ok_word_len & ok_symbols & ok_stop)
        .cast("long")
        .alias("keep"),
    )


# --------------------------------------------------------------------------
# t21: quality-weighted corpus sampling (Efraimidis–Spirakis A-ES):
# each document draws a deterministic pseudo-uniform u from the md5 of
# its id and competes with key u^(1/w), w = its quality score — the
# top-K by key is an exact weighted sample WITHOUT replacement. The
# principled "sample better data more often" stage (vs t09's
# per-stratum fractions / t15's mixture weights); deterministic because
# u is hash-derived, so the same corpus always yields the same sample.
#
# Scale: key computation is row-local; the top-K is orderBy().limit(K)
# — Spark's TakeOrderedAndProject, a distributed per-partition partial
# top-K with only K rows per partition reaching the final merge (no
# single-partition WindowExec anywhere). The <=K survivors are then
# ranked with ranks.global_rank (range-partition + offsets). Keys are
# rounded to 6 decimals BEFORE ranking on both engines (doc_id
# tiebreak), so last-ulp pow() differences can't flip the boundary.
# --------------------------------------------------------------------------
SAMPLE_K = 100
SAMPLE_MIN_QUALITY = 0.01


@register(
    "t21_weighted_sample",
    oracle=f"""
    WITH quality AS ({{quality}}),
    keyed AS (
      SELECT q.doc_id, q.quality_score,
             ROUND(pow(({{u}}) / 4294967296.0, 1.0 / q.quality_score), 6)
               AS sample_key
      FROM quality q
      WHERE q.quality_score >= {SAMPLE_MIN_QUALITY}
    )
    SELECT doc_id, quality_score, sample_key, rk FROM (
      SELECT doc_id, quality_score, sample_key,
             ROW_NUMBER() OVER (ORDER BY sample_key DESC, doc_id) AS rk
      FROM keyed
    ) WHERE rk <= {SAMPLE_K}
    """.format(
        quality=QUALITY_SQL,
        u=md5_prefix_long_sql("CAST(doc_id AS VARCHAR)"),
    ),
)
def t21_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    quality = t02_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    u = md5_prefix_long(F.col("doc_id").cast("string")) / F.lit(4294967296.0)
    keyed = quality.filter(
        F.col("quality_score") >= SAMPLE_MIN_QUALITY
    ).select(
        "doc_id",
        "quality_score",
        dround(
            F.pow(u, F.lit(1.0) / F.col("quality_score")), 6
        ).alias("sample_key"),
    )
    limited = keyed.orderBy(F.col("sample_key").desc(), "doc_id").limit(SAMPLE_K)
    ranked, _n = global_rank(
        limited, [F.col("sample_key").desc(), F.col("doc_id")], "rk"
    )
    return ranked.select(
        "doc_id", "quality_score", "sample_key", F.col("rk").cast("int").alias("rk")
    )


from .registry import ORACLE_SQL as _REGISTERED_ORACLES  # noqa: E402
# (dedup registers before text in operators/__init__, so d10's oracle is
# present here — t22 composes it verbatim so both stay the same rule.)


# --------------------------------------------------------------------------
# t22: contamination-safe split assignment — the composed gate a
# training run actually consumes: t08's deterministic hash-mod split ×
# d10's benchmark-contamination flag. Contaminated TRAIN documents are
# quarantined (eval-set members and val/test docs keep their split —
# contamination only matters for what the model trains on). One row
# per document, end-to-end hash-checked.
#
# Scale: t08's split is row-local; the contamination join inherits
# d10's broadcast-shaped containment semi-join; final verdict is a
# left join on doc_id — skew-free.
# --------------------------------------------------------------------------
@register(
    "t22_safe_split",
    oracle="""
    WITH split AS (
      SELECT doc_id,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, {h} % 100 AS bucket FROM documents
      )
    ),
    contaminated AS (
      SELECT doc_id FROM ({d10}) WHERE drop_doc = 1
    )
    SELECT s.doc_id, s.split,
           CAST(c.doc_id IS NOT NULL AS BIGINT) AS contaminated,
           CASE WHEN s.split = 'train' AND c.doc_id IS NOT NULL
                THEN 'quarantine' ELSE s.split END AS final_split
    FROM split s LEFT JOIN contaminated c ON c.doc_id = s.doc_id
    """.format(
        h=md5_prefix_long_sql("CAST(doc_id AS VARCHAR)"),
        d10=_REGISTERED_ORACLES["d10_decontaminate"],
    ),
)
def t22_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import d10_decontaminate

    split = t08_train_split(spark, sf_dir)
    contaminated = (
        d10_decontaminate(spark, sf_dir)
        .filter(F.col("drop_doc") == 1)
        .select("doc_id", F.lit(1).alias("_c"))
    )
    joined = split.join(contaminated, "doc_id", "left")
    return joined.select(
        "doc_id",
        "split",
        F.col("_c").isNotNull().cast("long").alias("contaminated"),
        F.when(
            (F.col("split") == "train") & F.col("_c").isNotNull(), "quarantine"
        )
        .otherwise(F.col("split"))
        .alias("final_split"),
    )


# --------------------------------------------------------------------------
# t23: BPE pair statistics — the frequency table of ADJACENT token
# pairs, the core counting kernel of a BPE/WordPiece tokenizer-training
# pass (each merge round picks the most frequent pair; this operator is
# that round's input, computed corpus-wide).
#
# Pair extraction is row-local (transform over a token-index sequence —
# no self-join, no posexplode twice); the only shuffle is the pair
# count, which map-side-combines before the exchange. Top-k ties break
# on the pair text, so the LIMIT is deterministic in both engines.
#
# Scale: identical shape to t05 wordcount — |pairs| ~ |tokens| rows
# into one hash aggregate; the vocabulary-sized result then sorts. At
# 100 TB the count survives as-is; only the final ORDER BY ... LIMIT
# becomes a TakeOrdered over the (bounded) distinct-pair set.
# --------------------------------------------------------------------------
T23_TOP_PAIRS = 100


@register(
    "t23_bpe_pair_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    pairs AS (
      SELECT doc_id, p[1] AS w1, p[2] AS w2
      FROM (SELECT doc_id, unnest(list_zip(l, l[2:])) AS p FROM toks)
      WHERE p[2] IS NOT NULL
    )
    SELECT w1, w2,
           CAST(COUNT(*) AS BIGINT) AS pair_freq,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM pairs
    GROUP BY w1, w2
    ORDER BY pair_freq DESC, w1, w2
    LIMIT {T23_TOP_PAIRS}
    """,
)
def t23_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", F.split("text", " ").alias("l"))
        # single-token docs yield no pairs; guards sequence() from the
        # descending-range trap at size(l) == 1
        .filter(F.size("l") >= 2)
    )
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 1),"
                " i -> struct(l[i - 1] AS w1, l[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    return (
        pairs.groupBy("w1", "w2")
        .agg(
            F.count("*").alias("pair_freq"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("pair_freq"), "w1", "w2")
        .limit(T23_TOP_PAIRS)
    )


# --------------------------------------------------------------------------
# x07: count-min sketch heavy hitters — estimate token frequencies
# through a DEPTH x WIDTH counter grid instead of a full vocabulary
# table. The sketch is a pure monoid: per-partition partial grids
# merge by cell-wise addition (here: the (row, pos) hash aggregate's
# map-side combine IS the partial-sketch merge), which is what makes it
# the 100 TB pattern — the full-vocabulary exact count exists here only
# to audit the estimate.
#
# Every cell update and lookup uses the md5-derived row hashes
# (hashing.py), so the grid — and therefore every estimate — is
# bit-identical in DuckDB; est >= exact (CMS never undercounts) and the
# exact overcount are both part of the checked output.
#
# Scale: tokens x DEPTH rows flow into a <= DEPTH*WIDTH-cell hash
# aggregate (fixed memory regardless of corpus size); the estimate join
# touches only candidate tokens x DEPTH against a broadcastable
# 256-row grid. The exact-count audit column is the only
# vocabulary-sized state and would be dropped (or sampled) at 100 TB.
# --------------------------------------------------------------------------
CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_MIN_FREQ = 50


@register(
    "x07_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cells AS (
      SELECT r.r,
             {md5_prefix_long_sql("CAST(r.r AS VARCHAR) || '|' || token")}
               % {CMS_WIDTH} AS pos,
             CAST(COUNT(*) AS BIGINT) AS cell_cnt
      FROM toks, range(0, {CMS_DEPTH}) r(r)
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_freq
      FROM toks GROUP BY token HAVING COUNT(*) >= {CMS_MIN_FREQ}
    ),
    est AS (
      SELECT e.token, e.exact_freq, MIN(c.cell_cnt) AS est_freq
      FROM exact e, range(0, {CMS_DEPTH}) r(r)
      JOIN cells c
        ON c.r = r.r
       AND c.pos = {md5_prefix_long_sql("CAST(r.r AS VARCHAR) || '|' || e.token")}
               % {CMS_WIDTH}
      GROUP BY e.token, e.exact_freq
    )
    SELECT token, exact_freq, est_freq,
           est_freq - exact_freq AS overcount,
           est_freq >= exact_freq AS never_undercounts
    FROM est
    """,
)
def x07_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("token")
    )
    rows = F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
    updates = toks.select(
        "token", F.explode(rows).alias("r")
    ).select(
        "r",
        (
            md5_prefix_long(
                F.concat(F.col("r").cast("string"), F.lit("|"), F.col("token"))
            )
            % CMS_WIDTH
        ).alias("pos"),
    )
    grid = updates.groupBy("r", "pos").agg(F.count("*").alias("cell_cnt"))
    exact = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact_freq"))
        .filter(F.col("exact_freq") >= CMS_MIN_FREQ)
    )
    probes = exact.select(
        "token", "exact_freq", F.explode(rows).alias("r")
    ).withColumn(
        "pos",
        md5_prefix_long(
            F.concat(F.col("r").cast("string"), F.lit("|"), F.col("token"))
        )
        % CMS_WIDTH,
    )
    est = (
        probes.join(F.broadcast(grid), ["r", "pos"])  # fixed-size grid
        .groupBy("token", "exact_freq")
        .agg(F.min("cell_cnt").alias("est_freq"))
    )
    return est.select(
        "token",
        "exact_freq",
        "est_freq",
        (F.col("est_freq") - F.col("exact_freq")).alias("overcount"),
        (F.col("est_freq") >= F.col("exact_freq")).alias("never_undercounts"),
    )


# --------------------------------------------------------------------------
# t24: token frequency spectrum — the frequency-of-frequencies table
# (how many distinct tokens occur exactly k times), the input to
# Good-Turing smoothing, vocabulary-growth (Heaps-law) estimation, and
# the quickest corpus-health fingerprint (a natural corpus has a long
# k=1 hapax tail; a template-heavy one doesn't). Pure integers — the
# double aggregation (token counts, then count-of-counts) is the
# classic two-level map-side-combining pattern.
#
# Scale: level 1 shuffles on token (vocabulary-sized result, Heaps-law
# sublinear); level 2 shuffles on the count value — at most
# |distinct counts| ~ O(max_freq) rows. Nothing corpus-sized past the
# first aggregate.
# --------------------------------------------------------------------------
@register(
    "t24_frequency_spectrum",
    oracle="""
    WITH counts AS (
      SELECT token, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    )
    SELECT freq,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(freq) AS BIGINT) AS mass
    FROM counts
    GROUP BY freq
    """,
)
def t24_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    return counts.groupBy("freq").agg(
        F.count("*").alias("n_tokens"),
        F.sum("freq").alias("mass"),
    )


# --------------------------------------------------------------------------
# t25: APPLY the learned BPE merges (t23 learns the pair statistics;
# this is the tokenization stage a training pipeline actually runs):
# the top-T25_MERGES pairs by (pair_freq DESC, w1, w2) become merge
# rules applied IN RANK ORDER, each pass merging left-to-right
# non-overlapping — the standard apply-merges-by-rank tokenizer loop.
#
# The rewrite runs entirely on strings via the doubled-space trick:
# with tokens joined by TWO spaces and single-space sentinels, the
# pattern " w1  w2 " consumes exactly one boundary space on each side,
# so (a) consecutive occurrences ("a a a a") merge greedily
# left-to-right like a real BPE pass, and (b) the invariant (double
# separators, single sentinels) survives each rule, letting rules
# chain. Merged tokens join with '+' (absent from the corpus), which
# also firewalls later rules from matching inside a merged token.
#
# Scale: the merge table is O(1) (T25_MERGES rows collected — same
# bounded-driver-state discipline as the IVF centroids); each rule is
# one codegen'd string replace, row-local, zero shuffles until the
# final per-doc projection. The oracle replays the identical rules by
# scalar subquery against t23's own SQL.
# --------------------------------------------------------------------------
T25_MERGES = 8
_T25_SEP = "+"


def _t25_oracle() -> str:
    from .registry import ORACLE_SQL as _OR

    steps = []
    prev = "step0"
    for k in range(1, T25_MERGES + 1):
        pat = (
            f"(SELECT ' ' || w1 || '  ' || w2 || ' ' FROM rules WHERE rk = {k})"
        )
        rep = (
            f"(SELECT ' ' || w1 || '{_T25_SEP}' || w2 || ' ' FROM rules WHERE rk = {k})"
        )
        steps.append(
            f"step{k} AS (SELECT doc_id, n_before,"
            f" replace(s, {pat}, {rep}) AS s FROM {prev})"
        )
        prev = f"step{k}"
    return f"""
    WITH pair_stats AS ({_OR["t23_bpe_pair_stats"]}),
    rules AS (
      SELECT w1, w2,
             ROW_NUMBER() OVER (ORDER BY pair_freq DESC, w1, w2) AS rk
      FROM pair_stats
      ORDER BY pair_freq DESC, w1, w2
      LIMIT {T25_MERGES}
    ),
    step0 AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_before,
             ' ' || replace(text, ' ', '  ') || ' ' AS s
      FROM documents
    ),
    {", ".join(steps)},
    toks AS (
      SELECT doc_id, n_before, string_split(trim(s), '  ') AS l FROM {prev}
    )
    SELECT doc_id, n_before,
           CAST(len(l) AS BIGINT) AS n_after,
           CAST(len(list_filter(l, t -> contains(t, '{_T25_SEP}'))) AS BIGINT)
             AS n_merged,
           array_to_string(list_slice(l, 1, 10), ' ') AS preview
    FROM toks
    """


@register("t25_bpe_apply", oracle=_t25_oracle())
def t25_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules = (
        t23_bpe_pair_stats(spark, sf_dir)
        .orderBy(F.desc("pair_freq"), "w1", "w2")
        .limit(T25_MERGES)
        .collect()  # O(T25_MERGES) driver state — the merge table
    )
    s = F.concat(F.lit(" "), F.replace(F.col("text"), F.lit(" "), F.lit("  ")), F.lit(" "))
    for r in rules:
        s = F.replace(
            s,
            F.lit(f" {r['w1']}  {r['w2']} "),
            F.lit(f" {r['w1']}{_T25_SEP}{r['w2']} "),
        )
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_before"),
        F.split(F.trim(s), "  ").alias("l"),
    )
    return toks.select(
        "doc_id",
        "n_before",
        F.size("l").cast("long").alias("n_after"),
        F.size(F.filter("l", lambda t: t.contains(_T25_SEP))).cast("long").alias(
            "n_merged"
        ),
        F.concat_ws(" ", F.slice("l", 1, 10)).alias("preview"),
    )


# --------------------------------------------------------------------------
# t26: trigram STUPID-BACKOFF LM scoring (Brants et al. 2007, "Large
# Language Models in Machine Translation" — the web-scale LM built
# precisely because it needs only counts, no discounting): counts are
# estimated on t08's TRAIN split, then EVERY document (train + held
# out) is scored, so val/test docs hit trigrams unseen in train and
# exercise the backoff chain for real:
#   seen trigram:  S = c(w1 w2 w3) / c(w1 w2)
#   else bigram:   S = 0.4 * c(w2 w3) / c(w2)
#   else unigram:  S = 0.4^2 * c(w3) / N        (0 if w3 unseen)
# All arithmetic is integer ppm ((x * 10^6) div y; the 0.4 factors are
# *400000 and *160000), so partial-agg order cannot move a bit — the
# t16 determinism discipline extended to the backoff chain.
#
# Scale: one trigram stream over the corpus; count tables are
# vocabulary-sized (Heaps-law sublinear) with map-side combine; the
# stream⋈counts joins broadcast while vocab fits and degrade to
# n-gram-keyed hash joins — exactly t16's plan, 3 count tables wider.
# --------------------------------------------------------------------------
@register(
    "t26_trigram_backoff_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             {md5_prefix_long_sql("CAST(doc_id AS VARCHAR)")} % 100 < 80
               AS is_train
      FROM documents
    ),
    stream AS (
      SELECT doc_id, is_train,
             l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tg,
             l[i] || ' ' || l[i+1] AS ctx2,
             l[i+1] || ' ' || l[i+2] AS bg,
             l[i+1] AS ctx1,
             l[i+2] AS uni
      FROM (SELECT doc_id, is_train, l,
                   unnest(range(1, len(l) - 1)) AS i
            FROM toks WHERE len(l) >= 3)
    ),
    c_tg   AS (SELECT tg,   CAST(COUNT(*) AS BIGINT) AS c3 FROM stream WHERE is_train GROUP BY tg),
    c_ctx2 AS (SELECT ctx2, CAST(COUNT(*) AS BIGINT) AS c2x FROM stream WHERE is_train GROUP BY ctx2),
    c_bg   AS (SELECT bg,   CAST(COUNT(*) AS BIGINT) AS c2 FROM stream WHERE is_train GROUP BY bg),
    c_ctx1 AS (SELECT ctx1, CAST(COUNT(*) AS BIGINT) AS c1x FROM stream WHERE is_train GROUP BY ctx1),
    c_uni  AS (SELECT uni,  CAST(COUNT(*) AS BIGINT) AS c1 FROM stream WHERE is_train GROUP BY uni),
    n_tot  AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM stream WHERE is_train),
    scored AS (
      SELECT s.doc_id,
             CASE WHEN t.c3 IS NOT NULL THEN (t.c3 * 1000000) // x2.c2x
                  WHEN b.c2 IS NOT NULL THEN (b.c2 * 400000) // x1.c1x
                  ELSE COALESCE((u.c1 * 160000) // n.n, 0) END AS ppm,
             CASE WHEN t.c3 IS NOT NULL THEN 0
                  WHEN b.c2 IS NOT NULL THEN 1 ELSE 2 END AS backoff
      FROM stream s
      LEFT JOIN c_tg t ON t.tg = s.tg
      LEFT JOIN c_ctx2 x2 ON x2.ctx2 = s.ctx2
      LEFT JOIN c_bg b ON b.bg = s.bg
      LEFT JOIN c_ctx1 x1 ON x1.ctx1 = s.ctx1
      LEFT JOIN c_uni u ON u.uni = s.uni
      CROSS JOIN n_tot n
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(COUNT(*) FILTER (WHERE backoff = 1) AS BIGINT) AS n_backoff_bi,
           CAST(COUNT(*) FILTER (WHERE backoff = 2) AS BIGINT) AS n_backoff_uni,
           CAST(MIN(ppm) AS BIGINT) AS min_ppm,
           ROUND(CAST(SUM(ppm) AS BIGINT) * 1.0 / COUNT(*), 2) AS mean_ppm
    FROM scored
    GROUP BY doc_id
    """,
)
def t26_trigram_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    is_train = (md5_prefix_long(F.col("doc_id").cast("string")) % 100) < 80
    stream = (
        docs.filter(F.size(F.split("text", " ")) >= 3)
        .select(
            "doc_id",
            is_train.alias("is_train"),
            F.explode(
                F.expr(
                    "flatten(transform(array(split(text, ' ')),"
                    " toks -> transform(sequence(0, size(toks) - 3),"
                    " i -> struct("
                    "   concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS tg,"
                    "   concat_ws(' ', toks[i], toks[i+1]) AS ctx2,"
                    "   concat_ws(' ', toks[i+1], toks[i+2]) AS bg,"
                    "   toks[i+1] AS ctx1,"
                    "   toks[i+2] AS uni))))"
                )
            ).alias("b"),
        )
        .select("doc_id", "is_train", "b.tg", "b.ctx2", "b.bg", "b.ctx1", "b.uni")
    )
    train = stream.filter("is_train")
    c_tg = train.groupBy("tg").agg(F.count("*").alias("c3"))
    c_ctx2 = train.groupBy("ctx2").agg(F.count("*").alias("c2x"))
    c_bg = train.groupBy("bg").agg(F.count("*").alias("c2"))
    c_ctx1 = train.groupBy("ctx1").agg(F.count("*").alias("c1x"))
    c_uni = train.groupBy("uni").agg(F.count("*").alias("c1"))
    n_total = train.agg(F.count("*").alias("n"))
    ppm = (
        F.when(
            F.col("c3").isNotNull(), F.expr("(c3 * 1000000) div c2x")
        )
        .when(F.col("c2").isNotNull(), F.expr("(c2 * 400000) div c1x"))
        .otherwise(F.coalesce(F.expr("(c1 * 160000) div n"), F.lit(0)))
    )
    backoff = (
        F.when(F.col("c3").isNotNull(), 0)
        .when(F.col("c2").isNotNull(), 1)
        .otherwise(2)
    )
    scored = (
        stream.join(c_tg, "tg", "left")
        .join(c_ctx2, "ctx2", "left")
        .join(c_bg, "bg", "left")
        .join(c_ctx1, "ctx1", "left")
        .join(c_uni, "uni", "left")
        .join(F.broadcast(n_total))  # 1-row total
        .select("doc_id", ppm.alias("ppm"), backoff.alias("backoff"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_trigrams"),
        F.sum((F.col("backoff") == 1).cast("long")).alias("n_backoff_bi"),
        F.sum((F.col("backoff") == 2).cast("long")).alias("n_backoff_uni"),
        F.min("ppm").alias("min_ppm"),
        dround(F.sum("ppm") * F.lit(1.0) / F.count("*"), 2).alias("mean_ppm"),
    )


# --------------------------------------------------------------------------
# t27: DSIR-style data selection — hashed-bigram importance scoring
# (Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling"). Both the target distribution (here: lang='en' docs) and
# the raw corpus are modelled as multinomials over B hashed bigram
# buckets; each doc is scored by how much more likely its bigrams are
# under the target than under the raw distribution. The published
# method sums log-ratios; this engine sums the Laplace-smoothed ppm
# *differences* instead — same ordering signal, but all-integer, so
# partial-agg order cannot move a bit (the t16/t26 determinism
# discipline; ln() is libm-dependent and not bit-stable across
# engines).
#
# Scale (100 TB): the bucket weight table is exactly DSIR_BUCKETS rows
# regardless of corpus size — counts aggregate with map-side combine,
# the weights broadcast to every executor, and the per-doc score is a
# single doc_id-keyed aggregation. The feature stream never shuffles
# except into those two bounded aggs.
# --------------------------------------------------------------------------
DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"


@register(
    "t27_dsir_importance",
    oracle=f"""
    WITH flat AS (
      SELECT doc_id, lang,
             {md5_prefix_long_sql("g")} % {DSIR_BUCKETS} AS bucket
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(string_split(text, ' '))),
                   i -> concat_ws(' ', string_split(text, ' ')[i],
                                  string_split(text, ' ')[i+1]))) AS g
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
      )
    ),
    raw_c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_r FROM flat GROUP BY bucket),
    tgt_c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_t
              FROM flat WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS r_tot,
             CAST(COUNT(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}') AS BIGINT) AS t_tot
      FROM flat
    ),
    weights AS (
      SELECT r.bucket,
             ((COALESCE(t.c_t, 0) + 1) * 1000000) // (tot.t_tot + {DSIR_BUCKETS})
             - ((r.c_r + 1) * 1000000) // (tot.r_tot + {DSIR_BUCKETS}) AS w
      FROM raw_c r
      LEFT JOIN tgt_c t ON r.bucket = t.bucket
      CROSS JOIN totals tot
    )
    SELECT f.doc_id,
           ANY_VALUE(f.lang) AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(w.w) AS BIGINT) AS score,
           ROUND(CAST(SUM(w.w) AS BIGINT) * 1.0 / COUNT(*), 2) AS mean_score,
           CAST(SUM(w.w) AS BIGINT) > 0 AS selected
    FROM flat f JOIN weights w ON f.bucket = w.bucket
    GROUP BY f.doc_id
    """,
)
def t27_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    flat = (
        docs.filter(F.size(F.split("text", " ")) >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "flatten(transform(array(split(text, ' ')),"
                    " toks -> transform(sequence(0, size(toks) - 2),"
                    " i -> concat_ws(' ', toks[i], toks[i+1]))))"
                )
            ).alias("g"),
        )
        .select(
            "doc_id", "lang",
            (md5_prefix_long(F.col("g")) % DSIR_BUCKETS).alias("bucket"),
        )
    )
    is_tgt = F.col("lang") == DSIR_TARGET_LANG
    raw_c = flat.groupBy("bucket").agg(F.count("*").alias("c_r"))
    tgt_c = flat.filter(is_tgt).groupBy("bucket").agg(F.count("*").alias("c_t"))
    totals = flat.agg(
        F.count("*").alias("r_tot"),
        F.count(F.when(is_tgt, 1)).alias("t_tot"),
    )
    weights = (
        raw_c.join(tgt_c, "bucket", "left")
        .join(F.broadcast(totals))  # 1-row totals
        .select(
            "bucket",
            (
                F.expr(
                    f"((coalesce(c_t, 0) + 1) * 1000000) div (t_tot + {DSIR_BUCKETS})"
                )
                - F.expr(f"((c_r + 1) * 1000000) div (r_tot + {DSIR_BUCKETS})")
            ).alias("w"),
        )
    )
    return (
        flat.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count("*").alias("n_bigrams"),
            F.sum("w").alias("score"),
            dround(F.sum("w") * F.lit(1.0) / F.count("*"), 2).alias("mean_score"),
            (F.sum("w") > 0).alias("selected"),
        )
    )


# --------------------------------------------------------------------------
# t28: temperature-scaled domain sampling weights — the multilingual /
# multi-source mixing rule (τ = 2, i.e. p_d ∝ n_d^(1/2)) used to
# up-weight low-resource domains when composing a training mixture
# (cf. the temperature-sampling schemes of multilingual LM training
# and UniMax). Complements t15 (which normalizes ad-hoc target
# weights) with the size-derived policy.
#
# Determinism: weights are FLOOR(SQRT(n_d * 10^6)) — integer-exact in
# both engines (sqrt is IEEE correctly-rounded and, for n < ~10^15,
# never rounds across an integer boundary, so the floor matches the
# true integer square root); everything downstream is integer ppm.
# No float SUM ever happens, so aggregation order cannot move a bit.
#
# Scale: one |sources|-row aggregate with map-side combine, then a
# broadcast-sized cross join against its own 1-row total — O(1)
# beyond the corpus scan.
# --------------------------------------------------------------------------
@register(
    "t28_temperature_sampling",
    oracle="""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    weighted AS (
      SELECT source, n_docs,
             CAST(FLOOR(SQRT(n_docs * 1000000)) AS BIGINT) AS w
      FROM counts
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot,
             CAST(SUM(w) AS BIGINT) AS w_tot
      FROM weighted
    )
    SELECT w.source, w.n_docs,
           (w.n_docs * 1000000) // t.n_tot AS raw_ppm,
           (w.w * 1000000) // t.w_tot AS temp_ppm,
           ((w.w * 1000000) // t.w_tot * 1000)
             // GREATEST((w.n_docs * 1000000) // t.n_tot, 1) AS boost_milli
    FROM weighted w CROSS JOIN tot t
    """,
)
def t28_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    weighted = counts.withColumn(
        "w", F.floor(F.sqrt(F.col("n_docs") * F.lit(1_000_000))).cast("long")
    )
    tot = weighted.agg(
        F.sum("n_docs").alias("n_tot"), F.sum("w").alias("w_tot")
    )
    return (
        weighted.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("(n_docs * 1000000) div n_tot").alias("raw_ppm"),
            F.expr("(w * 1000000) div w_tot").alias("temp_ppm"),
            F.expr(
                "((w * 1000000) div w_tot * 1000)"
                " div greatest((n_docs * 1000000) div n_tot, 1)"
            ).alias("boost_milli"),
        )
    )


# --------------------------------------------------------------------------
# t29: hashed linear-classifier quality scoring — the fastText-style
# model-based filter stage (Joulin et al. 2016 hashing-trick linear
# classifier; the quality-classifier stage of GPT-3/LLaMA-style
# curation pipelines) that sits between t20's hard rules and t27's
# DSIR resampling. Unlike t27 (corpus-vs-target contrast on the FULL
# corpus), t29 follows the supervised discipline: a deterministic
# labeled subset (t08's hash-mod split machinery — doc_id md5 bucket
# < 20) trains per-bucket weights w[b] = smoothed positive-rate ppm −
# negative-rate ppm over hashed unigram features (label: lang = 'en',
# the t27 target domain); EVERY doc — labeled or not — is then scored
# by the broadcast weight table. score = Σ w[hash(tok) % B] is the
# linear logit; the published σ(·) is omitted as it is monotone (same
# ordering/threshold) and libm-exp is not bit-stable across engines —
# the t16/t26/t27 all-integer determinism discipline.
#
# Scale (100 TB): the weight table is exactly T29_BUCKETS rows
# whatever the corpus size — label counts aggregate with map-side
# combine over the labeled slice only, the weights broadcast, and
# scoring is one doc_id-keyed aggregation. Nothing corpus-sized ever
# shuffles except into that single bounded agg, and training cost
# scales with the labeled fraction, not the corpus.
# --------------------------------------------------------------------------
T29_BUCKETS = 512
T29_LABELED_PCT = 20
T29_POS_LANG = "en"


@register(
    "t29_hashed_classifier_score",
    oracle=f"""
    WITH flat AS (
      SELECT doc_id, lang,
             {md5_prefix_long_sql("CAST(doc_id AS VARCHAR)")} % 100
               < {T29_LABELED_PCT} AS is_labeled,
             {md5_prefix_long_sql("tok")} % {T29_BUCKETS} AS bucket
      FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
      )
    ),
    pos_c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_p FROM flat
              WHERE is_labeled AND lang = '{T29_POS_LANG}' GROUP BY bucket),
    neg_c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_n FROM flat
              WHERE is_labeled AND lang <> '{T29_POS_LANG}' GROUP BY bucket),
    totals AS (
      SELECT CAST(COUNT(*) FILTER (WHERE lang = '{T29_POS_LANG}') AS BIGINT) AS p_tot,
             CAST(COUNT(*) FILTER (WHERE lang <> '{T29_POS_LANG}') AS BIGINT) AS n_tot
      FROM flat WHERE is_labeled
    ),
    buckets AS (SELECT unnest(range(0, {T29_BUCKETS})) AS bucket),
    weights AS (
      SELECT b.bucket,
             ((COALESCE(p.c_p, 0) + 1) * 1000000) // (t.p_tot + {T29_BUCKETS})
             - ((COALESCE(n.c_n, 0) + 1) * 1000000) // (t.n_tot + {T29_BUCKETS}) AS w
      FROM buckets b
      LEFT JOIN pos_c p ON b.bucket = p.bucket
      LEFT JOIN neg_c n ON b.bucket = n.bucket
      CROSS JOIN totals t
    )
    SELECT f.doc_id,
           ANY_VALUE(f.lang) AS lang,
           ANY_VALUE(f.is_labeled) AS is_labeled,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w.w) AS BIGINT) AS score,
           ROUND(CAST(SUM(w.w) AS BIGINT) * 1.0 / COUNT(*), 2) AS mean_score,
           CAST(SUM(w.w) AS BIGINT) > 0 AS predicted_pos
    FROM flat f JOIN weights w ON f.bucket = w.bucket
    GROUP BY f.doc_id
    """,
)
def t29_hashed_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    flat = docs.select(
        "doc_id",
        "lang",
        (
            md5_prefix_long(F.col("doc_id").cast("string")) % 100
            < T29_LABELED_PCT
        ).alias("is_labeled"),
        F.explode(F.split("text", " ")).alias("tok"),
    ).select(
        "doc_id", "lang", "is_labeled",
        (md5_prefix_long(F.col("tok")) % T29_BUCKETS).alias("bucket"),
    )
    labeled = flat.filter("is_labeled")
    is_pos = F.col("lang") == T29_POS_LANG
    pos_c = labeled.filter(is_pos).groupBy("bucket").agg(F.count("*").alias("c_p"))
    neg_c = labeled.filter(~is_pos).groupBy("bucket").agg(F.count("*").alias("c_n"))
    totals = labeled.agg(
        F.count(F.when(is_pos, 1)).alias("p_tot"),
        F.count(F.when(~is_pos, 1)).alias("n_tot"),
    )
    # Dense bucket spine: a feature bucket unseen in the labeled slice
    # still carries the smoothing-only prior weight, exactly as a
    # trained hashing-trick model has a weight for every slot.
    buckets = spark.range(T29_BUCKETS).select(F.col("id").alias("bucket"))
    weights = (
        buckets.join(pos_c, "bucket", "left")
        .join(neg_c, "bucket", "left")
        .join(F.broadcast(totals))  # 1-row totals
        .select(
            "bucket",
            (
                F.expr(
                    f"((coalesce(c_p, 0) + 1) * 1000000) div (p_tot + {T29_BUCKETS})"
                )
                - F.expr(
                    f"((coalesce(c_n, 0) + 1) * 1000000) div (n_tot + {T29_BUCKETS})"
                )
            ).alias("w"),
        )
    )
    return (
        flat.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.any_value("is_labeled").alias("is_labeled"),
            F.count("*").alias("n_tokens"),
            F.sum("w").alias("score"),
            dround(F.sum("w") * F.lit(1.0) / F.count("*"), 2).alias("mean_score"),
            (F.sum("w") > 0).alias("predicted_pos"),
        )
    )


# --------------------------------------------------------------------------
# t30: LM-perplexity tercile filtering — the CCNet selection rule
# (Wenzek et al. 2020): score every document with the corpus bigram LM
# (t16's all-integer conditional-probability ppm), length-normalize,
# and split the corpus into head / middle / tail TERCILES of LM
# likelihood; the canonical pipeline keeps head+middle and drops (or
# down-weights) the tail. Normalization is integer (sum_ppm div
# n_bigrams) so the ranking is exact in both engines, and the tercile
# assignment uses the distributed exact-ntile plan (ranks.ntile_exact
# — the q55/e15 machinery), never a single-partition global window.
#
# Scale (100 TB): t16's two vocabulary-sized count shuffles + one
# doc-level agg, then ntile_exact's range-partition rank (sample-based
# boundaries, the SortExec discipline) — no stage sees the corpus in
# one partition.
# --------------------------------------------------------------------------
@register(
    "t30_perplexity_buckets",
    oracle="""
    WITH occ AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                 i -> struct_pack(w1 := string_split(text, ' ')[i],
                                  g  := concat_ws(' ', string_split(text, ' ')[i],
                                                  string_split(text, ' ')[i+1])))) AS b
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    flat AS (SELECT doc_id, b.w1 AS w1, b.g AS g FROM occ),
    bg_counts AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c_bg FROM flat GROUP BY g),
    u_counts  AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_u FROM flat GROUP BY w1),
    scored AS (
      SELECT f.doc_id, (b.c_bg * 1000000) // u.c_u AS ppm
      FROM flat f JOIN bg_counts b ON f.g = b.g
                  JOIN u_counts u ON f.w1 = u.w1
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS norm_ppm
      FROM scored GROUP BY doc_id
    ),
    binned AS (
      SELECT doc_id, n_bigrams, norm_ppm,
             NTILE(3) OVER (ORDER BY norm_ppm DESC, doc_id) AS tercile
      FROM per_doc
    )
    SELECT doc_id, n_bigrams, norm_ppm,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           tercile <= 2 AS keep
    FROM binned
    """,
)
def t30_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ranks import ntile_exact

    docs = _docs(spark, sf_dir)
    flat = (
        docs.filter(F.size(F.split("text", " ")) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "flatten(transform(array(split(text, ' ')),"
                    " toks -> transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS w1,"
                    "             concat_ws(' ', toks[i], toks[i+1]) AS g))))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.g")
    )
    bg_counts = flat.groupBy("g").agg(F.count("*").alias("c_bg"))
    u_counts = flat.groupBy("w1").agg(F.count("*").alias("c_u"))
    scored = (
        flat.join(bg_counts, "g")
        .join(u_counts, "w1")
        .select("doc_id", F.expr("(c_bg * 1000000) div c_u").alias("ppm"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.expr("sum(ppm) div count(*)").alias("norm_ppm"),
    )
    binned = ntile_exact(
        per_doc, 3, [F.col("norm_ppm").desc(), F.col("doc_id")], "tercile"
    )
    return binned.select(
        "doc_id",
        "n_bigrams",
        "norm_ppm",
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
        (F.col("tercile") <= 2).alias("keep"),
    )


# --------------------------------------------------------------------------
# t31: held-out bigram-LM evaluation — the split-disciplined version
# of t16 and the AB check a data-quality team actually runs: estimate
# the bigram LM from the TRAIN split ONLY (t08's deterministic
# hash-mod split), then score the VAL split's documents under it,
# counting out-of-vocabulary bigrams explicitly. t16 scores the corpus
# under counts that include every scored doc (self-influence); the
# held-out protocol removes it, which is what makes scores comparable
# across candidate corpora. All-integer: seen bigrams score
# (c_bg * 1e6) div c_u from train counts; unseen bigrams contribute 0
# and are counted in oov_bigrams (reported, not smoothed away — the
# oracle replays exactly).
#
# Scale (100 TB): train-side counts are vocabulary-sized map-side
# combines (the t16 argument); the val stream left-joins them on the
# bigram key, and the split filters are row-local hash predicates —
# no new shuffle shape beyond t16.
# --------------------------------------------------------------------------
@register(
    "t31_heldout_lm_eval",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, text,
             {md5_prefix_long_sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    occ AS (
      SELECT doc_id, bucket,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                 i -> struct_pack(w1 := string_split(text, ' ')[i],
                                  g  := concat_ws(' ', string_split(text, ' ')[i],
                                                  string_split(text, ' ')[i+1])))) AS b
      FROM split
    ),
    flat AS (SELECT doc_id, bucket, b.w1 AS w1, b.g AS g FROM occ),
    bg_counts AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS c_bg FROM flat
      WHERE bucket < 80 GROUP BY g
    ),
    u_counts AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_u FROM flat
      WHERE bucket < 80 GROUP BY w1
    ),
    val_scored AS (
      SELECT f.doc_id,
             CASE WHEN b.c_bg IS NOT NULL AND u.c_u IS NOT NULL
                  THEN (b.c_bg * 1000000) // u.c_u END AS ppm
      FROM flat f
      LEFT JOIN bg_counts b ON f.g = b.g
      LEFT JOIN u_counts u ON f.w1 = u.w1
      WHERE f.bucket >= 80 AND f.bucket < 90
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) FILTER (WHERE ppm IS NULL) AS BIGINT) AS oov_bigrams,
           CAST(COALESCE(SUM(ppm), 0) AS BIGINT) AS score,
           CAST((1000 * COUNT(*) FILTER (WHERE ppm IS NULL)) // COUNT(*)
                AS BIGINT) AS oov_milli
    FROM val_scored
    GROUP BY doc_id
    """,
)
def t31_heldout_lm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bucket = md5_prefix_long(F.col("doc_id").cast("string")) % 100
    flat = (
        docs.filter(F.size(F.split("text", " ")) >= 2)
        .select(
            "doc_id",
            bucket.alias("bucket"),
            F.explode(
                F.expr(
                    "flatten(transform(array(split(text, ' ')),"
                    " toks -> transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS w1,"
                    "             concat_ws(' ', toks[i], toks[i+1]) AS g))))"
                )
            ).alias("b"),
        )
        .select("doc_id", "bucket", "b.w1", "b.g")
    )
    train = flat.filter(F.col("bucket") < 80)
    bg_counts = train.groupBy("g").agg(F.count("*").alias("c_bg"))
    u_counts = train.groupBy("w1").agg(F.count("*").alias("c_u"))
    val = flat.filter((F.col("bucket") >= 80) & (F.col("bucket") < 90))
    scored = (
        val.join(bg_counts, "g", "left")
        .join(u_counts, "w1", "left")
        .select(
            "doc_id",
            F.when(
                F.col("c_bg").isNotNull() & F.col("c_u").isNotNull(),
                F.expr("(c_bg * 1000000) div c_u"),
            ).alias("ppm"),
        )
    )
    is_oov = F.col("ppm").isNull()
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.count(F.when(is_oov, 1)).alias("oov_bigrams"),
        F.coalesce(F.sum("ppm"), F.lit(0)).cast("long").alias("score"),
        F.expr(
            "CAST((1000 * count(CASE WHEN ppm IS NULL THEN 1 END))"
            " div count(*) AS BIGINT)"
        ).alias("oov_milli"),
    )


# --------------------------------------------------------------------------
# t32: cross-source vocabulary divergence — the drift matrix a corpus
# monitor computes between ingestion sources (and, run over time
# slices, between snapshots): total-variation distance between the
# per-source unigram distributions, in exact integer ppm
# (sum_t |p_a(t) − p_b(t)| with p in ppm; the /2 halving is floor
# division, documented — both engines identical). High TV between two
# sources that should cover the same domain flags a scraper change or
# contamination; near-zero TV across "different" sources flags
# duplicated feeds (the d13 signal from the distribution side).
#
# Scale: the unigram distribution table is |sources| x vocab
# (map-side combined); the pair matrix is |sources|² — a handful of
# full-outer joins on the token key, each vocab-sized. Sources, not
# the corpus, bound the pair count.
# --------------------------------------------------------------------------
@register(
    "t32_source_vocab_divergence",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY source, tok
    ),
    totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY source
    ),
    dist AS (
      SELECT c.source, c.tok, (c.c * 1000000) // t.n AS ppm
      FROM counts c JOIN totals t USING (source)
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM totals a JOIN totals b ON a.source < b.source
    ),
    ta AS (
      SELECT p.src_a, p.src_b, d.tok, d.ppm AS p_a
      FROM pairs p JOIN dist d ON d.source = p.src_a
    ),
    tb AS (
      SELECT p.src_a, p.src_b, d.tok, d.ppm AS p_b
      FROM pairs p JOIN dist d ON d.source = p.src_b
    ),
    unioned AS (
      SELECT COALESCE(ta.src_a, tb.src_a) AS src_a,
             COALESCE(ta.src_b, tb.src_b) AS src_b,
             COALESCE(ta.p_a, 0) AS p_a, COALESCE(tb.p_b, 0) AS p_b,
             CASE WHEN ta.tok IS NOT NULL AND tb.tok IS NOT NULL THEN 1 END
               AS shared
      FROM ta FULL OUTER JOIN tb
        ON ta.src_a = tb.src_a AND ta.src_b = tb.src_b AND ta.tok = tb.tok
    )
    SELECT src_a, src_b,
           CAST(COUNT(*) AS BIGINT) AS n_tokens_union,
           CAST(COUNT(shared) AS BIGINT) AS n_tokens_shared,
           CAST(SUM(ABS(p_a - p_b)) // 2 AS BIGINT) AS tv_ppm
    FROM unioned
    GROUP BY src_a, src_b
    """,
)
def t32_source_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    counts = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    dist = counts.join(F.broadcast(totals), "source").select(
        "source", "tok", F.expr("(c * 1000000) div n").alias("ppm")
    )
    pairs = (
        totals.select(F.col("source").alias("src_a"))
        .crossJoin(totals.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    ta = pairs.join(
        dist.select(F.col("source").alias("src_a"), "tok", F.col("ppm").alias("p_a")),
        "src_a",
    )
    tb = pairs.join(
        dist.select(F.col("source").alias("src_b"), "tok", F.col("ppm").alias("p_b")),
        "src_b",
    )
    unioned = ta.join(tb, ["src_a", "src_b", "tok"], "full_outer").select(
        "src_a", "src_b",
        F.coalesce("p_a", F.lit(0)).alias("p_a"),
        F.coalesce("p_b", F.lit(0)).alias("p_b"),
        (F.col("p_a").isNotNull() & F.col("p_b").isNotNull()).alias("shared"),
    )
    return unioned.groupBy("src_a", "src_b").agg(
        F.count("*").alias("n_tokens_union"),
        F.count(F.when(F.col("shared"), 1)).alias("n_tokens_shared"),
        F.expr("CAST(sum(abs(p_a - p_b)) div 2 AS BIGINT)").alias("tv_ppm"),
    )


# --------------------------------------------------------------------------
# t33: lexical diversity profile — the per-document vocabulary-health
# signals (type-token ratio, hapax fraction, mean word length) that
# complement t02's surface heuristics and t11's repetition signals:
# low TTR with low hapax share marks template/boilerplate text even
# when t11's adjacent-repeat counters miss it (shuffled repetition),
# and mean word length separates prose from code/ID dumps. All ratios
# are integer milli over exact counts (TTR = 1000 * distinct_tokens
# div tokens; hapax = tokens occurring exactly once in the DOC).
#
# Scale: one explode + a (doc_id, tok) count + a doc_id rollup — the
# word-count shape, map-side combined, one shuffle on the doc-token
# key and one on doc_id.
# --------------------------------------------------------------------------
@register(
    "t33_lexical_diversity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    per_tok AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(length(tok)) AS BIGINT) AS chars
      FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST((1000 * COUNT(*)) // SUM(c) AS BIGINT) AS ttr_milli,
           CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
           CAST((1000 * COUNT(*) FILTER (WHERE c = 1)) // SUM(c) AS BIGINT)
             AS hapax_milli,
           CAST((1000 * SUM(chars)) // SUM(c) AS BIGINT)
             AS mean_word_len_milli
    FROM per_tok
    GROUP BY doc_id
    """,
)
def t33_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.length("tok")).alias("chars"),
        )
    )
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.expr("CAST((1000 * count(*)) div sum(c) AS BIGINT)").alias("ttr_milli"),
        F.count(F.when(F.col("c") == 1, 1)).alias("n_hapax"),
        F.expr(
            "CAST((1000 * count(CASE WHEN c = 1 THEN 1 END)) div sum(c)"
            " AS BIGINT)"
        ).alias("hapax_milli"),
        F.expr("CAST((1000 * sum(chars)) div sum(c) AS BIGINT)").alias(
            "mean_word_len_milli"
        ),
    )


# --------------------------------------------------------------------------
# t34: language-ID confusion audit — grades t03's marker-word predictor
# against the fixture's ground-truth `lang` column, the acceptance
# check a curation pipeline runs before trusting a language filter to
# route 100 TB of text: the full confusion matrix plus per-cell shares
# of the labeled row (recall on the diagonal) and of the predicted
# column (precision on the diagonal), all in integer milli over exact
# counts so both engines agree bit-for-bit.
#
# Scale: t03 is row-local scoring; the matrix is one groupBy to
# |langs|² rows, then two broadcast joins against |langs|-row totals.
# Nothing after the scan exceeds the label-vocabulary size.
# --------------------------------------------------------------------------
def _t34_oracle() -> str:
    return f"""
    WITH p AS ({_lang_oracle()}),
    cells AS (
      SELECT labeled_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM p GROUP BY labeled_lang, pred_lang
    ),
    lab AS (
      SELECT labeled_lang, CAST(SUM(n_docs) AS BIGINT) AS labeled_total
      FROM cells GROUP BY labeled_lang
    ),
    pr AS (
      SELECT pred_lang, CAST(SUM(n_docs) AS BIGINT) AS pred_total
      FROM cells GROUP BY pred_lang
    )
    SELECT c.labeled_lang, c.pred_lang, c.n_docs,
           l.labeled_total, pr.pred_total,
           (1000 * c.n_docs) // l.labeled_total AS share_of_labeled_milli,
           (1000 * c.n_docs) // pr.pred_total AS share_of_pred_milli,
           CAST(c.labeled_lang = c.pred_lang AS BIGINT) AS is_diagonal
    FROM cells c
    JOIN lab l USING (labeled_lang)
    JOIN pr USING (pred_lang)
    """


@register("t34_langid_confusion", oracle=_t34_oracle())
def t34_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = t03_lang_id(spark, sf_dir)
    cells = pred.groupBy("labeled_lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )
    lab = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").alias("labeled_total")
    )
    pr = cells.groupBy("pred_lang").agg(F.sum("n_docs").alias("pred_total"))
    return (
        cells.join(F.broadcast(lab), "labeled_lang")
        .join(F.broadcast(pr), "pred_lang")
        .select(
            "labeled_lang",
            "pred_lang",
            "n_docs",
            "labeled_total",
            "pred_total",
            F.expr("(1000 * n_docs) div labeled_total").alias(
                "share_of_labeled_milli"
            ),
            F.expr("(1000 * n_docs) div pred_total").alias(
                "share_of_pred_milli"
            ),
            (F.col("labeled_lang") == F.col("pred_lang"))
            .cast("long")
            .alias("is_diagonal"),
        )
    )


# --------------------------------------------------------------------------
# t35: code-vs-prose profile — the surface signals real curation
# pipelines use to route source code away from the prose corpus before
# language-ID or quality scoring (both of which misfire on code):
# symbol / digit / uppercase densities, longest token (identifiers and
# URLs run long; prose words don't), and a rule verdict over those
# integer signals. All row-local regexp counts in milli over exact
# character counts — no tokenizer, no floats.
#
# Scale: pure row-local projection off the scan; whole-stage codegen,
# zero shuffle.
# --------------------------------------------------------------------------
T35_SYM_MILLI = 30
T35_DIGIT_MILLI = 300
T35_MAX_TOKEN = 40


@register(
    "t35_code_prose_profile",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT)
               AS n_sym,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
             CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper,
             CAST(list_max(list_transform(string_split(text, ' '),
                                          t -> length(t))) AS BIGINT)
               AS max_token_len
      FROM documents
    )
    SELECT doc_id, n_chars,
           (1000 * n_sym) // n_chars AS sym_milli,
           (1000 * n_digit) // n_chars AS digit_milli,
           (1000 * n_upper) // n_chars AS upper_milli,
           max_token_len,
           CASE WHEN (1000 * n_sym) // n_chars > {T35_SYM_MILLI}
                  OR (1000 * n_digit) // n_chars > {T35_DIGIT_MILLI}
                  OR max_token_len >= {T35_MAX_TOKEN}
                THEN 'code' ELSE 'prose' END AS verdict
    FROM feats
    """,
)
def t35_code_prose_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    feats = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.regexp_count(F.col("text"), F.lit("[^A-Za-z0-9 ]")).cast("long").alias("n_sym"),
        F.regexp_count(F.col("text"), F.lit("[0-9]")).cast("long").alias("n_digit"),
        F.regexp_count(F.col("text"), F.lit("[A-Z]")).cast("long").alias("n_upper"),
        F.expr("CAST(array_max(transform(split(text, ' '), t -> length(t))) AS BIGINT)")
        .alias("max_token_len"),
    )
    sym_milli = F.expr("(1000 * n_sym) div n_chars")
    digit_milli = F.expr("(1000 * n_digit) div n_chars")
    return feats.select(
        "doc_id",
        "n_chars",
        sym_milli.alias("sym_milli"),
        digit_milli.alias("digit_milli"),
        F.expr("(1000 * n_upper) div n_chars").alias("upper_milli"),
        "max_token_len",
        F.when(
            (sym_milli > T35_SYM_MILLI)
            | (digit_milli > T35_DIGIT_MILLI)
            | (F.col("max_token_len") >= T35_MAX_TOKEN),
            F.lit("code"),
        )
        .otherwise(F.lit("prose"))
        .alias("verdict"),
    )


# --------------------------------------------------------------------------
# x12: deterministic uniform per-group sample — k docs per source,
# chosen by md5-hash rank of the doc id. The unweighted companion to
# t21's importance sampler and the primitive behind every "eyeball 100
# docs per shard" QA loop: reproducible across runs and engines (no
# RNG state), stable under corpus append ONLY for surviving members
# (hash order is global, so inserts can displace boundary rows — the
# documented trade vs a true reservoir, which cannot be both
# distributed and insertion-stable either).
#
# Scale: Spark plans rank-limited windows as WindowGroupLimit —
# each partition keeps a k-row heap per group BEFORE the shuffle, so
# the exchange moves O(k x |groups| x partitions) rows, not the corpus;
# the md5 rank key is computed in codegen.
# --------------------------------------------------------------------------
X12_K = 7


def _x12_oracle() -> str:
    hk = md5_prefix_long_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY {hk}, doc_id) AS sample_rank
      FROM documents
    )
    SELECT source, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id
    FROM ranked WHERE sample_rank <= {X12_K}
    """


@register("x12_uniform_group_sample", oracle=_x12_oracle())
def x12_uniform_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("source", "doc_id")
    hk = md5_prefix_long(F.col("doc_id").cast("string"))
    w = W.partitionBy("source").orderBy(hk.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= X12_K)
        .select("source", "sample_rank", "doc_id")
    )


# --------------------------------------------------------------------------
# t36: Zipf doubling-ratio audit — checks how closely the corpus term
# distribution follows a power law WITHOUT floating-point regression:
# under Zipf with exponent s, f(r)/f(2r) = 2^s, so the integer ratio
# f(r)*1000 div f(2r) over the top ranks is a distribution fingerprint
# (natural text ~ 2000 milli; uniform/synthetic vocab ~ 1000 milli;
# template spam spikes). Good-Turing/Heaps work (t24) consumes the
# same counts; this emits the rank-halving view a corpus-drift monitor
# can threshold on.
#
# Scale: the vocabulary count is the t24 level-1 aggregate; the top-128
# extraction is a TakeOrderedAndProject (per-partition heap + driver
# merge of 128 rows, never a global sort), and everything after runs
# on that fixed 128-row frame. Rank comes from a predecessor-count
# self-join on the bounded frame, NOT a global window — keeps the
# repo's zero-WindowExec-warning discipline absolute even though a
# 128-row window would be harmless.
# --------------------------------------------------------------------------
T36_TOP = 128


@register(
    "t36_zipf_doubling_ratio",
    oracle=f"""
    WITH counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    top AS (
      SELECT token, freq FROM counts
      ORDER BY freq DESC, token LIMIT {T36_TOP}
    ),
    ranked AS (
      SELECT a.token, a.freq,
             1 + COUNT(b.token) AS r
      FROM top a LEFT JOIN top b
        ON b.freq > a.freq OR (b.freq = a.freq AND b.token < a.token)
      GROUP BY a.token, a.freq
    )
    SELECT a.r AS rank, a.token, a.freq,
           b.freq AS freq_2r,
           (1000 * a.freq) // b.freq AS doubling_ratio_milli
    FROM ranked a JOIN ranked b ON b.r = 2 * a.r
    """,
)
def t36_zipf_doubling_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    top = counts.orderBy(F.col("freq").desc(), "token").limit(T36_TOP)
    # 128-row frame is read three times (predecessor join both sides +
    # the 2r lookup) — pin it once.
    top = top.localCheckpoint()
    pred = top.select(F.col("token").alias("tb"), F.col("freq").alias("fb"))
    ranked = (
        top.join(
            pred,
            (F.col("fb") > F.col("freq"))
            | ((F.col("fb") == F.col("freq")) & (F.col("tb") < F.col("token"))),
            "left",
        )
        .groupBy("token", "freq")
        .agg((F.lit(1) + F.count("tb")).alias("r"))
    )
    a = ranked.select(
        F.col("r").alias("rank"), "token", "freq"
    )
    b = ranked.select((F.col("r")).alias("rb"), F.col("freq").alias("freq_2r"))
    return a.join(b, F.col("rb") == 2 * F.col("rank")).select(
        F.col("rank").cast("long").alias("rank"),
        "token",
        "freq",
        "freq_2r",
        F.expr("(1000 * freq) div freq_2r").alias("doubling_ratio_milli"),
    )


# --------------------------------------------------------------------------
# t37: OOV-rate audit of the held-out splits against the TRAIN-split
# vocabulary — the tokenizer/vocab-health check run before trusting
# any held-out metric (t31's LM eval starts from the same discipline):
# a validation doc whose tokens are mostly absent from training data
# measures distribution shift, not model quality. Per val/test doc:
# token count, OOV token count, distinct OOV types, and OOV ppm, with
# the split derived by t08's row-local hash-mod bucketing so the
# train/eval boundary is identical across engines and runs.
#
# Scale: the vocabulary is a distinct over train tokens (Heaps-law
# sublinear, but NOT assumed broadcastable at 100 TB) — the membership
# probe is a token-key shuffle equi-join of the exploded eval tokens
# against it, then a per-doc aggregate. Two shuffles over eval-side
# tokens (20% of the corpus), one over train tokens.
# --------------------------------------------------------------------------
def _t37_oracle() -> str:
    bucket = md5_prefix_long_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH splits AS (
      SELECT doc_id, text,
             CASE WHEN {bucket} % 100 < 80 THEN 'train'
                  WHEN {bucket} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    vocab AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
      FROM splits WHERE split = 'train'
    ),
    ev AS (
      SELECT doc_id, split, unnest(string_split(text, ' ')) AS tok
      FROM splits WHERE split <> 'train'
    )
    SELECT e.doc_id, e.split,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
           CAST(COUNT(DISTINCT e.tok) FILTER (WHERE v.tok IS NULL)
                AS BIGINT) AS n_oov_types,
           (1000000 * COUNT(*) FILTER (WHERE v.tok IS NULL)) // COUNT(*)
             AS oov_ppm
    FROM ev e LEFT JOIN vocab v ON v.tok = e.tok
    GROUP BY e.doc_id, e.split
    """


@register("t37_oov_rate_audit", oracle=_t37_oracle())
def t37_oov_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bucket = md5_prefix_long(F.col("doc_id").cast("string")) % 100
    splits = docs.select(
        "doc_id",
        "text",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    vocab = (
        splits.filter(F.col("split") == "train")
        .select(F.explode(F.split("text", " ")).alias("vtok"))
        .distinct()
    )
    ev = splits.filter(F.col("split") != "train").select(
        "doc_id", "split", F.explode(F.split("text", " ")).alias("tok")
    )
    probed = ev.join(vocab, ev.tok == vocab.vtok, "left")
    return probed.groupBy("doc_id", "split").agg(
        F.count("*").alias("n_tokens"),
        F.count(F.when(F.col("vtok").isNull(), 1)).alias("n_oov"),
        F.countDistinct(F.when(F.col("vtok").isNull(), F.col("tok"))).alias(
            "n_oov_types"
        ),
        F.expr(
            "(1000000 * count(CASE WHEN vtok IS NULL THEN 1 END)) div count(*)"
        ).alias("oov_ppm"),
    )


# --------------------------------------------------------------------------
# t38: Kneser-Ney smoothed bigram LM scoring — the standard smoothing
# for n-gram LMs (Kneser & Ney 1995; Chen & Goodman 1999's preferred
# variant) over t16's raw conditional ppm: absolute discount D = 3/4
# on the bigram count, with the discounted mass re-distributed through
# the CONTINUATION probability (how many distinct contexts a word
# follows — "Francisco" is frequent but only ever follows "San", so
# its continuation probability is tiny). Documents scoring low under
# KN but acceptable under t16 are exactly the templated text raw
# conditionals overrate.
#
# All integer, identical in both engines, with every intermediate
# product bounded WITHOUT vocabulary assumptions (the old one-shot
# backoff product 3e6·n1p·ncont overflows int64 once n1p·ncont
# reaches ~3e12 — i.e. ~1.75M distinct successor AND predecessor
# types, reachable at corpus scale; DuckDB would raise but Spark
# wraps silently into negative scores):
#   term1     = (250000 * max(4*c12 - 3, 0)) div c1
#               (≡ (1e6·max(4c12-3,0)) div (4c1) exactly — same floor)
#   pcont_ppm = (1e6 * ncont(w2)) div ntot_types   — ncont ≤ ntot, so
#               the product needs ncont < 9.2e12: any vocabulary fits
#   backoff   = (3 * n1p(w1) * pcont_ppm) div (4 * c1)
#               — bounded by 3e6·n1p, safe for n1p < 3e12
#   kn_ppm    = term1 + backoff
# Flooring pcont first costs ≤ 1 ppm vs the one-shot quotient (the
# λ = 3·n1p/(4·c1) factor is ≤ 3/4); both engines share the exact
# formula, so parity is still bit-exact.
# (n1p = distinct successors of w1; ncont = distinct predecessors of
# w2; ntot_types = distinct bigram types.)
#
# Scale: identical shuffle profile to t16 — bigram-stream counts
# (vocabulary-sized, map-side combined), count-table joins back to the
# occurrence stream keyed on w1/g/w2, one doc-level aggregate.
# --------------------------------------------------------------------------
@register(
    "t38_kneser_ney_score",
    oracle="""
    WITH occ AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                 i -> struct_pack(
                     w1 := string_split(text, ' ')[i],
                     w2 := string_split(text, ' ')[i+1]))) AS b
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    s AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM occ),
    c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM s GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1,
             CAST(COUNT(DISTINCT w2) AS BIGINT) AS n1p
      FROM s GROUP BY w1
    ),
    ncont AS (
      SELECT w2, CAST(COUNT(DISTINCT w1) AS BIGINT) AS ncont FROM s GROUP BY w2
    ),
    ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntot FROM c12),
    scored AS (
      SELECT o.doc_id,
             (250000 * GREATEST(4 * b.c12 - 3, 0)) // u.c1
             + (3 * u.n1p * ((1000000 * n.ncont) // t.ntot))
               // (4 * u.c1) AS kn_ppm
      FROM s o
      JOIN c12 b ON b.w1 = o.w1 AND b.w2 = o.w2
      JOIN c1 u ON u.w1 = o.w1
      JOIN ncont n ON n.w2 = o.w2
      CROSS JOIN ntot t
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(kn_ppm) // COUNT(*) AS BIGINT) AS mean_kn_ppm,
           CAST(MIN(kn_ppm) AS BIGINT) AS min_kn_ppm
    FROM scored GROUP BY doc_id
    """,
)
def t38_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    s = (
        docs.filter(F.size(toks) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(split(text, ' ')) - 2),"
                    " i -> struct(split(text, ' ')[i] AS w1,"
                    "             split(text, ' ')[i+1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    # One shuffle collapses the occurrence stream to per-doc bigram
    # counts; EVERYTHING else (corpus bigram table, context totals,
    # successor/predecessor type counts, the scoring join) derives from
    # the two pinned artifacts below instead of re-exploding the corpus
    # per consumer (measured 6.4s -> 4.0s warm at sf0.1; the residue is
    # the string-keyed shuffles themselves). On a cluster the
    # checkpoints become persist()/checkpoint() to executor storage.
    dcounts = (
        s.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    c12 = (
        dcounts.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
        .localCheckpoint()  # vocabulary-sized; read by 4 consumers
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1p")
    )
    ncont = c12.groupBy("w2").agg(F.count("*").alias("ncont"))
    ntot = c12.agg(F.count("*").alias("ntot"))
    scored = (
        dcounts.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(ncont, "w2")
        .join(F.broadcast(ntot))
        .select(
            "doc_id",
            "c",
            F.expr(
                "(250000 * greatest(4 * c12 - 3, 0)) div c1"
                " + (3 * n1p * ((1000000 * ncont) div ntot)) div (4 * c1)"
            ).alias("kn_ppm"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.expr(
            "CAST(sum(c * kn_ppm) div sum(c) AS BIGINT)"
        ).alias("mean_kn_ppm"),
        F.min("kn_ppm").alias("min_kn_ppm"),
    )


# --------------------------------------------------------------------------
# t39: k-anonymity audit over quasi-identifiers — the privacy-hygiene
# check a corpus release runs before shipping metadata: per
# (lang, source, length-bucket) equivalence class, how many documents
# share the tuple, and the flag for classes below the k threshold
# (small classes make their members re-identifiable from "anonymous"
# metadata — Sweeney's k-anonymity, applied to the release manifest).
# Also emits the per-class share of the corpus in ppm.
#
# Scale: one groupBy on the quasi-identifier tuple (map-side combined,
# class count bounded by |langs| x |sources| x |buckets|) + a 1-row
# total broadcast.
# --------------------------------------------------------------------------
T39_K = 5


@register(
    "t39_k_anonymity_audit",
    oracle=f"""
    WITH classes AS (
      SELECT lang, source,
             CAST(length(text) // 100 AS BIGINT) AS len_bucket,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM documents GROUP BY lang, source, length(text) // 100
    ),
    tot AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n FROM classes)
    SELECT c.lang, c.source, c.len_bucket, c.class_size,
           (1000000 * c.class_size) // t.n AS share_ppm,
           CAST(c.class_size < {T39_K} AS BIGINT) AS below_k
    FROM classes c CROSS JOIN tot t
    """,
)
def t39_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    classes = docs.groupBy(
        "lang",
        "source",
        F.expr("CAST(length(text) div 100 AS BIGINT)").alias("len_bucket"),
    ).agg(F.count("*").alias("class_size"))
    tot = classes.agg(F.sum("class_size").alias("n"))
    return classes.join(F.broadcast(tot)).select(
        "lang",
        "source",
        "len_bucket",
        "class_size",
        F.expr("(1000000 * class_size) div n").alias("share_ppm"),
        (F.col("class_size") < T39_K).cast("long").alias("below_k"),
    )


# --------------------------------------------------------------------------
# t40: iterative BPE merge-rule TRAINING — the real tokenizer-training
# loop (Sennrich et al. 2016): symbols start as the CHARACTERS of each
# word, and each round merges the adjacent symbol pair with the highest
# word-frequency-weighted count. After each merge pair counts are
# RECOUNTED on the current segmentation, so rule k's frequency reflects
# rules 1..k-1 (merged symbols can themselves pair up — multi-char
# left/right symbols in later rows show it). Tie-break: count desc,
# then (w1, w2) text asc. Per-word symbol state uses t25's double-space
# encoding, where splicing is one literal replace(' w1  w2 ', ' w1w2 ')
# — greedy left-to-right non-overlapping in BOTH engines, and the
# double spacing means adjacent merge sites share no characters, so
# "a b a b" merges both sites in one pass while the overlapping
# "a a a" chain merges only the leftmost (exactly greedy BPE).
#
# Output: the learned merge table (rank, left symbol, right symbol,
# the pair's weighted frequency AT ITS TRAINING ROUND) — the artifact
# a tokenizer ships.
#
# Scale (the round-6 trainer-shape fix): training never rescans the
# corpus. ONE corpus scan builds the word-frequency table (Heaps' law:
# |vocab| ~ O(sqrt(corpus)), e.g. ~10M types for a 100 TB web corpus),
# then every merge round runs over that VOCAB-SIZED table — pair counts
# weighted by word frequency (map-side combined, |symbol-vocab|² upper
# bound but in practice ~|vocab|·avg_word_len rows pre-combine), a
# 1-row argmax collect (bounded driver state), and a vocab-sized
# replace+localCheckpoint. K=30k real-tokenizer merges therefore cost
# K vocab-table passes, not K corpus scans. The oracle unrolls the
# identical K rounds as CTE stages over the same word-frequency table.
# --------------------------------------------------------------------------
T40_MERGES = 6


def _t40_chain_ctes() -> str:
    """Shared WITH-body for t40/t41/p08 (structural composition per the
    _pq_chain_sql discipline — consumers splice the builder, never
    string-surgery the rendered SQL): the word-frequency table, the
    per-word char-sequence state s0, and K unrolled merge rounds
    (t{k} tokenize, p{k} weighted pair counts, r{k} argmax, s{k}
    spliced state)."""
    parts = [
        """words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    s0 AS (
      SELECT w, freq,
             ' ' || array_to_string(
               list_transform(range(1, length(w) + 1), i -> w[i]), '  ')
               || ' ' AS s
      FROM words
    )"""
    ]
    for k in range(1, T40_MERGES + 1):
        prev = f"s{k - 1}"
        parts.append(f"""t{k} AS (
      SELECT freq, string_split(trim(s), '  ') AS l FROM {prev}
    ),
    p{k} AS (
      SELECT p[1] AS w1, p[2] AS w2, CAST(SUM(freq) AS BIGINT) AS c
      FROM (SELECT freq, unnest(list_zip(l, l[2:])) AS p FROM t{k})
      WHERE p[2] IS NOT NULL
      GROUP BY 1, 2
    ),
    r{k} AS (SELECT w1, w2, c FROM p{k} ORDER BY c DESC, w1, w2 LIMIT 1),
    s{k} AS (
      SELECT w, freq,
             replace(s, (SELECT ' ' || w1 || '  ' || w2 || ' ' FROM r{k}),
                        (SELECT ' ' || w1 || w2 || ' ' FROM r{k})) AS s
      FROM {prev}
    )""")
    return ",\n    ".join(parts)


def _t40_oracle() -> str:
    picks = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, w1 AS left_sym,"
        f" w2 AS right_sym, c AS pair_freq FROM r{k}"
        for k in range(1, T40_MERGES + 1)
    )
    return f"""
    WITH {_t40_chain_ctes()}
    {picks}
    """


@register("t40_bpe_train", oracle=_t40_oracle())
def t40_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The learned rule table is O(K) driver state and feeds t41/p08 —
    # train once per (session, sf_dir) (the materialize.py discipline;
    # deterministic, so reuse cannot change any result).
    from .materialize import materialized_value

    rules = materialized_value(
        spark, sf_dir, "t40_rules", lambda: _t40_train_rules(spark, sf_dir)
    )
    return spark.createDataFrame(
        rules, "merge_rank long, left_sym string, right_sym string, pair_freq long"
    )


def _bpe_char_seq(col: str):
    """word -> its characters in t25's double-space encoding:
    'ab' -> ' a  b ' (sentinel single spaces, double-space separators)."""
    return F.expr(
        f"concat(' ', array_join(transform(sequence(1, length({col})),"
        f" i -> substring({col}, i, 1)), '  '), ' ')"
    )


def _t40_train_rules(spark: SparkSession, sf_dir: str) -> list[tuple]:
    docs = _docs(spark, sf_dir)
    # ONE corpus scan -> the Heaps-law word-frequency table; every merge
    # round below iterates over this vocab-sized state, never the corpus
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select("w", "freq", _bpe_char_seq("w").alias("s"))
        .localCheckpoint()
    )
    rules = []
    for k in range(1, T40_MERGES + 1):
        toks = vocab.select("freq", F.split(F.trim("s"), "  ").alias("l")).filter(
            F.size("l") >= 2
        )
        pairs = toks.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1),"
                    " i -> struct(l[i - 1] AS w1, l[i] AS w2))"
                )
            ).alias("p"),
        ).select("p.w1", "p.w2", "freq")
        top = (
            pairs.groupBy("w1", "w2")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), "w1", "w2")
            .limit(1)
            .collect()  # 1-row driver state per round: the argmax pair
        )[0]
        rules.append((k, top["w1"], top["w2"], top["c"]))
        vocab = vocab.select(
            "w",
            "freq",
            F.replace(
                F.col("s"),
                F.lit(f" {top['w1']}  {top['w2']} "),
                F.lit(f" {top['w1']}{top['w2']} "),
            ).alias("s"),
        # lineage cut per round: each round's count job re-reads the
        # checkpointed previous state instead of re-running every prior
        # replace over the word table (the d09 iteration discipline)
        ).localCheckpoint()
    return rules


# --------------------------------------------------------------------------
# t41: tokenizer compression evaluation — the acceptance metric a
# trained tokenizer ships with: apply t40's learned merge rules and
# report, PER SOURCE, how many tokens (symbols) the merges save
# relative to the character-level baseline (compression in ppm).
# Merges are within-word, so evaluation never re-tokenizes the corpus:
# the rules are applied once to the VOCAB (per distinct word), then the
# per-word savings are weighted by each source's word-usage counts. In
# the oracle the t40 CTE chain's FINAL state s{K} already is the fully
# merged vocab, so the rules are never re-derived.
#
# Scale: t40's training (amortized if the rule table is already
# materialized), one corpus scan to (source, word, cnt) usage counts
# (map-side combined), a vocab-sized rule application, and a
# usage⋈vocab equi-join on the word key — |sources| output rows. The
# corpus text is read exactly once.
# --------------------------------------------------------------------------
def _t41_oracle() -> str:
    return f"""
    WITH {_t40_chain_ctes()},
    merged AS (
      SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS len_after
      FROM s{T40_MERGES}
    ),
    usage AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY source, w
    ),
    nd AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT nd.source, nd.n_docs,
           CAST(SUM(u.cnt * length(u.w)) AS BIGINT) AS tokens_before,
           CAST(SUM(u.cnt * m.len_after) AS BIGINT) AS tokens_after,
           CAST((1000000 * (SUM(u.cnt * length(u.w))
                            - SUM(u.cnt * m.len_after)))
                // SUM(u.cnt * length(u.w)) AS BIGINT) AS saved_ppm
    FROM usage u
    JOIN merged m ON m.w = u.w
    JOIN nd ON nd.source = u.source
    GROUP BY nd.source, nd.n_docs
    """


@register("t41_bpe_compression_eval", oracle=_t41_oracle())
def t41_bpe_compression_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session-memoized: the rule-replay expression (one replace per
    # BPE merge — a T40_MERGES-deep codegen chain over every distinct
    # word) was re-run by every consumer (this query and p08). The
    # result is one row per source — trivially checkpointable.
    from .materialize import materialized_df

    return materialized_df(
        spark, sf_dir, "t41_compression_eval",
        lambda: _t41_build(spark, sf_dir),
    )


def _t41_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules = t40_bpe_train(spark, sf_dir).orderBy("merge_rank").collect()
    docs = _docs(spark, sf_dir)
    usage = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("cnt"))
    )
    # apply the rules in TRAINING ORDER to each distinct word — identical
    # to replaying the trainer's final vocab state (each replace is
    # exactly the splice round k performed)
    s = _bpe_char_seq("w")
    for r in rules:
        s = F.replace(
            s,
            F.lit(f" {r['left_sym']}  {r['right_sym']} "),
            F.lit(f" {r['left_sym']}{r['right_sym']} "),
        )
    merged = (
        usage.select("w")
        .distinct()
        .select("w", F.size(F.split(F.trim(s), "  ")).cast("long").alias("len_after"))
    )
    nd = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    per_source = (
        usage.join(merged, "w")
        .groupBy("source")
        .agg(
            F.sum(F.col("cnt") * F.length("w")).alias("tokens_before"),
            F.sum(F.col("cnt") * F.col("len_after")).alias("tokens_after"),
        )
    )
    return nd.join(per_source, "source").select(
        "source",
        "n_docs",
        F.col("tokens_before").cast("long").alias("tokens_before"),
        F.col("tokens_after").cast("long").alias("tokens_after"),
        F.expr(
            "(1000000 * (tokens_before - tokens_after)) div tokens_before"
        ).alias("saved_ppm"),
    )


# --------------------------------------------------------------------------
# t42: mixture-independence (chi-square) audit — is language
# distribution independent of source? A skewed cell (one source
# carrying all of one language) means per-source sampling silently
# reweights languages and vice versa — the check a mixture designer
# (t15 domain weights, t28 temperature) runs before treating the two
# axes as separable. Exact integers on the common denominator
# n·r·c: each cell's Pearson term (o − rc/n)²/(rc/n) is computed as
# contribution_milli = (1000·(o·n − r·c)²) div (n·r·c) — no floats,
# order-independent, identical in both engines; the corpus statistic
# is the sum of the per-cell terms (up to one truncation unit each,
# same discipline as g07). Also emits each cell's expected count in
# milli and the signed direction flag.
#
# Scale: one (lang, source) contingency groupBy (map-side combined,
# |langs|×|sources| cells) + two marginal aggregates broadcast back.
# PRECONDITION (int64): the cross term o·n caps the corpus at n ≈ 3e9
# docs — inherent to ANY exact-integer chi-square, since (o−E)² is
# squared counts. Past that, run the audit on a deterministic t08-style
# sample (a chi-square on 3e9 rows is saturated anyway — at that n the
# test rejects independence for trivially tiny effect sizes, so the
# sample IS the statistically honest input).
# --------------------------------------------------------------------------
@register(
    "t42_mixture_independence_audit",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    rows_m AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM cells
               GROUP BY lang),
    cols_m AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM cells
               GROUP BY source),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT ce.lang, ce.source, ce.o, r.r, co.c, n.n,
             (1000 * r.r * co.c) // n.n AS expected_milli,
             (1000 * (ce.o * n.n - r.r * co.c) * (ce.o * n.n - r.r * co.c))
               // (n.n * r.r * co.c) AS contribution_milli,
             CAST(ce.o * n.n > r.r * co.c AS BIGINT) AS over_represented
      FROM cells ce
      JOIN rows_m r USING (lang)
      JOIN cols_m co USING (source)
      CROSS JOIN n
    )
    SELECT lang, source, o AS observed, expected_milli,
           contribution_milli, over_represented,
           (SELECT CAST(SUM(contribution_milli) AS BIGINT) FROM terms)
             AS chi2_milli
    FROM terms
    """,
)
def t42_mixture_independence_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _docs(spark, sf_dir)
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    cells = cells.localCheckpoint()  # |langs|×|sources| frame, 4 readers
    rows_m = cells.groupBy("lang").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("source").agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("n"))
    terms = (
        cells.join(F.broadcast(rows_m), "lang")
        .join(F.broadcast(cols_m), "source")
        .join(F.broadcast(n))
        .select(
            "lang", "source", "o", "r", "c", "n",
            F.expr("(1000 * r * c) div n").alias("expected_milli"),
            F.expr(
                "(1000 * (o * n - r * c) * (o * n - r * c)) div (n * r * c)"
            ).alias("contribution_milli"),
            F.expr("CAST(o * n > r * c AS BIGINT)").alias("over_represented"),
        )
    )
    chi2 = terms.agg(F.sum("contribution_milli").alias("chi2_milli"))
    return terms.join(F.broadcast(chi2)).select(
        "lang", "source", F.col("o").alias("observed"), "expected_milli",
        "contribution_milli", "over_represented", "chi2_milli",
    )


# --------------------------------------------------------------------------
# t44: tokenization-efficiency profile — chars-per-token by language,
# the standard multilingual fairness metric (a tokenizer that spends
# 3× the tokens per character on one language triples its effective
# context cost and training weight): per lang, docs, exact char and
# whitespace-token totals off the stored n_chars column and the t01
# split rule, and the milli ratios both ways. Read next to t41: t41
# says what the learned merges save overall, this says who pays more
# per character before merging.
#
# Scale: one scan → |langs|-row aggregate, map-side combined.
# --------------------------------------------------------------------------
@register(
    "t44_chars_per_token_profile",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST((1000 * SUM(n_chars)) // SUM(len(string_split(text, ' ')))
                AS BIGINT) AS chars_per_token_milli,
           CAST((1000000 * SUM(len(string_split(text, ' ')))) // SUM(n_chars)
                AS BIGINT) AS tokens_per_kchar
    FROM documents
    GROUP BY lang
    """,
)
def t44_chars_per_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "lang",
            "n_chars",
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tok").alias("total_tokens"),
            F.expr("(1000 * sum(n_chars)) div sum(n_tok)").alias(
                "chars_per_token_milli"
            ),
            F.expr("(1000000 * sum(n_tok)) div sum(n_chars)").alias(
                "tokens_per_kchar"
            ),
        )
    )


# --------------------------------------------------------------------------
# t45: char-weighted repetition battery — the Gopher duplicate-n-gram
# filters (Rae et al. 2021, Table A1) t11's count-based signals do not
# cover: per doc, (a) the heaviest repeated n-gram MASS for n=2,3,4
# (occurrences × gram chars, the deterministic no-tie-break variant of
# "fraction of characters in the most common n-gram"), and (b) the
# duplicate-gram char mass for n=5,6 (Σ count·chars over grams seen
# ≥ 2 times — occurrence-counted, so overlaps can push past 1.0;
# clamped at 1000 milli and documented as the conservative upper
# bound). Thresholds are the published ones (0.20/0.18/0.16 top,
# 0.15/0.14 dup); the battery verdict is their conjunction.
#
# Scale: ONE gram explode covers all five n (flattened (n, gram)
# structs), one (doc, n, gram) count with map-side combine, one
# (doc, n) aggregate, then conditional-agg reshape to columns — two
# shuffles total for the whole battery, row counts bounded by
# 5 × tokens per doc.
# --------------------------------------------------------------------------
T45_TOP_THRESH = {2: 200, 3: 180, 4: 160}
T45_DUP_THRESH = {5: 150, 6: 140}


def _t45_oracle() -> str:
    gram_arrays = []
    for n in range(2, 7):
        parts = ", ".join(f"t[i+{k}]" for k in range(n))
        gram_arrays.append(
            f"list_transform(range(1, len(t) - {n - 1} + 1),"
            f" i -> {{'n': {n}, 'g': concat_ws(' ', {parts})}})"
        )
    flat = " || ".join(gram_arrays)
    top_cols = ",\n           ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN (1000 * topmass) // n_chars END), 0)"
        f" AS top{n}_milli"
        for n in T45_TOP_THRESH
    )
    dup_cols = ",\n           ".join(
        f"CAST(COALESCE(MAX(CASE WHEN n = {n} THEN LEAST(1000,"
        f" (1000 * dupmass) // n_chars) END), 0) AS BIGINT) AS dup{n}_milli"
        for n in T45_DUP_THRESH
    )
    conds = " AND ".join(
        [
            f"COALESCE(MAX(CASE WHEN n = {n} THEN (1000 * topmass) // n_chars END), 0)"
            f" <= {t}"
            for n, t in T45_TOP_THRESH.items()
        ]
        + [
            f"COALESCE(MAX(CASE WHEN n = {n} THEN LEAST(1000,"
            f" (1000 * dupmass) // n_chars) END), 0) <= {t}"
            for n, t in T45_DUP_THRESH.items()
        ]
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 6
    ),
    grams AS (
      SELECT doc_id, n_chars, u.s['n'] AS n, u.s['g'] AS g
      FROM toks, unnest({flat}) u(s)
    ),
    counts AS (
      SELECT doc_id, n_chars, n, g,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(length(g) AS BIGINT) AS glen
      FROM grams GROUP BY doc_id, n_chars, n, g
    ),
    per_n AS (
      SELECT doc_id, n_chars, n,
             MAX(c * glen) AS topmass,
             COALESCE(SUM(CASE WHEN c >= 2 THEN c * glen END), 0) AS dupmass
      FROM counts GROUP BY doc_id, n_chars, n
    )
    SELECT doc_id,
           {top_cols},
           {dup_cols},
           CAST({conds} AS BIGINT) AS passes_battery
    FROM per_n GROUP BY doc_id
    """


@register("t45_gopher_repetition", oracle=_t45_oracle())
def t45_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    gram_arrays = []
    for n in range(2, 7):
        parts = ", ".join(f"t[i+{k}]" for k in range(n))
        gram_arrays.append(
            f"transform(sequence(0, size(t) - {n}),"
            f" i -> struct({n} AS n, concat_ws(' ', {parts}) AS g))"
        )
    flat = f"flatten(array({', '.join(gram_arrays)}))"
    toks = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.split("text", " ").alias("t"),
    ).filter(F.size("t") >= 6)
    grams = toks.select(
        "doc_id", "n_chars", F.explode(F.expr(flat)).alias("s")
    ).select("doc_id", "n_chars", F.col("s.n").alias("n"), F.col("s.g").alias("g"))
    counts = grams.groupBy("doc_id", "n_chars", "n", "g").agg(
        F.count("*").alias("c")
    )
    per_n = counts.groupBy("doc_id", "n_chars", "n").agg(
        F.max(F.col("c") * F.length("g")).alias("topmass"),
        F.coalesce(
            F.sum(F.when(F.col("c") >= 2, F.col("c") * F.length("g"))),
            F.lit(0),
        ).alias("dupmass"),
    )
    top_exprs = [
        F.coalesce(
            F.max(F.when(F.col("n") == n, F.expr("(1000 * topmass) div n_chars"))),
            F.lit(0),
        ).alias(f"top{n}_milli")
        for n in T45_TOP_THRESH
    ]
    dup_exprs = [
        F.coalesce(
            F.max(
                F.when(
                    F.col("n") == n,
                    F.least(F.lit(1000), F.expr("(1000 * dupmass) div n_chars")),
                )
            ),
            F.lit(0),
        ).alias(f"dup{n}_milli")
        for n in T45_DUP_THRESH
    ]
    out = per_n.groupBy("doc_id").agg(*top_exprs, *dup_exprs)
    passes = None
    for n, t in T45_TOP_THRESH.items():
        c = F.col(f"top{n}_milli") <= t
        passes = c if passes is None else passes & c
    for n, t in T45_DUP_THRESH.items():
        passes = passes & (F.col(f"dup{n}_milli") <= t)
    return out.select("*", passes.cast("long").alias("passes_battery"))


# --------------------------------------------------------------------------
# t46: vocabulary coverage curve — the tokenizer-budget planning table:
# what fraction of total token MASS the top-k vocabulary entries cover,
# at a sweep of k. Read before fixing a vocab size (the t40 trainer's
# budget) or an OOV policy (t37's rate is this curve's complement at
# the chosen k). Ranking is by (count DESC, token) — fully
# deterministic — and computed with ranks.global_rank, NOT a global
# window: the vocabulary grows with the corpus (Heaps' law), so the
# single-task ROW_NUMBER shortcut is exactly the scale trap the ranks
# module exists to avoid.
#
# Scale: one corpus scan into the map-side-combined token count, the
# distributed rank (range partition + #partitions-row offsets), one
# broadcast k-sweep join, one k-keyed aggregate. Nothing bigger than
# #partitions rows reaches the driver.
# --------------------------------------------------------------------------
T46_KS = [4, 8, 16, 32]


@register(
    "t46_vocab_coverage_curve",
    oracle=f"""
    WITH vocab AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rk
      FROM vocab
    ),
    tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS vocab_size FROM ranked)
    SELECT k.k,
           CAST(SUM(r.cnt) AS BIGINT) AS covered_tokens,
           CAST(ANY_VALUE(t.total) AS BIGINT) AS total_tokens,
           CAST(ANY_VALUE(t.vocab_size) AS BIGINT) AS vocab_size,
           CAST((1000 * CAST(SUM(r.cnt) AS BIGINT)) // ANY_VALUE(t.total)
                AS BIGINT) AS coverage_milli
    FROM (SELECT unnest([{", ".join(str(k) for k in T46_KS)}]) AS k) k
    JOIN ranked r ON r.rk <= k.k
    CROSS JOIN tot t
    GROUP BY k.k
    """,
)
def t46_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ranks import global_rank

    docs = _docs(spark, sf_dir)
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    ranked, _ = global_rank(
        vocab, [F.col("cnt").desc(), F.col("tok")], "rk"
    )
    tot = ranked.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("vocab_size")
    )
    ks = spark.createDataFrame([(k,) for k in T46_KS], "k long")
    return (
        ranked.join(F.broadcast(ks), F.col("rk") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("cnt").cast("long").alias("covered_tokens"))
        .join(F.broadcast(tot))
        .select(
            "k",
            "covered_tokens",
            F.col("total").cast("long").alias("total_tokens"),
            F.col("vocab_size").cast("long").alias("vocab_size"),
            F.expr("(1000 * covered_tokens) div total").alias("coverage_milli"),
        )
    )


# --------------------------------------------------------------------------
# t47: BPE fertility by language — the standard multilingual tokenizer
# audit (tokens per word, by language): a tokenizer trained on a mixed
# corpus systematically over-segments under-represented languages, and
# fertility (post-merge symbols per word) is the metric that exposes
# it before training. Composes t40's learned merges: per language,
# total words, total post-BPE tokens, total chars, fertility in milli
# (1000·tokens/words) and the post-BPE chars-per-token in milli (the
# BPE counterpart of t44's whitespace-token profile).
#
# Scale: the t41 shape with lang as the report axis — one corpus scan
# to (lang, word, cnt) usage counts, a vocab-sized rule application,
# one usage⋈vocab equi-join; |langs| output rows. Corpus read once.
# --------------------------------------------------------------------------
def _t47_oracle() -> str:
    return f"""
    WITH {_t40_chain_ctes()},
    merged AS (
      SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS len_after
      FROM s{T40_MERGES}
    ),
    usage AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY lang, w
    )
    SELECT u.lang,
           CAST(SUM(u.cnt) AS BIGINT) AS n_words,
           CAST(SUM(u.cnt * m.len_after) AS BIGINT) AS n_tokens,
           CAST(SUM(u.cnt * length(u.w)) AS BIGINT) AS n_chars,
           CAST((1000 * SUM(u.cnt * m.len_after)) // SUM(u.cnt) AS BIGINT)
             AS fertility_milli,
           CAST((1000 * SUM(u.cnt * length(u.w)))
                // SUM(u.cnt * m.len_after) AS BIGINT)
             AS bpe_chars_per_token_milli
    FROM usage u JOIN merged m ON m.w = u.w
    GROUP BY u.lang
    """


@register("t47_bpe_fertility_by_lang", oracle=_t47_oracle())
def t47_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules = t40_bpe_train(spark, sf_dir).orderBy("merge_rank").collect()
    docs = _docs(spark, sf_dir)
    usage = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("cnt"))
    )
    s = _bpe_char_seq("w")
    for r in rules:
        s = F.replace(
            s,
            F.lit(f" {r['left_sym']}  {r['right_sym']} "),
            F.lit(f" {r['left_sym']}{r['right_sym']} "),
        )
    merged = (
        usage.select("w")
        .distinct()
        .select("w", F.size(F.split(F.trim(s), "  ")).cast("long").alias("len_after"))
    )
    return (
        usage.join(merged, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("len_after")).cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.length("w")).cast("long").alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("(1000 * n_tokens) div n_words").alias("fertility_milli"),
            F.expr("(1000 * n_chars) div n_tokens").alias(
                "bpe_chars_per_token_milli"
            ),
        )
    )


# --------------------------------------------------------------------------
# t48: Unicode NFC-normalization dedup — the normalization pass a
# multilingual corpus runs BEFORE exact/near dedup (d01/d32 hash raw
# bytes, so "café" precomposed and "cafe" + COMBINING ACUTE are
# different rows until normalized — the classic web-scrape dup class
# that byte-level dedup misses). Spark has no NFC built-in, so the
# normalization is an Arrow-batched mapInPandas over stdlib
# unicodedata; the DuckDB oracle runs its own independent
# nfc_normalize implementation — true cross-engine Unicode parity,
# not a replay. Each doc derives a DECOMPOSED variant (text + k
# copies of e + U+0301) and the PRECOMPOSED twin (text + k copies of
# U+00E9); the pipeline must show they differ raw and collide
# post-NFC, with md5s and codepoint counts agreeing with DuckDB's.
#
# Scale: row-local Arrow-batched normalization, zero shuffle; at
# corpus scale this runs fused into the first scan before d01's hash
# groupBy.
# --------------------------------------------------------------------------
_T48_SCHEMA = (
    "doc_id long, raw_cp long, norm_cp long, changed boolean,"
    " match_before boolean, match_after boolean, norm_md5 string"
)


@register(
    "t48_nfc_normalization_dedup",
    oracle="""
    WITH v AS (
      SELECT doc_id,
             text || ' ' || repeat(chr(101) || chr(769), 1 + doc_id % 4)
               AS dec_var,
             text || ' ' || repeat(chr(233), 1 + doc_id % 4) AS pre_var
      FROM documents
    )
    SELECT doc_id,
           CAST(length(dec_var) AS BIGINT) AS raw_cp,
           CAST(length(nfc_normalize(dec_var)) AS BIGINT) AS norm_cp,
           nfc_normalize(dec_var) != dec_var AS changed,
           dec_var = pre_var AS match_before,
           nfc_normalize(dec_var) = nfc_normalize(pre_var) AS match_after,
           md5(nfc_normalize(dec_var)) AS norm_md5
    FROM v
    """,
)
def t48_nfc_normalization_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def normalize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import unicodedata

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "raw_cp": [], "norm_cp": [], "changed": [],
                "match_before": [], "match_after": [], "norm_md5": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                k = 1 + int(doc_id) % 4
                dec_var = text + " " + ("e\u0301" * k)  # decomposed
                pre_var = text + " " + ("\u00e9" * k)  # precomposed
                norm_dec = unicodedata.normalize("NFC", dec_var)
                norm_pre = unicodedata.normalize("NFC", pre_var)
                out["doc_id"].append(doc_id)
                out["raw_cp"].append(len(dec_var))
                out["norm_cp"].append(len(norm_dec))
                out["changed"].append(norm_dec != dec_var)
                out["match_before"].append(dec_var == pre_var)
                out["match_after"].append(norm_dec == norm_pre)
                out["norm_md5"].append(
                    hashlib.md5(norm_dec.encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(out)

    return docs.mapInPandas(normalize, schema=_T48_SCHEMA)


# --------------------------------------------------------------------------
# t49: normalization-robust decontamination — d10's exact-shingle
# containment check misses contamination that differs only in
# formatting (case, punctuation, whitespace), which is exactly how
# eval text reappears in scraped corpora ("What is X?" vs "what is
# x"). This variant decontaminates on shingles of CANONICALIZED text
# — lowercase, punctuation stripped to spaces, whitespace collapsed —
# and reports, per flagged training doc, the normalized hit count
# NEXT TO the raw hit count, so caught_by_norm_only quantifies what
# exact matching would have missed. The fixture's documents are
# uniformly lowercase, so the formatting-variant case is SYNTHESIZED
# deterministically on the train side (the m-family discipline):
# even-doc_id training docs are uppercased before matching — their
# raw shingles then miss the eval universe entirely while their
# normalized shingles still hit, making the headline
# caught-by-normalization-only property a checked result on roughly
# half the flagged docs (odd docs stay unperturbed as the control
# group where raw == normalized hits). Both engines run the same
# perturbation and the same canonicalization (lower + regexp_replace
# + trim; DuckDB needs the explicit 'g' flag where Spark replaces
# globally by default).
#
# Scale: identical shuffle profile to d10 (two exploded-shingle
# equi-joins against eval-sized universes); the production prefilter
# shape is d15's Bloom bitmap, which composes with this by
# canonicalizing before shingle-hashing on BOTH sides. The
# normalization itself is a codegen'd row-local projection.
# --------------------------------------------------------------------------
def _t49_norm_sql(expr: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({expr}),"
        " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    )


_T49_NORM_SPARK_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9 ]', ' '), ' +', ' '))"
)


def _t49_oracle() -> str:
    from .dedup import DECONTAM_MIN_SHINGLES, EVAL_SET_MOD

    def shingles(src: str, text_expr: str) -> str:
        return f"""(
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(t, ' ')) - 1),
               i -> concat_ws(' ', string_split(t, ' ')[i],
                              string_split(t, ' ')[i+1],
                              string_split(t, ' ')[i+2]))) AS shingles
      FROM (SELECT doc_id, {text_expr} AS t FROM {src}) q
      WHERE len(string_split(t, ' ')) >= 3
    )"""

    perturb = "CASE WHEN doc_id % 2 = 0 THEN upper(text) ELSE text END"
    return f"""
    WITH ev AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_SET_MOD} = 0
    ),
    tr AS (
      SELECT doc_id, {perturb} AS text FROM documents
      WHERE doc_id % {EVAL_SET_MOD} <> 0
    ),
    nuniv AS (
      SELECT DISTINCT sh FROM (
        SELECT doc_id, unnest(shingles) AS sh
        FROM {shingles('ev', _t49_norm_sql('text'))} s
      ) x
    ),
    runiv AS (
      SELECT DISTINCT sh FROM (
        SELECT doc_id, unnest(shingles) AS sh FROM {shingles('ev', 'text')} s
      ) x
    ),
    nhits AS (
      SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_norm_hits
      FROM (
        SELECT doc_id, unnest(shingles) AS sh
        FROM {shingles('tr', _t49_norm_sql('text'))} s
      ) e JOIN nuniv u ON e.sh = u.sh
      GROUP BY e.doc_id
    ),
    rhits AS (
      SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_raw_hits
      FROM (
        SELECT doc_id, unnest(shingles) AS sh FROM {shingles('tr', 'text')} s
      ) e JOIN runiv u ON e.sh = u.sh
      GROUP BY e.doc_id
    )
    SELECT n.doc_id, n.n_norm_hits,
           COALESCE(r.n_raw_hits, 0) AS n_raw_hits,
           (COALESCE(r.n_raw_hits, 0) = 0) AS caught_by_norm_only,
           CAST(n.n_norm_hits >= {DECONTAM_MIN_SHINGLES} AS BIGINT)
             AS drop_doc
    FROM nhits n LEFT JOIN rhits r ON n.doc_id = r.doc_id
    """


@register("t49_normalized_decontaminate", oracle=_t49_oracle())
def t49_normalized_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .dedup import DECONTAM_MIN_SHINGLES, EVAL_SET_MOD

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % EVAL_SET_MOD == 0).select(
        "doc_id", "text"
    )
    tr = docs.filter(F.col("doc_id") % EVAL_SET_MOD != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.upper(F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )

    def exploded_of(src: DataFrame, text_sql: str) -> DataFrame:
        # The one-element-array binding (the d02 _shingles_df trick):
        # Catalyst's CollapseProject would otherwise inline the
        # canonicalization chain into EVERY toks reference inside the
        # shingle transform (~8 re-evaluations of two regexp passes per
        # row — measured 38s vs 4.5s single-threaded at sf0.1), so the
        # normalized-and-split text is bound ONCE per row inside the
        # expression. The repartition parallelizes the row-local
        # regexp+shingle work across cores: the source parquet is one
        # ~file-sized partition, and this is the rare projection heavy
        # enough to be worth one cheap shuffle of the raw text.
        shingle_expr = (
            "array_distinct(flatten(transform("
            f" array(split({text_sql}, ' ')),"
            " toks -> transform("
            "  filter(sequence(0, size(toks) - 1), i -> i <= size(toks) - 3),"
            "  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))))"
        )
        return (
            src.repartition(32, "doc_id")
            .select("doc_id", F.explode(F.expr(shingle_expr)).alias("s"))
            .select("doc_id", F.xxhash64("s").alias("gh"))
        )

    def hits(train_exp: DataFrame, univ_exp: DataFrame, name: str) -> DataFrame:
        univ = univ_exp.select("gh").distinct()
        return (
            train_exp.join(univ, "gh")
            .groupBy("doc_id")
            .agg(F.count("*").alias(name))
        )

    nhits = hits(
        exploded_of(tr, _T49_NORM_SPARK_SQL),
        exploded_of(ev, _T49_NORM_SPARK_SQL),
        "n_norm_hits",
    )
    rhits = hits(
        exploded_of(tr, "text"),
        exploded_of(ev, "text"),
        "n_raw_hits",
    )
    return nhits.join(rhits, "doc_id", "left").select(
        "doc_id",
        "n_norm_hits",
        F.coalesce(F.col("n_raw_hits"), F.lit(0)).alias("n_raw_hits"),
        (F.coalesce(F.col("n_raw_hits"), F.lit(0)) == 0).alias(
            "caught_by_norm_only"
        ),
        (F.col("n_norm_hits") >= DECONTAM_MIN_SHINGLES)
        .cast("long")
        .alias("drop_doc"),
    )
