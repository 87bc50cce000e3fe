"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 (plus the LLM-pipeline extensions) for the driver's
DuckDB-oracle correctness gate at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from seamdb_spark.operators import ORACLE_SQL, QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The correctness gate samples the FIRST 50 entries of queries(), so the
# current window's names lead (in window order) and every other
# registered query follows in registration order. Only _R14_WINDOW is
# read; the earlier rounds' windows live in version control. The next
# window pins queries registered or changed since this one froze (e.g.
# e52_compaction_during_ingest), then fills oldest-gate-evidence-
# first from the CORRECTNESS_r* union (after r14: the 40 remaining
# latest-row-r8 queries).
# _R14_WINDOW (active, round 14): 50 slots.
# (a) slots 1-2: d35_cosine_prefix_filtered (registered at the
#     round-13 close, the only query without a driver row — VERDICT
#     r13 "Next round" #1; its row is a recall-1 proof of the lossless
#     prefix filter against the candidate-blind all-pairs oracle) and
#     e51_periodic_finalization (new this round: e50's production
#     shape — periodic finalization sweeps over the not-yet-finalized
#     bid range with per-epoch decision sealing — VERDICT r13 "Next
#     round" #5).
# (b) slots 3-46: all 44 queries whose latest driver row is round 7
#     (recomputed from the r1-r13 union; histogram after r13 is
#     r13:50 r12:50 r11:50 r10:50 r9:47 r8:44 r7:44), in their r7
#     window order.
# (c) slots 47-50: the first 4 latest-row-r8 queries in r8 window
#     order (m35/q68/q69/m37); the remaining 40 r8 rows refill in
#     round 15.
_R14_WINDOW = [
    # (a) rowless + new
    "d35_cosine_prefix_filtered", "e51_periodic_finalization",
    # (b) all 44 latest-row-r7 queries, r7 window order
    "p08_tokenizer_readiness", "s22_pq_distortion_audit",
    "e34_periodicity_autocorrelation", "t42_mixture_independence_audit",
    "e35_anomaly_incidents", "q65_distinct_on",
    "d31_neardup_explanations", "m24_ahash_invariance",
    "x15_frequency_cap_sample", "t43_intra_doc_repetition",
    "s23_kmeans_stability_audit", "e38_session_funnel",
    "d32_normalized_exact_dedup", "t44_chars_per_token_profile",
    "p09_dedup_invariants", "m25_gif_roundtrip",
    "g08_transitive_candidates", "p10_mixture_quota_allocation",
    "m26_gif_frame_extract", "d33_bbit_minhash_audit",
    "e36_type_burstiness", "m27_mp4_probe", "t45_gopher_repetition",
    "s24_prepost_filter_audit", "p11_quota_sampler",
    "m28_audio_fingerprint_dedup", "q66_ordered_string_agg",
    "q67_locf_forward_fill", "x16_kmv_anotb", "e37_transition_latency",
    "g09_edge_embeddedness", "m29_image_patches",
    "d34_detector_disagreement", "t46_vocab_coverage_curve",
    "e39_time_decay_attribution", "t40_bpe_train",
    "g06_label_propagation", "e02_sessionization",
    "d20_cdc_chunk_dedup", "t47_bpe_fertility_by_lang",
    "m30_mp4_sample_extract", "m32_jpeg_420_roundtrip",
    "p12_cluster_balanced_sample", "d02_dedup_minhash_lsh",
    # (c) r8-tier head, r8 window order
    "m35_scene_segmentation", "q68_groups_frame", "q69_window_exclude",
    "m37_pitch_detection",
]


def _ordered() -> list[str]:
    names = list(QUERIES)
    window = [n for n in _R14_WINDOW if n in names]
    rest = [n for n in names if n not in window]
    return window + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return QUERIES["q01_pricing_summary"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: QUERIES[n] for n in _ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for non-SQL-expressible
    ops: engine-specific sketches, LSH-recall variants, stubbed decode)."""
    return dict(ORACLE_SQL)
