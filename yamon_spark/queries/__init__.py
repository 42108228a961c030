"""Declared-query registry — the testable relational surface (SURVEY §2.5).

The reference executes no queries itself; its ClickHouse schema implies a
query surface (time-range scans, tag filtering, windowed rollups, rate/
delta, log search, joins across streams — reference res/schema.sql). Each
entry here is one declared query: a Spark-first builder plus an equivalent
ANSI-SQL oracle string that DuckDB runs on the same parquet tables.

Determinism contract (FIXTURES.md): total ORDER BY on all output columns,
ROUND(x, 4) on double outputs, µs timestamps, aliases identical on both
sides so the driver's column-sorted value hash matches.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from yamon_spark.operators._memo import sweep_dead_sessions


@dataclass(frozen=True)
class DeclaredQuery:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None -> rows-only check (non-SQL-expressible)
    doc: str = ""


REGISTRY: dict[str, DeclaredQuery] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator registering a declared query builder."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = DeclaredQuery(name=name, build=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


# Session-scoped source-plan memo for table(): loading a parquet table
# costs ~50-90 ms of driver-side work PER CALL (file listing + footer
# schema read + py4j), and the bench's 216 query builds call table()
# 250+ times for the same handful of (dir, name) pairs — measured as
# half of the generic per-query BUILD floor (r14 overhead
# decomposition). The memo returns the SAME immutable DataFrame (a
# source PLAN — no data is cached or persisted; every action still
# scans the parquet), keyed by the live session object + resolved path.
# Entries of stopped sessions are dropped on every miss. If the files under
# a path are REPLACED mid-session the memoized plan would go stale —
# not a supported pattern anywhere in this repo (testdata is immutable
# per process); a new session or path sees fresh state.
# Self-join hazard: two table() calls for the same (dir, name) return the
# SAME DataFrame, so joining them is a same-lineage self-join whose
# column references can raise ambiguity errors. A query that needs the
# table twice must alias each side (df.alias("a"), df.alias("b")) and
# select through the aliases. No query does this today.
_TABLE_MEMO: dict[tuple, tuple] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table.

    events.parquet carries the reference's DateTime64 event time
    (res/schema.sql:3, common/metric.go:9-14); the physical parquet
    encoding has varied across testdata generations, so `ts` is
    normalized here — in ONE place — to session-tz TIMESTAMP (µs):

    - TIMESTAMP(NANOS): read via the nanosAsLong legacy mapping (Spark
      has no ns timestamp) and truncated to µs with integer DIV (exact,
      no double round-trip).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads this as
      TIMESTAMP_NTZ, which `unix_micros` et al. reject; cast to
      TIMESTAMP. Semantics-preserving because the session timezone is
      pinned UTC (yamon_spark/session.py), matching the oracle's
      naive-UTC convention.
    - TIMESTAMP(MICROS, isAdjustedToUTC=true): already TIMESTAMP.
    """
    key = (id(spark), os.path.abspath(sf_dir), name)
    hit = _TABLE_MEMO.get(key)
    if hit is not None:
        session, df = hit
        try:
            # `session is spark` guards id() reuse after gc; the stopped
            # check skips entries of dead sessions
            if session is spark and not spark.sparkContext._jsc.sc().isStopped():
                return df
        except Exception:  # noqa: BLE001 — memo is an optimization, never a dependency
            pass
    # a miss drops every entry of a stopped session, not only this key's
    sweep_dead_sessions(_TABLE_MEMO, frame_of=lambda v: v[1])
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # noqa: BLE001
            pass
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    _TABLE_MEMO[key] = (spark, df)
    return df


# name -> LAST driver round whose CORRECTNESS_r{N}.json recorded a
# hash_match:true row for it. External verification budgets cover a prefix
# of the registry, so ordering is: never-verified entries first, then
# verified ones STALEST-VINTAGE FIRST — the rotation's job once the surface
# is fully green is re-validating the oldest greens against environment
# drift (the exact failure mode round 3 hit).
#
# Maintenance contract (round-3 lesson: "green once" is NOT "green forever" —
# the testdata's ts encoding shifted and two ledger-green queries crashed):
#   1. refresh this map from CORRECTNESS_r{N} each round (bump the round of
#      every re-hashed green);
#   2. REMOVE any entry that errored or regressed so the driver re-hashes it
#      as fresh;
#   3. never list a query the driver has not actually hash-verified
#      (rows-only / no-oracle checks do not qualify);
#   4. re-verify the WHOLE registry locally (scripts/driver_sim.py at
#      sf0.001) before each end-of-round snapshot.
_DRIVER_GREEN_ROUND: dict[str, int] = {
    # r9-vintage (oldest — front of the verified segment)
    "bpe_merge_step": 9, "chunk_dup_groups": 9, "dedup_containment": 9,
    "dedup_funnel": 9, "embed_label_metrics": 9, "hard_negative_mining": 9,
    "lang_id_confusion": 9, "mix_budget_plan": 9,
    "q86_seasonal_baseline": 9, "q87_level_shift": 9, "q88_autocorr": 9,
    "q89_ewma": 9, "sim_cascade_topk": 9, "sim_hamming_topk": 9,
    "text_chunk_windows": 9, "vocab_growth": 9,
    # r10-vintage
    "dedup_canonical": 10, "dedup_cluster_sizes": 10,
    "doc_length_survival": 10, "domain_mix": 10, "embed_intrinsic_dim": 10,
    "embed_kmeans": 10, "embed_pca_power": 10, "mix_repeat_plan": 10,
    "pack_sequences": 10, "q10_inner_join_dims": 10,
    "q11_left_outer_count": 10, "q12_semi_join": 10, "q24_rollup": 10,
    "q25_gauge_rollup_mv": 10, "q26_counter_rollup_mv": 10,
    "q38_approx_quantile": 10, "q44_union_all": 10,
    "q47_exists_correlated": 10, "q48_cte_reuse": 10,
    "q49_first_last_window": 10, "q50_string_funcs": 10,
    "q51_datetime_funcs": 10, "q52_math_funcs": 10, "q53_json_extract": 10,
    "q54_map_tag_ops": 10, "q55_array_funcs": 10, "q56_struct_ops": 10,
    "q57_conditionals": 10, "q58_regex_funcs": 10, "q65_interval_join": 10,
    "q73_unpivot": 10, "q74_lateral_explode": 10, "q75_bitmap_distinct": 10,
    "q76_zip_with": 10, "q77_cube_grouping": 10, "q78_median_stats": 10,
    "q79_fuzzy_match": 10, "sample_weighted": 10, "sim_centroid_margin": 10,
    "source_divergence": 10, "source_overlap": 10, "text_bigrams": 10,
    "text_ngram_novelty": 10, "text_tfidf_pairs": 10,
    "train_test_split": 10,
    # r11-vintage
    "bpe_apply": 11, "contamination_ngram": 11, "dedup_clusters": 11,
    "dedup_exact": 11, "dedup_jaccard": 11, "dedup_survivors": 11,
    "embed_centroids": 11, "embed_norm_stats": 11,
    "multimodal_features": 11, "multimodal_frames": 11,
    "multimodal_video_frames": 11, "q01_filter_project": 11,
    "q02_pushdown_predicates": 11, "q03_distinct": 11, "q13_anti_join": 11,
    "q14_range_join": 11, "q15_asof_join": 11, "q16_cross_join_pairs": 11,
    "q40_global_topk": 11, "q41_union_distinct": 11, "q42_intersect": 11,
    "q43_except": 11, "q66_hll_rollup_merge": 11,
    "q68_cohort_retention": 11, "q72_grouped_agg_udaf": 11,
    "q90_burn_rate": 11, "q91_alert_episodes": 11, "sample_stratified": 11,
    "shard_balance_report": 11, "sim_cosine_topk": 11, "sim_ivf_topk": 11,
    "sim_lsh_topk": 11, "sim_near_dup_pairs": 11, "text_boilerplate": 11,
    "text_fingerprint": 11, "text_lang_id": 11, "text_repetition": 11,
    "text_token_count": 11, "vocab_coverage": 11,
    # r12-vintage
    "ann_range_search": 12, "contamination_report": 12,
    "contamination_semantic": 12, "corpus_profile": 12,
    "corpus_shuffle": 12, "dedup_cap_plan": 12, "dedup_substring": 12,
    "domain_mix_temperature": 12, "pq_codes": 12, "pq_topk": 12,
    "q27_pivot": 12, "q28_percentiles": 12, "q29_heavy_hitters": 12,
    "q30_topk_per_group": 12, "q31_counter_delta": 12, "q32_moving_avg": 12,
    "q33_running_sum": 12, "q34_counter_rate": 12, "q35_gap_fill": 12,
    "q60_tumbling_window": 12, "q61_sliding_window": 12,
    "q62_session_window": 12, "q63_watermark_late_drop": 12,
    "q64_stateful_dedup": 12, "q70_scalar_pandas_udf": 12,
    "q71_grouped_map_zscore": 12, "q80_runtime_filter": 12,
    "sample_eval_slice": 12, "sample_rebalanced": 12, "sim_ivf_recall": 12,
    "sim_ivf_recall_batch": 12, "sim_knn_join": 12, "sim_near_dup_lsh": 12,
    "sim_truncation_recall": 12, "sketch_count_min": 12,
    "text_bigram_logprob": 12, "text_entropy": 12, "text_pii_scrub": 12,
    "text_unigram_logprob": 12, "text_winnow": 12,
    # r13-vintage (freshest — back of the queue)
    "bpe_pair_counts": 13, "curriculum_mix": 13, "curriculum_plan": 13,
    "dedup_semantic": 13, "dedup_source_matrix": 13,
    "dedup_threshold_sweep": 13, "dsir_weights": 13,
    "embed_outlier_score": 13, "embedding_assign_delta": 13,
    "hybrid_rank_rrf": 13, "pack_boundary_report": 13, "q20_hash_agg": 13,
    "q21_distinct_agg": 13, "q22_approx_distinct": 13,
    "q23_grouping_sets": 13, "q36_dist_windows": 13, "q37_histogram": 13,
    "q39_cond_aggs": 13, "q45_scalar_subquery": 13, "q46_in_subquery": 13,
    "q67_funnel": 13, "q69_time_range_window": 13, "q81_asof_tolerance": 13,
    "q82_deadman": 13, "q83_event_transitions": 13, "q84_mad_outliers": 13,
    "q85_histogram_quantile": 13, "sim_ivf_pareto": 13,
    "sim_ivfpq_topk": 13, "sim_mmr_topk": 13, "sim_pq_recall": 13,
    "sim_sq8_topk": 13, "sq8_codes": 13, "text_bm25": 13, "text_mattr": 13,
    "text_perplexity_buckets": 13, "text_pmi": 13, "text_search": 13,
    "text_trigram_logprob": 13, "text_zipf_slope": 13,
    "tokenizer_fertility": 13,
}


def all_queries() -> dict[str, DeclaredQuery]:
    """Import all query modules (side-effect: registration) and return registry.

    Returned order is deliberate: entries without a green driver-verification
    row yet come first (in module registration order), then verified ones
    stalest-round-first, so a prefix-bounded verification budget lands on
    fresh work and then on the greens most exposed to environment drift.
    """
    from yamon_spark.queries import (  # noqa: F401
        pipeline_ops,
        scans,
        window_funcs,
        streaming_batch,
        udf_surface,
        product_analytics,
        sketches,
        curation_ops,
        analytics_ext,
        ann_ext,
        aggregation,
        analytics_ext2,
        analytics_ext3,
        functions_scalar,
        joins,
        training_ops,
        analytics_ext4,
        training_ops2,
        eval_ops,
        maintenance_ops,
        corpus_health,
    )

    fresh = {k: v for k, v in REGISTRY.items() if k not in _DRIVER_GREEN_ROUND}
    reg_order = {k: i for i, k in enumerate(REGISTRY)}
    seen_names = sorted(
        (k for k in REGISTRY if k in _DRIVER_GREEN_ROUND),
        key=lambda k: (_DRIVER_GREEN_ROUND[k], reg_order[k]),
    )
    return {**fresh, **{k: REGISTRY[k] for k in seen_names}}
