"""Physical-plan invariants (SURVEY §4): the plans we'd want at 100 TB,
asserted at dev SF so regressions surface in CI, not on the cluster.

- No row-at-a-time Python UDFs anywhere (BatchEvalPython): Python in
  the record path must be Arrow-batched (ArrowEvalPython / mapInArrow /
  FlatMapGroupsInArrow are fine).
- No CartesianProduct; BroadcastNestedLoopJoin only where the build
  side is deliberately tiny (q16's region self-pairs, sim_cosine's
  single query vector).
- Selective scans push their predicates into the parquet reader and
  prune columns (PushedFilters / ReadSchema).
"""

from __future__ import annotations

import re

from yamon_spark.queries import all_queries

# deliberate small-build-side nested-loop joins (single broadcast query
# vector / tiny self-pair table)
BNLJ_OK = {
    "q16_cross_join_pairs",
    "sim_cosine_topk",
    "ann_range_search",
    "pq_topk",
    "q80_runtime_filter",
    "text_bm25",  # broadcast of the ONE corpus-stats row
    "sim_knn_join",  # broadcast of the bounded query-vector batch
    "text_unigram_logprob",  # broadcast of the ONE total-count row
    "text_pmi",  # broadcast of the two 1-row totals
    "hybrid_rank_rrf",  # bm25 stats row + single query vector broadcasts
    "sim_ivf_recall",  # single broadcast query vector (both rankings)
    "q82_deadman",  # broadcast of the ONE horizon row
    "sim_truncation_recall",  # single broadcast query vector (both rankings)
    "sim_ivf_recall_batch",  # broadcast of the bounded query-vector batch
    "sim_pq_recall",  # single broadcast query vector (both rankings)
    "q85_histogram_quantile",  # broadcast of the 2-row quantile list
    "dsir_weights",  # broadcast of the ONE totals row into the 256-row model
    "text_perplexity_buckets",  # broadcast of the ONE learned-cutoffs row
    "q86_seasonal_baseline",  # broadcast of the ONE last-day horizon row
    "sq8_codes",  # broadcast of the ONE per-dim min/max stats row
    "sim_sq8_topk",  # stats row + single query vector broadcasts
    "sim_sq8_recall",  # stats row + single query vector (both rankings)
    # sim_mmr_topk builds EAGERLY (localCheckpoint per greedy step), so its
    # candidate crossJoin(broadcast(q)) and 30x30 pairs join execute during
    # build() and never appear in the final inspected plan; listed here so
    # the gate applies if the implementation ever turns lazy. Boundedness is
    # pinned separately by test_training_ops.test_mmr_is_pool_bounded*.
    "sim_mmr_topk",
    "dedup_funnel",  # three 1-row stage-count broadcasts assemble the report
    "sim_hamming_topk",  # single broadcast query sketch (two BIGINT words)
    "sim_hamming_recall",  # query sketch + query vector (both rankings)
    "sim_cascade_topk",  # query sketch + query vector + 100-row shortlist
    "sim_cascade_recall",  # same cascade broadcasts (both rankings)
    "hard_negative_mining",  # broadcast of the bounded query-vector batch
    "bpe_merge_step",  # broadcast of the ONE top-pair row
    "bpe_apply",  # six 1-row top-merge broadcasts (one per training round)
    "vocab_growth",  # broadcast of the ONE max-doc-id row
    "sim_ivfpq_topk",  # 1-row cell probe + query vector broadcasts (pq_topk shape)
    "sim_ivfpq_recall",  # same broadcasts, both rankings
    "embed_label_metrics",  # broadcast of the ONE global-centroid row
    "embed_kmeans",  # broadcast of the <=k-row centroid table each round
    "embed_pca_power",  # broadcast mean-row + d-element iterate vector rounds
    "source_divergence",  # broadcast of the ONE corpus-total row
    "text_tfidf_pairs",  # broadcast of the ONE corpus-count row
    "quality_logit_train",  # broadcast 1-row stats + weight frames each round
    "quality_head_calibration",  # same 1-row stats/weight broadcasts + bin agg
    "quality_threshold_sweep",  # same chain + one 27-cell conditional-sum agg
    "contamination_semantic",  # broadcast of the HARD-CAPPED (<=256) bench side
    "embedding_assign_delta",  # broadcast of the bounded |labels|-row centroid table
    "quality_head_ece",  # the calibration chain's 1-row broadcasts + bin agg
    "text_bigram_logprob",  # broadcast of the ONE corpus-total row
    "text_trigram_logprob",  # broadcast of the ONE corpus-total row
    "text_zipf_slope",  # <=64-row log2-bucket-total self-join (rank bases)
    "sim_ivf_pareto",  # bounded query/centroid/budget/totals broadcasts
    "quality_score_psi",  # the GD chain's 1-row broadcasts + 10-cell folds
    "quality_drift_alarm",  # the psi-row x ece-row composition (both 1-row)
    "dedup_cap_plan",  # broadcast of the constant 8-row candidate-cap table
    "contamination_report",  # the two 1-row contamination aggregates joined
    "dedup_threshold_sweep",  # the ONE corpus-total row broadcast into 7 rows
    "q63_watermark_late_drop",  # prefix-scan chunk-level carry: rows/2^20-row self-join
    "shard_balance_report",  # broadcast of the ONE total-tokens row into 16 rows
    "curriculum_plan",  # 1-row quantile-boundary + 1-row token-total broadcasts
    "curriculum_mix",  # same 1-row boundary broadcast; totals join is keyed
}


# no declared query should ever fall back to a sort-merge join: every join
# in the registry is either dimension-broadcast or a bounded ranked-list
# join (verified empty by scripts/plan_audit.py; empty set = the invariant)
SMJ_OK: set[str] = set()


# windows with an EMPTY partition spec move ALL rows to one partition —
# acceptable ONLY over inputs bounded by construction (never data-sized).
# Single source of truth: yamon_spark.plans.audit_whitelist (each entry
# documents its boundedness provenance there); scripts/plan_audit.py
# imports the same object, so the CI gate and the audit gate can't drift.
from yamon_spark.plans.audit_whitelist import BOUNDED_WINDOW_WHITELIST

UPW_OK = set(BOUNDED_WINDOW_WHITELIST)


def _is_unpartitioned_window(line: str) -> bool:
    # plan_audit._is_unpartitioned_window's rule: one "], [" separator
    # whose trailing group is an ORDER spec (or empty)
    if "Window [" not in line or line.count("], [") != 1:
        return False
    trailing = line.rsplit("], [", 1)[1]
    return bool(re.search(r"\b(ASC|DESC)\b", trailing)) or trailing.strip() == "]"


def _plan(spark, sf_dir, name):
    return all_queries()[name].build(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_no_row_python_no_cartesian(spark, sf_dir):
    bad: dict[str, list[str]] = {}
    for name in sorted(all_queries()):
        plan = _plan(spark, sf_dir, name)
        flags = []
        if "BatchEvalPython" in plan:
            flags.append("row-at-a-time python UDF")
        if "CartesianProduct" in plan:
            flags.append("cartesian product")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            flags.append("unexpected nested-loop join")
        if "SortMergeJoin" in plan and name not in SMJ_OK:
            flags.append("sort-merge join fallback")
        if name not in UPW_OK and any(
            _is_unpartitioned_window(line) for line in plan.splitlines()
        ):
            flags.append("unpartitioned window (all rows to one partition)")
        if flags:
            bad[name] = flags
    assert not bad, f"plan red flags: {bad}"


def test_q63_batch_id_projection_equals_window_form(spark, sf_dir):
    """q63's micro-batch id is a pure projection floor(event_id/1000):
    event_id is dense 0..N-1 in every fixture (FIXTURES.md), so it is
    bit-identical to the oracle's row_number() window form. Pinned here so
    the projection can replace the registry's last data-sized
    single-partition window without drifting from the oracle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    both = ev.select(
        F.floor(F.col("event_id") / 1000).cast("bigint").alias("proj"),
        F.floor((F.row_number().over(Window.orderBy("event_id")) - 1) / 1000)
        .cast("bigint")
        .alias("win"),
    )
    assert both.where(F.col("proj") != F.col("win")).count() == 0
    # and the live q63 plan itself carries no unpartitioned window at all
    plan = _plan(spark, sf_dir, "q63_watermark_late_drop")
    assert not any(_is_unpartitioned_window(line) for line in plan.splitlines())


def test_prefix_max_exclusive_matches_global_window(spark):
    """q63's watermark now runs through prefix_max_exclusive (partitioned
    chunk scan + tiny chunk-level carry join). Pin its output against the
    single-partition global-window form it replaced, with chunk_size=3 so
    multiple chunks, carry-in, and the first-row NULL are all exercised."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from yamon_spark.queries.streaming_batch import prefix_max_exclusive

    # values deliberately non-monotone so the carry max differs from the
    # most recent value
    rows = [(i, v) for i, v in enumerate([5, 1, 9, 2, 8, 3, 7, 11, 0, 4, 6])]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(4)
    got = {
        r["k"]: r["pm"]
        for r in prefix_max_exclusive(df, "k", "v", "pm", chunk_size=3).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = {r["k"]: r["pm"] for r in df.select("k", F.max("v").over(w).alias("pm")).collect()}
    assert got == want
    assert got[0] is None  # exclusive: first row has no prior max


def test_predicates_reach_parquet_scan(spark, sf_dir):
    for name, expected in [
        ("q01_filter_project", "EqualTo(event_type"),
        ("q02_pushdown_predicates", "IsNotNull(l_shipdate"),
        ("text_search", "StringContains(text,data"),
    ]:
        plan = _plan(spark, sf_dir, name)
        pushed = re.findall(r"PushedFilters: \[([^\n]*)", plan)
        assert any(expected in p for p in pushed), f"{name}: no pushed filter {expected}"


def test_columns_pruned_at_scan(spark, sf_dir):
    # q02 projects 2 columns from 3 predicates: the scan must not read
    # the rest of lineitem (e.g. l_extendedprice, l_comment-class cols)
    plan = _plan(spark, sf_dir, "q02_pushdown_predicates")
    schemas = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    assert schemas and all("l_extendedprice" not in s for s in schemas)


def test_dimension_joins_broadcast(spark, sf_dir):
    # nation/region dims are far under the broadcast threshold: the join
    # must be a BroadcastHashJoin, not a shuffled sort-merge
    plan = _plan(spark, sf_dir, "q10_inner_join_dims")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_single_exchange(spark):
    """The streaming rollup's plan must shuffle exactly once — the
    groupBy on (window, host, name, tags). A second exchange would mean
    an accidental repartition riding along, which at 100 TB doubles the
    pipeline's only shuffle."""
    from pyspark.sql import functions as F

    from yamon_spark.streaming.pipeline import counter_rollup, gauge_rollup

    metrics = spark.range(1000).select(
        F.timestamp_seconds(F.lit(1714550400) + (F.col("id") % 600)).alias("when"),
        F.when(F.col("id") % 2 == 0, "gauge").otherwise("counter").alias("type"),
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("host"),
        F.lit("cpu").alias("name"),
        F.col("id").cast("double").alias("value"),
        F.create_map(F.lit("dc"), F.lit("eu")).alias("tags"),
    )
    for mk in (gauge_rollup, counter_rollup):
        plan = mk(metrics)._jdf.queryExecution().executedPlan().toString()
        n_exchanges = plan.count("Exchange ")
        assert n_exchanges == 1, f"{mk.__name__}: expected 1 shuffle, plan has {n_exchanges}"
        # and the one shuffle is preceded by a map-side partial aggregate
        assert "partial_" in plan


def test_partition_pruning_on_date_partitioned_tables(spark, tmp_path):
    # pipeline detail tables are date-partitioned; a date predicate must
    # prune at the partition level (PartitionFilters), not post-scan
    from pyspark.sql import functions as F

    path = tmp_path / "metrics"
    spark.range(100).select(
        F.when(F.col("id") % 2 == 0, "2024-05-01").otherwise("2024-05-02").alias("date"),
        F.col("id").alias("v"),
    ).write.partitionBy("date").mode("overwrite").parquet(str(path))

    df = spark.read.parquet(str(path)).where(F.col("date") == "2024-05-01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "2024-05-01" in m.group(1)
    assert df.count() == 50


def test_asof_single_shuffle_contract(spark, sf_dir):
    """The union+window as-of formulation (operators/asof.py) costs exactly
    ONE hash-partitioned shuffle — the key partition for the window. The
    trailing Exchange rangepartitioning (the determinism ORDER BY) is the
    only other exchange allowed. A second hashpartitioning would mean the
    plan regressed to the range-join+groupBy shape that collapses on
    dense series."""
    for name in ("q15_asof_join", "q81_asof_tolerance"):
        plan = _plan(spark, sf_dir, name)
        hash_ex = plan.count("Exchange hashpartitioning")
        assert hash_ex == 1, f"{name}: expected 1 hash shuffle, saw {hash_ex}\n{plan}"


def test_column_pruning_reaches_scan(spark, sf_dir):
    """Scans must read only the projected columns (ReadSchema pruning):
    a documents scan that drags `text`-adjacent columns into a shuffle
    is wrong at any corpus size."""
    for name, want_cols in [
        ("text_bm25", {"doc_id", "text"}),
        ("corpus_shuffle", {"doc_id"}),
    ]:
        plan = _plan(spark, sf_dir, name)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
        assert schemas, f"{name}: no parquet scan found"
        for s in schemas:
            got = {c.split(":")[0] for c in s.split(",") if c}
            assert got <= want_cols, f"{name}: scan reads {got}, want subset of {want_cols}"


def test_operators_md_in_sync():
    """OPERATORS.md is generated from the registry docstrings
    (scripts/gen_operators_md.py); a drifted checked-in copy fails here
    instead of rotting."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import gen_operators_md

    with open(gen_operators_md.OUT) as f:
        assert f.read() == gen_operators_md.render(), (
            "OPERATORS.md is stale - run: python scripts/gen_operators_md.py"
        )


def test_readme_registry_count_in_sync():
    """README's registry-count mentions track the live registry the same
    way OPERATORS.md does (the count grew three rounds straight and the
    prose drifted once) — every 'N registered queries'-style number in
    README.md must equal len(REGISTRY)."""
    import os
    import re

    from yamon_spark.queries import REGISTRY, all_queries

    all_queries()  # load the query modules — REGISTRY fills lazily
    path = os.path.join(os.path.dirname(__file__), "..", "README.md")
    with open(path) as f:
        text = f.read()
    mentions = [
        int(m)
        for m in re.findall(
            r"(\d+) registered queries|design note, (\d+)", text
        )
        for m in m
        if m
    ]
    assert mentions, "README lost its registry-count mentions entirely"
    assert all(n == len(REGISTRY) for n in mentions), (
        f"README says {mentions}, registry has {len(REGISTRY)} - update README.md"
    )


def test_survey_registry_count_in_sync():
    """SURVEY.md's per-round summaries each end with a 'Registry: N
    queries' line; earlier mentions are historical (the count at that
    round), but the LAST one states the current surface and was the one
    hand-maintained number left that could drift as the registry grows
    (r10 verdict, next-round item 8). Pin it to len(REGISTRY)."""
    import os
    import re

    from yamon_spark.queries import REGISTRY, all_queries

    all_queries()  # load the query modules — REGISTRY fills lazily
    path = os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    with open(path) as f:
        text = f.read()
    mentions = [int(m) for m in re.findall(r"Registry: (\d+)\s+queries", text)]
    assert mentions, "SURVEY.md lost its 'Registry: N queries' line"
    assert mentions[-1] == len(REGISTRY), (
        f"SURVEY.md's latest registry count says {mentions[-1]}, "
        f"registry has {len(REGISTRY)} - update SURVEY.md"
    )
