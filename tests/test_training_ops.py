"""Round-5 training-data operators: semantics on crafted micro-corpora.

Oracle parity runs in test_oracle.py via the registry; these pin the
behaviors an oracle diff can't see (MMR actually diversifies, DSIR
weights tilt toward the target domain, bucket cutoffs order correctly,
Zipf slope of a flat corpus is 0, BPE pair weighting).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from yamon_spark.operators.curation import dsir_weights, perplexity_buckets, quality_logit
from yamon_spark.operators.similarity import mmr_topk
from yamon_spark.operators.text import bpe_pair_counts, zipf_slope

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)], DOC_SCHEMA
    )


def test_zipf_flat_corpus_slope_zero(spark):
    # every type appears exactly once -> ln(freq) constant -> slope 0
    docs = _docs(spark, [("alpha beta gamma delta", "s")])
    row = zipf_slope(docs).collect()[0]
    assert row.n_types == 4
    assert row.zipf_slope == 0.0


def test_zipf_natural_skew_is_negative(spark):
    docs = _docs(spark, [("a a a a a a a a b b b b c c d", "s")])
    row = zipf_slope(docs).collect()[0]
    assert row.n_types == 4
    assert row.zipf_slope < -0.5


def test_zipf_rank_parity_and_no_unpartitioned_window(spark):
    """The bucketed two-pass rank must reproduce the whole-vocab
    row_number slope exactly (ties share a frequency, so the statistic is
    tie-order invariant), including across the 64k chunk boundary — and
    the plan must contain NO unpartitioned window (the old shape moved
    the entire vocabulary to one partition)."""
    import math

    rows = [("x" + str(i), "s") for i in range(300)]  # 300 hapaxes
    rows += [("big " * 9, "s")] * 3  # one type with freq 27
    docs = _docs(spark, [(" ".join(r[0] for r in rows[:150]), "s"),
                         (" ".join(r[0] for r in rows[150:300]), "s"),
                         ("big " * 27, "s")])
    got = zipf_slope(docs).collect()[0]
    # reference slope from the definition, computed directly
    pts = [(math.log(1), math.log(27.0))] + [
        (math.log(r), math.log(1.0)) for r in range(2, 302)
    ]
    n = len(pts)
    mx = sum(x for x, _ in pts) / n
    my = sum(y for _, y in pts) / n
    want = sum((x - mx) * (y - my) for x, y in pts) / sum((x - mx) ** 2 for x, _ in pts)
    assert got.n_types == 301
    assert abs(got.zipf_slope - want) < 1e-3

    plan = zipf_slope(docs)._jdf.queryExecution().executedPlan().toString()
    # unpartitioned window = one "], [" separator with an ORDER trailing
    # group (plan_audit._is_unpartitioned_window's rule)
    unpart = [
        l
        for l in plan.splitlines()
        if "Window [" in l
        and l.count("], [") == 1
        and ("ASC" in l.rsplit("], [", 1)[1] or "DESC" in l.rsplit("], [", 1)[1])
    ]
    assert unpart == []


def test_bpe_pairs_weighted_by_word_frequency(spark):
    # "ab" occurs in 'abab' (x2 per word, 3 words) and 'ab' (x1, 2 words)
    docs = _docs(spark, [("abab abab abab ab ab", "s")])
    got = {r.pair: r.n for r in bpe_pair_counts(docs).collect()}
    assert got["ab"] == 3 * 2 + 2 * 1
    assert got["ba"] == 3  # only inside 'abab'


def test_quality_logit_monotone_in_stopwords(spark):
    base = "word " * 20
    rich = ("the of and " * 7).strip()
    docs = _docs(spark, [(base.strip(), "s"), (rich, "s")])
    rows = {r.doc_id: r for r in quality_logit(docs).collect()}
    # same word count; stopword-rich doc must score strictly higher
    assert rows[1].quality_score > rows[0].quality_score
    assert 0.0 <= rows[0].quality_score <= 1.0


def test_quality_logit_matches_closed_form(spark):
    docs = _docs(spark, [("the cat sat on the mat", "s")])
    row = quality_logit(docs).collect()[0]
    n, awl, sr = 6.0, 17.0 / 6.0, 2.0 / 6.0
    z = -1.5 + 0.8 * math.log(n) - 0.3 * awl + 6.0 * sr
    assert abs(row.quality_score - 1.0 / (1.0 + math.exp(-z))) < 1e-4


def test_perplexity_buckets_order_and_cover(spark, sf_dir):
    from yamon_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    out = perplexity_buckets(docs).toPandas()
    assert set(out.bucket) == {"head", "middle", "tail"}
    # bucket boundaries must respect the score ordering
    assert out[out.bucket == "head"].mean_logprob.min() >= out[out.bucket == "middle"].mean_logprob.max()
    assert out[out.bucket == "middle"].mean_logprob.min() >= out[out.bucket == "tail"].mean_logprob.max()
    assert len(out) == docs.count()


def test_dsir_weights_tilt_toward_target_vocabulary(spark):
    tgt = [("quantum flux entangle qubit decohere", "src0")] * 6
    other = [("football goal referee stadium crowd", "srcX")] * 6
    probe = [
        ("quantum qubit flux entangle", "probe"),  # looks like target
        ("football stadium goal referee", "probe"),  # looks like raw-only
    ]
    docs = _docs(spark, tgt + other + probe)
    rows = {r.doc_id: r.log_weight for r in dsir_weights(docs).collect()}
    # target-looking probe far above raw-only probe (smoothing keeps the
    # absolute scale slightly negative on a tiny corpus; the RATIO is the
    # resampling signal)
    assert rows[12] > rows[13] + 5.0
    # and above every football doc
    assert all(rows[12] > rows[i] for i in range(6, 12))


def test_mmr_penalizes_near_duplicates(spark):
    # q = e0; e1 ~ e2 near-identical (sim ~1, both equally relevant);
    # e3 equally relevant but orthogonal to them. Pure relevance would
    # return (2, 1, 3); MMR must demote the near-dup 1 below 3.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.7, 0.7, 0.0, 0.0], 0),
        (2, [0.7, 0.69, 0.01, 0.0], 0),
        (3, [0.7, -0.7, 0.0, 0.0], 0),
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    out = mmr_topk(embs, query_vec_id=0, k=3, pool=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    # rank1 = highest rel (vec 2, the slightly-closer twin); rank2 must
    # skip the near-dup vec 1 in favor of the diverse vec 3
    assert out[0].vec_id == 2
    assert out[1].vec_id == 3
    assert out[2].vec_id == 1
    assert out[1].mmr_score <= out[0].mmr_score


def test_mmr_is_pool_bounded_and_plan_flat(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = mmr_topk(embs, k=5, pool=12)
    rows = out.collect()
    assert len(rows) == 5
    assert len({r.vec_id for r in rows}) == 5
    # greedy scores are computed over rounded sims; ranks strictly ordered
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]


def test_semantic_dedup_drops_near_dup_keeps_anchor(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0] + [0.0] * 60, 0),
        (1, [0.99, 0.001, 0.0, 0.0] + [0.0] * 60, 0),  # near-dup of 0
        (2, [-1.0, 0.0, 0.0, 0.0] + [0.0] * 60, 0),  # opposite bucket
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    from yamon_spark.operators.similarity import semantic_dedup

    out = {r.vec_id: r for r in semantic_dedup(embs, threshold=0.95).collect()}
    assert out[0].keep == 1 and out[0].canon_id == 0  # anchor of its bucket
    assert out[1].keep == 0 and out[1].canon_id == 0  # dropped against anchor
    assert out[1].cos_to_canon >= 0.95
    assert out[2].keep == 1  # alone in the complementary bucket
    assert out[2].bucket != out[0].bucket


def test_seasonal_baseline_flags_consistent(spark, sf_dir):
    from yamon_spark.queries import all_queries

    out = all_queries()["q86_seasonal_baseline"].build(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert ((out.ratio - out.current_avg / out.baseline_avg).abs() < 1e-12).all()
    assert (out.anomalous == ((out.ratio - 1.0).abs() > 0.2).astype(int)).all()


def test_level_shift_partitions_each_series(spark, sf_dir):
    from yamon_spark.queries import all_queries, table

    out = all_queries()["q87_level_shift"].build(spark, sf_dir).toPandas()
    total = table(spark, sf_dir, "events").count()
    assert (out.n_before + out.n_after).sum() == total
    assert ((out["shift"] - (out.mean_after - out.mean_before)).abs() < 1e-12).all()


def test_sq8_roundtrip_preserves_direction(spark, sf_dir):
    from yamon_spark.operators.similarity import sq8_fidelity, sq8_recall

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fid = sq8_fidelity(embs).toPandas()
    assert len(fid) == embs.count()
    # 8-bit per-dim quantization keeps direction almost exactly
    assert fid.recon_cos.min() > 0.999
    rec = sq8_recall(embs).collect()[0]
    assert rec.recall_at_10 >= 0.9


def test_sq8_codes_are_byte_range_and_deterministic(spark):
    from yamon_spark.operators.similarity import sq8_frame

    rows = [(i, [float(i), -float(i), 0.5] + [0.0] * 61, 0) for i in range(4)]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    out = sq8_frame(embs).select("vec_id", "codes").collect()
    for r in out:
        assert all(0 <= c <= 255 for c in r.codes)
    by_id = {r.vec_id: r.codes for r in out}
    assert by_id[0][0] == 0 and by_id[3][0] == 255  # min/max of dim 0
    assert by_id[0][2] == 0  # constant dim -> code 0 guard


def test_dedup_funnel_attrition_is_consistent(spark):
    # 2 exact copies of A, near-dup pair B~B', distinct C
    a = "alpha beta gamma delta epsilon zeta"
    b = "one two three four five six seven eight nine ten"
    b2 = "one two three four five six seven eight nine eleven"
    docs = _docs(spark, [(a, "s"), (a, "s"), (b, "s"), (b2, "s"), ("unique words here now", "s")])
    from yamon_spark.operators.curation import dedup_funnel

    rows = dedup_funnel(docs, ngram=3, threshold=0.5).collect()
    assert [r.stage for r in rows] == ["raw", "exact", "near_dup"]
    raw, exact, near = rows
    assert raw.n_docs == 5 and raw.removed == 0
    assert exact.n_docs == 4 and exact.removed == 1  # one exact copy gone
    assert near.n_docs == 3 and near.removed == 1  # B' folded into B
    # invariant: n_docs[k] == n_docs[k-1] - removed[k]
    assert exact.n_docs == raw.n_docs - exact.removed
    assert near.n_docs == exact.n_docs - near.removed


def test_quality_logit_train_learns_separable_gate(spark):
    """On a corpus where the rule gate splits purely on word count, 12
    rounds of standardized GD must (1) classify every doc correctly,
    (2) learn a positive ln-words weight (short docs are the negatives),
    and (3) emit exactly the five (term, value) rows sorted by term."""
    from yamon_spark.operators.curation import quality_logit_train

    stop = "the and for you that"  # keeps stop_ratio above the gate floor
    rows = [(i, f"{stop} word{i} " + " ".join(f"tok{j}" for j in range(30))) for i in range(30)]
    rows += [(100 + i, f"tiny{i} doc") for i in range(10)]  # too_short negatives
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_logit_train(docs, iters=12, lr=4.0).collect()
    assert [r.term for r in out] == [
        "train_acc",
        "w0_intercept",
        "w1_ln_words",
        "w2_avg_word_len",
        "w3_stop_ratio",
    ]
    vals = {r.term: r.value for r in out}
    assert vals["train_acc"] == 1.0
    assert vals["w1_ln_words"] > 0.5  # word count is the separating feature


def test_quality_threshold_sweep_separable_corpus(spark):
    """On the separable corpus the head is near-perfect, so every
    threshold row must (1) have monotonically non-increasing n_kept as
    the threshold rises, (2) keep exactly the 30 long docs at mid
    thresholds with precision = recall = f1 = 1.0, and (3) never emit a
    metric outside [0, 1]."""
    from yamon_spark.operators.curation import quality_threshold_sweep

    stop = "the and for you that"
    rows = [(i, f"{stop} word{i} " + " ".join(f"tok{j}" for j in range(30))) for i in range(30)]
    rows += [(100 + i, f"tiny{i} doc") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_threshold_sweep(docs, iters=12, lr=4.0).collect()
    assert [round(r.threshold, 1) for r in out] == [round(0.1 * i, 1) for i in range(1, 10)]
    kept = [r.n_kept for r in out]
    assert kept == sorted(kept, reverse=True)
    mid = out[4]  # threshold 0.5
    assert (mid.n_kept, mid.prec, mid.rec, mid.f1) == (30, 1.0, 1.0, 1.0)
    for r in out:
        for v in (r.prec, r.rec, r.f1):
            assert v is None or 0.0 <= v <= 1.0


def test_quality_head_calibration_separable_corpus_is_polarized(spark):
    """On the same separable corpus the trained head is confident, so the
    reliability diagram must (1) partition the corpus (n_docs sums to
    |corpus|), (2) keep every bin's mean_pred inside the bin's
    probability range, and (3) show frac_keep 0 in the bottom occupied
    bin and 1 in the top occupied bin — predictions agree with the rule
    gate at both extremes."""
    from yamon_spark.operators.curation import quality_head_calibration

    stop = "the and for you that"
    rows = [(i, f"{stop} word{i} " + " ".join(f"tok{j}" for j in range(30))) for i in range(30)]
    rows += [(100 + i, f"tiny{i} doc") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_head_calibration(docs, iters=12, lr=4.0, n_bins=10).collect()
    assert sum(r.n_docs for r in out) == 40
    bins = [r.bin for r in out]
    assert bins == sorted(bins) and all(0 <= b <= 9 for b in bins)
    for r in out:
        lo, hi = r.bin / 10.0, (r.bin + 1) / 10.0 if r.bin < 9 else 1.0001
        assert lo - 1e-4 <= r.mean_pred <= hi + 1e-4
    assert out[0].frac_keep == 0.0  # short docs: confidently (and correctly) dropped
    assert out[-1].frac_keep == 1.0  # long docs: confidently (and correctly) kept


def test_quality_head_fit_score_parity_with_training(spark):
    """Serving parity: quality_head_score over the TRAINING corpus with
    the fitted model row reproduces the training-time verdicts — the
    thresholded predictions agree with quality_logit_train's reported
    accuracy against the rule gate, and scores are 4dp-bounded."""
    from yamon_spark.operators.curation import (
        quality_head_fit,
        quality_head_score,
        quality_logit_train,
    )

    stop = "the and for you that"
    rows = [(i, f"{stop} word{i} " + " ".join(f"tok{j}" for j in range(30))) for i in range(30)]
    rows += [(100 + i, f"tiny{i} doc") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = quality_head_fit(docs, iters=12, lr=4.0)
    assert model.count() == 1 and set(model.columns) == {
        "m1", "m2", "m3", "s1", "s2", "s3", "w0", "w1", "w2", "w3"
    }
    scored = quality_head_score(docs, model).collect()
    assert len(scored) == 40
    acc_row = {r.term: r.value for r in quality_logit_train(docs, iters=12, lr=4.0).collect()}
    # rule gate on this corpus: long docs keep, tiny docs drop
    agree = sum(1 for r in scored if r.keep_pred == (1 if r.doc_id < 100 else 0))
    assert agree / 40 == acc_row["train_acc"]
    assert all(r.quality_score is None or 0.0 <= r.quality_score <= 1.0 for r in scored)


def test_corpus_pipeline_quality_model_stamp(spark, tmp_path):
    """The streaming pipeline stamps the trained head's score at ingest:
    a landed doc that passes the rule gate carries (quality_score,
    keep_pred) from the broadcast model row."""
    import json

    from yamon_spark.operators.curation import quality_head_fit
    from yamon_spark.streaming.corpus import start_corpus_pipeline

    stop = "the and for you that"
    train_rows = [
        (i, f"{stop} word{i} " + " ".join(f"tok{j}" for j in range(30))) for i in range(30)
    ] + [(100 + i, f"tiny{i} doc") for i in range(10)]
    model = quality_head_fit(
        spark.createDataFrame(train_rows, "doc_id long, text string"), iters=12, lr=4.0
    )

    good = f"{stop} fresh doc " + " ".join(f"tok{j}" for j in range(30))
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b1.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": good, "lang": "en", "source": "s",
                    "ts": "2024-05-01T10:00:00Z"}) + "\n"
    )
    q = start_corpus_pipeline(
        spark,
        str(landing),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        quality_model=model,
    )
    q.awaitTermination()
    rows = spark.read.parquet(str(tmp_path / "out" / "corpus")).collect()
    assert len(rows) == 1
    assert rows[0].keep_pred == 1 and rows[0].quality_score > 0.5


def test_quality_head_ece_near_zero_on_separable_corpus(spark):
    """On the separable corpus the head is near-perfectly calibrated at
    the extremes, so the doc-weighted ECE is small; it covers exactly
    the corpus and stays in [0, 1]."""
    from pyspark.sql import functions as F

    from yamon_spark.operators.curation import quality_head_calibration

    stop = "the and for you that"
    rows = [(i, f"{stop} word{i} " + " ".join(f"tok{j}" for j in range(30))) for i in range(30)]
    rows += [(100 + i, f"tiny{i} doc") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cal = quality_head_calibration(docs, iters=12, lr=4.0, n_bins=10)
    row = cal.agg(
        F.sum("n_docs").alias("n"),
        (F.sum(F.col("n_docs") * F.abs(F.col("mean_pred") - F.col("frac_keep"))) / F.sum("n_docs")).alias("ece"),
    ).first()
    assert row.n == 40
    assert 0.0 <= row.ece <= 0.1  # confidently-correct head -> tiny ECE


def test_gd_memo_never_keys_on_opaque_inmemory_plans(spark):
    """Two DIFFERENT in-memory corpora share a canonicalized plan string
    (LogicalRDD carries no data identity), so the session GD memo must
    refuse to key on them: training the head on corpus A then corpus B
    must return B's weights, not A's cached ones. File-backed inputs
    (whose scan path pins identity) still memoize — second call returns
    the identical frames object."""
    from yamon_spark.operators.curation import _GD_MEMO, _logit_train_frames
    from yamon_spark.queries import table as load_table

    good = "the quick brown fox jumps over a lazy dog in the field "
    a = spark.createDataFrame(
        [(i, good * (2 + i % 3)) for i in range(30)] + [(100 + i, "zz xq") for i in range(10)],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(i, "zz xq qqq") for i in range(40)], "doc_id long, text string"
    )
    _, wa = _logit_train_frames(a, 6, 4.0)
    _, wb = _logit_train_frames(b, 6, 4.0)
    ra, rb = wa.first(), wb.first()
    assert tuple(ra) != tuple(rb)  # B trained on B, not on A's cache

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    f1, w1 = _logit_train_frames(docs, 6, 4.0)
    f2, w2 = _logit_train_frames(docs, 6, 4.0)
    assert f1 is f2 and w1 is w2  # file-backed plans still memoize
    assert any(k for k in _GD_MEMO)

    # SAME schema, SAME operators, DIFFERENT path must NOT collide:
    # canonicalized plans print file relations without their path (the
    # edge-corpus clone collided with sf0.001 this way), so the key
    # also carries inputFiles()
    other = load_table(spark, "/root/testdata/sf0.01", "documents")
    f3, w3 = _logit_train_frames(other, 6, 4.0)
    assert f3 is not f1 and w3 is not w1


def test_gd_memo_sweeps_dead_session_entries(spark):
    """ADVICE r9: memo entries whose owning session has stopped are
    evicted on the next memo access — simulated with a stub whose
    SparkContext has ``_jsc = None`` (the state SparkContext.stop()
    leaves), so the real shared session is never stopped mid-suite."""
    from types import SimpleNamespace

    from yamon_spark.operators._memo import sweep_dead_sessions
    from yamon_spark.operators.curation import _GD_MEMO, _logit_train_frames
    from yamon_spark.queries import table as load_table

    stopped = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    _GD_MEMO[("dead-session-key",)] = (SimpleNamespace(sparkSession=stopped), None)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    f1, _ = _logit_train_frames(docs, 6, 4.0)  # access runs the sweep
    assert ("dead-session-key",) not in _GD_MEMO
    # live-session entries survive the sweep untouched
    sweep_dead_sessions(_GD_MEMO)
    f2, _ = _logit_train_frames(docs, 6, 4.0)
    assert f1 is f2


def test_gd_inmemory_features_unpersisted_after_training(spark):
    """A feature frame nothing memoizes is released once the weights are
    collected: repeated head training over an in-memory corpus leaves
    the session's persistent-RDD count where it was."""
    from yamon_spark.operators.curation import quality_logit_train

    stop = "the and for you that"
    rows = [(i, f"{stop} word{i} " + " ".join(f"tok{j}" for j in range(30))) for i in range(30)]
    rows += [(100 + i, f"tiny{i} doc") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        assert quality_logit_train(docs, iters=2, lr=4.0).count() == 5
    assert jsc.getPersistentRDDs().size() == before


def test_head_score_rejects_reserved_qh_columns(spark):
    """ADVICE r13: quality_head_score stages temp columns in the _qh_*
    namespace; a caller whose frame already carries one must get a loud
    ValueError, not an ambiguous-reference failure downstream."""
    import pytest

    from yamon_spark.operators.curation import quality_head_fit, quality_head_score
    from yamon_spark.queries import table as load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    model = quality_head_fit(docs, iters=6, lr=4.0)
    from pyspark.sql import functions as F

    bad = docs.withColumn("_qh_w", F.lit(1))
    with pytest.raises(ValueError, match="_qh_"):
        quality_head_score(bad, model)
    # clean frames keep working
    assert quality_head_score(docs.limit(5), model).count() == 5
