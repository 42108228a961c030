"""Bench harness (driver contract): run every declared query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}

Each query executes through a noop sink (full plan incl. sorts, no
driver collect overhead). Session startup and JIT warm-up are excluded.
Every timed run goes through :func:`timed`, which also records the
query's layers (build seconds, exec seconds, Spark jobs); bench_out.json
keeps them under ``layers`` for the pass whose wall is kept.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from yamon_spark.queries import all_queries
from yamon_spark.session import get_spark

# perfbench's tracer, loaded by file path: putting perfbench/ on sys.path
# would let its flat module names (gen, metrics, tables, run) shadow others
_SPEC = importlib.util.spec_from_file_location("perfbench_spans", os.path.join(ROOT, "perfbench", "spans.py"))
spans = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(spans)

# Fresh-session headline basket: the cross-round perf anchor. The warm
# sweep's totals drift ~13%/round from JVM/session aging alone (r11->r12
# measured; SCALE.md "Round 12"), so round-over-round comparison needs
# walls measured in a FRESH JVM per query — one subprocess each, JIT
# warm-up at sf0.001, min-of-2 at the bench SF. The basket is PINNED
# (r12 bench top-10 + q20/q25/q31/q60 + the minhash pair): a stable set
# is the whole point of an anchor, so do not re-derive it from current
# timings; extend it only by appending.
FRESH_HEADLINE = [
    "dedup_minhash_err",
    "dedup_simhash64_pairs",
    "quality_drift_alarm",
    "text_ngram_novelty",
    "dedup_minhash_lsh",
    "dedup_funnel",
    "source_overlap",
    "dedup_clusters",
    "dedup_simhash_pairs",
    "multimodal_jpeg_roundtrip",
    "dedup_jaccard",
    "q20_hash_agg",
    "q25_gauge_rollup_mv",
    "q31_counter_delta",
    "q60_tumbling_window",
]


def tracer_for(spark, run_id: str):
    """A perfbench Tracer whose job spans count this session's jobs."""
    tracer = spans.Tracer(run_id)
    tracer.sc = spark.sparkContext
    return tracer


def timed(tracer, name: str, build) -> dict:
    """Run ``build()`` to Spark's noop sink through perfbench's
    ``run_query``: the wall (2 dp, the contract's precision) is its build
    plus exec seconds, and ``jobs`` counts the Spark jobs both launched.
    Exceptions from the build or the action propagate."""
    build_s, exec_s = spans.run_query(tracer, name, build)
    # run_query appends its build, exec and query spans last; the query
    # span carries no job count
    jobs = sum(s.get("jobs", 0) for s in tracer.spans[-3:])
    return {
        "wall": round(build_s + exec_s, 2),
        "build_s": round(build_s, 3),
        "exec_s": round(exec_s, 3),
        "jobs": jobs,
    }


def _layers(rec: dict) -> dict:
    return {k: rec[k] for k in ("build_s", "exec_s", "jobs")}


def fresh_one(name: str, sf_dir: str) -> None:
    """Child-process mode: measure ONE query in this fresh JVM; the
    RESULT line carries both walls and the faster run's layers."""
    spark = get_spark("yamon-bench-fresh", data_dir=sf_dir)
    spark.sparkContext.setLogLevel("ERROR")
    build = all_queries()[name].build
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        build(spark, warm_dir).write.format("noop").mode("overwrite").save()
    tracer = tracer_for(spark, "fresh")
    recs = [timed(tracer, name, lambda: build(spark, sf_dir)) for _ in range(2)]
    best = min(recs, key=lambda r: r["wall"])
    print("RESULT " + json.dumps({"walls": [r["wall"] for r in recs], **_layers(best)}), flush=True)


def fresh_headline_walls(sf_dir: str) -> dict[str, float]:
    """Spawn one subprocess per basket query; -1.0 sentinel on failure.

    A stopped-and-recreated SparkSession reuses the driver JVM, so only
    a new process truly freshens the heap (same finding that drove
    scale_curve --fresh). The parent's own session stays alive but idle
    (8g driver — not the 48g resident-heap thrash case).
    """
    import subprocess

    out: dict[str, float] = {}
    for name in FRESH_HEADLINE:
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--fresh-one", name],
                capture_output=True,
                text=True,
                timeout=300,
                env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir),
            )
            lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
            out[name] = min(json.loads(lines[-1][len("RESULT "):])["walls"]) if lines else -1.0
        except Exception:  # noqa: BLE001 - anchor failure must not kill the bench
            out[name] = -1.0
    return out


def cpu_scale_probe(spark, tracer) -> dict:
    """Core-count witness: one fixed CPU-bound job (pure compute — no
    shuffle, no input I/O, no Python) whose wall scales ~1/cores.

    Why it exists (PERF_r13 scaling block): at sf0.1 every QUERY wall is
    dominated by fixed overhead (0.4-0.6 s of build/scheduling against
    ~17 MB of input), so the driver's 8-vs-32-core bench ratios all come
    out ≈1 and the artifact cannot distinguish "honors $SPARK_GRAFT_CPUS
    but overhead-bound at this SF" from "ignores the env var". This
    probe is the in-artifact witness: its wall separates cleanly with
    the core count (measured ~4x between local[8] and local[32]), and it
    rides the contract line next to the cpus/master fields.
    """
    from pyspark.sql import functions as F

    # fixed row and TASK count (not cpus-derived): both sides of an
    # 8-vs-32-core comparison run the identical job, so the wall ratio
    # isolates concurrency
    n, parts = 10_000_000, 128
    # two chained sha2 rounds per row: enough per-task compute that the
    # wall is CPU-bound, not scheduling-bound (calibrated: ~0.3 s of the
    # wall is fixed overhead, the rest splits by core count)
    job = (
        spark.range(0, n, 1, parts)
        .select(F.sha2(F.sha2(F.col("id").cast("string"), 256), 512).alias("h"))
        .select(F.sum(F.length("h")).alias("s"))
    )
    job.write.format("noop").mode("overwrite").save()  # JIT warm-up
    walls = [timed(tracer, "cpu_probe", lambda: job)["wall"] for _ in range(2)]
    return {"wall": min(walls), "rows": n}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("yamon-bench", data_dir=sf_dir)
    spark.sparkContext.setLogLevel("ERROR")

    qs = all_queries()

    # Ingest headline FIRST, before the full-registry sweep heats the JVM
    # and box (r6-r8 recorded three consecutive declines 1,061k -> 885k ->
    # 826k rows/s while an idle re-measure showed 1.05-1.17M: the query
    # sweep that used to precede this block is itself the contention).
    # Every attempt is recorded in ingest["attempts"] so a contended
    # snapshot is visible in the artifact of record, not just a side note.
    try:
        # untimed JIT warm-up: the first execution of the ingest path in
        # a session measures ~550k rows/s cold vs 0.9-1.17M warm (probed
        # best-of-4) — without this, attempt 1 is always a throwaway
        ingest_bench(spark, n_lines=2000)
        # Always record >=3 attempts (r10 stopped at 2 and its headline
        # dipped to 995k while r9's best-of-3 was 1.14M — with only two
        # samples, contention and a real slowdown are indistinguishable;
        # an r11 idle-box probe measured the SAME code at 1.08M and 643k
        # in back-to-back sessions, so the dip is VM noise, not pipeline
        # cost). Up to 2 extra attempts run while the best is below 1.05M.
        attempts: list[int] = []
        ingest = ingest_bench(spark)
        attempts.append(ingest["rows_per_sec"])
        for i in range(4):
            if i > 1 and ingest["rows_per_sec"] > 1_050_000:
                break
            again = ingest_bench(spark)
            attempts.append(again["rows_per_sec"])
            if again["rows_per_sec"] > ingest["rows_per_sec"]:
                ingest = again
        ingest["attempts"] = attempts
    except Exception as e:  # noqa: BLE001 - ingest failure must not kill the query timings
        ingest = {"rows_per_sec": -1, "hosts": 50, "error": f"{type(e).__name__}: {e}"[:200]}

    # steady-state warm-up: run every query once at the smallest SF so
    # whole-stage-codegen JIT + Arrow/python-worker startup are excluded
    # from the timed sf run (the first queries otherwise absorb all of it)
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in sorted(qs):
            try:
                qs[name].build(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - warm-up must never fail the bench
                pass

    # Per-query failure isolation: one broken query must never zero out the
    # perf signal for the rest (round 3: a single AnalysisException aborted
    # the whole run and BENCH_r03 recorded no timings). Failures get a -1.0
    # sentinel in the timings map and are listed under "errors".
    errors: dict[str, str] = {}
    tracer = tracer_for(spark, "bench")

    def run_one(name: str) -> dict | None:
        try:
            return timed(tracer, name, lambda: qs[name].build(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            return None

    # Noise floor (uniform min-of-2): EVERY query is measured twice and
    # the min kept. This box shows sporadic multi-second CPU-steal
    # spikes that land on random queries (observed 1.4 s -> 45 s on a
    # pure-projection query) plus a uniform ~9% JVM-sharing drift as the
    # registry grows; re-measuring only outliers left that drift needing
    # manual adjudication every round (r4->r5). The second pass runs
    # AFTER the full first sweep so both passes see the same
    # steady-state JVM. BOTH passes are kept in the artifact
    # (sweep_attempts totals on the contract line, full per-pass maps in
    # bench_out.json): r11's total regressed 1.13x vs r10 across dozens
    # of UNTOUCHED queries and the artifact couldn't distinguish box
    # contention from a code regression because only the folded min was
    # recorded — the per-pass totals make a contended round visible in
    # the record itself (a quiet round has near-equal passes; a
    # contended one shows a wide pass1/pass2 spread). A failed run is
    # None here and the -1.0 sentinel in the per-pass maps.
    runs = [{name: run_one(name) for name in sorted(qs)} for _ in range(2)]

    # per query, the fastest run that did not fail; its layers are kept
    best: dict[str, dict] = {}
    for name in sorted(qs):
        ok_runs = [p[name] for p in runs if p[name] is not None]
        if ok_runs:
            best[name] = min(ok_runs, key=lambda r: r["wall"])

    # third-pass guard for anything still outlier-shaped (> 3x median in
    # BOTH passes — genuine heavyweights confirm themselves, doubly
    # contended ones collapse back)
    ok = sorted(r["wall"] for r in best.values())
    med = ok[len(ok) // 2] if ok else 0.0
    for name in [n for n, r in best.items() if r["wall"] > max(1.5, 3 * med)]:
        third = run_one(name)
        if third is not None and third["wall"] < best[name]["wall"]:
            best[name] = third

    timings = {name: best[name]["wall"] if name in best else -1.0 for name in sorted(qs)}
    pass1, pass2 = ({n: r["wall"] if r else -1.0 for n, r in p.items()} for p in runs)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sweep_attempts = [
        round(sum(t for t in p.values() if t >= 0), 2) for p in (pass1, pass2)
    ]
    # fresh-JVM anchor walls, AFTER the sweep (children are fresh
    # processes either way; running last keeps the warm sweep's thermal
    # profile comparable to earlier rounds)
    fresh = fresh_headline_walls(sf_dir)
    # CPUS-contract legibility (PERF_r13 "suspect_cpus_ignored"): the
    # effective master / core count / AQE wide start ride the contract
    # line, plus one pure-compute probe whose wall actually scales with
    # cores at this SF (per-query walls don't — they are overhead-bound
    # at 17 MB input; directly measured, see OPTIMIZATION_r14.md).
    try:
        cpu_probe = cpu_scale_probe(spark, tracer)
    except Exception as e:  # noqa: BLE001 - the witness must not kill the bench
        cpu_probe = {"error": f"{type(e).__name__}: {e}"[:120]}
    init_parts = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None
    )
    env = {
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "master": spark.sparkContext.master,
        "init_partitions": int(init_parts) if init_parts else None,
        "cpu_probe": cpu_probe,
    }
    result = {
        "metric": "declared_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sweep_attempts": sweep_attempts,
        "sweep_passes": {"pass1": pass1, "pass2": pass2},
        "layers": {name: _layers(r) for name, r in best.items()},
        # seconds the tracer's own Spark calls added to the timed runs
        "tracer_cost_s": round(tracer.cost_s, 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "ingest": ingest,
        "env": env,
        "fresh_headline": fresh,
    }
    if errors:
        result["errors"] = errors
    # Full result lands in bench_out.json; the stdout contract line must fit
    # a 2000-char tail capture (round 1's line was front-truncated and
    # unparseable), so it is compact-encoded via _short_name (bijective —
    # asserted below) and the ingest block reduced to its headline rate.
    # Until round 4 the cap was met by folding the ~11 cheapest timings
    # into "_rest". At 213 registered queries the fold is the normal
    # path again (~49 cheapest ride "_rest" in r12); that is fine —
    # failures are never folded and full per-query detail stays in
    # bench_out.json.
    with open(os.path.join(ROOT, "bench_out.json"), "w") as f:
        json.dump(result, f, indent=1)
    short = {_short_name(n): t for n, t in timings.items()}
    assert len(short) == len(timings), "short-name collision; fix _short_name"
    # stdout line drops the constant hosts=50 (kept in bench_out.json) and
    # uses the shorter metric id; value/unit/queries/sf are unchanged. The
    # two per-pass sweep totals ride the line (~20 chars); the per-pass
    # maps, the per-query layers and the tracer's cost stay in
    # bench_out.json
    line = {k: v for k, v in result.items() if k not in ("sweep_passes", "layers", "tracer_cost_s")}
    line.update(
        metric="total_wall",
        queries=short,
        # fresh-JVM anchor walls ride the line short-named and are NEVER
        # folded into _rest — they are the cross-round comparison signal
        fresh_headline={_short_name(n): w for n, w in fresh.items()},
        ingest={
            "rows_per_sec": ingest["rows_per_sec"],
            # the per-attempt record rides the contract line (~40 chars) so
            # BENCH_r{N}.json itself shows contended vs quiet samples —
            # r10's 995k "decline" was one noisy 2-sample draw on a VM an
            # idle probe measured at 1.08M and 643k back to back
            **({"attempts": ingest["attempts"]} if "attempts" in ingest else {}),
        },
    )
    # Hard cap: stay under the tail capture no matter how many queries are
    # registered — fold the CHEAPEST timings into one "_rest" bucket until
    # the encoded line fits (heavy hitters stay named; full detail is in
    # bench_out.json regardless).
    encoded = json.dumps(line, separators=(",", ":"))
    if len(encoded) > 1950:
        # failed queries (sentinel -1.0) stay named — never fold a failure.
        # "_rest_n" counts the folded queries so a growing fold reads as
        # fold growth, not as dropped queries (PERF_r13 reported the 21
        # newly folded cheapest timings as "dropped_from_bench"); full
        # per-query detail is always in bench_out.json.
        by_cost = sorted((n for n in short if short[n] >= 0), key=short.get)
        folded, n_folded = 0.0, 0
        while len(encoded) > 1950 and by_cost:
            folded += short.pop(by_cost.pop(0))
            n_folded += 1
            line["queries"] = dict(short, _rest=round(folded, 2))
            line["_rest_n"] = n_folded
            encoded = json.dumps(line, separators=(",", ":"))
    print(encoded)


# stdout-line name compression. Deterministic, documented, and bijective
# over the registry (asserted at emit time); bench_out.json always carries
# the full names, so the mapping only needs to be stable round-to-round
# (tests/test_bench_contract.py pins a digest of it):
#   qNN_*         -> NN           (bare digits; unique numeric prefixes)
#   sim_* -> sm_*   multimodal_* -> mm_*   dedup_* -> dd_*   text_* -> tx_*
#   sample_* -> sp_*   embed_* -> em_*   corpus_* -> co_*
# plus the whole-name mnemonics below, kept to 2-5 chars so every query
# fits the stdout cap (1950, under the driver's 2000-char tail capture).
_SHORT_WHOLE = {
    "ann_range_search": "anr",
    "bpe_apply": "bpa",
    "bpe_merge_step": "bp2",
    "bpe_pair_counts": "bpe",
    "chunk_dup_groups": "chd",
    "contamination_ngram": "ctm",
    "contamination_report": "ctr",
    "contamination_semantic": "cts",
    "corpus_profile": "prf",
    "corpus_shuffle": "shf",
    "corpus_snapshot_diff": "cosd",
    "curriculum_mix": "curm",
    "curriculum_plan": "curp",
    "dedup_budget_impact": "dbi",
    "dedup_canonical": "cnn",
    "dedup_cap_plan": "dcp",
    "dedup_cluster_sizes": "dcs",
    "dedup_clusters": "cls",
    "dedup_containment": "ctn",
    "dedup_exact": "ddx",
    "dedup_funnel": "fnl",
    "dedup_incremental": "inc",
    "dedup_jaccard": "jac",
    "dedup_lsh_band_tuning": "dlb",
    "dedup_minhash_err": "mhe",
    "dedup_minhash_lsh": "mh",
    "dedup_semantic": "sem",
    "dedup_simhash": "s16",
    "dedup_simhash64": "s64",
    "dedup_simhash64_pairs": "s6p",
    "dedup_simhash_pairs": "shp",
    "dedup_source_matrix": "dsm",
    "dedup_substring": "sub",
    "dedup_survivors": "dsv",
    "dedup_threshold_sweep": "dtsw",
    "doc_length_survival": "dls",
    "domain_mix": "dmx",
    "domain_mix_temperature": "dmt",
    "dsir_weights": "dsir",
    "embed_centroids": "cent",
    "embed_intrinsic_dim": "eid",
    "embed_kmeans": "km",
    "embed_label_metrics": "elb",
    "embed_norm_stats": "norm",
    "embed_outlier_score": "eos",
    "embed_pca_power": "pca",
    "embedding_assign_delta": "ead",
    "hard_negative_mining": "hng",
    "hybrid_rank_rrf": "rrf",
    "lang_id_confusion": "lgc",
    "mix_budget_plan": "bud",
    "mix_repeat_plan": "mrp",
    "multimodal_adpcm_roundtrip": "adpcm",
    "multimodal_audio_trim": "mtrim",
    "multimodal_audio_windows": "aud",
    "multimodal_avi_roundtrip": "avi",
    "multimodal_bmp_roundtrip": "bmp",
    "multimodal_features": "feat",
    "multimodal_frames": "frm",
    "multimodal_jpeg_roundtrip": "jpg",
    "multimodal_meta": "mta",
    "multimodal_mjpeg_roundtrip": "mjpg",
    "multimodal_png_roundtrip": "png",
    "multimodal_video_frames": "vid",
    "multimodal_wav_roundtrip": "wav",
    "pack_boundary_report": "packb",
    "pack_sequences": "pack",
    "pq_codes": "pqc",
    "pq_topk": "pqt",
    "quality_drift_alarm": "qda",
    "quality_gopher_rules": "qgr",
    "quality_head_calibration": "qhc",
    "quality_head_ece": "qhe",
    "quality_head_model": "qhm",
    "quality_logit": "qlg",
    "quality_logit_train": "qlt",
    "quality_score_psi": "psi",
    "quality_threshold_sweep": "qts",
    "sample_eval_slice": "sevs",
    "sample_rebalanced": "reb",
    "sample_stratified": "str",
    "sample_weighted": "spw",
    "shard_balance_report": "sbr",
    "sim_cascade_recall": "csr",
    "sim_cascade_topk": "csc",
    "sim_centroid_margin": "scm",
    "sim_cosine_topk": "cos",
    "sim_hamming_recall": "hmr",
    "sim_hamming_topk": "ham",
    "sim_ivf_pareto": "ivfp",
    "sim_ivf_recall": "ivfr",
    "sim_ivf_recall_batch": "ivb",
    "sim_ivf_topk": "ivf",
    "sim_ivfpq_recall": "ipr",
    "sim_ivfpq_topk": "ipq",
    "sim_knn_join": "knn",
    "sim_lsh_topk": "lsh",
    "sim_mmr_topk": "mmr",
    "sim_near_dup_lsh": "ndl",
    "sim_near_dup_pairs": "ndp",
    "sim_pq_recall": "pqr",
    "sim_sq8_recall": "sq8r",
    "sim_sq8_topk": "sq8t",
    "sim_truncation_recall": "trc",
    "sketch_count_min": "skcm",
    "source_divergence": "sdv",
    "source_overlap": "sov",
    "sq8_codes": "sq8",
    "text_bigram_logprob": "tbl",
    "text_bigrams": "bigr",
    "text_bm25": "bm25",
    "text_boilerplate": "tbp",
    "text_chunk_windows": "chk",
    "text_entropy": "ent",
    "text_fingerprint": "fp",
    "text_lang_id": "lang",
    "text_mattr": "mattr",
    "text_ngram_novelty": "nvl",
    "text_perplexity_buckets": "ppl",
    "text_pii_scrub": "pii",
    "text_pmi": "pmi",
    "text_quality_filter": "qual",
    "text_repetition": "rep",
    "text_search": "sch",
    "text_stats": "sts",
    "text_tfidf_pairs": "tfi",
    "text_token_count": "tok",
    "text_trigram_logprob": "ttl",
    "text_unigram_logprob": "uni",
    "text_winnow": "win",
    "text_zipf_slope": "zipf",
    "tokenizer_fertility": "tkf",
    "train_test_split": "spl",
    "vocab_coverage": "vcb",
    "vocab_growth": "vgr",
}
_SHORT_PREFIX = [
    ("multimodal_", "mm_"), ("dedup_", "dd_"), ("text_", "tx_"),
    ("sample_", "sp_"), ("embed_", "em_"), ("corpus_", "co_"),
    ("sim_", "sm_"),
]


def _short_name(n: str) -> str:
    # qNN_* -> bare NN (the digits are unique; ~1 char x 75 queries is the
    # difference between folding and not at 150+ registered entries)
    if n[0] == "q" and n[1:2].isdigit():
        return n.split("_", 1)[0][1:]
    if n in _SHORT_WHOLE:
        return _SHORT_WHOLE[n]
    for pre, rep in _SHORT_PREFIX:
        if n.startswith(pre):
            return rep + n[len(pre):]
    return n


def ingest_bench(spark, n_lines: int = 20000, per_line: int = 100) -> dict:
    """Wire-ingest throughput: parse submit-batch JSON -> typed metrics ->
    detail sink + gauge/counter 1-minute rollups (the reference's server
    path: forward_server.go decode -> ClickhouseWriter insert + both LTS
    MVs). Input text is pre-materialized on disk so generation isn't
    timed; the block is parsed ONCE and cached, then fanned out to all
    three sinks — the streaming pipeline's fused insert-block cascade
    (_fused_metrics_writer). BASELINE.md's implied agent-side steady
    state is ~800-1,000 metrics/s/host; this measures the server-side
    equivalent in rows/s (50 synthetic hosts).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from yamon_spark.sources.wire import parse_batch
    from yamon_spark.streaming.pipeline import counter_rollup, gauge_rollup

    tmp = tempfile.mkdtemp(prefix="yamon_ingest_bench_")
    try:
        ts = F.date_format(
            F.timestamp_seconds(F.lit(1714550400) + (F.col("id") % 3600)), "yyyy-MM-dd'T'HH:mm:ss'Z'"
        )
        metric = lambda i: F.struct(  # noqa: E731
            ts.alias("t"),
            F.when(i % 2 == 0, "gauge").otherwise("counter").alias("m"),
            F.concat(F.lit("host-"), (F.col("id") % 50).cast("string")).alias("h"),
            F.concat(F.lit("metric."), (i % 20).cast("string")).alias("n"),
            (i.cast("double") * 1.5 + (F.col("id") % 100).cast("double")).alias("v"),
            F.create_map(
                F.lit("env"), F.lit("prod"), F.lit("dc"), F.concat(F.lit("dc"), (i % 3).cast("string"))
            ).alias("g"),
        )
        lines = spark.range(n_lines).select(
            F.to_json(F.struct(F.transform(F.sequence(F.lit(1), F.lit(per_line)), metric).alias("m"))).alias(
                "value"
            )
        )
        lines.write.mode("overwrite").text(tmp)

        # steady-state warm-up on a tiny slice (same policy as the query
        # bench: codegen/JIT excluded from the timed run)
        warm = spark.read.text(tmp).limit(200)
        for mk in (lambda m: m, gauge_rollup, counter_rollup):
            mk(parse_batch(warm)["metrics"]).write.format("noop").mode("overwrite").save()

        t0 = time.perf_counter()
        metrics = parse_batch(spark.read.text(tmp))["metrics"].persist()
        try:
            for out in (metrics, gauge_rollup(metrics), counter_rollup(metrics)):
                out.write.format("noop").mode("overwrite").save()
        finally:
            metrics.unpersist()
        wall = time.perf_counter() - t0
        rows = n_lines * per_line
        return {
            "metrics_rows": rows,
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(rows / wall),
            "baseline_agent_rows_per_sec_per_host": 1000,
            "hosts": 50,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--fresh-one":
        fresh_one(sys.argv[2], os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    else:
        main()
