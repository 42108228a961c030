"""Empirical scaling curves for the heavy corpus operators.

The 100 TB claims in SCALE.md argue from plan shape (bounded candidate
sets, partial aggregation, broadcast sides). This script checks them
empirically, the way a superlinear blowup (LSH bucket skew, candidate
explosion, driver materialization) actually shows up: synthesize an
N-times slice of the sf0.1 corpus, run each operator at 1x and Nx, and
report wall-time ratios. A scan-shaped or bounded-candidate operator
lands near t(Nx)/t(1x) ~ N (plus fixed overhead); anything quadratic
blows far past it.

Slice synthesis (self-similar, not pathological):
- documents: replica i > 0 suffixes every token with "_r{i}", so each
  replica is a vocabulary-disjoint shard that mirrors the original's
  shingle/near-dup structure — corpus N times bigger, per-replica dup
  graph identical. Plain copies would instead make every doc a 10-way
  exact dup and measure a candidate explosion no real corpus has.
- embeddings: vec_id reindexed per replica, vectors unchanged (the ANN
  scans/top-k paths are data-independent in cost).

Usage: python scripts/scale_curve.py [--fresh] [factor] [ops...]
Writes SCALE_CURVE.json next to the repo root and prints one line per op.

``--fresh`` measures each op in its own SUBPROCESS (a stopped-and-
recreated SparkSession reuses the same driver JVM, so only a new
process truly freshens the heap). Round 12 measured that a long
single-session sweep AGES the JVM enough to fake a superlinear segment
on heavy ops (dedup_source_matrix @300x: 305 s mid-sweep vs 104 s
fresh — SCALE_CURVE.json `partition_knee`); the ~15 s JVM start per op
is noise against the heavy factors where it matters, so use --fresh
for any 100x+ sweep whose numbers will be read as evidence.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
WARM = "/root/testdata/sf0.001"
DEFAULT_OPS = [
    "dedup_clusters",
    "dedup_minhash_lsh",
    "dedup_jaccard",
    "pq_topk",
    "text_bm25",
    "sim_knn_join",
    "text_entropy",
    "sim_pq_recall",
]


def synthesize(spark, base: str, out_dir: str, factor: int) -> None:
    """Write a factor-x documents/embeddings slice; symlink other tables."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(base):
        if name not in ("documents.parquet", "embeddings.parquet", "events.parquet"):
            os.symlink(os.path.join(base, name), os.path.join(out_dir, name))

    docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    text = F.when(F.col("rep") == 0, F.col("text")).otherwise(
        F.regexp_replace(
            F.col("text"), F.lit(r"(\S+)"), F.concat(F.lit("$1_r"), F.col("rep").cast("string"))
        )
    )
    docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
        text.alias("text"),
        "lang",
        "source",
        F.length(text).cast("bigint").alias("n_chars"),
    ).repartition(32).write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    m = emb.agg(F.max("vec_id")).first()[0] + 1
    emb.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") + F.col("rep") * m).alias("vec_id"), "embedding", "label"
    ).repartition(32).write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))

    # events: replica i = distinct users on the same timeline, so per-series
    # cardinality grows with the factor while each series keeps the
    # original time shape (the realistic more-hosts-same-window growth)
    from yamon_spark.queries import table as load_table

    ev = load_table(spark, base, "events")
    ne = ev.agg(F.max("event_id")).first()[0] + 1
    nu = ev.agg(F.max("user_id")).first()[0] + 1
    ev.crossJoin(F.broadcast(reps)).select(
        (F.col("event_id") + F.col("rep") * ne).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("rep") * nu).alias("user_id"),
        "event_type",
        "value",
        "props",
    ).repartition(32).write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))


def time_op(build, spark, sf_dir: str, runs: int = 2) -> float:
    """Min wall over `runs` executions through bench.py's timer, i.e. the
    noop sink (same contention damping as bench.py on this steal-prone
    box)."""
    from bench import timed, tracer_for

    tracer = tracer_for(spark, "scale")
    return min(timed(tracer, "scale_op", lambda: build(spark, sf_dir))["wall"] for _ in range(runs))


def fit_exponents(runs: dict) -> dict:
    """Per-op scaling exponent: OLS slope of ln(wall ratio) on
    ln(factor) over every measured factor plus the implicit (1x, 1.0)
    anchor. ratio (not raw wall) removes run-to-run environment drift
    because each factor's ratio normalizes by its own same-session 1x.
    Exponent 1.0 = linear in data; < 1 = fixed overhead still
    amortizing; > ~1.2 would flag an emerging superlinear term."""
    import math

    pts: dict[str, list[tuple[float, float]]] = {}
    for factor, ops in runs.items():
        for name, rec in ops.items():
            pts.setdefault(name, []).append((math.log(float(factor)), math.log(rec["ratio"])))
    out = {}
    for name, p in pts.items():
        p = p + [(0.0, 0.0)]  # the 1x anchor
        if len(p) < 2:
            continue
        mx = sum(x for x, _ in p) / len(p)
        my = sum(y for _, y in p) / len(p)
        vx = sum((x - mx) ** 2 for x, _ in p)
        if vx == 0:
            continue
        slope = sum((x - mx) * (y - my) for x, y in p) / vx
        out[name] = {
            "exponent": round(slope, 3),
            "factors": sorted(int(round(math.exp(x))) for x, _ in p if x > 0),
        }
    return out


def write_curve(path: str, results: dict, factor: int, fresh: bool) -> dict:
    """Merge one sweep's results into SCALE_CURVE.json without losing
    ANY sibling evidence another harness wrote.

    Merge-by-(factor, op): partial runs refresh their entries without
    discarding other factors' records — or any top-level key such as
    split_jvm / partition_knee / fresh_runs (an earlier version rebuilt
    the dict from scratch and silently dropped them; r12 lost the
    round's de-confounding evidence to exactly that).
    """
    out = {"base": BASE, "runs": {}}
    prev_keys: set = set()
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        out.update(prev)
        prev_keys = set(prev.keys())
    # fresh-protocol results live under their own key: every wall in
    # "runs" is warm-sweep vintage, every wall in "fresh_runs" is
    # one-JVM-per-op; mixing them in one table would corrupt the
    # fitted exponents (fresh walls run 1-6x warm on this box)
    runs_key = "fresh_runs" if fresh else "runs"
    out.setdefault(runs_key, {}).setdefault(str(factor), {}).update(results)
    out["exponents"] = fit_exponents(out["runs"])
    if out.get("fresh_runs"):
        out["fresh_exponents"] = fit_exponents(out["fresh_runs"])
    # hard guard, not just merge-by-convention: refuse to write a file
    # that loses any pre-existing top-level key — the assert makes
    # losing evidence impossible rather than merely unlikely
    _assert_no_key_loss(prev_keys, out)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    return out


def _assert_no_key_loss(prev_keys: set, out: dict) -> None:
    lost = set(prev_keys) - set(out.keys())
    assert not lost, (
        f"SCALE_CURVE.json write would drop top-level keys {sorted(lost)}; "
        "refusing to destroy another harness's evidence"
    )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--fit":
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_CURVE.json"
        )
        with open(path) as f:
            out = json.load(f)
        out["exponents"] = fit_exponents(out.get("runs", {}))
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        worst = sorted(out["exponents"].items(), key=lambda kv: -kv[1]["exponent"])[:8]
        for name, rec in worst:
            print(f"{name:28s} exponent={rec['exponent']:5.2f} factors={rec['factors']}")
        print(f"wrote {path}")
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--one":
        # internal fresh-mode worker: measure ONE op against an already-
        # synthesized slice and print a single JSON result line
        factor, big_dir, name = int(sys.argv[2]), sys.argv[3], sys.argv[4]
        from yamon_spark.queries import all_queries
        from yamon_spark.session import get_spark

        # width sized from the BIG slice: the knee evidence says the wide
        # start's value is at the heavy factor, and t1 (sf0.1) pays only
        # noise for extra width when AQE coalesces it back down
        spark = get_spark("yamon-scale-one", data_dir=big_dir)
        spark.sparkContext.setLogLevel("ERROR")
        build = all_queries()[name].build
        build(spark, WARM).write.format("noop").mode("overwrite").save()
        t1 = time_op(build, spark, BASE)
        tn = time_op(build, spark, big_dir)
        print("RESULT " + json.dumps({"t1": t1, "tn": tn}), flush=True)
        return

    if len(sys.argv) > 1 and sys.argv[1] == "--synth":
        # internal fresh-mode worker: synthesize the slice and exit, so
        # the orchestrating parent never starts a JVM (a resident 48 g
        # parent heap alongside each measuring child double-books the
        # box's memory — measured 86% kernel time and 4-5x walls from
        # page-reclaim thrash when the parent kept its session)
        factor, big_dir = int(sys.argv[2]), sys.argv[3]
        from yamon_spark.session import get_spark

        spark = get_spark("yamon-scale-synth")
        spark.sparkContext.setLogLevel("ERROR")
        synthesize(spark, BASE, big_dir, factor)
        print("SYNTH_OK", flush=True)
        return

    args = [a for a in sys.argv[1:] if a != "--fresh"]
    fresh = "--fresh" in sys.argv[1:]
    # --dir PATH: measure against an already-synthesized slice (and leave
    # it in place afterwards) — a 1000x synthesis costs ~35 min, so a
    # multi-invocation sweep at one factor reuses a single slice
    reuse_dir = None
    if "--dir" in args:
        i = args.index("--dir")
        reuse_dir = args[i + 1]
        del args[i : i + 2]
    factor = int(args[0]) if args else 10
    ops = args[1:] or DEFAULT_OPS

    # a 100x+ slice with 32 executor threads needs real heap (the BPE /
    # tokenizer ops OOM'd the 8g default mid-300x-sweep on the 128 GiB
    # box); smaller factors keep the 8g default so the sweep still runs
    # on modest machines. The raised default is clamped to ~40% of
    # detected physical RAM so the JVM still starts on smaller hosts
    # (an unconditional 48g fails outright where the old 8g could run a
    # small op subset).
    if factor >= 100:
        heap_g = 48
        try:
            with open("/proc/meminfo") as f:
                total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
            heap_g = min(48, max(8, int(total_kb / 1024 / 1024 * 0.4)))
        except (OSError, StopIteration, ValueError):
            pass
        os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{heap_g}g")

    if fresh:
        # the parent stays JVM-free: synthesis and every measurement run
        # in their own processes (see --synth note above)
        spark = qs = None
    else:
        from yamon_spark.queries import all_queries
        from yamon_spark.session import get_spark

        spark = get_spark("yamon-scale-curve")
        spark.sparkContext.setLogLevel("ERROR")
        qs = all_queries()

    big_dir = reuse_dir or tempfile.mkdtemp(prefix=f"yamon_scale{factor}x_")
    try:
        if reuse_dir:
            if not os.path.exists(os.path.join(big_dir, "documents.parquet")):
                raise SystemExit(f"--dir {big_dir} has no documents.parquet")
            print(f"reusing slice -> {big_dir}")
        else:
            t0 = time.perf_counter()
            if fresh:
                import subprocess

                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--synth", str(factor), big_dir],
                    capture_output=True, text=True, env=os.environ,
                )
                if "SYNTH_OK" not in proc.stdout:
                    raise SystemExit(f"synth worker failed\n{proc.stderr[-1500:]}")
            else:
                synthesize(spark, BASE, big_dir, factor)
            print(f"synthesized {factor}x slice in {time.perf_counter() - t0:.1f}s -> {big_dir}")

        results = {}
        for name in ops:
            if fresh:
                # one op per JVM process: a long sweep's aged heap
                # inflates heavy walls (measured 3x on
                # dedup_source_matrix @300x)
                import subprocess

                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--one",
                     str(factor), big_dir, name],
                    capture_output=True, text=True, env=os.environ,
                )
                line = next(
                    (l for l in proc.stdout.splitlines() if l.startswith("RESULT ")), None
                )
                if line is None:
                    print(f"{name}: fresh worker failed\n{proc.stderr[-1500:]}")
                    continue
                r = json.loads(line[len("RESULT "):])
                t1, tn = r["t1"], r["tn"]
            else:
                build = qs[name].build
                build(spark, WARM).write.format("noop").mode("overwrite").save()  # JIT warm-up
                t1 = time_op(build, spark, BASE)
                tn = time_op(build, spark, big_dir)
            ratio = tn / t1 if t1 > 0 else float("inf")
            results[name] = {
                "t_1x_sec": round(t1, 2),
                f"t_{factor}x_sec": round(tn, 2),
                "ratio": round(ratio, 2),
            }
            print(f"{name:24s} 1x={t1:6.2f}s {factor}x={tn:6.2f}s ratio={ratio:5.2f}")

        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_CURVE.json")
        write_curve(path, results, factor, fresh)
        print(f"wrote {path}")
    finally:
        if not reuse_dir:
            shutil.rmtree(big_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
