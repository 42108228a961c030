"""Scale maintenance operators: salted skew join and small-file
compaction (SURVEY §2.4 / §4 — the pieces that only matter at cluster
scale, verified for semantics here)."""

from __future__ import annotations

from pyspark.sql import functions as F

from yamon_spark.operators.skew import salted_join
from yamon_spark.plans.compaction import compact_table, partition_stats


def _tables(spark):
    # hot key: 90% of probe rows share host-0
    probe = spark.range(1000).select(
        F.when(F.col("id") % 10 < 9, "host-0").otherwise(F.concat(F.lit("host-"), (F.col("id") % 7).cast("string"))).alias("host"),
        F.col("id").alias("v"),
    )
    build = spark.createDataFrame(
        [(f"host-{i}", f"dc-{i % 3}") for i in range(5)], ["host", "dc"]
    )
    return probe, build


def test_salted_join_inner_matches_plain(spark):
    probe, build = _tables(spark)
    plain = sorted((r.host, r.v, r.dc) for r in probe.join(build, ["host"], "inner").collect())
    salted = sorted((r.host, r.v, r.dc) for r in salted_join(probe, build, ["host"], "inner", salt=8).collect())
    assert salted == plain and len(plain) > 0


def test_salted_join_left_keeps_unmatched(spark):
    probe, build = _tables(spark)
    plain = sorted((r.host, r.v, r.dc) for r in probe.join(build, ["host"], "left").collect())
    salted = sorted((r.host, r.v, r.dc) for r in salted_join(probe, build, ["host"], "left", salt=8).collect())
    assert salted == plain
    # unmatched probe rows (host-5/6 not in build) survived exactly once
    assert any(dc is None for _, _, dc in salted)


def test_salted_join_balances_hot_key(spark):
    """The demonstration that salting fixes what it claims (VERDICT r4
    item 6): with a 90%-hot key, the unsalted shuffle pins ~all hot rows
    on one reducer; salting spreads them across the salt buckets. The
    spread is measured under the join's own hash-partitioning keys, and
    the executed plan must actually join on the salt term."""
    from yamon_spark.operators.skew import _SALT

    n, salt = 10_000, 16
    probe = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, "host-0")
        .otherwise(F.concat(F.lit("host-"), (F.col("id") % 7).cast("string")))
        .alias("host"),
        F.col("id").alias("v"),
    )
    build = spark.createDataFrame([(f"host-{i}", f"dc-{i % 3}") for i in range(7)], ["host", "dc"])

    out = salted_join(probe, build, ["host"], "inner", salt=salt)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _SALT in plan  # the salt term survives into the executed join keys

    def max_partition_rows(df, keys):
        counts = (
            df.repartition(32, *keys)
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        return max(r["count"] for r in counts)

    unsalted_max = max_partition_rows(probe, [F.col("host")])
    salted_probe = probe.withColumn(
        _SALT, F.pmod(F.xxhash64(*[F.col(c) for c in probe.columns]), F.lit(salt))
    )
    salted_max = max_partition_rows(salted_probe, [F.col("host"), F.col(_SALT)])
    # hot key pins one reducer unsalted (~9000 rows); salted buckets hold
    # ~9000/16 ≈ 560 hot rows each — assert an order-of-magnitude rebalance
    assert unsalted_max >= int(0.85 * n)
    assert salted_max <= n // salt * 3


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    table_dir = tmp_path / "metrics"
    df = spark.range(2000).select(
        F.when(F.col("id") % 2 == 0, "2024-05-01").otherwise("2024-05-02").alias("date"),
        F.concat(F.lit("m."), (F.col("id") % 5).cast("string")).alias("name"),
        F.col("id").cast("double").alias("value"),
    )
    # simulate micro-batch fragmentation: many tiny files per partition
    df.repartition(25).write.partitionBy("date").mode("overwrite").parquet(str(table_dir))
    before = partition_stats(str(table_dir))
    assert all(n > 5 for n, _ in before.values())

    done = compact_table(spark, str(table_dir), target_file_bytes=1 << 30, sort_keys=["name"])
    after = partition_stats(str(table_dir))
    assert set(done) == set(before)
    assert all(n == 1 for n, _ in after.values())

    back = spark.read.parquet(str(table_dir))
    assert back.count() == 2000
    assert back.agg(F.sum("value")).first()[0] == sum(range(2000))


def test_parquet_bloom_reality_scalar_yes_array_no(spark, tmp_path):
    """Characterization pin for the D7 layout claims (plans/layout.py):
    parquet blooms physically arm on SCALAR columns once cardinality
    defeats the dictionary (bloom at ndv=100k adds >100 KB — a clear
    size signal), and do NOT arm on array leaves at any cardinality on
    this Spark/parquet version. If an upgrade flips the array case,
    this test fails and the layout docs + hot-column workaround should
    be revisited."""
    from yamon_spark.plans.layout import with_tag_blooms

    df = spark.range(60_000).select(
        F.concat(F.lit("v-"), F.col("id").cast("string")).alias("tag_env"),
        F.array(F.concat(F.lit("k-"), F.col("id").cast("string")), F.lit("dc")).alias("tag_keys"),
        F.array(F.lit("x")).alias("tag_values"),
    )

    def written_size(writer_dir, with_blooms):
        w = df.coalesce(1).write.mode("overwrite")
        if with_blooms:
            w = with_tag_blooms(w, hot_keys=("env",))
        w.parquet(str(tmp_path / writer_dir))
        return sum(f.stat().st_size for f in (tmp_path / writer_dir).rglob("*.parquet"))

    plain = written_size("plain", with_blooms=False)
    bloomed = written_size("bloomed", with_blooms=True)
    # scalar tag_env bloom armed; if array blooms ever arm too, the
    # delta jumps by another ~230 KB and the upper bound trips
    assert plain + 100_000 < bloomed < plain + 220_000


def test_hot_tag_columns_push_down_and_survive_compaction(spark, tmp_path):
    """D7's IO-skipping layer end-to-end: the pipeline materializes
    hot-key scalar tag columns, Engine.tag_filter compiles to a
    fully-pushed parquet equality on them, and compaction keeps the
    columns (re-arming their bloom options)."""
    import json

    from yamon_spark.engine import Engine
    from yamon_spark.streaming.pipeline import PipelineConfig, run_pipeline_once

    landing = tmp_path / "landing"
    landing.mkdir(parents=True)
    ms = [
        {"t": f"2024-05-01T10:00:{i:02d}Z", "m": "gauge", "h": f"h{i % 3}", "n": "cpu",
         "v": float(i), "g": {"env": "prod" if i % 2 else "dev", "dc": f"dc{i % 2}"}}
        for i in range(20)
    ]
    (landing / "b0.jsonl").write_text(json.dumps({"m": ms}) + "\n")
    cfg = PipelineConfig(
        landing_dir=str(landing),
        out_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        hot_tag_keys=("env",),
    )
    run_pipeline_once(spark, cfg)

    metrics = spark.read.parquet(str(tmp_path / "store" / "metrics"))
    assert "tag_env" in metrics.columns
    scan = Engine.tag_filter(metrics, "env", "prod")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(tag_env,prod)" in plan  # fully-pushed IO-skipping filter
    assert scan.count() == 10
    # non-hot key falls back to the array lead-in, same answers
    assert Engine.tag_filter(metrics, "dc", "dc1").count() == 10

    compact_table(spark, str(tmp_path / "store" / "metrics"), target_file_bytes=1 << 30,
                  sort_keys=["name", "host", "when"], min_files=0)
    back = spark.read.parquet(str(tmp_path / "store" / "metrics"))
    assert "tag_env" in back.columns
    assert Engine.tag_filter(back, "env", "prod").count() == 10


def test_compact_table_skips_already_compact(spark, tmp_path):
    table_dir = tmp_path / "logs"
    spark.range(10).select(F.lit("2024-05-01").alias("date"), F.col("id")).coalesce(1).write.partitionBy(
        "date"
    ).mode("overwrite").parquet(str(table_dir))
    assert compact_table(spark, str(table_dir)) == {}


def test_engine_maintain_drops_and_compacts(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as FF

    from yamon_spark.engine import Engine

    data_dir = tmp_path / "data"
    df = spark.range(600).select(
        FF.when(FF.col("id") % 2 == 0, "2024-01-01").otherwise("2024-05-01").alias("date"),
        FF.lit("m.x").alias("name"),
        FF.lit("h1").alias("host"),
        FF.timestamp_seconds(FF.lit(1714550400) + FF.col("id")).alias("when"),
        FF.col("id").cast("double").alias("value"),
    )
    df.repartition(10).write.partitionBy("date").mode("overwrite").parquet(str(data_dir / "metrics"))

    eng = Engine(spark, str(data_dir))
    out = eng.maintain(today=dt.date(2024, 5, 10), target_file_bytes=1 << 30)
    # 2024-01-01 is past the 30-day metrics TTL; 2024-05-01 is kept and compacted
    assert out["dropped"]["metrics"] == ["date=2024-01-01"]
    assert out["compacted"]["metrics"] == {"date=2024-05-01": 1}
    back = spark.read.parquet(str(data_dir / "metrics"))
    assert back.count() == 300 and back.select("date").distinct().count() == 1


def test_maintain_end_to_end_under_streaming_pipeline(spark, tmp_path):
    """The MergeTree-analogue story (VERDICT r4 item 8), demonstrated on
    a directory the STREAMING pipeline actually wrote: three micro-batch
    runs fragment the date partitions; engine.maintain() then drops the
    TTL-expired partition, compacts the survivor to one file, restores
    the in-file (name, host, when) sort order, and the post-compaction
    scan still pushes predicates down."""
    import datetime as dt
    import json

    from yamon_spark.engine import Engine
    from yamon_spark.plans.compaction import partition_stats
    from yamon_spark.streaming.pipeline import PipelineConfig, run_pipeline_once

    landing = tmp_path / "landing"
    landing.mkdir(parents=True)
    cfg = PipelineConfig(
        landing_dir=str(landing),
        out_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    def land(i: int, date_s: str) -> None:
        ms = [
            {"t": f"{date_s}T10:0{j}:05Z", "m": "gauge", "h": f"h{j % 3}",
             "n": f"m.{(i + j) % 4}", "v": float(j)}
            for j in range(6)
        ]
        (landing / f"batch-{date_s}-{i}.jsonl").write_text(json.dumps({"m": ms}) + "\n")

    for i in range(3):  # three pushes -> three micro-batches -> 3 files/partition
        land(i, "2024-01-01")
        land(i, "2024-05-01")
        run_pipeline_once(spark, cfg)

    metrics_dir = str(tmp_path / "store" / "metrics")
    before = partition_stats(metrics_dir)
    assert before["date=2024-05-01"][0] >= 3  # fragmentation is real

    out = Engine(spark, str(tmp_path / "store")).maintain(
        today=dt.date(2024, 5, 10), target_file_bytes=1 << 30
    )
    assert out["dropped"]["metrics"] == ["date=2024-01-01"]  # past 30-day TTL
    # rollup MVs keep both dates (365-day LTS TTL) — only detail ages out
    assert out["dropped"]["metrics_gauge_lts"] == []

    after = partition_stats(metrics_dir)
    assert set(after) == {"date=2024-05-01"}
    assert after["date=2024-05-01"][0] == 1

    # in-file sort order restored: every parquet file is (name, host, when)-sorted
    import pyarrow.parquet as pq

    for f in (tmp_path / "store" / "metrics" / "date=2024-05-01").rglob("*.parquet"):
        pdf = pq.read_table(f, columns=["name", "host", "when"]).to_pandas()
        keys = list(zip(pdf["name"], pdf["host"], pdf["when"]))
        assert keys == sorted(keys)

    # predicate pushdown survives the rewrite (row-group skip stays armed)
    scan = spark.read.parquet(metrics_dir).where(F.col("name") == "m.1")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(name,m.1)" in plan
    assert scan.count() > 0


def _docs(spark):
    """Tiny corpus with guaranteed near-dups for LSH candidate tests."""
    rows = []
    for i in range(30):
        base = f"the quick brown fox {i % 5} jumps over the lazy dog number {i % 5} again and again"
        rows.append((i, base))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_minhash_lsh_shuffle_fallback_matches_broadcast(spark):
    """Above the candidate-size threshold the verification joins drop the
    broadcast hint; results must be identical either way."""
    from yamon_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark)
    via_broadcast = [
        (r.doc_a, r.doc_b, r.jaccard) for r in minhash_lsh_pairs(docs, threshold=0.3).collect()
    ]
    via_shuffle = [
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.3, max_broadcast_candidates=0).collect()
    ]
    assert via_shuffle == via_broadcast and len(via_broadcast) > 0


def test_dedup_repartition_width_conf(spark):
    """Pre-explode spread width comes from conf, not defaultParallelism:
    pinned when yamon.dedup.repartitionWidth is set, AQE/shuffle.partitions
    sized otherwise."""
    from yamon_spark.operators.dedup import shingle_table

    docs = _docs(spark)
    spark.conf.set("yamon.dedup.repartitionWidth", "7")
    try:
        assert shingle_table(docs).rdd.getNumPartitions() == 7
    finally:
        spark.conf.unset("yamon.dedup.repartitionWidth")
    # unset: no fixed-width exchange pinned to the driver's core count;
    # plan carries a keyed repartition that AQE is free to resize
    plan = shingle_table(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "doc_id" in plan


def test_uniq_rollup_partials_merge_exact(spark):
    """Sketch partials from two separate micro-batches merge to the same
    distinct-host count a single pass would give (uniqState/uniqMerge)."""
    from pyspark.sql import functions as FF

    from yamon_spark.streaming.pipeline import merge_uniq, uniq_rollup

    def batch(host_lo, host_hi):
        return spark.range(host_lo, host_hi).select(
            FF.timestamp_seconds(FF.lit(1714550400) + (FF.col("id") % 120)).alias("when"),
            FF.lit("gauge").alias("type"),
            FF.concat(FF.lit("host-"), (FF.col("id") % 40).cast("string")).alias("host"),
            FF.lit("cpu.user").alias("name"),
            FF.col("id").cast("double").alias("value"),
        )

    # overlapping host sets across two "micro-batches"
    partials = uniq_rollup(batch(0, 500)).unionByName(uniq_rollup(batch(250, 800)))
    merged = merge_uniq(partials).collect()
    assert len(merged) == 1
    row = merged[0]
    assert row.name == "cpu.user" and row.n_rows == 1050
    assert row.uniq_hosts == 40  # HLL exact at this cardinality

    # re-bucketing merge: per-window partials collapse into one bucket
    by_bucket = merge_uniq(partials, bucket=FF.date_trunc("hour", "when")).collect()
    assert len(by_bucket) == 1 and by_bucket[0].uniq_hosts == 40


def test_ivf_build_and_search(spark, tmp_path, sf_dir):
    """Persisted IVF index: probing every cell reproduces the exact
    top-k; a 2-cell probe reads only its partitions (pruned at the
    directory level) and still finds most true neighbors."""
    from yamon_spark.operators.similarity import cosine_topk, ivf_build, ivf_search
    from yamon_spark.queries import table as load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    ivf_build(emb, idx, n_cells=8)

    qv = [float(x) for x in emb.where("vec_id = 0").first().embedding]
    exact = [r.vec_id for r in cosine_topk(emb, 0, 10).collect()]

    # full probe == exact (query vector itself excluded from exact set)
    full = [v for v in (r.vec_id for r in ivf_search(spark, idx, qv, k=11, n_probe=8).collect()) if v != 0][:10]
    assert full == exact

    # partial probe: partition-pruned read, decent recall
    probe = ivf_search(spark, idx, qv, k=11, n_probe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan[plan.find("PartitionFilters") :][:200]
    got = [v for v in (r.vec_id for r in probe.collect()) if v != 0][:10]
    assert len(set(got) & set(exact)) >= 3


def test_pq_encode_and_topk(spark, sf_dir):
    """PQ codes are valid small ints, deterministic, and computed in a
    shuffle-free scan; asymmetric-distance top-k approximates the true
    nearest neighborhood (not asserted exactly — PQ is lossy — but the
    distance must be monotone-consistent with itself and the plan must
    stay a projection + TakeOrdered)."""
    from pyspark.sql import functions as FF

    from yamon_spark.operators.similarity import pq_encode, pq_topk
    from yamon_spark.queries import table as load_table

    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_encode(emb)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # scan-only projection
    rng = codes.select(
        *[FF.min(f"c{j}").alias(f"lo{j}") for j in range(8)],
        *[FF.max(f"c{j}").alias(f"hi{j}") for j in range(8)],
    ).first()
    assert all(rng[f"lo{j}"] >= 0 and rng[f"hi{j}"] <= 15 for j in range(8))
    assert codes.collect() == pq_encode(emb).collect()  # deterministic

    top = pq_topk(emb, query_vec_id=0, topk=10).collect()
    assert len(top) == 10 and 0 not in {r.vec_id for r in top}
    dists = [r.pq_dist for r in top]
    assert dists == sorted(dists)


def test_curation_suite_stress_20k_docs(spark):
    """Curation gates at 40x the dev corpus: synthesized 20k docs flow
    through quality -> contamination -> vocab coverage -> packing without
    plan degradation (no interpreted-UDF fallbacks, broadcasts intact)
    and with sane wall time. Catches accidental O(N^2) regressions the
    500-doc oracle corpus can't see."""
    import time

    from pyspark.sql import functions as FF

    from yamon_spark.operators.curation import (
        contamination_check,
        pack_sequences,
        quality_filter,
        vocab_coverage,
    )

    words = FF.transform(
        FF.sequence(FF.lit(0), (FF.col("id") % 40) + 10),
        lambda i: FF.concat(FF.lit("w"), ((FF.col("id") + i * 37) % 500).cast("string")),
    )
    docs = spark.range(20_000).select(
        FF.col("id").alias("doc_id"),
        FF.array_join(words, " ").alias("text"),
        FF.concat(FF.lit("l"), (FF.col("id") % 5).cast("string")).alias("lang"),
        FF.concat(FF.lit("s"), (FF.col("id") % 20).cast("string")).alias("source"),
    )
    docs = docs.withColumn("n_chars", FF.length("text").cast("bigint")).persist()
    assert docs.count() == 20_000

    t0 = time.perf_counter()
    assert quality_filter(docs).count() == 20_000
    scored = contamination_check(docs, ngram=5, bench_mod=50)
    assert scored.count() == 20_000 - 400  # benchmark members excluded
    assert vocab_coverage(docs, top_k=100).count() == 20_000
    assert pack_sequences(docs, ctx_len=2048).agg(FF.sum("n_docs")).first()[0] == 20_000
    wall = time.perf_counter() - t0
    docs.unpersist()
    # generous bound: these are scan-shaped jobs; quadratic regressions
    # blow far past this even on a contended box
    assert wall < 120, f"curation stress took {wall:.0f}s"


def test_compaction_leftovers_invisible_and_recoverable(spark, tmp_path):
    """Crash-safety of the compaction dir-swap: tmp/old siblings are
    dot-prefixed, so (a) Spark's reader never discovers them as
    partitions (a 'date=X.compact-tmp' name WOULD be — double-counting
    every row), and (b) a crash between the two renames is recovered by
    restoring the live dir from '.date=X.compact-old' on the next pass."""
    table_dir = tmp_path / "metrics"
    df = spark.range(100).select(
        F.lit("2024-05-01").alias("date"),
        F.concat(F.lit("m."), (F.col("id") % 5).cast("string")).alias("name"),
        F.col("id").cast("double").alias("value"),
    )
    df.repartition(4).write.partitionBy("date").mode("overwrite").parquet(str(table_dir))

    # a stale tmp dir from a crashed rewrite: full duplicate of the data
    part = table_dir / "date=2024-05-01"
    import shutil as sh

    sh.copytree(part, table_dir / ".date=2024-05-01.compact-tmp")
    assert spark.read.parquet(str(table_dir)).count() == 100  # invisible to readers
    partition_stats(str(table_dir))  # recovery pass drops the stale tmp
    assert not (table_dir / ".date=2024-05-01.compact-tmp").exists()

    # crash between renames: live dir gone, only the old copy remains
    part.rename(table_dir / ".date=2024-05-01.compact-old")
    partition_stats(str(table_dir))
    assert part.is_dir()
    assert spark.read.parquet(str(table_dir)).count() == 100


def test_knn_join_query_batch_hard_capped(spark):
    """The broadcast query batch must be O(1) in corpus size: the modulo
    sample is a corpus FRACTION, so without the cap a 100 TB corpus
    broadcasts ~1 TB of queries to every executor. The cap keeps the
    max_queries LOWEST sampled vec_ids (deterministic, oracle-expressible
    as ORDER BY vec_id LIMIT n) via TakeOrderedAndProject — no full sort."""
    from yamon_spark.operators.similarity import hard_negative_mining, knn_join

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).cast("int").alias("label"),
        F.array(*[(F.col("id") * (i + 1) % 17).cast("float") for i in range(4)]).alias(
            "embedding"
        ),
    )
    out = knn_join(emb, query_mod=2, k=1, max_queries=5)
    q_ids = sorted(r.q_id for r in out.select("q_id").distinct().collect())
    # 100 ids sampled by %2; only the 5 lowest survive the cap
    assert q_ids == [0, 2, 4, 6, 8]
    plan = out._jdf.queryExecution().executedPlan().toString()
    # r10 shape: scoring + per-partition top-k in ONE Arrow stage; the
    # candidates x queries scored frame is never materialized, so no
    # nested-loop join (and no data-sized shuffle) may appear
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan

    hn = hard_negative_mining(emb, query_mod=2, k=1, max_queries=5)
    hn_ids = sorted(r.q_id for r in hn.select("q_id").distinct().collect())
    assert set(hn_ids) <= {0, 2, 4, 6, 8} and len(hn_ids) > 0


def test_salted_join_handles_nested_map_schema(spark):
    """A map nested inside a struct/array must also be excluded from the
    salt hash — Spark rejects hash functions on any type recursively
    containing a map, not just top-level MapType."""
    probe = spark.range(50).select(
        F.concat(F.lit("host-"), (F.col("id") % 3).cast("string")).alias("host"),
        F.col("id").alias("v"),
        F.struct(F.create_map(F.lit("k"), F.lit("v")).alias("m")).alias("nested"),
        F.array(F.create_map(F.lit("a"), F.col("id").cast("string"))).alias("arr_m"),
    )
    build = spark.createDataFrame([(f"host-{i}", f"dc-{i}") for i in range(3)], ["host", "dc"])
    plain = sorted((r.host, r.v, r.dc) for r in probe.join(build, ["host"], "inner").collect())
    salted = sorted(
        (r.host, r.v, r.dc) for r in salted_join(probe, build, ["host"], salt=4).collect()
    )
    assert salted == plain and len(plain) == 50


def test_ivf_append_touches_only_batch_cells(spark, tmp_path, sf_dir):
    """Incremental index maintenance: appending a batch (1) writes files
    ONLY under the cells the batch maps to — every other cell's file set
    is byte-identical; (2) assigns each vector to the same cell the
    original quantizer would (nearest existing centroid); (3) a
    full-probe search over built+appended equals exact brute force over
    the union; (4) ivf_recall still reports healthy partial-probe recall
    after the append."""
    import os

    from pyspark.sql import functions as FF

    from yamon_spark.operators.similarity import (
        cosine_sim,
        ivf_append,
        ivf_build,
        ivf_recall,
        ivf_search,
    )
    from yamon_spark.queries import table as load_table

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.where("vec_id % 10 <> 7")
    batch = emb.where("vec_id % 10 = 7")
    idx = str(tmp_path / "ivf")
    ivf_build(old, idx, n_cells=8)

    def cell_files():
        out = {}
        for d in os.listdir(idx):
            if d.startswith("cell="):
                p = os.path.join(idx, d)
                out[d] = {(f, os.path.getmtime(os.path.join(p, f))) for f in os.listdir(p)}
        return out

    before = cell_files()
    touched = ivf_append(batch, idx)
    after = cell_files()
    assert touched  # the batch landed somewhere
    for d, files in before.items():
        if int(d.split("=")[1]) not in touched:
            assert after[d] == files, f"untouched cell {d} was modified"

    # assignment parity: appended rows sit in the nearest-centroid cell
    cents = {
        r.cell: r.centroid for r in spark.read.parquet(idx + "_centroids").collect()
    }
    idx_rows = {r.vec_id: r.cell for r in spark.read.parquet(idx).collect()}
    for r in batch.limit(20).collect():
        want = min(
            cents,
            key=lambda c: (sum((x - y) ** 2 for x, y in zip(r.embedding, cents[c])), c),
        )
        assert idx_rows[int(r.vec_id)] == want

    # full probe over built+appended == exact brute force over the union
    qv = [float(x) for x in emb.where("vec_id = 0").first().embedding]
    q = FF.lit(qv).cast("array<double>")
    exact = [
        r.vec_id
        for r in emb.where("vec_id <> 0")
        .select("vec_id", FF.round(cosine_sim(FF.col("embedding").cast("array<double>"), q), 4).alias("s"))
        .orderBy(FF.col("s").desc(), "vec_id")
        .limit(10)
        .collect()
    ]
    full = [
        v
        for v in (r.vec_id for r in ivf_search(spark, idx, qv, k=11, n_probe=8).collect())
        if v != 0
    ][:10]
    assert full == exact

    # recall health-check after the append
    rec = ivf_recall(spark, idx, emb, k=5, n_probe=8, max_queries=4).first()
    assert rec.recall == 1.0  # probing every cell is exhaustive
    rec2 = ivf_recall(spark, idx, emb, k=5, n_probe=2, max_queries=4).first()
    assert 0.0 <= rec2.recall <= 1.0


def test_ivf_append_log_and_recall_gate_cadence(spark, tmp_path, sf_dir):
    """Every append logs one row to <index>_log; with recall_every=2 the
    gate fires on exactly the 2nd append (recall recorded, full probe ->
    1.0) and stays null on appends 1 and 3."""
    from yamon_spark.operators.similarity import ivf_append, ivf_build
    from yamon_spark.queries import table as load_table

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.where("vec_id % 10 < 6")
    idx = str(tmp_path / "ivf")
    ivf_build(old, idx, n_cells=4)
    for rem in (6, 7, 8):
        ivf_append(
            emb.where(f"vec_id % 10 = {rem}"),
            idx,
            recall_every=2,
            recall_embeddings=emb,
            recall_k=5,
            recall_n_probe=4,
        )
    log = {r.append_seq: r for r in spark.read.parquet(idx + "_log").collect()}
    assert sorted(log) == [1, 2, 3]
    assert log[1].recall is None and log[3].recall is None
    assert log[2].recall == 1.0  # n_probe=4 over a 4-cell index is exhaustive
    assert all(log[s].n_rows > 0 and log[s].n_cells_touched > 0 for s in log)


def test_contamination_semantic_bench_side_hard_capped(spark):
    """The benchmark broadcast must be O(1) in corpus size (the knn_join
    lesson): only the max_bench LOWEST sampled ids survive, via
    TakeOrderedAndProject, and the bench side still broadcasts."""
    from yamon_spark.operators.similarity import contamination_semantic

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[((F.col("id") + i) % 7).cast("float") + 1.0 for i in range(4)]).alias(
            "embedding"
        ),
    )
    out = contamination_semantic(emb, bench_mod=2, threshold=2.0, max_bench=3)
    # 100 ids sampled by %2; only bench ids 0,2,4 survive the cap
    benches = {r.nearest_bench for r in out.collect()}
    assert benches <= {0, 2, 4} and len(benches) > 0
    assert out.count() == 100  # every non-bench vector scored
    plan = out._jdf.queryExecution().executedPlan().toString()
    # r10 shape: nearest-bench is a pure per-row projection (one Arrow
    # stage, closure-shipped capped bench) — the corpus x bench scored
    # frame and its argmax window shuffle no longer exist
    assert "MapInPandas" in plan
    assert "Window" not in plan


def test_contamination_semantic_flags_planted_leak(spark):
    """A corpus vector that IS a benchmark vector (paraphrase stand-in:
    identical embedding, different id) scores cos 1.0 to that benchmark
    item and flags contaminated; an orthogonal vector scores 0 and
    passes."""
    from yamon_spark.operators.similarity import contamination_semantic

    d = 8

    def unit(axis):
        v = [0.0] * d
        v[axis] = 1.0
        return v

    rows = [
        (0, unit(0), 0),  # benchmark item (vec_id % 5 == 0)
        (5, unit(1), 0),  # benchmark item
        (1, unit(0), 0),  # planted leak: equals benchmark vec 0
        (2, unit(2), 0),  # orthogonal to every benchmark vector
        (3, [x * 0.5 for x in unit(1)], 0),  # scaled copy: cosine still 1.0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in contamination_semantic(emb, bench_mod=5, threshold=0.9).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].nearest_bench == 0 and out[1].cos_sim == 1.0 and out[1].contaminated == 1
    assert out[2].contaminated == 0 and out[2].cos_sim == 0.0
    assert out[3].nearest_bench == 5 and out[3].contaminated == 1


def test_embedding_assign_delta_assigns_nearest_and_flags_drift(spark):
    """Two tight clusters at opposite corners: delta vectors near their
    own label's centroid assign home (label_hit=1); a delta vector
    planted on the OTHER cluster's centroid assigns there (label_hit=0)
    — the drift signal ivf_append's health gate thresholds on."""
    from yamon_spark.operators.similarity import embedding_assign_delta

    d = 8

    def vec(base, eps):
        return [float(base)] * (d // 2) + [float(eps)] * (d // 2)

    rows = []
    # index side (vec_id % 10 != 7): labels 0 and 1, well separated
    for i in range(20):
        if i % 10 == 7:
            continue
        rows.append((i, vec(0.0, 0.01 * (i % 3)), 0))
        rows.append((100 + i, vec(1.0, 0.01 * (i % 3)), 1))
    # delta batch: vec 7 near cluster 0, vec 17 near cluster 1,
    # vec 107 labeled 0 but sitting ON cluster 1 (drifted)
    rows.append((7, vec(0.0, 0.0), 0))
    rows.append((17, vec(1.0, 0.0), 1))
    rows.append((107, vec(1.0, 0.0), 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in embedding_assign_delta(emb, 10, 7).collect()}
    assert set(out) == {7, 17, 107}
    assert out[7].assigned_cell == 0 and out[7].label_hit == 1
    assert out[17].assigned_cell == 1 and out[17].label_hit == 1
    assert out[107].assigned_cell == 1 and out[107].label_hit == 0


def test_ivf_rebuild_swaps_quantizer_and_preserves_contents(spark, tmp_path, sf_dir):
    """After drift-heavy appends, rebuilding (1) preserves the index's
    exact (vec_id, embedding) contents, (2) re-fits the quantizer at the
    requested cell count with every vector on its nearest new centroid,
    (3) leaves no tmp/old dirs behind, and (4) recovery restores a live
    dir from a leftover .rebuild-old after a simulated mid-swap crash."""
    import os
    import shutil

    from yamon_spark.operators.similarity import ivf_append, ivf_build, ivf_rebuild
    from yamon_spark.queries import table as load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    ivf_build(emb.where("vec_id % 10 < 5"), idx, n_cells=2)
    ivf_append(emb.where("vec_id % 10 >= 5"), idx)

    def contents(path):
        return {
            int(r.vec_id): tuple(round(float(x), 6) for x in r.embedding)
            for r in spark.read.parquet(path).select("vec_id", "embedding").collect()
        }

    before = contents(idx)
    ivf_rebuild(spark, idx, n_cells=8)
    assert contents(idx) == before
    cells = {r.cell for r in spark.read.parquet(idx + "_centroids").collect()}
    assert len(cells) == 8
    # assignment parity vs the new centroids
    cents = {r.cell: r.centroid for r in spark.read.parquet(idx + "_centroids").collect()}
    for r in spark.read.parquet(idx).limit(20).collect():
        want = min(
            cents,
            key=lambda c: (sum((x - y) ** 2 for x, y in zip(r.embedding, cents[c])), c),
        )
        assert r.cell == want
    leftovers = [d for d in os.listdir(tmp_path) if ".rebuild" in d]
    assert leftovers == []

    # simulated mid-swap crash: live index dir gone, .rebuild-old present
    shutil.move(idx, str(tmp_path / ".ivf.rebuild-old"))
    ivf_rebuild(spark, idx, n_cells=4)  # recovery restores, then rebuilds
    assert contents(idx) == before
    assert len({r.cell for r in spark.read.parquet(idx + "_centroids").collect()}) == 4


def test_ivf_reads_self_heal_after_mid_swap_crash(spark, tmp_path, sf_dir):
    """ivf_rebuild's crash windows 1 and 3 (live index / live centroids
    dir missing, .rebuild-old present) are healed by the READ path
    itself: ivf_search, ivf_recall, and ivf_append all recover and
    answer — no rebuild required in between. Also: a crashed rebuild's
    tmp-centroids debris (.<name>.rebuild-tmp_centroids — the suffix the
    old recover missed) is swept."""
    import shutil

    from yamon_spark.operators.similarity import ivf_append, ivf_build, ivf_recall, ivf_search
    from yamon_spark.queries import table as load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    ivf_build(emb.where("vec_id % 10 < 8"), idx, n_cells=4)
    dim = len(emb.first().embedding)

    # crash window 1: live INDEX dir gone
    shutil.move(idx, str(tmp_path / ".ivf.rebuild-old"))
    got = ivf_search(spark, idx, [0.1] * dim, k=3, n_probe=4).collect()
    assert len(got) == 3  # recovered and answered

    # crash window 3: live CENTROIDS dir gone + tmp-centroids debris left
    shutil.move(idx + "_centroids", str(tmp_path / ".ivf_centroids.rebuild-old"))
    (tmp_path / ".ivf.rebuild-tmp_centroids").mkdir()
    rec = ivf_recall(spark, idx, emb, k=3, n_probe=4, max_queries=4).first()
    assert rec.recall == 1.0  # exhaustive probe over 4 cells
    assert not (tmp_path / ".ivf_centroids.rebuild-old").exists()
    assert not (tmp_path / ".ivf.rebuild-tmp_centroids").exists()  # debris swept

    # ivf_append heals too (window 1 again) and still appends correctly
    shutil.move(idx, str(tmp_path / ".ivf.rebuild-old"))
    touched = ivf_append(emb.where("vec_id % 10 = 8"), idx)
    assert touched, "append after recovery touched no cells"


def test_ivf_append_cadence_reads_no_log_data(spark, tmp_path, sf_dir):
    """The recall-gate cadence count comes from the log's partition
    LISTING, not its rows: corrupting every parquet data file inside the
    log does not disturb a subsequent append's sequence numbering (the
    old count() re-read every prior file per append — O(appends^2))."""
    from pathlib import Path

    from yamon_spark.operators.similarity import ivf_append, ivf_build
    from yamon_spark.queries import table as load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    ivf_build(emb.where("vec_id % 10 < 6"), idx, n_cells=4)
    ivf_append(emb.where("vec_id % 10 = 6"), idx)
    ivf_append(emb.where("vec_id % 10 = 7"), idx)
    log_dir = Path(idx + "_log")
    for f in log_dir.rglob("*.parquet"):
        f.write_bytes(b"not parquet")
    ivf_append(emb.where("vec_id % 10 = 8"), idx)  # must not read the garbage
    seqs = sorted(
        int(p.name.split("=", 1)[1]) for p in log_dir.iterdir() if p.name.startswith("append_seq=")
    )
    assert seqs == [1, 2, 3]


def test_embed_outlier_score_flags_planted_mislabel(spark):
    """Two tight clusters; one vector carries cluster B's embedding but
    cluster A's label — its distance to A's centroid z-scores far above
    its labelmates and flags as an outlier; the well-labeled vectors
    don't."""
    from yamon_spark.operators.similarity import embed_outlier_score

    d = 8

    def vec(base, eps):
        return [float(base) + eps] * d

    rows = []
    for i in range(20):
        rows.append((i, vec(0.0, 0.001 * (i % 5)), 0))
        rows.append((100 + i, vec(1.0, 0.001 * (i % 5)), 1))
    rows.append((999, vec(1.0, 0.0), 0))  # mislabeled: B's embedding, A's label
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in embed_outlier_score(emb, z_threshold=2.0).collect()}
    assert len(out) == 41
    assert out[999].is_outlier == 1 and out[999].z_dist > 2.0
    clean = [r for v, r in out.items() if v != 999]
    assert all(r.is_outlier == 0 for r in clean if r.label == 1)  # label B untouched
    # label A's honest members are all non-outliers too (the planted
    # vector absorbs the tail)
    assert sum(r.is_outlier for r in clean if r.label == 0) == 0


def test_ivf_pareto_monotone_and_exhaustive(spark):
    """The tuning report's invariants: recall and scan_frac are
    non-decreasing in the probe budget, probing EVERY cell is
    exhaustive (recall 1.0, scan_frac 1.0), and the report has exactly
    one row per budget."""
    from yamon_spark.operators.similarity import ivf_pareto

    d = 8
    rows = []
    for i in range(120):
        base = [0.0] * d
        base[i % 4] = 1.0
        base[(i // 4) % d] += 0.05 * (i % 7)
        rows.append((i, base, i % 4))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = ivf_pareto(emb, query_mod=30, k=5, probes=(1, 2, 4), max_queries=4).collect()
    assert [r.n_probe for r in out] == [1, 2, 4]
    recs = [r.recall for r in out]
    sfs = [r.scan_frac for r in out]
    assert recs == sorted(recs) and sfs == sorted(sfs)
    assert recs[-1] == 1.0  # 4 probes over 4 cells = exhaustive
    assert abs(sfs[-1] - 1.0) < 1e-9
    assert sfs[0] > 0.0


def test_aqe_splits_skewed_join_partition(spark):
    """The OTHER half of the hot-key story (salted_join is the manual
    fix for aggregations and joins AQE cannot rewrite): for a plain
    shuffle join with one 90%-hot key, AQE's skew-join handling splits
    the oversized partition at runtime — the final adaptive plan marks
    the join (skew=true) and the hot side's shuffle read 'skewed'.
    Thresholds are lowered so the demo triggers at test scale; on the
    cluster the defaults (256 MB / factor 5) play the same role."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        probe = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, "host-0")
            .otherwise(F.concat(F.lit("host-"), (F.col("id") % 7).cast("string")))
            .alias("host"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("v"),
        )
        build = spark.createDataFrame(
            [(f"host-{i}", f"dc-{i % 3}") for i in range(7)], ["host", "dc"]
        ).repartition(4)
        j = probe.join(build.hint("shuffle_merge"), "host")
        assert len(j.collect()) == 200_000  # materialize: AQE finalizes
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead coalesced and skewed" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_near_dup_lsh_auto_plane_scaling(spark):
    """target_block scales the plane count as max(floor, ceil(log2(N /
    target))): below the knee the output is IDENTICAL to the fixed
    4-plane form (the driver-verification sizes), above it the result
    equals explicitly passing the scaled plane count — the corpus-size
    dial is exactly the documented one, nothing else changes."""
    from pyspark.sql import functions as F

    from yamon_spark.operators.similarity import embedding_near_dup_lsh

    emb = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(F.col("id") % (7 + i)).cast("double") / (7.0 + i) for i in range(8)]
        ).alias("embedding"),
    )

    def rows(df):
        return sorted((r.vec_a, r.vec_b, r.cos_sim) for r in df.collect())

    small = emb.where("vec_id < 400")  # 400/512 < 1 -> planes stay 4
    assert rows(
        embedding_near_dup_lsh(small, threshold=0.99, dim=8, target_block=512)
    ) == rows(
        embedding_near_dup_lsh(small, threshold=0.99, dim=8, n_planes=4, target_block=None)
    )

    # 2000/64 = 31.25 -> ceil(log2) = 5 planes
    assert rows(
        embedding_near_dup_lsh(emb, threshold=0.99, dim=8, target_block=64)
    ) == rows(
        embedding_near_dup_lsh(emb, threshold=0.99, dim=8, n_planes=5, target_block=None)
    )


def test_near_dup_pairs_sub_bucketing_default(spark):
    """embedding_near_dup_pairs' DEFAULT is corpus-size-safe (r9
    verdict): below the 512 avg-block floor the plan groups on the
    block column alone and equals target_block=None exactly (what keeps
    the sf0.01/sf0.1 oracles byte-stable); when avg block exceeds the
    floor, hyperplane sub-buckets split each cell and every emitted
    pair is still a true >=threshold cosine pair (subset contract: the
    recall dial drops cross-sub-bucket pairs, never invents one)."""
    from pyspark.sql import functions as F

    from yamon_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.range(1200).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(F.col("id") % (7 + i)).cast("double") / (7.0 + i) for i in range(8)]
        ).alias("embedding"),
        (F.col("id") % 2).alias("label"),  # 2 labels -> avg block 600 > 512
    )

    def rows(df):
        return sorted((r.vec_a, r.vec_b, r.cos_sim) for r in df.collect())

    small = emb.where("vec_id < 400")  # avg block 200 <= 512 -> no sub-buckets
    assert rows(embedding_near_dup_pairs(small, threshold=0.99)) == rows(
        embedding_near_dup_pairs(small, threshold=0.99, target_block=None)
    )

    exact = rows(embedding_near_dup_pairs(emb, threshold=0.99, target_block=None))
    auto = rows(embedding_near_dup_pairs(emb, threshold=0.99))  # 600/512 -> 1 plane
    assert set(auto) <= set(exact)
    assert auto, "sub-bucketed run must still find within-bucket pairs"


def test_ivf_recover_spares_unrelated_dotdirs_and_log_listing_fallback(spark, tmp_path, sf_dir):
    """ADVICE r9 regressions, both filesystem-shape contracts:

    1. _ivf_recover removes ONLY the exact debris names a rebuild
       creates — an unrelated dot-dir whose name merely CONTAINS
       '.rebuild-tmp' survives a sibling index's recovery sweep.
    2. _log_partition_values serves a scheme'd (non-plain-local) log
       path through the Spark read instead of silently reporting zero
       priors (Path.is_dir() is False for 'file:/...')."""
    import os

    from yamon_spark.operators.similarity import (
        _ivf_recover,
        _log_partition_values,
        ivf_append,
        ivf_build,
    )
    from yamon_spark.queries import table as load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    ivf_build(emb.where("vec_id % 10 < 8"), idx, n_cells=4)

    bystander = tmp_path / ".backup-of.rebuild-tmp-stuff"
    bystander.mkdir()
    (bystander / "keep.txt").write_text("precious")
    debris = tmp_path / ".ivf.rebuild-tmp"
    debris.mkdir()
    _ivf_recover(tmp_path)
    assert bystander.is_dir() and (bystander / "keep.txt").read_text() == "precious"
    assert not debris.exists()

    # two appends -> two append_seq partitions; both path forms agree
    batch = emb.where("vec_id % 10 = 8")
    ivf_append(batch, idx)
    ivf_append(emb.where("vec_id % 10 = 9"), idx)
    log = idx + "_log"
    assert _log_partition_values(spark, log, "append_seq") == [1, 2]
    assert _log_partition_values(spark, "file:" + os.path.abspath(log), "append_seq") == [1, 2]
    # missing log, scheme'd path: no priors, no exception
    assert _log_partition_values(spark, "file:" + str(tmp_path / "nolog"), "append_seq") == []
