"""Streaming corpus ingestion end-to-end: landed JSON docs -> quality
gate + watermarked digest dedup + PII scrub -> partitioned parquet
corpus with a rejects side-channel; checkpoint restart processes only
new files (the same cursor semantics as the metrics pipeline)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from yamon_spark.streaming.corpus import start_corpus_pipeline

GOOD = "the quick brown fox jumps over a lazy dog and runs far away today"


def _land(landing, name, docs):
    landing.mkdir(exist_ok=True)
    (landing / name).write_text("\n".join(json.dumps(d) for d in docs) + "\n")


def _run(spark, tmp_path):
    q = start_corpus_pipeline(
        spark,
        str(tmp_path / "landing"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()


def _bucket_of(spark, text: str) -> int:
    from pyspark.sql import functions as F

    from yamon_spark.operators.curation import split_bucket_col

    return (
        spark.createDataFrame([(text,)], "text string")
        .select(split_bucket_col(F.col("text")).alias("b"))
        .first()["b"]
    )


def test_corpus_pipeline_gates_dedups_scrubs(spark, tmp_path):
    _land(
        tmp_path / "landing",
        "b1.jsonl",
        [
            {"doc_id": 1, "text": GOOD, "lang": "en", "source": "s", "ts": "2024-05-01T10:00:00Z"},
            {"doc_id": 2, "text": GOOD, "lang": "en", "source": "s", "ts": "2024-05-01T10:01:00Z"},  # dup
            {"doc_id": 3, "text": "tiny", "lang": "en", "source": "s", "ts": "2024-05-01T10:02:00Z"},
            {"doc_id": 4, "text": GOOD + " mail me a.b@example.com ok", "lang": "de", "source": "s",
             "ts": "2024-05-01T10:03:00Z"},
            "not json at all",
        ],
    )
    _run(spark, tmp_path)

    corpus = spark.read.parquet(str(tmp_path / "out" / "corpus"))
    rows = {r["doc_id"]: r for r in corpus.collect()}
    assert set(rows) == {1, 4}  # 2 deduped, 3 quality-gated, bad line dropped
    assert rows[4]["n_email"] == 1 and "<EMAIL>" in rows[4]["text"]
    assert rows[1]["text"] == GOOD
    # leakage-safe split stamped at ingest: same content-hash formula as
    # the batch train_test_split, computed over the SCRUBBED text
    from yamon_spark.operators.curation import split_bucket_col

    for r in rows.values():
        expected = "test" if _bucket_of(spark, r["text"]) < 10 else "train"
        assert r["split"] == expected
    # partition layout: lang + date directories exist
    # idempotent-replay layout: each micro-batch owns its ingest_epoch
    # partition, with (lang, date) nested under it
    assert (
        tmp_path / "out" / "corpus" / "ingest_epoch=0" / "lang=en" / "date=2024-05-01"
    ).is_dir()

    rejects = spark.read.parquet(str(tmp_path / "out" / "rejects")).collect()
    assert len(rejects) == 1 and rejects[0]["doc_id"] == 3 and rejects[0]["reason"] == "too_short"


def test_corpus_pipeline_checkpoint_resume_and_cross_batch_dedup(spark, tmp_path):
    base = {"lang": "en", "source": "s", "ts": "2024-05-01T10:00:00Z"}
    _land(tmp_path / "landing", "b1.jsonl", [dict(base, doc_id=1, text=GOOD)])
    _run(spark, tmp_path)
    # second landing: one duplicate of batch 1 (inside watermark -> dropped
    # by state), one genuinely new doc
    _land(tmp_path / "landing", "b2.jsonl", [
        dict(base, doc_id=10, text=GOOD, ts="2024-05-01T10:05:00Z"),
        dict(base, doc_id=11, text=GOOD + " but genuinely new words appended here", ts="2024-05-01T10:06:00Z"),
    ])
    _run(spark, tmp_path)

    corpus = spark.read.parquet(str(tmp_path / "out" / "corpus"))
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    assert ids == [1, 11]  # 10 dropped by cross-batch digest state
    # no duplicate reprocessing of b1 on restart
    assert corpus.where(F.col("doc_id") == 1).count() == 1


def test_corpus_epoch_replay_is_idempotent(spark, tmp_path):
    """A crash after an epoch's writes and before its commit replays the
    epoch on restart; corpus and rejects keep one copy of its rows."""
    base = {"lang": "en", "source": "s", "ts": "2024-05-01T10:00:00Z"}
    _land(tmp_path / "landing", "b1.jsonl", [
        dict(base, doc_id=1, text=GOOD),
        dict(base, doc_id=3, text="tiny"),
    ])
    _run(spark, tmp_path)

    def tables():
        return {
            t: sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / "out" / t)).collect())
            for t in ("corpus", "rejects")
        }

    before = tables()
    # crash after epoch 0's writes, before its commit: drop its commit
    # and what the stream logged after it (the trailing no-data batch
    # that advances the dedup watermark)
    ckpt = tmp_path / "ckpt"
    for log, first in (("commits", 0), ("offsets", 1)):
        for p in (ckpt / log).iterdir():
            if int(p.name.lstrip(".").split(".")[0]) >= first:
                p.unlink()
    assert not (ckpt / "commits" / "0").exists()
    _run(spark, tmp_path)

    assert (ckpt / "commits" / "0").exists()  # the restart replayed epoch 0
    assert tables() == before
    for t in ("corpus", "rejects"):
        epochs = [p.name for p in (tmp_path / "out" / t).glob("ingest_epoch*")]
        assert epochs == ["ingest_epoch=0"], (t, epochs)


def test_engine_corpus_views_and_search(spark, tmp_path):
    from yamon_spark.engine import Engine

    _land(
        tmp_path / "landing",
        "b1.jsonl",
        [
            {"doc_id": 1, "text": GOOD, "lang": "en", "source": "s", "ts": "2024-05-01T10:00:00Z"},
            {"doc_id": 2, "text": GOOD.replace("fox", "wolf") + " extra", "lang": "de", "source": "s",
             "ts": "2024-05-01T10:01:00Z"},
        ],
    )
    _run(spark, tmp_path)
    eng = Engine(spark, str(tmp_path / "out"))
    assert eng.sql("SELECT count(*) FROM corpus").first()[0] == 2

    hits = eng.corpus_search("wolf", lang="de")
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan[plan.find("PartitionFilters"):][:200]
    assert [r["doc_id"] for r in hits.collect()] == [2]


def test_streaming_batch_dedup_quality_parity(spark, tmp_path):
    """The streaming pipeline's surviving set must equal the batch
    curation equivalent on the same slice — the dedup+quality contract
    shared by streaming/corpus.py and operators/curation.py. Survivor
    CHOICE within an exact-dup group is engine-dependent (streaming
    keeps first arrival, dedup_canonical the longest/lowest id), so
    parity is on content digests, which identical texts share."""
    from yamon_spark.operators.curation import dedup_canonical, quality_filter
    from yamon_spark.streaming.corpus import parse_doc_lines

    base = {"lang": "en", "source": "s", "ts": "2024-05-01T10:00:00Z"}
    docs = []
    for i in range(12):
        text = GOOD + f" extra unique words about topic number {i} here"
        docs.append(dict(base, doc_id=i, text=text))
        if i % 3 == 0:  # exact duplicates of every third good doc
            docs.append(dict(base, doc_id=100 + i, text=text))
    for i in range(4):  # quality rejects
        docs.append(dict(base, doc_id=200 + i, text=f"tiny{i}"))
    _land(tmp_path / "landing", "b1.jsonl", docs)
    _run(spark, tmp_path)

    corpus = spark.read.parquet(str(tmp_path / "out" / "corpus"))
    # streaming scrubs text; recompute digests from the original slice by id
    landed = parse_doc_lines(spark.read.text(str(tmp_path / "landing")))
    with_digest = landed.withColumn("digest", F.sha2("text", 256))
    stream_digests = {
        r.digest
        for r in with_digest.join(corpus.select("doc_id"), "doc_id", "semi").collect()
    }

    kept = landed.join(
        quality_filter(landed).where(F.col("keep") == 1).select("doc_id"), "doc_id", "semi"
    )
    batch_digests = {
        r.digest
        for r in with_digest.join(
            dedup_canonical(kept).select("doc_id"), "doc_id", "semi"
        ).collect()
    }

    assert stream_digests == batch_digests
    assert corpus.count() == len(batch_digests) == 12  # one survivor per unique good text
    rejects = spark.read.parquet(str(tmp_path / "out" / "rejects"))
    assert sorted(r.doc_id for r in rejects.collect()) == [200, 201, 202, 203]


def test_corpus_pipeline_contamination_stamp_at_ingest(spark, tmp_path):
    """With a benchmark shingle set wired in, a landed doc that contains
    the benchmark text verbatim stamps contaminated=1 (ratio covering
    the overlap), a clean doc stamps (0.0, 0), and the stamp marks
    rather than drops (both docs land in the corpus)."""
    from yamon_spark.operators.curation import benchmark_shingles

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    bench = spark.createDataFrame([(bench_text,)], "text string")
    leak = bench_text + " plus a tail of clearly original trailing words here"
    base = {"lang": "en", "source": "s", "ts": "2024-05-01T10:00:00Z"}
    _land(tmp_path / "landing", "b1.jsonl", [
        dict(base, doc_id=1, text=leak),
        dict(base, doc_id=2, text=GOOD),
    ])
    q = start_corpus_pipeline(
        spark,
        str(tmp_path / "landing"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        benchmark_shingles=benchmark_shingles(bench, ngram=5),
        contam_threshold=0.3,
    )
    q.awaitTermination()

    rows = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "out" / "corpus")).collect()}
    assert set(rows) == {1, 2}  # stamp marks, never drops
    assert rows[1].contaminated == 1 and rows[1].contam_ratio >= 0.3
    assert rows[2].contaminated == 0 and rows[2].contam_ratio == 0.0
    # parity with the batch operator's ratio semantics: 10-word benchmark
    # inside a 19-word doc -> 6 of 15 distinct 5-gram shingles overlap
    assert rows[1].contam_ratio == round(6 / 15, 4)
