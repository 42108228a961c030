"""Corpus-curation operators for large-scale training-data pipelines over
`documents`: quality gating, intra-doc repetition, benchmark contamination,
stratified sampling, sequence packing, domain mixing, canonical dedup,
duplicate clustering, and vocabulary coverage.

Scale shapes (the 100 TB contract):
- quality_filter / repetition / stratified_sample / pack-token estimate are
  shuffle-free scan-projections (whole-stage codegen, linear in splits).
- contamination_check broadcasts the benchmark shingle set (benchmarks are
  tiny vs the corpus) so the scoring pass is map-side only.
- pack_sequences shuffles once per stratum key (window cumsum), then one
  partial-agg groupBy on (stratum, bin).
- domain_mix aggregates to |sources| rows before its window — the
  single-partition window runs over dozens of rows, not the corpus.
- dedup_canonical is one partial-agg groupBy on the content digest
  (survivor via min_by, fused with the copy count).
- dedup_clusters is iterative min-label propagation (the standard
  distributed connected-components loop; O(log diameter) rounds, lineage
  truncated per round).
- vocab_coverage builds the top-k vocabulary with one partial-agg pass and
  broadcasts it back (k rows), so coverage scoring is map-side.

Determinism contract (FIXTURES.md): ratios that are single int/int IEEE
divisions are emitted UNROUNDED (bit-identical on both engines, no
round-tie risk); anything downstream of a cross-partition float sum
rounds to 4 decimals. Flags are cast to int (engine-portable hashing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from yamon_spark.operators.text import WordFeatures, shingles_col, word_features, words_col

# deterministic multiplicative hash for sampling decisions — shared as
# literals with the SQL oracle (pure int64 arithmetic, no engine RNG)
HASH_MULT = 2654435761
HASH_ADD = 104729
HASH_MOD = 1000

# permille keep-rates per language stratum (default applies to the rest)
SAMPLE_RATES = {"en": 800, "es": 500, "de": 250, "fr": 125}
SAMPLE_RATE_DEFAULT = 100

# the ~4-chars-per-token estimate used by every token-budget computation
# (pack_sequences bins, domain_mix shares, curate_corpus output,
# docs_to_shards manifests) — ONE definition so the budget rule cannot
# drift between the packer and the shard manifests; the SQL oracles embed
# the same "n_chars // 4 + 1" literal
def est_tokens() -> Column:
    return F.expr("n_chars DIV 4 + 1")


# canonical shingle expression: operators.text.shingles_col (shared with
# dedup's inverted index so the tail contract can't drift)
_shingles = shingles_col


# The rule gate's thresholds: quality_filter's defaults, the GD head's
# training label and Gopher rules f0/f1 all read these.
GATE_MIN_WORDS, GATE_MAX_WORDS = 10, 1000
GATE_MIN_AWL, GATE_MAX_AWL = 2.0, 12.0
GATE_MIN_STOP = 0.01


def _gate_fails(
    f: WordFeatures,
    min_words: int = GATE_MIN_WORDS,
    max_words: int = GATE_MAX_WORDS,
    min_awl: float = GATE_MIN_AWL,
    max_awl: float = GATE_MAX_AWL,
    min_stop: float = GATE_MIN_STOP,
) -> dict[str, Column]:
    """The rule gate's fail predicates in check order, keyed by the
    reason quality_filter reports for each."""
    return {
        "too_short": f.n_words < min_words,
        "too_long": f.n_words > max_words,
        "word_len": (f.avg_word_len < min_awl) | (f.avg_word_len > max_awl),
        "no_stopwords": f.stop_ratio < min_stop,
    }


def _gate_reason(fails: dict[str, Column]) -> Column:
    """The FIRST failing rule, "ok" when none fails (deterministic CASE
    chain, same on both engines)."""
    reason = F  # F.when starts the chain, Column.when extends it
    for name, fail in fails.items():
        reason = reason.when(fail, name)
    return reason.otherwise("ok")


def quality_filter(
    docs: DataFrame,
    min_words: int = GATE_MIN_WORDS,
    max_words: int = GATE_MAX_WORDS,
    min_awl: float = GATE_MIN_AWL,
    max_awl: float = GATE_MAX_AWL,
    min_stop: float = GATE_MIN_STOP,
    ordered: bool = True,
) -> DataFrame:
    """Gopher/C4-style quality gate: word-count bounds, mean-word-length
    band, minimum stopword ratio. Emits the features plus keep flag and
    the FIRST failing rule. Shuffle-free projection."""
    base = docs.select("doc_id", words_col(F.col("text")).alias("w"))
    f = word_features(F.col("w"))
    reason = _gate_reason(_gate_fails(f, min_words, max_words, min_awl, max_awl, min_stop))
    out = (
        base.select(
            "doc_id",
            f.n_words.alias("n_words"),
            f.avg_word_len.alias("avg_word_len"),
            f.stop_ratio.alias("stop_ratio"),
            reason.alias("reason"),
        )
        .withColumn("keep", (F.col("reason") == "ok").cast("int"))
    )
    # the ORDER BY exists for batch-oracle determinism only; streaming
    # micro-batches join the result immediately (order destroyed), so the
    # range-partition sort would be a pure per-batch waste
    return out.orderBy("doc_id") if ordered else out


def repetition_stats(docs: DataFrame, ngram: int = 3, max_rep: float = 0.1) -> DataFrame:
    """Intra-document repetition: fraction of word n-gram occurrences that
    are repeats (1 - distinct/total). High ratio = boilerplate/spam.
    Pure array ops — no explode, no shuffle."""
    base = docs.select("doc_id", words_col(F.col("text")).alias("w"))
    sh = _shingles(F.col("w"), ngram)
    total = F.size(sh).cast("bigint")
    distinct = F.size(F.array_distinct(sh)).cast("bigint")
    rep = F.lit(1.0) - distinct.cast("double") / total
    return base.select(
        "doc_id",
        total.alias("n_grams"),
        distinct.alias("n_distinct"),
        rep.alias("rep_ratio"),
        (rep > max_rep).cast("int").alias("repetitive"),
    ).orderBy("doc_id")


def contamination_check(
    docs: DataFrame,
    ngram: int = 5,
    bench_mod: int = 50,
    threshold: float = 0.5,
    max_broadcast_shingles: int = 5_000_000,
) -> DataFrame:
    """Benchmark-contamination scan: fraction of a doc's distinct word
    n-grams that appear anywhere in the benchmark set (here: docs with
    doc_id % bench_mod == 0 stand in for the eval suite). The benchmark
    shingle set is broadcast — eval suites are tiny vs a 100 TB corpus —
    so scoring is a map-side join over the corpus scan; a benchmark that
    outgrows ``max_broadcast_shingles`` falls back to a shuffle join
    (same guard pattern as minhash_lsh_pairs)."""
    words = docs.select("doc_id", words_col(F.col("text")).alias("w"))
    shingled = words.select("doc_id", F.explode(F.array_distinct(_shingles(F.col("w"), ngram))).alias("shingle"))
    bench = (
        shingled.where(F.col("doc_id") % bench_mod == 0)
        .select("shingle")
        .distinct()
        .withColumn("bench_hit", F.lit(1))
        .persist()
    )
    hint = F.broadcast if bench.count() <= max_broadcast_shingles else (lambda df: df)
    scored = shingled.where(F.col("doc_id") % bench_mod != 0)
    joined = scored.join(hint(bench), "shingle", "left")
    n_sh = F.count("*").cast("bigint")
    n_hit = F.count("bench_hit").cast("bigint")
    return (
        joined.groupBy("doc_id")
        .agg(n_sh.alias("n_shingles"), n_hit.alias("n_overlap"))
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.col("n_shingles")).alias("contam_ratio"),
            (F.col("n_overlap").cast("double") / F.col("n_shingles") >= threshold)
            .cast("int")
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def benchmark_shingles(bench_docs: DataFrame, ngram: int = 5) -> DataFrame:
    """Distinct word n-gram shingles of an eval suite — the broadcastable
    benchmark side contamination_stamp checks incoming docs against."""
    words = bench_docs.select(words_col(F.col("text")).alias("w"))
    return words.select(
        F.explode(F.array_distinct(_shingles(F.col("w"), ngram))).alias("shingle")
    ).distinct()


def contamination_stamp(
    docs: DataFrame, bench_shingles: DataFrame, ngram: int = 5, threshold: float = 0.5
) -> DataFrame:
    """Stamp per-doc contamination columns against a PROVIDED benchmark
    shingle set — the streaming form of :func:`contamination_check`,
    where the benchmark is an external eval suite rather than a modulo
    sample of the corpus itself. Same ratio semantics: fraction of the
    doc's distinct n-grams present anywhere in the benchmark. Shingling
    follows the shared tail contract (:func:`~yamon_spark.operators.text.
    shingles_col` / FIXTURES.md): a doc SHORTER than the n-gram yields
    ONE whole-doc shingle, so every doc is scored — and a short doc
    byte-identical to a short benchmark doc stamps contam_ratio 1.0
    (correct: that IS verbatim leakage). No doc is ever absent from the
    scores join; the trailing fillna is belt-and-braces only.

    Scale shape: the benchmark set is tiny vs the stream and BROADCASTS;
    per batch one shingle explode + map-side join + a batch-sized
    groupBy — the same at-ingest gate shape as the quality filter, one
    bounded shuffle per micro-batch."""
    words = docs.select("doc_id", words_col(F.col("text")).alias("w"))
    shingled = words.select(
        "doc_id", F.explode(F.array_distinct(_shingles(F.col("w"), ngram))).alias("shingle")
    )
    bench = bench_shingles.select("shingle").distinct().withColumn("bench_hit", F.lit(1))
    ratio = F.col("n_overlap").cast("double") / F.col("n_shingles")
    scores = (
        shingled.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.count("bench_hit").cast("bigint").alias("n_overlap"),
        )
        .select(
            "doc_id",
            F.round(ratio, 4).alias("contam_ratio"),
            (ratio >= threshold).cast("int").alias("contaminated"),
        )
    )
    return docs.join(scores, "doc_id", "left").fillna(
        {"contam_ratio": 0.0, "contaminated": 0}
    )


# doc_id folds into [0, 2^31) BEFORE the multiply: a raw doc_id past
# ~3.47e9 would overflow int64 in the product (ANSI abort, or a negative
# hash that defeats the permille gate under non-ANSI). The fold keeps the
# product < 2^31 * HASH_MULT ~ 5.7e18, inside int64, at any id scale.
HASH_FOLD = 2147483647


def sample_hash(doc_id: Column) -> Column:
    return ((doc_id % HASH_FOLD) * HASH_MULT + HASH_ADD) % HASH_MOD


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Deterministic stratified sampling: per-language permille keep-rates
    applied via a multiplicative int64 hash of doc_id (reproducible across
    engines and runs — no RNG, no seed drift between retries; the property
    a 100 TB pipeline needs so re-runs emit identical samples).
    Shuffle-free filter."""
    rate = F.lit(SAMPLE_RATE_DEFAULT)
    for lang, r in reversed(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    h = sample_hash(F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", "source", h.alias("h"), rate.alias("rate_permille"))
        .where(F.col("h") < F.col("rate_permille"))
        .orderBy("doc_id")
    )


def pack_sequences(docs: DataFrame, ctx_len: int = 2048) -> DataFrame:
    """Sequence packing for training: concatenate each language stream in
    doc_id order and chunk at ctx_len token boundaries; a doc belongs to
    the bin where it starts. Tokens are estimated chars/4+1 (the standard
    BPE rule of thumb) so packing needs no tokenizer pass. One shuffle
    (window on the stratum key), then a partial-agg groupBy."""
    tokens = est_tokens()
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    start = F.coalesce(F.sum("tokens").over(w), F.lit(0))
    binned = (
        docs.select("doc_id", "lang", tokens.alias("tokens"))
        .withColumn("start_tok", start)
        .withColumn("bin", F.expr(f"start_tok DIV {ctx_len}"))
    )
    return (
        binned.groupBy("lang", "bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("total_tokens"),
        )
        .withColumn("fill_ratio", F.col("total_tokens").cast("double") / ctx_len)
        .orderBy("lang", "bin")
    )


def pack_boundary_report(docs: DataFrame, ctx_len: int = 2048) -> DataFrame:
    """Packing QA for :func:`pack_sequences` — the two numbers a trainer
    checks before consuming packed windows: per language stream, how
    many docs STRADDLE a context-window boundary (their attention span
    gets cut: start bin != end bin under the same concat-and-chunk
    rule), and the end-of-stream padding efficiency (concat packing
    wastes tokens ONLY in the final partial window:
    total / (n_bins * ctx_len)). High split_ratio says the ctx_len is
    small relative to doc lengths; low efficiency says streams are too
    short for the context — both are mixture-design inputs, not errors.

    Same plan family as pack_sequences: one window shuffle on the
    stratum key for the running-start cumsum, then a |langs|-row
    aggregate."""
    tokens = est_tokens()
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    start = F.coalesce(F.sum("tokens").over(w), F.lit(0))
    binned = (
        docs.select("doc_id", "lang", tokens.alias("tokens"))
        .withColumn("start_tok", start)
        .withColumn(
            "split",
            (
                F.expr(f"start_tok DIV {ctx_len}")
                != F.expr(f"(start_tok + tokens - 1) DIV {ctx_len}")
            ).cast("int"),
        )
    )
    n_bins = F.ceil(F.col("total_tokens").cast("double") / ctx_len).cast("bigint")
    return (
        binned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("split").cast("bigint").alias("n_split_docs"),
            F.sum("tokens").cast("bigint").alias("total_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_split_docs",
            F.round(F.col("n_split_docs").cast("double") / F.col("n_docs"), 4).alias(
                "split_ratio"
            ),
            n_bins.alias("n_bins"),
            F.round(F.col("total_tokens").cast("double") / (n_bins * ctx_len), 4).alias(
                "efficiency"
            ),
        )
        .orderBy("lang")
    )


def domain_mix(docs: DataFrame) -> DataFrame:
    """Domain-mixture rebalancing: per-source token mass, natural share,
    uniform target share, and the sampling probability that rebalances the
    mix to target (min(1, target/natural)). Aggregates to |sources| rows
    FIRST; the share window then runs over dozens of rows, not the
    corpus."""
    tokens = est_tokens()
    per_src = docs.select("source", tokens.alias("tokens")).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"), F.sum("tokens").cast("bigint").alias("tokens")
    )
    wall = Window.partitionBy()
    total = F.sum("tokens").over(wall)
    n_src = F.count("*").over(wall)
    shared = per_src.select(
        "source",
        "n_docs",
        "tokens",
        (F.col("tokens").cast("double") / total).alias("natural_share"),
        (F.lit(1.0) / n_src).alias("target_share"),
    )
    return shared.withColumn(
        "sample_prob",
        F.round(F.least(F.lit(1.0), F.col("target_share") / F.col("natural_share")), 4),
    ).orderBy("source")


def dedup_canonical(docs: DataFrame) -> DataFrame:
    """Exact-dup clusters with canonical-survivor selection: group by
    content digest, keep the longest doc (ties: lowest doc_id). Unlike
    plain exact dedup this preserves a chosen representative's metadata.

    One PARTIAL-AGG groupBy on the digest (r13, the dedup_survivors
    min_by recipe): survivor = min_by over struct(-n_chars, doc_id) —
    lexicographic min = longest text then lowest doc_id, byte-identical
    to the r12 window's (n_chars DESC, doc_id) row_number pick — fused
    with the copy count in the SAME aggregate. The r12 shape shuffled
    EVERY corpus row to a digest-partitioned Window + Sort; map-side
    partial aggregation ships at most one candidate struct per (digest,
    map partition), and the sort is gone."""
    return (
        docs.select("doc_id", "lang", "source", "n_chars", F.sha2("text", 256).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "source", "n_chars"),
                F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id").alias("d")),
            ).alias("s"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .select("s.doc_id", "s.lang", "s.source", "s.n_chars", "n_copies")
        .orderBy("doc_id")
    )


def dedup_clusters(
    docs: DataFrame, ngram: int = 3, threshold: float = 0.5, max_iter: int = 15
) -> DataFrame:
    """Connected components over the near-duplicate pair graph (exact
    n-gram Jaccard edges): iterative min-label propagation until fixpoint.
    cluster_id = the smallest doc_id reachable through near-dup edges —
    the grouping a dedup pipeline keeps one survivor per.

    Scale shape: the standard distributed CC loop — O(log diameter)
    rounds (near-dup clusters are shallow), each round one join + one
    partial-agg groupBy, lineage truncated per round so plans stay flat.

    Convergence test (r13): labels are MONOTONE NON-INCREASING (every
    round takes mins of the previous labels), and the doc set is fixed,
    so the label sum strictly decreases until fixpoint — "unchanged
    exact sum" IS "no label changed". That turns the r12 per-round
    convergence probe (a |docs| x |docs| shuffle join of new vs old
    labels + count: 2 Exchanges + a hash join per round) into one
    partial-agg scan of the just-checkpointed label frame (0 Exchanges).
    decimal(38,0) keeps the sum exact far beyond any corpus (10B docs x
    int64-max ids ~ 1e29 < 1e38); bigint sum would overflow there.
    """
    from yamon_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, ngram=ngram, threshold=threshold).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )

    def label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = label_sum(labels)
    for it in range(max_iter):
        # (1) neighbor-min: m(x) = min(label(x), labels of neighbors)
        neigh = edges.join(
            labels.withColumnRenamed("doc_id", "doc_b"), "doc_b"
        ).select(F.col("doc_a").alias("doc_id"), "cluster_id")
        mins = (
            labels.unionByName(neigh).groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))
        ).localCheckpoint()  # materialize once: the jump self-join reads it twice
        # (2) pointer jump: label(x) <- min(m(x), m(m(x))). Plain
        # neighbor-min alone converges in O(diameter) rounds — a
        # 1000-doc duplicate CHAIN would silently time out the cap;
        # path compression brings any graph to O(log n) rounds.
        jump = mins.alias("l1").join(
            mins.alias("l2"), F.col("l1.cluster_id") == F.col("l2.doc_id")
        ).select(
            F.col("l1.doc_id").alias("doc_id"),
            F.least(F.col("l1.cluster_id"), F.col("l2.cluster_id")).alias("cluster_id"),
        )
        new_labels = jump.localCheckpoint()
        labels = new_labels
        cur_sum = label_sum(new_labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds — "
            "pathological component diameter; raise max_iter"
        )
    return labels.orderBy("doc_id")


def rebalanced_sample(docs: DataFrame) -> DataFrame:
    """End-to-end mixture rebalancing: compute per-source sampling
    probabilities (domain_mix) and apply them with the deterministic
    doc_id hash — the composed keep/drop pass a pipeline actually runs.
    The |sources|-row probability table broadcasts back onto the corpus
    scan, so the whole pass is one aggregate + one map-side join."""
    probs = domain_mix(docs).select("source", "sample_prob")
    return (
        docs.join(F.broadcast(probs), "source")
        .where(sample_hash(F.col("doc_id")) < F.col("sample_prob") * HASH_MOD)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# PII patterns scrubbed in order; each is a (token, regex) pair. Pure
# JVM regexp_replace — no Python in the record path. Order matters:
# emails before IDs/phones (their digits would half-match), contiguous
# long digit runs (<ID>) before the separator-tolerant phone pattern
# (which would otherwise eat any 9+-digit run).
PII_PATTERNS = (
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<IP>", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("<ID>", r"\b\d{9,}\b"),
    ("<PHONE>", r"\+?\d[\d\s().-]{7,}\d"),
)


def pii_scrub(docs: DataFrame, text_col: str = "text", ordered: bool = True) -> DataFrame:
    """PII redaction: replace emails, IPs, phone-ish numbers, and long
    digit runs with typed placeholder tokens, and count replacements per
    category. Chained JVM regexp_replace — shuffle-free, codegen'd, and
    order-sensitive (emails first so their digits don't half-match the
    phone pattern). At 100 TB this rides the corpus scan like the
    quality gate."""
    scrubbed = F.col(text_col)
    counts = []
    for token, pat in PII_PATTERNS:
        name = token.strip("<>").lower()
        counts.append(
            (F.size(F.split(scrubbed, pat, -1)) - 1).cast("bigint").alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    out = docs.select("doc_id", scrubbed.alias("text_scrubbed"), *counts)
    # same contract as quality_filter: ordering is for the batch oracle
    return out.orderBy("doc_id") if ordered else out


def curate_corpus(
    docs: DataFrame,
    ngram: int = 3,
    near_dup_threshold: float = 0.5,
    contam_ngram: int = 5,
    contam_bench_mod: int = 50,
    contam_threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """The composed end-to-end curation pass a training pipeline runs:

      quality gate -> exact dedup (canonical survivor) -> near-dup
      cluster representatives -> benchmark decontamination -> PII scrub
      -> mixture rebalancing

    Returns ``(curated, report)``: curated docs carry scrubbed text and
    an estimated token count; the report is a LAZY DataFrame of
    rows-remaining per stage (one job when collected — per-stage
    accounting without forcing per-stage actions on the main path).

    Scale shape: every stage reduces to a semi/anti join on doc_id
    against a filter-stage output, so the corpus text flows through
    exactly once (the final scrub projection); near-dup clustering is
    the only iterative stage (dedup_clusters); mixture probabilities
    aggregate to |sources| rows and broadcast back.
    """

    def ids(df: DataFrame) -> DataFrame:
        return df.select("doc_id")

    kept_q = ids(quality_filter(docs).where(F.col("keep") == 1))
    d1 = docs.join(kept_q, "doc_id", "semi")

    d2 = docs.join(ids(dedup_canonical(d1)), "doc_id", "semi")

    clusters = dedup_clusters(d2, ngram=ngram, threshold=near_dup_threshold)
    losers = ids(clusters.where(F.col("cluster_id") != F.col("doc_id")))
    d3 = d2.join(losers, "doc_id", "anti")

    contaminated = ids(
        contamination_check(
            d3, ngram=contam_ngram, bench_mod=contam_bench_mod, threshold=contam_threshold
        ).where(F.col("contaminated") == 1)
    )
    # decontamination removes BOTH the near-verbatim copies AND the
    # benchmark documents themselves — contamination_check scores only
    # non-bench docs, so without the explicit id filter the eval set
    # itself would flow straight into the curated training corpus
    d4 = d3.join(contaminated, "doc_id", "anti").where(
        F.col("doc_id") % contam_bench_mod != 0
    )

    d5 = d4.join(ids(rebalanced_sample(d4)), "doc_id", "semi")

    scrubbed = pii_scrub(d5)
    curated = (
        d5.select("doc_id", "lang", "source", est_tokens().alias("n_tokens"))
        .join(scrubbed.select("doc_id", "text_scrubbed"), "doc_id")
        .orderBy("doc_id")
    )

    def stage_count(name: str, order: int, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("bigint").alias("rows")).select(
            F.lit(order).alias("stage_no"), F.lit(name).alias("stage"), "rows"
        )

    report = (
        stage_count("input", 0, docs)
        .unionByName(stage_count("quality_gate", 1, d1))
        .unionByName(stage_count("exact_dedup", 2, d2))
        .unionByName(stage_count("near_dup_drop", 3, d3))
        .unionByName(stage_count("decontaminate", 4, d4))
        .unionByName(stage_count("rebalance", 5, d5))
        .orderBy("stage_no")
    )
    return curated, report


def docs_to_shards(
    docs: DataFrame, out_dir: str, target_tokens: int = 1_000_000, stratum: str = "lang"
) -> DataFrame:
    """Training-data export: write the corpus as token-bounded shards,
    partitioned by (stratum, shard). Shard assignment is the same
    concat-and-chunk cumsum as pack_sequences — deterministic in doc_id
    order, so re-exports produce identical shards (resumable/idempotent
    with overwrite). Each shard holds ~target_tokens (+ at most one
    doc's overshoot). Returns the shard manifest (stratum, shard,
    n_docs, tokens).

    Scale shape: one window shuffle per stratum for the cumsum, then a
    partitioned write whose directory layout IS the shard index —
    readers pull shard N of stratum S as a directory-pruned scan, the
    same pruning the date layout gives the metrics tables."""
    tokens = est_tokens()
    w = Window.partitionBy(stratum).orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    start = F.coalesce(F.sum("tokens").over(w), F.lit(0))
    binned = (
        docs.withColumn("tokens", tokens)
        .withColumn("start_tok", start)
        .withColumn("shard", F.expr(f"start_tok DIV {target_tokens}"))
        .drop("start_tok")
    )
    binned.write.mode("overwrite").partitionBy(stratum, "shard").parquet(out_dir)
    spark = docs.sparkSession
    return (
        spark.read.parquet(out_dir)
        .groupBy(stratum, "shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("tokens"),
        )
        .orderBy(stratum, "shard")
    )


def vocab_coverage(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """Vocabulary coverage: fraction of each doc's word occurrences that
    fall in the corpus top-k vocabulary (count desc, word asc tiebreak —
    a deterministic cut). Two passes: one partial-agg wordcount to build
    the k-row vocab, broadcast back for map-side scoring."""
    words = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(top_k)
        .select("word")
        .withColumn("in_vocab", F.lit(1))
    )
    joined = words.join(F.broadcast(vocab), "word", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.count("in_vocab").cast("bigint").alias("n_in_vocab"),
        )
        .withColumn("vocab_cov", F.col("n_in_vocab").cast("double") / F.col("n_words"))
        .orderBy("doc_id")
    )


def corpus_shuffle(docs: DataFrame, n_shards: int = 8, salt: str = "42") -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    export: every doc gets a pseudorandom-but-reproducible position
    (md5 of the salted doc id — identical across engines, retries, and
    cluster sizes, unlike RNG- or partition-index-based shuffles), a
    shard = first-8-hex-digits mod n_shards, and a position within its
    shard. The training loader reads shards in order and gets a stable
    global permutation; changing the salt reshuffles every epoch.

    Scale shape: one hash-partitioned window shuffle on the shard key —
    shards are hash-uniform by construction, so no skew; within-shard
    ordering is a per-partition sort. No global sort, no single-reducer
    stage at any corpus size."""
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":" + salt)))
    shard = F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint") % n_shards
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        docs.select("doc_id", key.alias("shuffle_key"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


def split_bucket_col(text: Column, salt: str = "split") -> Column:
    """The train/test bucket (0-99) for a content string: first 8 hex of
    salted md5, mod 100 — the ONE formula shared by the batch operator
    and the streaming corpus stamp, so batch and live splits can never
    desynchronize."""
    key = F.md5(F.concat(F.lower(text), F.lit(":" + salt)))
    return F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint") % 100


def train_test_split(docs: DataFrame, test_pct: int = 10, salt: str = "split") -> DataFrame:
    """Leakage-safe deterministic train/test split: the bucket key is the
    md5 of the CONTENT (lower-cased text, salted), not the doc id, so an
    exact duplicate pair always lands on the SAME side — a dup straddling
    the split is the classic eval-contamination bug that inflates held-out
    metrics. Reproducible across engines, retries, and cluster sizes (no
    RNG); changing the salt re-deals the split.

    Scale shape: pure map-side projection — one hash per row, zero
    shuffles; the split is a column, not a data movement (writers
    partitionBy('split') downstream if they want physical separation)."""
    bucket = split_bucket_col(F.col("text"), salt)
    return (
        docs.select(
            "doc_id",
            bucket.alias("bucket"),
            F.when(bucket < test_pct, F.lit("test")).otherwise(F.lit("train")).alias("split"),
        )
        .orderBy("doc_id")
    )


def unigram_logprob(docs: DataFrame, top_k: int = 1000) -> DataFrame:
    """CCNet-style language-model quality score: per-doc mean unigram
    log-probability under the corpus's own top-k unigram model
    (out-of-vocabulary words get a half-count floor). Low mean log-prob
    = improbable word soup (the perplexity filter's decision input);
    training pipelines threshold on it per language.

    Scale shape: one partial-agg wordcount builds the k-row model, which
    broadcasts back with the 1-row total for map-side scoring; the
    per-doc mean is a second partial-agg groupBy. Model size is bounded
    by top_k, never vocabulary size."""
    words = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total_df = counts.agg(F.sum("cnt").cast("double").alias("total"))
    vocab = counts.orderBy(F.col("cnt").desc(), F.col("word")).limit(top_k)
    joined = words.join(F.broadcast(vocab), "word", "left").crossJoin(F.broadcast(total_df))
    logp = F.when(
        F.col("cnt").isNotNull(), F.log(F.col("cnt").cast("double") / F.col("total"))
    ).otherwise(F.log(F.lit(0.5) / F.col("total")))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.round(F.avg(logp), 4).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


def sample_eval_slice(docs: DataFrame, per_group: int = 20, salt: str = "eval") -> DataFrame:
    """Fixed-size per-domain eval slice: the stable "N docs per (lang,
    source)" sample an eval harness pins once and re-reads forever.
    Rank docs inside each group by the salted CONTENT hash (the
    split_bucket_col idiom — content-keyed, so a re-crawled corpus with
    shuffled doc_ids yields the same slice for unchanged docs; ties on
    doc_id) and keep the per_group lowest. Rate-based sampling
    (stratified_sample) cannot promise exact slice sizes; eval sets
    need exactly N.

    Scale shape: one window rank per (lang, source) group — a single
    shuffle on the group key; the rank prunes to per_group rows per
    group before anything downstream runs. Skewed group sizes are fine:
    rank is streaming-evaluated per partition after the shuffle."""
    from pyspark.sql import Window

    key = F.conv(
        F.substring(F.md5(F.concat(F.lower(F.col("text")), F.lit(":" + salt))), 1, 8), 16, 10
    ).cast("bigint")
    w = Window.partitionBy("lang", "source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= per_group)
        .select("doc_id", "lang", "source", F.col("rk").cast("int").alias("rk"))
        .orderBy("lang", "source", "rk")
    )


def bigram_logprob(docs: DataFrame, top_k: int = 2000, lam: float = 0.8) -> DataFrame:
    """Interpolated bigram-LM quality score — the conditional-probability
    step between :func:`unigram_logprob` and CCNet's 5-gram LM: per doc,
    the mean log of P(w|prev) = lam·c(prev,w)/c(prev) + (1−lam)·P_uni(w),
    where the bigram term applies only when BOTH the bigram is in the
    top_k bigram model and prev is in the top_k unigram model (otherwise
    it backs off to the unigram part alone, whose OOV half-count floor
    keeps every probability positive). Word soup scores low even when
    its words are individually common — the failure mode a unigram
    filter cannot see. Docs with fewer than 2 words have no bigrams and
    are absent from the output.

    Scale shape: three bounded broadcasts (top_k unigrams, top_k
    bigrams, the 1-row total) against one bigram-exploded scan, then a
    per-doc partial agg. Model size is bounded by top_k, never
    vocabulary or corpus size; expression association is shared verbatim
    with the SQL oracle, mean rounds 4dp."""
    t = docs.select("doc_id", words_col(F.col("text")).alias("w")).where(F.size("w") >= 2)
    flat = t.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS prev, w[i] AS wrd))")
        ).alias("s"),
    ).select("doc_id", F.col("s.prev").alias("prev"), F.col("s.wrd").alias("wrd"))
    words = docs.select(F.explode(words_col(F.col("text"))).alias("word"))
    uni = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total_df = uni.agg(F.sum("cnt").cast("double").alias("total"))
    univ = uni.orderBy(F.col("cnt").desc(), "word").limit(top_k)
    biv = (
        flat.groupBy("prev", "wrd")
        .agg(F.count(F.lit(1)).alias("bcnt"))
        .orderBy(F.col("bcnt").desc(), "prev", "wrd")
        .limit(top_k)
    )
    scored = (
        flat.join(F.broadcast(biv), ["prev", "wrd"], "left")
        .join(
            F.broadcast(univ.select(F.col("word").alias("prev"), F.col("cnt").alias("pcnt"))),
            "prev",
            "left",
        )
        .join(
            F.broadcast(univ.select(F.col("word").alias("wrd"), F.col("cnt").alias("wcnt"))),
            "wrd",
            "left",
        )
        .crossJoin(F.broadcast(total_df))
    )
    bi_term = F.when(
        F.col("bcnt").isNotNull() & F.col("pcnt").isNotNull(),
        F.col("bcnt").cast("double") / F.col("pcnt"),
    ).otherwise(F.lit(0.0))
    uni_term = F.coalesce(F.col("wcnt").cast("double"), F.lit(0.5)) / F.col("total")
    logp = F.log(F.lit(lam) * bi_term + F.lit(1.0 - lam) * uni_term)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(logp), 4).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


def trigram_logprob(
    docs: DataFrame, top_k: int = 3000, lam3: float = 0.6, lam2: float = 0.3
) -> DataFrame:
    """Interpolated trigram-LM quality score — the next rung of the
    :func:`unigram_logprob` → :func:`bigram_logprob` ladder toward
    CCNet's 5-gram LM (Wenzek et al. 2020): per doc, the mean log of

        P(w | u, v) = lam3·c(u,v,w)/c(u,v)
                    + lam2·c(v,w)/c(v)
                    + (1 − lam3 − lam2)·P_uni(w)

    (Jelinek–Mercer interpolation). The trigram term applies only when
    BOTH the trigram is in the top_k trigram model and its (u,v)
    context is in the top_k bigram model; the bigram term only when
    (v,w) is in the bigram model and v in the top_k unigram model —
    each level otherwise contributes 0, and the unigram OOV half-count
    floor keeps every probability positive. Thresholding on this score
    catches shuffled/templated text whose word PAIRS are individually
    common — the failure mode a bigram filter cannot see, exactly as
    bigram_logprob catches what the unigram filter cannot. Docs with
    fewer than 3 words have no trigrams and are absent from the output.

    Scale shape: five bounded broadcasts (top_k trigrams; the top_k
    bigram model joined twice — as the trigram denominator on (u,v)
    and as the bigram numerator on (v,w); top_k unigrams; the 1-row
    total) against one trigram-exploded scan, then a per-doc partial
    agg. Each model is ONE partial-agg shuffle bounded by top_k —
    never vocabulary or corpus size — so the whole plan is the
    bigram_logprob plan plus one more bounded model build. Mean rounds
    4dp; expression association is shared verbatim with the SQL
    oracle (including the IEEE residual weight 1.0 − lam3 − lam2)."""
    t = docs.select("doc_id", words_col(F.col("text")).alias("w")).where(F.size("w") >= 3)
    flat = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(2, size(w) - 1),"
                " i -> struct(w[i-2] AS u, w[i-1] AS v, w[i] AS wrd))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.u").alias("u"), F.col("s.v").alias("v"), F.col("s.wrd").alias("wrd"))
    words = docs.select(F.explode(words_col(F.col("text"))).alias("word"))
    uni = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total_df = uni.agg(F.sum("cnt").cast("double").alias("total"))
    univ = uni.orderBy(F.col("cnt").desc(), "word").limit(top_k)
    t2 = docs.select(words_col(F.col("text")).alias("w")).where(F.size("w") >= 2)
    flat2 = t2.select(
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS p, w[i] AS q))")
        ).alias("s")
    ).select(F.col("s.p").alias("p"), F.col("s.q").alias("q"))
    biv = (
        flat2.groupBy("p", "q")
        .agg(F.count(F.lit(1)).alias("bcnt"))
        .orderBy(F.col("bcnt").desc(), "p", "q")
        .limit(top_k)
    )
    triv = (
        flat.groupBy("u", "v", "wrd")
        .agg(F.count(F.lit(1)).alias("tcnt"))
        .orderBy(F.col("tcnt").desc(), "u", "v", "wrd")
        .limit(top_k)
    )
    scored = (
        flat.join(F.broadcast(triv), ["u", "v", "wrd"], "left")
        .join(
            F.broadcast(
                biv.select(F.col("p").alias("u"), F.col("q").alias("v"), F.col("bcnt").alias("ctx_cnt"))
            ),
            ["u", "v"],
            "left",
        )
        .join(
            F.broadcast(
                biv.select(F.col("p").alias("v"), F.col("q").alias("wrd"), F.col("bcnt").alias("vw_cnt"))
            ),
            ["v", "wrd"],
            "left",
        )
        .join(
            F.broadcast(univ.select(F.col("word").alias("v"), F.col("cnt").alias("v_cnt"))),
            "v",
            "left",
        )
        .join(
            F.broadcast(univ.select(F.col("word").alias("wrd"), F.col("cnt").alias("w_cnt"))),
            "wrd",
            "left",
        )
        .crossJoin(F.broadcast(total_df))
    )
    tri_term = F.when(
        F.col("tcnt").isNotNull() & F.col("ctx_cnt").isNotNull(),
        F.col("tcnt").cast("double") / F.col("ctx_cnt"),
    ).otherwise(F.lit(0.0))
    bi_term = F.when(
        F.col("vw_cnt").isNotNull() & F.col("v_cnt").isNotNull(),
        F.col("vw_cnt").cast("double") / F.col("v_cnt"),
    ).otherwise(F.lit(0.0))
    uni_term = F.coalesce(F.col("w_cnt").cast("double"), F.lit(0.5)) / F.col("total")
    logp = F.log(
        F.lit(lam3) * tri_term + F.lit(lam2) * bi_term + F.lit(1.0 - lam3 - lam2) * uni_term
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
            F.round(F.avg(logp), 4).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


# fixed weights of the distilled linear quality head (quality_logit):
# intercept, ln(n_words), avg_word_len, stop_ratio. Published-classifier
# shape (fastText/logistic quality heads); constants are part of the
# operator contract and shared verbatim with the SQL oracle.
LOGIT_W0 = -1.5
LOGIT_W_LNWORDS = 0.8
LOGIT_W_AVGLEN = -0.3
LOGIT_W_STOP = 6.0


def quality_logit(docs: DataFrame) -> DataFrame:
    """Classifier-style quality score: a fixed-weight logistic head over
    the same cheap features the rule gate uses (ln word count, average
    word length, stopword ratio). Where quality_filter gives a hard
    first-failing-rule verdict, this gives the calibrated [0,1] score a
    mixing pipeline thresholds or importance-weights on.

    Scale shape: shuffle-free scan-projection — features and the sigmoid
    are whole-stage-codegen JVM expressions; linear in splits."""
    ln_words, avg_wl, stop_ratio = _head_inputs(word_features(words_col(F.col("text"))))
    z = (
        F.lit(LOGIT_W0)
        + F.lit(LOGIT_W_LNWORDS) * ln_words
        + F.lit(LOGIT_W_AVGLEN) * avg_wl
        + F.lit(LOGIT_W_STOP) * stop_ratio
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return docs.select(
        "doc_id",
        F.round(score, 4).alias("quality_score"),
        # when/otherwise (not bool.cast) so a NULL feature row flags 0,
        # matching the oracle's CASE ... ELSE 0
        F.when(F.round(score, 4) >= 0.5, 1).otherwise(0).alias("keep"),
    ).orderBy("doc_id")


def _head_inputs(f: WordFeatures) -> tuple[Column, Column, Column]:
    """The heads' three raw inputs x1..x3: ln word count, mean word
    length, stopword ratio."""
    return F.log(f.n_words), f.avg_word_len, f.stop_ratio


def _zscore(i: int, x: Column) -> Column:
    """Raw input x{i} z-scored against the training stats m{i}, s{i}; a
    zero std (constant feature) maps to divisor 1 so the centered value
    0 passes through instead of dividing by zero."""
    s = F.col(f"s{i}")
    return (x - F.col(f"m{i}")) / F.when(s == 0.0, 1.0).otherwise(s)


def _logit_z(w_prefix: str = "w"):
    """Shared association order for the head's linear term — identical
    chain in quality_logit_train, quality_head_calibration, and the SQL
    oracles."""
    return (
        F.col(f"{w_prefix}0")
        + F.col(f"{w_prefix}1") * F.col("x1")
        + F.col(f"{w_prefix}2") * F.col("x2")
        + F.col(f"{w_prefix}3") * F.col("x3")
    )


def _logit_sigmoid():
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-_logit_z()))


# Session-scoped GD memo: five declared queries (train / calibration /
# ece / sweep / model) share the exact same 12-round training; within
# one SparkSession the trained frames are reused instead of re-run.
# Key = (session id, CANONICALIZED analyzed plan of the input docs —
# exact, no hash collisions; same plan => same data within a session,
# iters, lr). Results are bit-identical warm or cold (the training is
# deterministic); the memo holds a persist()ed (recompute-safe, NOT
# localCheckpointed — cb33e4c) feature frame alive, which is precisely
# the production shape: train once, serve the artifact. Bounded: a
# handful of corpora per session; entries from STOPPED sessions are
# evicted on the next memo access (operators/_memo.sweep_dead_sessions)
# so a long-lived process cycling sessions cannot accrete them (their
# cached blocks died with the session's executors — unpersist is neither
# possible nor needed).
_GD_MEMO: dict[tuple, tuple] = {}


def _logit_train_frames(docs: DataFrame, iters: int, lr: float):
    """(standardized feature frame, deployable 1-row model frame) — the
    shared GD core of every head query. The model row carries the
    z-score stats (m1..m3, s1..s3) and the trained weights (w0..w3);
    quality_head_fit returns it as is.

    TRAINS the linear quality head in-engine: logistic regression by
    unrolled batch gradient descent, distilling the rule gate
    (:func:`_gate_fails` at its default thresholds, quality_filter's
    keep verdict) into the same three inputs :func:`quality_logit`
    scores with (:func:`_head_inputs`) — closing the loop from "apply a
    classifier" to "train the classifier the pipeline's own docs
    justify".

    Features are STANDARDIZED first (z-score against corpus mean and
    population std, both rounded 4dp and collected into a one-row
    broadcast stats frame) — without it plain GD conditions so badly
    the head stalls at the majority predictor; with it 12 rounds at
    lr 4.0 reach ~99% training accuracy on this corpus (measured at
    sf0.01 and sf0.1).

    Determinism contract (the embedding_kmeans pattern for iterative
    float algorithms): weights start at exact 0.0; each round computes
    the mean gradient in ONE scan against a BROADCAST 1-row weight
    frame, rounds each gradient component at 6dp (so cross-partition
    sum order cannot leak), and rounds the updated weight at 4dp before
    the next round; lr = 4.0 is a binary power, so lr*g is exact. The
    sigmoid/z expressions share association order with the SQL oracle.

    100 TB shape: per round one full scan vs a 1-row broadcast — the
    exact per-step cost of MLlib's LogisticRegression aggregator (map-
    side partial gradient sums, no driver collect, no shuffle beyond
    the single-row agg); `iters` bounds plan depth. Docs with zero
    words carry no gradient signal (ln(0) poisons the batch) and are
    excluded up front.

    Build-time execution caveat (deliberate): materializing the 1-row
    weight frame requires RUNNING the GD rounds when the chain is
    BUILT — the sim_mmr_topk eager-build precedent — which is what
    collapses every downstream consumer to literals (50+ Exchange
    plans otherwise). File-backed corpora memoize on (session, plan,
    files), so the registry/bench/driver paths train once; in-memory
    frames CANNOT be keyed safely (see below) and retrain per build —
    acceptable in unit tests, and the reason plan-only tooling over
    the registry still pays one training run per head query."""
    # Data-identity key recipe (plan + inputFiles, in-memory frames never
    # memoized) documented in operators/_memo.py — shared with the BPE
    # merge-chain memo since r14.
    from yamon_spark.operators._memo import plan_data_key, sweep_dead_sessions

    key = plan_data_key(docs, int(iters), float(lr))
    sweep_dead_sessions(_GD_MEMO)
    if key is not None and key in _GD_MEMO:
        return _GD_MEMO[key]
    base = docs.select("doc_id", words_col(F.col("text")).alias("w")).where(F.size("w") >= 1)
    f = word_features(F.col("w"))
    # the label distills the rule gate's default verdict
    raw = base.select(
        F.when(_gate_reason(_gate_fails(f)) == "ok", 1.0).otherwise(0.0).alias("y"),
        *[x.alias(f"x{i}") for i, x in enumerate(_head_inputs(f), 1)],
    )
    agg = raw.agg(
        *[F.round(F.avg(f"x{i}"), 4).alias(f"m{i}") for i in (1, 2, 3)],
        *[F.round(F.stddev_pop(f"x{i}"), 4).alias(f"s{i}") for i in (1, 2, 3)],
    )
    spark = docs.sparkSession
    # the stats row is half of the model artifact: collect it once, so
    # the model never re-derives it from the corpus
    (stats_row,) = agg.collect()
    stats = spark.createDataFrame([stats_row], agg.schema)
    feats = raw.crossJoin(F.broadcast(stats)).select(
        "y", *[_zscore(i, F.col(f"x{i}")).alias(f"x{i}") for i in (1, 2, 3)]
    )
    # materialize the 4-column feature frame once: every GD round — and
    # the downstream accuracy/calibration/threshold passes — then scans
    # z-scored doubles instead of re-reading and re-featurizing raw
    # text per round. persist(), NOT localCheckpoint: the session memo
    # keeps this frame alive across many queries, and a localCheckpoint
    # is non-reliable — an executor evicting its blocks under memory
    # pressure makes the frame UNRECOMPUTABLE and every later head
    # query fails (observed as six head-chain failures late in a long
    # test session). persist is recompute-safe by construction: worst
    # case is a re-scan, never an error. Values identical either way.
    feats = feats.persist()
    w = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 0.0)], "w0 double, w1 double, w2 double, w3 double"
    )

    # each round references the previous weight frame exactly ONCE: the
    # update folds into the gradient aggregate (w_j is constant over the
    # joined rows, so first(w_j) carries it through). Referencing w both
    # in the join and a separate update doubles the subtree per round —
    # 2^iters logical-plan blowup that hangs analysis beyond ~8 rounds.
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    for _ in range(iters):
        j = feats.crossJoin(F.broadcast(w))
        err = _logit_sigmoid() - F.col("y")
        w = j.agg(
            *[
                F.round(
                    F.first(f"w{i}") - F.lit(lr) * F.round(F.avg(err * xs[i]), 6), 4
                ).alias(f"w{i}")
                for i in range(4)
            ]
        )
    # Materialize the trained weights to their single artifact row (the
    # quality_score_psi recipe): every downstream head query otherwise
    # embeds — and re-executes — the whole `iters`-round GD tower in its
    # own plan (measured 50 Exchange nodes in quality_logit_train's
    # executed plan before this, and the tower re-ran once per query).
    # Bounded: exactly one 10-double row (stats, then weights); values
    # bit-identical (the training itself is the deterministic
    # 4dp-rounded chain above).
    model = spark.createDataFrame(
        [tuple(stats_row) + tuple(w.limit(1).collect()[0])],
        StructType(agg.schema.fields + w.schema.fields),
    )
    if key is None:
        # nothing will reuse an unmemoized feature frame: release its
        # blocks (callers' plans recompute it from lineage) instead of
        # leaking them
        feats.unpersist()
    else:
        _GD_MEMO[key] = (feats, model)
    return feats, model


def quality_logit_train(docs: DataFrame, iters: int = 12, lr: float = 4.0) -> DataFrame:
    """TRAIN the linear quality head in-engine (see _logit_train_frames
    for the GD core): emits (term, value) rows — the four learned
    weights after `iters` rounds plus final training accuracy."""
    feats, model = _logit_train_frames(docs, iters, lr)
    final = feats.crossJoin(F.broadcast(model))
    acc = final.agg(
        F.round(
            F.avg(F.when((_logit_sigmoid() >= 0.5) == (F.col("y") >= 0.5), 1.0).otherwise(0.0)), 4
        ).alias("value")
    ).select(F.lit("train_acc").alias("term"), "value")
    weights = model.selectExpr(
        "stack(4, 'w0_intercept', w0, 'w1_ln_words', w1, "
        "'w2_avg_word_len', w2, 'w3_stop_ratio', w3) AS (term, value)"
    )
    return weights.unionByName(acc).orderBy("term")


def quality_head_calibration(
    docs: DataFrame, iters: int = 12, lr: float = 4.0, n_bins: int = 10
) -> DataFrame:
    """Reliability diagram for the TRAINED quality head: train the
    logistic head (the :func:`_logit_train_frames` GD core), then bin
    every doc by its 4dp-rounded predicted keep-probability into
    `n_bins` deciles and report per bin (count, mean prediction,
    observed keep fraction against the rule gate). A calibrated head
    shows mean_pred tracking frac_keep per bin — the evidence a mixing
    pipeline needs before thresholding or importance-weighting on the
    score; training accuracy alone can hide a head that is confidently
    wrong in one probability band.

    One extra scan over the training plan: the final broadcast-weights
    pass projects (bin, p, y) and partial-agg groupBys into <= n_bins
    rows. Bin edges floor(round(p,4)*n_bins) compute in IEEE double on
    both engines (identical bits -> identical bin), top bin clamps p=1.
    """
    feats, model = _logit_train_frames(docs, iters, lr)
    j = feats.crossJoin(F.broadcast(model))
    p4 = F.round(_logit_sigmoid(), 4)
    b = F.least(F.floor(p4 * n_bins), F.lit(n_bins - 1)).cast("int")
    return (
        j.select(b.alias("bin"), p4.alias("p"), "y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("p"), 4).alias("mean_pred"),
            F.round(F.avg("y"), 4).alias("frac_keep"),
        )
        .orderBy("bin")
    )


def quality_head_fit(docs: DataFrame, iters: int = 12, lr: float = 4.0) -> DataFrame:
    """Train the quality head and return the DEPLOYABLE model as one
    row: the z-score stats (m1..m3, s1..s3) alongside the learned
    weights (w0..w3). quality_logit_train reports weights for a human;
    this is the artifact a serving path broadcasts — scoring a new doc
    needs the TRAINING stats, not the serving corpus's, or the features
    drift with every batch. The row is the one training materialized
    (:func:`_logit_train_frames`), so fitting scans the corpus no
    further. Persist it like any 1-row parquet."""
    return _logit_train_frames(docs, iters, lr)[1]


def quality_head_score(docs: DataFrame, model: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Serve the trained quality head: stamp every doc with the model's
    4dp keep-probability and the thresholded verdict. `model` is
    quality_head_fit's 1-row frame (broadcast); features z-score against
    the model's TRAINING stats, so serving is one shuffle-free map-side
    pass — the at-ingest shape the streaming corpus pipeline wires in.
    Docs with no words score NULL / keep_pred 0 (no feature signal).

    Per-row shape (r13, guide §1.2 per-task work): the words array and
    the three raw features MATERIALIZE as columns in their own
    projections before the logit composes them. Higher-order functions
    run interpreted (CodegenFallback, no common-subexpression
    elimination), so the previous inlined form re-ran the split +
    aggregate + filter chain once per REFERENCE — and the score
    expression references the features through z-score, guard, AND the
    thresholded verdict (the shingle_table re-tokenization hazard,
    multiplied). Multiple non-cheap references block CollapseProject,
    so the staged projections survive optimization. Same expressions,
    same 4dp round — bit-identical scores."""
    # the staging columns live in the reserved _qh_* namespace; a caller
    # whose frame already carries one would get a duplicate-name frame
    # and an ambiguous-reference error downstream (ADVICE r13) — refuse
    # loudly instead
    clash = [c for c in docs.columns if c in ("_qh_w", "_qh_n", "_qh_x1", "_qh_x2", "_qh_x3")]
    if clash:
        raise ValueError(f"docs columns collide with reserved _qh_* staging names: {clash}")
    base = docs.select(*docs.columns, words_col(F.col("text")).alias("_qh_w"))
    f = word_features(F.col("_qh_w"))
    feat = base.select(
        *docs.columns,
        f.n_words.alias("_qh_n"),
        *[x.alias(f"_qh_x{i}") for i, x in enumerate(_head_inputs(f), 1)],
    )
    z = [_zscore(i, F.col(f"_qh_x{i}")) for i in (1, 2, 3)]
    logit = F.col("w0") + F.col("w1") * z[0] + F.col("w2") * z[1] + F.col("w3") * z[2]
    p = F.when(F.col("_qh_n") >= 1, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 4))
    scored = feat.crossJoin(F.broadcast(model)).select(
        *docs.columns, p.alias("quality_score")
    )
    return scored.select(
        *docs.columns,
        "quality_score",
        F.coalesce((F.col("quality_score") >= threshold).cast("int"), F.lit(0)).alias(
            "keep_pred"
        ),
    )


def quality_threshold_sweep(docs: DataFrame, iters: int = 12, lr: float = 4.0) -> DataFrame:
    """Operating-point selection for the trained quality head — the step
    after :func:`quality_head_calibration`: sweep keep-thresholds
    0.1..0.9 over the head's 4dp-rounded predictions and report, per
    threshold, how many docs survive and the precision/recall/F1 of the
    head's verdict against the rule gate. The table a pipeline owner
    reads to pick THE threshold (max F1, or fixed precision) before the
    head starts dropping data.

    One extra scan over the training plan: the final broadcast-weights
    pass computes 27 conditional sums (tp/fp/fn per threshold) in a
    single aggregate, then a 1-row stack fans them into 9 rows — no
    per-threshold rescans. F1 uses the harmonic identity
    2·tp/(2·tp+fp+fn) so only one terminal 4dp rounding happens per
    metric; thresholds are i/10.0 in IEEE double on both engines.
    Zero-denominator cells are NULL (no kept docs / no positive docs)."""
    feats, model = _logit_train_frames(docs, iters, lr)
    j = feats.crossJoin(F.broadcast(model))
    p4 = F.round(_logit_sigmoid(), 4)
    ths = [i / 10.0 for i in range(1, 10)]
    aggs = []
    for i, t in enumerate(ths):
        pred = (p4 >= F.lit(t)).cast("double")
        aggs += [
            F.sum(pred * F.col("y")).alias(f"tp{i}"),
            F.sum(pred * (F.lit(1.0) - F.col("y"))).alias(f"fp{i}"),
            F.sum((F.lit(1.0) - pred) * F.col("y")).alias(f"fn{i}"),
        ]
    row = j.agg(*aggs)
    stack = "stack(9, " + ", ".join(
        f"{t!r}D, tp{i}, fp{i}, fn{i}" for i, t in enumerate(ths)
    ) + ") AS (threshold, tp, fp, fn)"
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return (
        row.selectExpr(stack)
        .select(
            "threshold",
            (tp + fp).cast("bigint").alias("n_kept"),
            F.when(tp + fp > 0, F.round(tp / (tp + fp), 4)).alias("prec"),
            F.when(tp + fn > 0, F.round(tp / (tp + fn), 4)).alias("rec"),
            F.when(2 * tp + fp + fn > 0, F.round(2 * tp / (2 * tp + fp + fn), 4)).alias("f1"),
        )
        .orderBy("threshold")
    )


def perplexity_buckets(docs: DataFrame, top_k: int = 1000, sample_mod: int = 20) -> DataFrame:
    """CCNet-style head/middle/tail split: score every doc with the mean
    unigram log-probability (unigram_logprob), learn the two tercile
    cutoffs from a deterministic doc_id-hash sample, and bucket docs by
    comparing their ROUNDED score to the ROUNDED cutoffs (head = most
    probable third). CCNet does exactly this with a 5-gram LM; the
    bucketing/threshold machinery is identical, only the scorer differs.

    Scale shape: scoring is the unigram_logprob plan (bounded k-row model
    broadcast + two partial aggs). The cutoffs come from an EXACT
    percentile over the 1/sample_mod doc sample — the sample keeps the
    sort-based percentile state bounded, and the learned 1-row cutoffs
    broadcast back so bucket assignment is map-side. At 100 TB you cap
    the sample absolutely (e.g. mod chosen so the sample is ~1M docs);
    the operator's plan does not change."""
    scored = unigram_logprob(docs, top_k=top_k)
    sample = scored.where((F.col("doc_id") % sample_mod) == 0)
    cuts = sample.agg(
        F.round(F.expr("percentile(mean_logprob, 1.0/3.0)"), 4).alias("t_low"),
        F.round(F.expr("percentile(mean_logprob, 2.0/3.0)"), 4).alias("t_high"),
    )
    bucket = (
        F.when(F.col("mean_logprob") >= F.col("t_high"), F.lit("head"))
        .when(F.col("mean_logprob") >= F.col("t_low"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select("doc_id", "mean_logprob", bucket.alias("bucket"))
        .orderBy("doc_id")
    )


def dsir_weights(docs: DataFrame, target_source: str = "src0", n_buckets: int = 256) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): per-doc sum of
    log-likelihood ratios between a target-domain hashed-unigram model
    and the raw-corpus model. Docs whose word-bucket profile looks like
    the target get positive log-weights; importance resampling then
    tilts the training mix toward the target domain without a trained
    classifier. Buckets use the engine-portable md5 hash (shared with
    the oracle); both models get add-half smoothing over n_buckets.

    Scale shape: the two models are n_buckets-row aggregates (one
    partial-agg shuffle over hashed words), joined into one bounded
    model frame that BROADCASTS back; per-doc scoring is a map-side
    join + one partial-agg groupBy(doc_id). Model size is fixed by
    n_buckets — independent of vocabulary and corpus size."""
    words = docs.select(
        "doc_id",
        F.col("source"),
        F.explode(words_col(F.lower(F.col("text")))).alias("w"),
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5(F.col("w")), 1, 6), 16, 10).cast("bigint") % n_buckets,
    )
    raw = words.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt = (
        words.where(F.col("source") == target_source)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    totals = words.agg(
        F.count(F.lit(1)).cast("double").alias("n_raw"),
        F.sum((F.col("source") == target_source).cast("long")).cast("double").alias("n_tgt"),
    )
    model = (
        raw.join(tgt, "bucket", "left")
        .na.fill({"c_tgt": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("c_tgt") + 0.5) / (F.col("n_tgt") + 0.5 * n_buckets))
                - F.log((F.col("c_raw") + 0.5) / (F.col("n_raw") + 0.5 * n_buckets))
            ).alias("llr"),
        )
    )
    return (
        words.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.round(F.sum("llr"), 4).alias("log_weight"),
        )
        .orderBy("doc_id")
    )


def dedup_funnel(docs: DataFrame, ngram: int = 3, threshold: float = 0.5) -> DataFrame:
    """The end-to-end dedup funnel a 100 TB curation pass runs, as one
    attrition report: raw -> exact (content-digest keep-min) -> near-dup
    (connected components over n-gram Jaccard edges among the exact
    survivors, keep one per component). One row per stage with surviving
    and removed doc counts — the numbers a pipeline owner watches to
    know each stage is pulling its weight.

    Scale shape: composes the already-scale-shaped stages (digest
    groupBy; posting-list Jaccard + O(log diameter) CC) and reduces each
    to a 1-row count; the final report assembles 1-row broadcasts."""
    from yamon_spark.operators.dedup import exact_dedup

    n_raw = docs.agg(F.count(F.lit(1)).alias("n_raw"))
    surv = docs.join(exact_dedup(docs).select("doc_id"), "doc_id")
    n_exact = surv.agg(F.count(F.lit(1)).alias("n_exact"))
    members = dedup_clusters(surv, ngram=ngram, threshold=threshold)
    m = members.agg(
        F.count(F.lit(1)).alias("members"),
        F.countDistinct("cluster_id").alias("comps"),
    )
    c = n_raw.crossJoin(F.broadcast(n_exact)).crossJoin(F.broadcast(m))

    # ONE stage-array explode off the single 1-row counts frame instead of
    # a three-way union of selects over `c`: the union arms shared the
    # expensive subtree only because dedup_clusters checkpoints eagerly —
    # this shape does not depend on that accident (and keeps the exact
    # dedup + count aggregations single-execution by construction)
    def stage(no: int, name: str, n_docs, removed):
        return F.struct(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            n_docs.cast("bigint").alias("n_docs"),
            removed.cast("bigint").alias("removed"),
        )

    after_near = F.col("n_exact") - F.col("members") + F.col("comps")
    stages = F.array(
        stage(0, "raw", F.col("n_raw"), F.lit(0)),
        stage(1, "exact", F.col("n_exact"), F.col("n_raw") - F.col("n_exact")),
        stage(2, "near_dup", after_near, F.col("members") - F.col("comps")),
    )
    return c.select(F.explode(stages).alias("s")).select("s.*").orderBy("stage_no")


def source_divergence(docs: DataFrame) -> DataFrame:
    """Per-source unigram-distribution drift vs the whole corpus:
    KL(P_source || P_corpus) in bits, plus the source's token count —
    the distribution-shift gate a corpus monitor alarms on when one
    ingestion source starts emitting different-looking text (scraper
    broke, spam flood, language flip). KL is well-defined here because
    the corpus distribution dominates every source distribution (each
    source's words ARE corpus words — no zero-q terms).

    Scale shape: one partial-agg (source, word) count is the only
    corpus-sized table; it joins the |vocab|-row word totals on the
    uniform word key (hash join), the |sources|-row source totals and
    the ONE grand-total row broadcast; the per-source sum is a final
    |sources|-row partial agg. No pair space, no driver state."""
    w = docs.select("source", F.explode(words_col(F.lower(F.col("text")))).alias("w"))
    sw = w.groupBy("source", "w").agg(F.count(F.lit(1)).cast("double").alias("c_sw"))
    s_tot = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    w_tot = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    n_row = w_tot.agg(F.sum("c_w").alias("n_corpus"))
    p = F.col("c_sw") / F.col("n_s")
    q = F.col("c_w") / F.col("n_corpus")
    term = p * F.log2(p / q)
    return (
        sw.join(F.broadcast(s_tot), "source")
        .join(w_tot, "w")
        .crossJoin(F.broadcast(n_row))
        .groupBy("source")
        .agg(
            F.sum("c_sw").cast("bigint").alias("n_tokens"),
            F.round(F.sum(term), 4).alias("kl_bits"),
        )
        .orderBy("source")
    )


def source_overlap(docs: DataFrame, ngram: int = 8) -> DataFrame:
    """Cross-source text-overlap matrix: for each source pair
    (src_a < src_b), the number of distinct word n-gram shingles present
    in BOTH — the mixing diagnostic that catches one feed republishing
    another's text (common-crawl mirrors, syndicated news) before
    domain weights are computed on double-counted content. 8-grams are
    the contamination-detection granularity (the contamination_ngram
    scale), long enough that sharing is copying, not vocabulary.

    Scale shape: per-shingle source lists come from ONE posting-list
    groupBy on the uniform md5 key — collect_set dedups (shingle,
    source) itself, so the r12 shape's separate pre-`distinct()` was a
    second full hash agg + Exchange over the corpus x shingles table
    doing the same work (r13: 6 -> 4 Exchanges, one shuffle of the
    exploded table instead of two); per-doc array_distinct trims the
    explode fan-out before the md5. The 2-combination explode is
    bounded by |sources| per shingle and the result by |sources|^2
    rows. Integer-exact (no float contract).

    Per-task shape (the shingle_table recipe, r13): the doc text is
    repartitioned before the explode so a small input file count never
    serializes the shingle fan-out on a few tasks, and the words array
    is materialized in its own projection so the interpreted
    shingles_col lambda references a COLUMN — inlined, the split
    re-tokenizes the doc per shingle index (the measured 4.5x
    shingle_table hazard)."""
    from yamon_spark.operators.dedup import _spread

    base = _spread(docs.select("doc_id", "source", "text"), "doc_id")
    words = base.select("source", words_col(F.col("text")).alias("w"))
    sh = words.select(
        "source", F.explode(F.array_distinct(shingles_col(F.col("w"), ngram))).alias("shingle")
    ).select("source", F.md5("shingle").alias("g"))
    groups = (
        sh.groupBy("g")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .where(F.size("srcs") >= 2)
    )
    lvl1 = groups.select("srcs", F.posexplode("srcs").alias("i", "src_a"))
    pairs = lvl1.select(
        "src_a", F.explode(F.slice("srcs", F.col("i") + 2, F.size("srcs"))).alias("src_b")
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .orderBy("src_a", "src_b")
    )


def sample_weighted(docs: DataFrame, n: int = 50, salt: str = "aes") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): each doc gets key = ln(u) / w with u a
    salted-md5 uniform in (0,1) and w = its length in chars; the top-n
    keys ARE an exact weighted sample — longer documents proportionally
    more likely, yet reproducible across engines, retries, and cluster
    sizes (no RNG; changing the salt re-deals the sample). The standard
    one-pass corpus subsampler when "sample 1M docs weighted by token
    count" must give the same answer on every run.

    Scale shape: one map-side key projection, then a global top-n —
    TakeOrderedAndProject keeps only n rows per partition, so the
    reduction traffic is n * partitions rows regardless of corpus size
    (same plan family as q40_global_topk). Key comparisons are on
    well-separated doubles (distinct md5 uniforms), so ordering is
    engine-stable."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + 0.5) / F.lit(4294967296.0)
    w = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    return (
        docs.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            (F.log(u) / w).alias("k"),
        )
        .orderBy(F.desc("k"), "doc_id")
        .limit(n)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def quality_score_psi(
    ref_docs: DataFrame, new_docs: DataFrame, model: DataFrame, n_bins: int = 10
) -> DataFrame:
    """Population Stability Index of the trained head's score
    distribution between a REFERENCE corpus slice and a NEW slice — the
    standard production monitor for "has my input drifted since
    training" (rule of thumb: psi < 0.1 stable, 0.1–0.25 drifting,
    > 0.25 retrain). Both slices are scored by the SAME deployable
    model artifact (:func:`quality_head_fit`'s 1-row frame, broadcast —
    the serving path, so the monitor measures data drift, never model
    drift); scores bin into fixed 4dp-exact deciles (the calibration
    binning), and psi = Σ (q_i − r_i)·ln(q_i / r_i) over
    Laplace-smoothed bin fractions ((n_i + 0.5)/(N + 0.5·n_bins) — no
    empty-bin infinities, deterministic cross-engine). Per-bin terms
    round 6dp before the sum and the sum rounds 4dp (the GD chain's
    order-independence convention). Unscorable docs (no words) are
    excluded from both sides, as in training.

    Plan shape: two shuffle-free map-side scoring scans (one per
    slice) into ≤ n_bins-cell partial aggregates, a bins-universe
    broadcast join, and a 1-row answer. Linear, two scans, no
    data-sized shuffle — runs at ingest cadence. The model frame is
    materialized to its single artifact row first (one bounded
    collect — the serve-the-artifact shape): a caller may hand a lazy
    model plan, which every downstream reference would otherwise
    re-evaluate (a lazy 12-round GD chain measured 106 Exchange nodes
    in this query's executed plan, 2 once materialized)."""
    spark = model.sparkSession
    model = spark.createDataFrame(model.limit(1).collect(), model.schema)
    return psi_from_histograms(
        score_histogram(ref_docs, model, n_bins).withColumnRenamed("n", "n_ref"),
        score_histogram(new_docs, model, n_bins).withColumnRenamed("n", "n_new"),
        n_bins=n_bins,
    )


def score_histogram(docs: DataFrame, model: DataFrame, n_bins: int = 10) -> DataFrame:
    """(bin, n) decile histogram of the trained head's 4dp keep-
    probability over a doc frame — the persistable REFERENCE side of
    the PSI monitor (and the per-batch side the streaming twin
    computes). One shuffle-free scoring scan into ≤ n_bins cells;
    unscorable docs (no words) excluded, as in training."""
    scored = quality_head_score(docs, model).where(F.col("quality_score").isNotNull())
    b = F.least(F.floor(F.col("quality_score") * n_bins), F.lit(n_bins - 1)).cast("int")
    return scored.select(b.alias("bin")).groupBy("bin").agg(F.count(F.lit(1)).alias("n"))


def psi_from_histograms(
    ref_hist: DataFrame, new_hist: DataFrame, n_bins: int = 10
) -> DataFrame:
    """PSI from two (bin, n_ref)/(bin, n_new) histograms — the shared
    kernel of the batch monitor and the streaming twin (which persists
    the reference histogram once and folds each landed batch against
    it). Laplace smoothing, 6dp terms, 4dp sum — see
    :func:`quality_score_psi` for the determinism contract.

    Both histograms are materialized to literal frames first (bounded
    ≤ n_bins-row collects): the psi arithmetic references the joined
    frame twice (totals + terms), which would otherwise re-run each
    histogram's upstream scoring scan once per reference. The two
    collects are INDEPENDENT scoring jobs over different slices, so
    they run concurrently (guide §2.6 overlap-independent-jobs: the
    second job's tasks back-fill executors freed by the first's tail —
    measured ~0.6 s off the monitor's wall at sf0.1, and at scale the
    two corpus scans overlap instead of serializing)."""
    from concurrent.futures import ThreadPoolExecutor

    spark = ref_hist.sparkSession
    with ThreadPoolExecutor(max_workers=2) as pool:
        ref_rows, new_rows = pool.map(lambda df: df.collect(), (ref_hist, new_hist))
    ref_hist = spark.createDataFrame(ref_rows, ref_hist.schema)
    new_hist = spark.createDataFrame(new_rows, new_hist.schema)
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    j = (
        bins.join(F.broadcast(ref_hist), "bin", "left")
        .join(F.broadcast(new_hist), "bin", "left")
        .fillna({"n_ref": 0, "n_new": 0})
    )
    tot = j.agg(F.sum("n_ref").alias("tr"), F.sum("n_new").alias("tn"))
    r = (F.col("n_ref") + 0.5) / (F.col("tr") + 0.5 * n_bins)
    q = (F.col("n_new") + 0.5) / (F.col("tn") + 0.5 * n_bins)
    terms = j.crossJoin(F.broadcast(tot)).select(
        "n_ref", "n_new", F.round((q - r) * F.log(q / r), 6).alias("term")
    )
    return terms.agg(
        F.sum("n_ref").cast("bigint").alias("n_ref"),
        F.sum("n_new").cast("bigint").alias("n_new"),
        F.round(F.sum("term"), 4).alias("psi"),
    )


# Gopher-style rule set evaluated by quality_gopher_rules, in REPORT
# ORDER. The first two rules are quality_filter's word-count and
# word-length gate (_gate_fails); stopword_hits_low counts stopword
# occurrences instead of a ratio; alpha_ratio and long_word are the extra
# Gopher repetition/garbage signals the per-doc gate doesn't carry.
GOPHER_RULES = (
    "word_count_out_of_range",
    "mean_word_len_out_of_range",
    "stopword_hits_low",
    "alpha_ratio_low",
    "long_word_present",
)


def quality_gopher_rules(docs: DataFrame) -> DataFrame:
    """Per-rule corpus failure report for the Gopher-style quality rule
    set (Rae et al. 2021 §A1.1 heuristics re-expressed over this
    corpus's schema) — the table a pipeline owner reads to see WHICH
    rule would cut how much of a crawl before committing thresholds,
    the corpus-level complement of :func:`quality_filter`'s per-doc
    keep/reason gate.

    Rules (fail conditions): word count outside [10, 1000]; mean word
    length outside [2, 12]; fewer than 2 stopword occurrences (the
    Gopher "must contain 2 of a stop list" rule); alphabetic share of
    NON-WHITESPACE characters < 0.8 (symbol/garbage floods; whitespace
    is layout, not content, so it stays out of the denominator); any
    word longer than 15 chars (unsegmented garbage). One scan: every rule is a conditional sum
    over the same projected feature row — at 100 TB this is a map-side
    partial agg into a 5-row stack, no shuffle beyond the single-row
    agg. fail_frac rounds 4dp.

    Reference parity: the reference has no quality gates (it is a
    metrics agent); this is part of the training-data curation surface
    the brief adds on top (SURVEY §2.7)."""
    w = words_col(F.col("text"))
    f = word_features(w)
    gate = _gate_fails(f)
    n_content = F.length(F.regexp_replace("text", r"\s", "")).cast("double")
    # [^a-zA-Z]: uppercase letters ARE alphabetic — counting only [a-z]
    # made the alpha_ratio_low rule fire spuriously on any corpus that
    # isn't pre-lowercased (ADVICE r10); DuckDB oracle uses the same class
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast(
        "double"
    ) / F.greatest(n_content, F.lit(1.0))
    max_wl = F.array_max(F.transform(w, F.length))
    fails = [
        (gate["too_short"] | gate["too_long"]).alias("f0"),
        gate["word_len"].alias("f1"),
        (f.n_stop < 2).alias("f2"),
        (alpha_ratio < 0.8).alias("f3"),
        (max_wl > 15).alias("f4"),
    ]
    row = docs.select(*fails).agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(F.col(f"f{i}").cast("long")).alias(f"n{i}") for i in range(len(GOPHER_RULES))],
    )
    stack = "stack({n}, {cells}) AS (rule, n_fail)".format(
        n=len(GOPHER_RULES),
        cells=", ".join(f"'{name}', n{i}" for i, name in enumerate(GOPHER_RULES)),
    )
    return (
        row.select(F.expr(stack), "n_docs")
        .select(
            "rule",
            F.col("n_fail").cast("bigint").alias("n_fail"),
            F.round(F.col("n_fail") / F.col("n_docs"), 4).alias("fail_frac"),
        )
        .orderBy("rule")
    )


def shard_balance(docs: DataFrame, n_shards: int = 16, salt: str = "shard") -> DataFrame:
    """Output-shard assignment audit: assign every document to one of
    ``n_shards`` training shards by salted content-id hash (the
    placement actually used at scale — stateless, reproducible across
    retries and cluster sizes, no coordination), then report the realized
    per-shard load: docs, whitespace tokens, and each shard's token load
    relative to the ideal 1/n share. A load_ratio drifting from 1.0 says
    the final shard write needs a different salt or more shards before a
    1000-executor training job starts with one straggler file.

    Scale shape: one map-side hash projection + one n_shards-group
    partial-agg groupBy; the total-tokens denominator is a 1-row
    broadcast cross join. Nothing is data-sized downstream of the scan.
    """
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long")
    from yamon_spark.operators.text import words_col

    per = (
        docs.select(
            (h % n_shards).cast("int").alias("shard"),
            F.size(words_col(F.col("text"))).alias("tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") * n_shards / F.col("total_tokens"), 4
            ).alias("load_ratio"),
        )
        .orderBy("shard")
    )


def dedup_survivors(docs: DataFrame, ngram: int = 3, threshold: float = 0.5) -> DataFrame:
    """The ACTION step over near-duplicate clusters: per connected
    component of the exact-Jaccard near-dup graph, pick the survivor by
    the same policy dedup_canonical applies to exact clusters (longest
    text, then smallest doc_id) and report what deduplication will do —
    members, drops, and the char volume removed. dedup_clusters says
    which docs group together; this says which doc to KEEP and what the
    corpus loses, the report a pipeline reviews before a destructive
    dedup pass.

    Scale shape: cluster labels come from the iterative min-label CC
    (O(log diameter) rounds); everything after is ONE cluster-keyed
    partial-agg groupBy — the survivor falls out of the same aggregate
    as the stats via min_by over the (−n_chars, doc_id) policy struct
    (lexicographic min = longest text, then smallest doc_id), so the
    r12 shape's second pass over the member frame, its max-chars join
    back, and the final stats⋈survivor join are gone (r13: 12 → 5
    exchanges, one scan of the member frame instead of two). No
    windows, no data-sized single partitions.
    """
    labels = dedup_clusters(docs, ngram=ngram, threshold=threshold)
    # shuffle-hash hints: the label frame's post-iteration stats are
    # opaque to the planner and the cluster-keyed join otherwise falls
    # back to sort-merge (the registry's zero-SMJ invariant,
    # tests/test_plans.py)
    m = labels.hint("shuffle_hash").join(
        docs.select("doc_id", "n_chars").hint("shuffle_hash"), "doc_id"
    )
    policy = F.struct((-F.col("n_chars")).alias("neg_chars"), F.col("doc_id").alias("doc_id"))
    g = m.groupBy("cluster_id").agg(
        F.max("n_chars").alias("mc"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min_by("doc_id", policy).alias("survivor_doc_id"),
    )
    return g.select(
        "cluster_id",
        "survivor_doc_id",
        "n_members",
        (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
        (F.col("total_chars") - F.col("mc")).cast("bigint").alias("chars_dropped"),
    ).orderBy("cluster_id")


def curriculum_plan(docs: DataFrame, n_stages: int = 4) -> DataFrame:
    """Curriculum schedule: bucket the corpus into ``n_stages`` training
    stages by a difficulty proxy and report each stage's mass — the
    table a curriculum-learning run reads to size its phases (classic
    short/simple-first ordering; Bengio et al. 2009's length/complexity
    staging applied at corpus scale).

    Difficulty score (deterministic, JVM expressions only):
    ``ln(1 + n_words) * avg_word_chars`` — longer documents with longer
    words land in later stages. Rounded to 6dp BEFORE the quantile so
    both engines interpolate over identical doubles.

    Stage assignment WITHOUT a global sort: exact score quantiles
    (``F.percentile`` — one partial-aggregated scan, the q28 parity
    precedent) give n_stages-1 boundaries broadcast as one row; stage =
    1 + #(boundaries strictly below score). No data-sized window, no
    ntile, no global ordering — the plan is two corpus scans (score agg,
    stage agg) + a 1-row broadcast, which is the 100 TB shape (an
    ntile-based curriculum would single-partition the whole corpus).
    """
    probs = [i / n_stages for i in range(1, n_stages)]
    w = words_col(F.col("text"))
    n_words = F.size(w)
    score = F.round(
        F.log(F.lit(1.0) + n_words) * (F.col("n_chars").cast("double") / n_words), 6
    )
    scored = docs.select(
        score.alias("score"), F.expr("n_chars DIV 4 + 1").alias("toks")
    )
    bounds = scored.agg(
        F.percentile(F.col("score"), F.array(*[F.lit(p) for p in probs])).alias("b")
    )
    stage = F.lit(1)
    for i in range(n_stages - 1):
        stage = stage + (F.col("score") > F.col("b")[i]).cast("int")
    staged = scored.crossJoin(F.broadcast(bounds)).select(
        stage.alias("stage"), "score", "toks"
    )
    per_stage = staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("tokens"),
        F.round(F.min("score"), 4).alias("min_score"),
        F.round(F.max("score"), 4).alias("max_score"),
    )
    total = per_stage.agg(F.sum("tokens").cast("double").alias("all_toks"))
    return (
        per_stage.crossJoin(F.broadcast(total))
        .select(
            "stage",
            "n_docs",
            "tokens",
            F.round(F.col("tokens") / F.col("all_toks"), 4).alias("token_share"),
            "min_score",
            "max_score",
        )
        .orderBy("stage")
    )


def curriculum_mix(docs: DataFrame, n_stages: int = 4) -> DataFrame:
    """Curriculum × domain-mix schedule: per (stage, source), the token
    mass and its share WITHIN the stage — the diagnostic read alongside
    curriculum_plan before training: a difficulty-staged curriculum can
    silently concentrate one source into a stage (web boilerplate is
    "easy", academic text is "hard"), skewing early-training exposure.

    Same stage machinery as curriculum_plan (exact score quantiles
    broadcast as one row — no ntile, no global sort); the mix adds one
    (stage, source) partial-agg groupBy plus a broadcast join of the
    n_stages-row per-stage totals. Two corpus scans total, every join
    side bounded by |stages| × |sources|.
    """
    probs = [i / n_stages for i in range(1, n_stages)]
    w = words_col(F.col("text"))
    n_words = F.size(w)
    score = F.round(
        F.log(F.lit(1.0) + n_words) * (F.col("n_chars").cast("double") / n_words), 6
    )
    scored = docs.select(
        score.alias("score"),
        "source",
        F.expr("n_chars DIV 4 + 1").alias("toks"),
    )
    bounds = scored.agg(
        F.percentile(F.col("score"), F.array(*[F.lit(p) for p in probs])).alias("b")
    )
    stage = F.lit(1)
    for i in range(n_stages - 1):
        stage = stage + (F.col("score") > F.col("b")[i]).cast("int")
    staged = scored.crossJoin(F.broadcast(bounds)).select(
        stage.alias("stage"), "source", "toks"
    )
    cell = staged.groupBy("stage", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("tokens"),
    )
    stage_tot = cell.groupBy("stage").agg(
        F.sum("tokens").cast("double").alias("stage_toks")
    )
    return (
        cell.join(F.broadcast(stage_tot), "stage")
        .select(
            "stage",
            "source",
            "n_docs",
            "tokens",
            F.round(F.col("tokens") / F.col("stage_toks"), 4).alias("stage_share"),
        )
        .orderBy("stage", "source")
    )
