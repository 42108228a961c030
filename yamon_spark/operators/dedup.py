"""Deduplication operators for training-data pipelines over `documents`.

Four strategies, cheapest to richest:

1. exact_dedup      — hash-groupBy on content digest. One shuffle on the
                      digest (64 hex chars, uniformly distributed → no
                      skew). The canonical survivor is min(doc_id).
2. ngram_jaccard    — EXACT near-dup pairs via an inverted shingle index:
                      explode distinct shingles, self-join on shingle,
                      count intersections, Jaccard from |A|+|B|-|∩|.
                      Never materializes the O(N²) pair space — only pairs
                      sharing ≥1 shingle. At 100 TB add the stop-shingle
                      cap (`max_doc_freq`) to bound hot-shingle blowup.
3. minhash_lsh      — MinHash signatures + banded LSH: candidates are
                      pairs agreeing on ≥1 band; candidates are then
                      verified with exact Jaccard. Hashes are md5 hex
                      strings (engine-independent total order) so the
                      DuckDB oracle reproduces signatures bit-for-bit.
4. simhash          — 1-64 bit SimHash fingerprint from word unigrams
                      (per-bit majority vote over md5-derived bits).

Scale notes: every strategy is shuffle-by-hash-key (uniform); LSH band
keys bound candidate generation to buckets, the standard 100-TB near-dup
design (shingle → minhash → band → bucket-join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yamon_spark.operators._fastlit import lit_array
from yamon_spark.operators.text import words_col


# Default stop-shingle cap ("auto"): drop shingles shared by more than
# this many docs before the posting-list pair expansion. A shingle's pair
# cost is df^2/2, so without a cap ONE boilerplate shingle (license
# header, nav bar, scraper banner) shared by 0.1% of a 10B-doc corpus
# generates ~5e13 pairs; with the cap, total pair work is bounded by
# (#shingles x CAP^2/2) — linear in corpus size. 1024 is far above any
# real near-dup signal (genuinely near-dup docs share many RARE
# shingles; a df>1024 shingle contributes no discriminative evidence)
# and far above every verification fixture's max df (25 at sf0.1, and
# the scale-sweep replicas are vocabulary-disjoint so df never grows
# with the factor) — measured inert: the stop-shingle bench
# (`git show 8b1a8f1:scripts/stop_shingle_bench.py`) showed
# byte-identical output on the fixtures and bounded wall on a
# planted-boilerplate corpus, and tests/test_dedup_cap.py equality-pins
# capped == uncapped at the oracle SFs. Pass max_doc_freq=None for
# exact uncapped semantics.
DEFAULT_MAX_DOC_FREQ = 1024


def _resolve_cap(max_doc_freq) -> int | None:
    if max_doc_freq == "auto":
        return DEFAULT_MAX_DOC_FREQ
    if max_doc_freq is None:
        return None
    # fail fast on typos ('Auto', '1024'): an unvalidated string would
    # only surface later as an opaque Column-comparison analysis error
    # deep inside _pair_counts
    if isinstance(max_doc_freq, bool) or not isinstance(max_doc_freq, int):
        raise ValueError(
            f"max_doc_freq must be 'auto', None, or an int; got {max_doc_freq!r}"
        )
    if max_doc_freq < 1:
        raise ValueError(f"max_doc_freq must be >= 1; got {max_doc_freq}")
    return max_doc_freq


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition on ``cols`` before a fan-out stage, so a small
    input file count never serializes the downstream explode compute.

    Width: ``yamon.dedup.repartitionWidth`` conf when set (cluster
    operators pinning a known-good width), otherwise no explicit width —
    spark.sql.shuffle.partitions sizes it and AQE re-coalesces at
    runtime. A hard-coded defaultParallelism would be wrong on a real
    cluster (driver cores != cluster width)."""
    spark = df.sparkSession
    width = spark.conf.get("yamon.dedup.repartitionWidth", None)
    if width:
        return df.repartition(int(width), *cols)
    return df.repartition(*cols)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content digest; survivor = min(doc_id) per digest."""
    return (
        docs.select(F.sha2(F.col("text").cast("binary"), 256).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).cast("bigint").alias("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    )


def dedup_budget_impact(docs: DataFrame) -> DataFrame:
    """Dedup-policy planning report — what each policy does to the
    training token budget BEFORE anyone commits to one:

      raw          keep every copy at weight 1 (no dedup)
      hard         keep only the min-doc_id survivor per content digest
      count_aware  keep the survivor UPWEIGHTED by 1 + ln(n_copies) —
                   the sublinear count-aware sampling that preserves
                   duplication as a popularity signal after hard dedup
                   (pure 1/n soft-dedup is omitted: for byte-identical
                   copies its token mass provably equals hard's)

    Emits one row per policy: (policy, eff_docs, eff_tokens), tokens =
    whitespace word count; count_aware's doc mass is the distinct-digest
    count, its token mass sums surv·(1+ln n) in double and rounds 4dp
    (ln of a small integer is bit-identical on both engines).

    Scale shape: one scan -> digest groupBy with map-side combine
    (count, token sum, min_by survivor tokens) -> a 3-row aggregate.
    Linear, one shuffle on the uniform digest key."""
    t = docs.select(
        "doc_id",
        F.sha2(F.col("text").cast("binary"), 256).alias("dg"),
        F.size(words_col(F.col("text"))).cast("double").alias("tokens"),
    )
    g = t.groupBy("dg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("tokens").alias("tot"),
        F.min_by("tokens", "doc_id").alias("surv"),
    )
    pol = g.agg(
        F.sum("n").cast("bigint").alias("raw_docs"),
        F.round(F.sum("tot"), 4).alias("raw_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("hard_docs"),
        F.round(F.sum("surv"), 4).alias("hard_tokens"),
        F.round(F.sum(F.col("surv") * (F.lit(1.0) + F.log("n"))), 4).alias("ca_tokens"),
    )
    return pol.selectExpr(
        "stack(3, 'count_aware', hard_docs, ca_tokens,"
        "         'hard', hard_docs, hard_tokens,"
        "         'raw', raw_docs, raw_tokens) AS (policy, eff_docs, eff_tokens)"
    ).orderBy("policy")


def corpus_snapshot_diff(old_docs: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots — the audit
    a managed training corpus runs on every release: per status (added /
    removed / changed / unchanged), doc and token counts. Takes the two
    REAL snapshots as (doc_id, text) frames and compares CONTENT: a
    full-outer join on doc_id with text inequality deciding 'changed'.
    (The registered query derives its synthetic old/new pair from the
    one documents fixture in the query wrapper — pipeline_ops.py — not
    here, so the operator diffs any two actual releases.)

    Scale shape: a snapshot diff is a big-big equi-join on a UNIQUE key,
    where the scalable plan is a shuffle HASH join (no sort is needed on
    a unique key — hinted explicitly so Spark does not fall back to
    sort-merge); one uniform-key shuffle, then a 4-row aggregate."""
    old = old_docs.select("doc_id", F.col("text").alias("old_text"))
    new = new_docs.select("doc_id", F.col("text").alias("new_text"))
    j = old.hint("shuffle_hash").join(new.hint("shuffle_hash"), "doc_id", "full_outer")
    status = (
        F.when(F.col("old_text").isNull(), "added")
        .when(F.col("new_text").isNull(), "removed")
        .when(F.col("old_text") != F.col("new_text"), "changed")
        .otherwise("unchanged")
    )
    toks = F.size(words_col(F.coalesce("new_text", "old_text"))).cast("bigint")
    return (
        j.select(status.alias("status"), toks.alias("t"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"), F.sum("t").alias("n_tokens"))
        .orderBy("status")
    )


def shingle_table(docs: DataFrame, ngram: int = 3) -> DataFrame:
    """(doc_id, n_sh, shingle) inverted index. n_sh (the doc's distinct-
    shingle count) rides along with every row so downstream Jaccard math
    needs NO extra sizes-aggregation join.

    Plan shape matters here (measured on the sf0.1 bench):
    - the words split and the shingle array are MATERIALIZED in separate
      projections before any higher-order lambda touches them. Spark
      evaluates higher-order functions interpreted (CodegenFallback) and
      re-evaluates inlined child expressions per array element — an
      inlined split re-tokenizes the doc O(words) times (O(words²) total
      work, single-threaded per row batch). Column references make each
      step O(words).
    - the doc text is repartitioned across the cluster BEFORE the
      explode: shuffling 1x of raw text to balance ~50x of downstream
      shingle compute is the right trade at every scale, and without it
      a small file count serializes the whole operator on a few tasks.
    - the shingle array is consumed by ONE Generate (explode) only; n_sh
      is recovered afterwards as a window count over the doc partition
      (already hash-partitioned by doc_id, so the window adds a sort but
      NO exchange). Referencing the array twice (size + explode in one
      projection) made Catalyst evaluate the interpreted
      array_distinct∘transform twice per row — measured 4.5x slower.
    """
    from yamon_spark.operators.text import shingles_col

    base = _spread(docs.select("doc_id", "text"), "doc_id")
    words = base.select("doc_id", words_col(F.col("text")).alias("w"))
    arr = F.array_distinct(shingles_col(F.col("w"), ngram))
    sh = words.select("doc_id", F.explode(arr).alias("shingle"))
    from pyspark.sql import Window

    n_sh = F.count(F.lit(1)).over(Window.partitionBy("doc_id")).cast("bigint")
    return sh.select("doc_id", n_sh.alias("n_sh"), "shingle")


def _pair_counts(sh: DataFrame, max_doc_freq: int | None = None) -> DataFrame:
    """(doc_a, doc_b, na, nb, n_inter) for every doc pair sharing >=1
    shingle, via posting-list pair expansion: group the inverted index by
    shingle into a sorted doc list, then explode the 2-combinations.

    This replaces the shingle self-join formulation: a self-join shuffles
    the full index TWICE and sort-merges quadratically inside each equal-
    shingle group; posting lists shuffle the index ONCE, generate exactly
    the same pairs in a codegen'd explode, and make the stop-shingle cap
    a free size filter. Shingles in one doc only contribute nothing and
    die in the size>=2 filter instead of rejoining everything.
    """
    posting = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("docs"))
        .where(F.size("docs") >= 2)
    )
    if max_doc_freq is not None:
        # stop-shingle cap: the knob that bounds hot-shingle blowup at 100 TB
        posting = posting.where(F.size("docs") <= max_doc_freq)
    # two-level explode: (anchor position, anchor) x partners after it —
    # distributes one hot shingle's quadratic pair set across rows
    lvl1 = posting.select("docs", F.posexplode("docs").alias("i", "a"))
    pairs = lvl1.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.n_sh").alias("na"),
        F.explode(F.slice("docs", F.col("i") + 2, F.size("docs"))).alias("b"),
    )
    return (
        pairs.select("doc_a", "na", F.col("b.doc_id").alias("doc_b"), F.col("b.n_sh").alias("nb"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def stop_shingle_cap_plan(
    docs: DataFrame, ngram: int = 3, caps: tuple[int, ...] = (8, 16, 32, 64, 128, 256, 512, 1024)
) -> DataFrame:
    """The operating table for choosing ``max_doc_freq``: per candidate
    cap, how many shingles it would stop and how much pair work
    (Σ df·(df−1)/2, the posting-list explode's exact output size) it
    drops vs keeps. Run on a sample before a corpus-wide near-dup pass:
    the right cap sits where pairs_dropped has exploded (boilerplate
    mass) while n_stop_shingles is still a sliver of the vocabulary.

    Plan shape: ONE df-histogram groupBy over the shingle table (same
    uniform keys as the posting list), a broadcast ×|caps| fan-out, and
    a |caps|-row partial agg — linear in corpus, no pair expansion at
    any cap."""
    spark = docs.sparkSession
    sh = shingle_table(docs, ngram)
    post = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    cap_df = spark.createDataFrame([(c,) for c in caps], "cap int")
    # integer `div`, not float `/`: double division loses exactness once
    # df·(df−1) exceeds 2^53 (df ≳ 9.5e7, plausible for boilerplate
    # shingles at 10B docs) and would diverge from the oracle's integer
    # `//`
    pair_work = F.expr("df * (df - 1) div 2")
    hot = F.col("df") > F.col("cap")
    return (
        post.crossJoin(F.broadcast(cap_df))
        .groupBy("cap")
        .agg(
            F.sum(F.when(hot, 1).otherwise(0)).cast("bigint").alias("n_stop_shingles"),
            F.sum(F.when(hot, pair_work).otherwise(0)).cast("bigint").alias("pairs_dropped"),
            F.sum(F.when(~hot & (F.col("df") >= 2), pair_work).otherwise(0))
            .cast("bigint")
            .alias("pairs_kept"),
        )
        .orderBy("cap")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, ngram: int = 3, threshold: float = 0.5, max_doc_freq="auto"
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jacc >= threshold).

    ``max_doc_freq``: drop shingles occurring in more than this many docs
    (stop-shingle cap — keeps the pair expansion bounded at 100 TB).
    Defaults to "auto" = DEFAULT_MAX_DOC_FREQ (inert at verification
    SFs, equality-pinned in tests/test_dedup_cap.py); pass None for
    uncapped semantics. With the cap active, n_sh denominators still
    count ALL shingles, so a boilerplate-heavy pair's jaccard is
    under-, never over-estimated.
    """
    inter = _pair_counts(shingle_table(docs, ngram), _resolve_cap(max_doc_freq))
    jacc = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


# universal-hash field size for MinHash permutations (2^31 - 1, prime)
MINHASH_P = 2147483647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine permutations
    sig_i = min((a_i * h + b_i) mod P). Derived arithmetically so the
    DuckDB oracle embeds the identical literals."""
    out = []
    for i in range(num_hashes):
        a = (2654435761 * (i + 1)) % MINHASH_P or 1
        b = (40503 * 65537 * (i + 1) + 12345) % MINHASH_P
        out.append((a, b))
    return out


def shingle_hash(shingle: Column) -> Column:
    """The one MinHash base hash: a shingle's first 8 md5 hex chars as a
    32-bit int, mod P (the batch and the per-row signatures share it)."""
    return F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long") % MINHASH_P


def band_key(band: int, band_size: int) -> Column:
    """The one LSH band key: md5 of band ``band``'s signature values
    (``sig_<i>`` columns) joined by "|" in seed order."""
    sigs = [F.col(f"sig_{band * band_size + j}").cast("string") for j in range(band_size)]
    return F.md5(F.concat_ws("|", *sigs))


def minhash_signatures(docs: DataFrame, ngram: int = 3, num_hashes: int = 16) -> DataFrame:
    """One row per doc with sig_0..sig_{k-1} MinHash columns (bigint).

    Each shingle is hashed ONCE (first 8 hex chars of md5 → 32-bit int,
    mod P); the k signatures are affine permutations (a_i*h + b_i) mod P
    folded in ONE partial-agg groupBy. k md5 calls per shingle were the
    dominant cost of the old scheme — one md5 + k multiply-adds is ~2x
    faster end-to-end, and min() over bigint beats min() over 32-char
    strings in both the agg buffer and the shuffle. h is materialized in
    its own projection so the k agg expressions share it instead of
    re-hashing.

    Deliberately does NOT ride shingle_table: no signature consumer
    (band keying, candidate explode, signature-equality estimation)
    needs the per-doc distinct-shingle count, and shingle_table's n_sh
    is a Window over the exploded shingle table — a full per-partition
    SORT of corpus x ~shingles rows that Catalyst cannot prune away
    because n_sh rides the groupBy keys (r13 plan capture: the Window +
    Sort sat in every minhash chain's signature stage). Building the
    bare (doc_id, shingle) explode here removes that sort from all four
    minhash-family queries; exact-Jaccard verifiers keep using
    shingle_table, where n_sh is genuinely consumed."""
    from yamon_spark.operators.text import shingles_col

    base = _spread(docs.select("doc_id", "text"), "doc_id")
    words = base.select("doc_id", words_col(F.col("text")).alias("w"))
    sh = words.select(
        "doc_id", F.explode(F.array_distinct(shingles_col(F.col("w"), ngram))).alias("shingle")
    )
    hashed = sh.select("doc_id", shingle_hash(F.col("shingle")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"sig_{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _band_rows(sigs: DataFrame, num_hashes: int, band_size: int) -> DataFrame:
    """(doc_id, band, band_key) rows: each doc unpivoted to its LSH band
    keys (md5 of the band's concatenated signature values in seed
    order) — the shared candidate-keying for corpus-wide pair search
    and incremental batch-vs-index probing."""
    n_bands = num_hashes // band_size
    keyed = sigs.select("doc_id", *[band_key(b, band_size).alias(f"bk_{b}") for b in range(n_bands)])
    return keyed.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"bk_{b}").alias("band_key")) for b in range(n_bands)])
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.band_key")


def _lsh_candidate_pairs(sigs: DataFrame, num_hashes: int, band_size: int) -> DataFrame:
    """(doc_a < doc_b) candidate pairs sharing at least one LSH band key.

    Candidates come from a posting-list expansion (groupBy band key →
    sorted doc list → 2-combination explode), NOT a self-join: a
    self-join of the derived band_rows plan made Spark compute the whole
    signature pipeline twice (no exchange reuse across the join sides —
    measured ~2x the stage time), and shuffled the band table twice.
    The groupBy computes signatures once and shuffles once."""
    band_rows = _band_rows(sigs, num_hashes, band_size)
    buckets = (
        band_rows.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .where(F.size("docs") >= 2)
    )
    # two-level explode of each bucket's 2-combinations (docs sorted, so
    # doc_a < doc_b by construction); distinct collapses pairs that agree
    # on multiple bands
    lvl1 = buckets.select("docs", F.posexplode("docs").alias("i", "doc_a"))
    return (
        lvl1.select("doc_a", F.explode(F.slice("docs", F.col("i") + 2, F.size("docs"))).alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    ngram: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
    max_broadcast_candidates: int = 2_000_000,
) -> DataFrame:
    """MinHash+LSH candidate generation with exact-Jaccard verification.

    bands = num_hashes / band_size; candidate pairs share at least one
    band key (md5 of the band's concatenated signature values in seed
    order); survivors have exact shingle-Jaccard >= threshold. The band
    bucket grouping is the 100 TB path: candidates are generated per
    bucket, never across the full corpus.

    Candidates come from a posting-list expansion (groupBy band key →
    sorted doc list → 2-combination explode), NOT a self-join: a
    self-join of the derived band_rows plan made Spark compute the whole
    signature pipeline twice (no exchange reuse across the join sides —
    measured ~2x the stage time), and shuffled the band table twice.
    The groupBy computes signatures once and shuffles once.
    """
    sigs = minhash_signatures(docs, ngram, num_hashes)
    cand = _lsh_candidate_pairs(sigs, num_hashes, band_size)
    # exact-Jaccard verification restricted to candidates: filter the RAW
    # docs to the candidate set BEFORE shingling, so the corpus is
    # tokenized once (for signatures), not twice; then expand pair counts
    # inside that slice only and keep LSH-candidate pairs.
    #
    # Broadcasting the candidate set is correct only while candidates are
    # far smaller than the corpus (sane banding keeps them so); with
    # degenerate banding or near-identical corpora the candidate set can
    # approach O(corpus), where a broadcast OOMs every executor. The set
    # is materialized once (persist + count — one scalar job, and the
    # persisted pairs feed both verification joins, so the signature
    # pipeline never re-runs) and the joins fall back to shuffle hash
    # joins above ``max_broadcast_candidates`` pairs. The cache stays
    # pinned for the returned plan's lifetime; Spark evicts it LRU.
    cand = cand.persist()
    small = cand.count() <= max_broadcast_candidates
    hint = F.broadcast if small else (lambda df: df)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = shingle_table(docs.join(hint(cand_docs), "doc_id"), ngram)
    inter = _pair_counts(sh_c).join(hint(cand), ["doc_a", "doc_b"])
    jacc = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def minhash_estimate_error(
    docs: DataFrame,
    ngram: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    max_broadcast_candidates: int = 2_000_000,
) -> DataFrame:
    """Accuracy gate for the MinHash sketch itself: over the LSH
    candidate pairs, compare the SKETCH-estimated Jaccard (fraction of
    equal signature components) against the exact shingle Jaccard, and
    report the error distribution — the measure-don't-guess gate the ANN
    shelf ships per index (sim_*_recall), applied to the dedup family's
    own estimator. A pipeline owner reads one row: how much does
    trusting 16 hashes instead of exact set intersection cost here?

    Output (1 row): n_pairs, mean_abs_err, max_abs_err. est_j = n/16 is
    an exact binary fraction; exact_j is one int/int IEEE division;
    band-collision pairs with NO shared shingle get exact_j = 0 via the
    left join (their estimate error is genuinely est_j - 0).

    Scale shape: signatures computed once (localCheckpoint — read by
    both the candidate explode and the two signature joins); candidates
    are bucket-bounded (never all-pairs); exact verification shingles
    only the candidate docs."""
    sigs = minhash_signatures(docs, ngram, num_hashes).localCheckpoint()
    # same degenerate-banding guard as minhash_lsh_pairs: candidates are
    # bucket-bounded under sane banding, but a near-identical corpus can
    # blow them toward O(corpus) — fall back to shuffle joins there.
    # NOTE: this count() is a BLOCKING driver action at build time — a
    # bounded, justified size probe (candidates are bucket-capped, and
    # the persisted result feeds every downstream join so nothing
    # recomputes), but callers composing this into a lazily-declared
    # multi-query session should know the candidate job runs eagerly
    # here, not at the returned frame's first action.
    cand = _lsh_candidate_pairs(sigs, num_hashes, band_size).persist()
    small = cand.count() <= max_broadcast_candidates
    hint = F.broadcast if small else (lambda df: df)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(num_hashes)]
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(num_hashes)]
    )
    eq = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(num_hashes)
    )
    est = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", (eq.cast("double") / num_hashes).alias("est_j"))
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = shingle_table(docs.join(hint(cand_docs), "doc_id"), ngram)
    inter = _pair_counts(sh_c)
    jacc = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    exact = inter.select("doc_a", "doc_b", jacc.alias("exact_j"))
    joined = est.join(exact, ["doc_a", "doc_b"], "left").select(
        F.abs(F.col("est_j") - F.coalesce(F.col("exact_j"), F.lit(0.0))).alias("abs_err")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg("abs_err"), 4).alias("mean_abs_err"),
        F.round(F.max("abs_err"), 4).alias("max_abs_err"),
    )


def _simhash_words(bits: int) -> list[tuple[str, range]]:
    """(column, bit positions) of each BIGINT word of a ``bits``-wide
    fingerprint: bits 0-31 in the first word, 32-63 in the second. Bit j
    of a word spanning positions ``span`` weighs 2^(span[-1] - j), most
    significant bit first. One word is named ``simhash``; two are
    ``sim_hi`` and ``sim_lo`` — two because bit 0's weight 2^63 would
    overflow a signed BIGINT in both engines, and the split keeps every
    value exact."""
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash width must be 1..64 bits, got {bits}")
    spans = [range(k, min(k + 32, bits)) for k in range(0, bits, 32)]
    names = ["simhash"] if len(spans) == 1 else ["sim_hi", "sim_lo"]
    return list(zip(names, spans))


def simhash(docs: DataFrame, bits: int = 16, ordered: bool = True) -> DataFrame:
    """Per-doc SimHash fingerprint from distinct word unigrams, 1 to 64
    bits wide, packed into BIGINT words by :func:`_simhash_words` —
    ``(doc_id, simhash)`` up to 32 bits, ``(doc_id, sim_hi, sim_lo)``
    above (64 bits is the Manku et al. 2007 production operating point,
    where the fingerprint space cannot saturate at any corpus size).

    Bit j of a word's hash = bit (3 - j%4) of hex nibble j//4 of
    md5(word); fingerprint bit j = 1 iff the majority of words set bit j.
    Arithmetic-only hex decoding keeps the oracle byte-identical.

    ``ordered=False`` skips the output orderBy for internal consumers
    (the Hamming pair expansion) whose joins/groupBys would only throw
    the global sort away.
    """
    words = _simhash_words(bits)
    w = F.array_distinct(words_col(F.col("text")))
    base = _spread(docs.select("doc_id", "text"), "doc_id")
    exploded = base.select("doc_id", F.explode(w).alias("word")).withColumn("h", F.md5("word"))
    # decode the digest in 8-hex-char (32-bit) words ONCE — one conv per
    # word-half instead of a per-nibble instr/substring probe (r13: 16
    # string ops per word -> ceil(bits/32) conv calls; bit extraction is
    # then a codegen'd shiftright+mask). Bit j of half k=j//32 sits at
    # position 31 - (j % 32) of conv(chars 8k+1..8k+8): nibble n = hex
    # char n+1 contributes nib_n * 16^(7 - n%8), so bit (3 - j%4) of
    # nib j//4 lands at 4*(7 - (j//4)%8) + (3 - j%4) = 31 - j%32 —
    # identical bits, identical votes, identical fingerprints.
    halves = [
        F.conv(F.substring("h", 8 * k + 1, 8), 16, 10).cast("bigint").alias(f"hf{k}")
        for k in range(len(words))
    ]
    decoded = exploded.select("doc_id", *halves)
    # per-bit vote/fingerprint expressions built as SQL strings (r14):
    # identical expressions to the Column-API form (same literals, same
    # coercions — plan-normalized diff empty), but ONE py4j round trip
    # per expression instead of ~6 per bit x 64 bits of driver<->JVM
    # socket latency (the overhead decomposition's build cost)
    bit_sums = [
        F.expr(f"sum((shiftright(hf{j // 32}, {31 - (j % 32)}) & 1) * 2 - 1)").alias(f"b{j}")
        for j in range(bits)
    ]
    votes = decoded.groupBy("doc_id").agg(*bit_sums)
    packed = [
        F.expr(
            " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << (span[-1] - j)} ELSE 0 END)" for j in span)
        )
        .cast("bigint")
        .alias(name)
        for name, span in words
    ]
    out = votes.select("doc_id", *packed)
    return out.orderBy("doc_id") if ordered else out


def dedup_incremental(
    docs: DataFrame,
    batch_mod: int = 10,
    batch_rem: int = 9,
    ngram: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """Ingest-time dedup verdict for an incoming batch against the
    EXISTING corpus — the incremental path a production pipeline runs
    per landed batch instead of re-deduping 100 TB from scratch. Docs
    where doc_id % batch_mod == batch_rem are the delta (the batch-
    membership predicate; in deployment it's simply the new files);
    everything else is the index. Each delta doc gets:

      verdict 'exact'  — content sha256 already present in the index
                         (matched_id = lowest matching index doc);
      verdict 'near'   — not exact, but >=1 MinHash LSH band key
                         collides with an index doc (matched_id =
                         lowest colliding index doc);
      verdict 'unique' — no index collision. n_bands_hit counts the
                         delta doc's band buckets containing index docs.

    Duplicates WITHIN the batch are out of scope by design (the
    corpus-wide exact/LSH passes own those); this op answers only "is
    this new doc already in the corpus".

    100 TB shape: signatures are computed in ONE pass over the union
    and split by the predicate (in deployment the index side is the
    PERSISTED signature/digest table appended per batch — never
    recomputed); both probes are plain hash joins on uniformly
    distributed keys (sha256 digest / md5 band key) against index sides
    pre-aggregated to min-doc-per-key, so no broadcast grows with the
    corpus and no pair space is materialized — per-batch cost is
    O(batch + colliding buckets)."""
    is_batch = (F.col("doc_id") % batch_mod) == batch_rem
    digest = F.sha2(F.col("text").cast("binary"), 256).alias("digest")
    hashed = docs.select("doc_id", digest)
    idx_digest = (
        hashed.where(~is_batch).groupBy("digest").agg(F.min("doc_id").alias("exact_id"))
    )
    exact = hashed.where(is_batch).join(idx_digest, "digest", "left").select("doc_id", "exact_id")

    sigs = minhash_signatures(docs, ngram, num_hashes)
    band_rows = _band_rows(sigs, num_hashes, band_size)
    idx_b = (
        band_rows.where(~is_batch)
        .groupBy("band", "band_key")
        .agg(F.min("doc_id").alias("idx_min"))
    )
    hits = (
        band_rows.where(is_batch)
        .join(idx_b, ["band", "band_key"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bands_hit"),
            F.min("idx_min").alias("near_id"),
        )
    )
    return (
        exact.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
            .when(F.col("near_id").isNotNull(), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            F.coalesce("exact_id", "near_id").alias("matched_id"),
            F.coalesce("n_bands_hit", F.lit(0)).cast("bigint").alias("n_bands_hit"),
        )
        .orderBy("doc_id")
    )


def simhash_hamming_pairs(docs: DataFrame, bits: int = 32, max_hamming: int = 2) -> DataFrame:
    """SimHash near-dup PAIRS: every doc pair whose fingerprints are
    within max_hamming bits (Manku et al. 2007 web-dedup shape — SimHash
    fingerprints, then Hamming-ball matching). Completes the SimHash
    story the way LSH banding completes MinHash's: `simhash` emits the
    fingerprints, this finds the neighbors. 32 bits / Hamming<=2 is the
    honest operating point for this corpus: at 16 bits the space is so
    coarse that ~30% of ALL pairs land within 3 bits (measured 3.85M
    pairs at sf0.1) — matches become vocabulary noise, not duplication.
    At 64 bits the space never saturates, so the distinct-fingerprint
    count is the corpus size.

    Scale shape — the naive plans both fail at 100 TB (all-pairs is
    quadratic; short band-buckets are corpus/2^4-sized, so bucket combos
    are quadratic too). Instead candidates come from the
    DISTINCT-fingerprint table: each distinct fp expands to its
    C(bits,1..max_hamming) XOR-mask neighbors (528 masks at 32/2, 2,080
    at 64/2) and hash-joins back against the distinct table on every
    word — |distinct fps| x masks rows, linear in the
    distinct-fingerprint count with a small constant (and capped by
    2^bits absolutely); the final doc-level fan-out is bounded by true
    duplication structure (same bound every dedup op has). Hamming is
    integer-exact (the sum of bit_count of each word's XOR) — no
    rounding contract needed."""
    from functools import reduce
    from itertools import combinations

    words = _simhash_words(bits)
    cols = [name for name, _ in words]
    fa = [f"fa{k}" for k in range(len(words))]
    fb = [f"fb{k}" for k in range(len(words))]
    # combinatorial mask generation — NOT a 2^bits scan (range(2^32) at
    # call time is a 4-billion-iteration hang). Each mask is one XOR
    # pattern over the whole fingerprint read as a bits-wide number
    # (sim_hi above sim_lo), carried as the two's-complement BIGINT of
    # its 64-bit value; a shift and an AND cut out each word's part. A
    # nested array<array<bigint>> of per-word masks was measured
    # 0.4-2.7 s slower to BUILD at 64 bits: the analyzer walks 2,080
    # CreateArray children before constant folding.
    masks = [
        sum(1 << i for i in pos)
        for r in range(1, max_hamming + 1)
        for pos in combinations(range(bits), r)
    ]
    # one array<bigint> Literal node, not a CreateArray child per mask
    # (plan-size guard), built in one py4j round trip (r14 — see _fastlit)
    mask_lit = lit_array([m - (1 << 64) if m >> 63 else m for m in masks], "array<bigint>")
    word_masks = [
        F.expr(f"shiftrightunsigned(m, {bits - 1 - span[-1]}) & {(1 << len(span)) - 1}")
        for _, span in words
    ]

    # The fingerprint subtree feeds FOUR consumers below (distinct fps,
    # the existence probe, both doc-id attach sides); without a
    # materialization barrier each copy re-ran the whole explode + md5 +
    # per-bit vote aggregation (r13 plan capture: four inlined copies of
    # the fps chain, no ReusedExchange — the vote groupBy rides the
    # _spread partitioning and plans shuffle-free, so there is no
    # exchange to reuse). Eager localCheckpoint materializes the tiny
    # (doc_id, fingerprint) table ONCE — the minhash_estimate_error
    # `sigs` idiom; |docs| x ~12 bytes at any scale. A repartition() to
    # force exchange reuse instead was probed and REJECTED: the planner
    # never emitted a ReusedExchange (+2 Exchanges, no sharing) and an
    # interleaved fresh-JVM A/B at sf0.1 measured it 1.37x SLOWER
    # (6.30 s vs 4.59 s). ordered=False: the consumers throw any order
    # away, so simhash()'s output orderBy would be a dead Sort in the
    # checkpoint job.
    fps = simhash(docs, bits, ordered=False).localCheckpoint()
    d = fps.select(*[F.col(c).alias(a) for c, a in zip(cols, fa)]).distinct()
    # neighbor expansion over the DISTINCT fp table; a lexicographic
    # fb > fa over the words halves the space and fixes pair direction
    # at the fp level
    after = F.col(fb[-1]) > F.col(fa[-1])
    for x, y in reversed(list(zip(fa, fb))[:-1]):
        after = (F.col(y) > F.col(x)) | ((F.col(y) == F.col(x)) & after)
    xors = [F.col(x).bitwiseXOR(m).alias(y) for x, y, m in zip(fa, fb, word_masks)]
    nb = d.select(*fa, F.explode(mask_lit).alias("m")).select(*fa, *xors).where(after)
    fpp = nb.join(d.select(*[F.col(a).alias(b) for a, b in zip(fa, fb)]), fb)  # neighbors that exist
    a = fps.select(F.col("doc_id").alias("ida"), *[F.col(c).alias(x) for c, x in zip(cols, fa)])
    b = fps.select(F.col("doc_id").alias("idb"), *[F.col(c).alias(x) for c, x in zip(cols, fb)])
    hamming = reduce(
        lambda x, y: x + y, [F.bit_count(F.col(x).bitwiseXOR(F.col(y))) for x, y in zip(fa, fb)]
    )
    cross = (
        fpp.join(a, fa)
        .join(b, fb)
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
    )
    # hamming-0 pairs: docs sharing a fingerprint — posting-list combos,
    # bounded by real dup-group sizes (the exact-dedup bound)
    groups = (
        fps.groupBy(*cols)
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .where(F.size("docs") >= 2)
    )
    lvl1 = groups.select("docs", F.posexplode("docs").alias("i", "doc_a"))
    same = lvl1.select(
        "doc_a",
        F.explode(F.slice("docs", F.col("i") + 2, F.size("docs"))).alias("doc_b"),
    ).select("doc_a", "doc_b", F.lit(0).cast("int").alias("hamming"))
    return cross.unionByName(same).orderBy("doc_a", "doc_b")


def substring_dup_stats(docs: DataFrame, k: int = 64, stride: int = 16) -> DataFrame:
    """Cross-document repeated-substring detection — the exact-substring
    dedup signal ("Deduplicating Training Data Makes Language Models
    Better" Lee et al. 2022, suffix-array formulation) restated for a
    shared-nothing engine: hash k-char windows sampled every `stride`
    chars, find windows occurring in more than one document, and report
    per-doc repeated-window coverage (the decision input for span
    trimming / doc dropping).

    Scale shape: window explode is bounded to len/stride rows per doc;
    all aggregations are hash-uniform (md5 keys) — no suffix array, no
    global sort, no skew. One explode, one pass (r13, the
    boilerplate_report recipe): the r12 shape re-ran the explode+md5
    subtree THREE times (the repeated-set build, the semi-join left
    side, and the per-doc window count) and shuffled raw occurrences
    twice. Instead occurrences fold to per-(doc, window) multiplicities
    once, each window's doc frequency attaches as a COUNT WINDOW over
    that pair table (distinct by construction, so rows-per-window IS
    countDistinct(doc)), and one per-doc partial agg emits both the
    total and the repeated coverage. Identical counts. Hot-key caveat
    (ADVICE r13): a window present in most documents lands its whole
    pair-row group on one WindowExec task (bounded at ≤ |docs| small
    rows per key — see boilerplate_report's note for the scale
    threshold and the groupBy+broadcast fallback). A production pass
    would follow with span-merge trimming per doc (map-only)."""
    from pyspark.sql import Window

    base = _spread(docs.select("doc_id", "text"), "doc_id")
    n = F.length("text")
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)), F.lit(stride))
    wins = F.transform(idx, lambda i: F.md5(F.col("text").substr(i, F.lit(k))))
    w = base.select("doc_id", F.explode(wins).alias("h"))
    cnt = w.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    flagged = cnt.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_windows"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_repeated"),
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_repeated",
        F.round(F.col("n_repeated").cast("double") / F.col("n_windows"), 4).alias(
            "rep_frac"
        ),
    ).orderBy("doc_id")


def ngram_containment_pairs(
    docs: DataFrame, ngram: int = 3, threshold: float = 0.7, max_doc_freq="auto"
) -> DataFrame:
    """Asymmetric near-dup: n-gram containment |A ∩ B| / min(|A|, |B|)
    (doc_a < doc_b, containment >= threshold). Catches the pair Jaccard
    structurally misses — a short document wholly embedded in a long one
    (boilerplate inclusion, quote-expansion, page-wrapping), where the
    union term dilutes Jaccard below any usable threshold.

    Same single-shuffle posting-list plan as ngram_jaccard_pairs (the
    inverted index and pair expansion are shared code); only the final
    score expression differs, so the 100 TB bounds are identical —
    candidate space capped by max_doc_freq ("auto" = the shared
    DEFAULT_MAX_DOC_FREQ, inert at verification SFs), never all-pairs."""
    inter = _pair_counts(shingle_table(docs, ngram), _resolve_cap(max_doc_freq))
    cont = F.col("n_inter").cast("double") / F.least("na", "nb")
    return (
        inter.select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
        .where(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def dedup_threshold_sweep(
    embeddings, thresholds=None, block_col: str = "label", target_block: int | None = None
):
    """Operating-point selection for SEMANTIC dedup — the
    quality_threshold_sweep idea applied to the cosine near-dup gate:
    for each candidate threshold, how many near-dup pairs fire and how
    many docs the greedy drop-higher-id policy would remove (the
    deterministic, SQL-expressible removal rule; CC-based survivor
    picking refines it later, never removes fewer). The table a
    pipeline owner reads before committing a dedup threshold to a
    100 TB corpus — too low silently deletes topical clusters, too high
    keeps paraphrase floods.

    ONE blocked-matmul pair pass at the LOWEST threshold feeds every
    row: per-threshold pair counts are conditional sums, and
    distinct-removed counts collapse to a per-vec_b MAX-cos
    pre-aggregate first ("removed at t" = max over the doc's pairs
    >= t), so no DISTINCT aggregate exists in the plan — N distinct
    aggregates would EXPAND the pair frame N-fold through a shuffle,
    measured 49.7x wall at 30x data vs 7.6x for the identical pair
    kernel alone; the max-cos rewrite removes the blowup. Stacked to
    |thresholds| rows with a 1-row corpus-total broadcast for the
    removed fraction.

    100 TB form: scale-safe BY DEFAULT since r10 — the label-blocked
    path inherits embedding_near_dup_pairs' corpus-size-scaled
    sub-bucketing (avg block held ~512 at any corpus size; zero planes
    fire below the floor, so the registered fixture query and its
    oracle stay exact at every verification SF). Pass target_block here
    to bucket via the corpus-size-scaled LSH instead when no block
    column exists at all (embedding_near_dup_lsh's auto planes)."""
    from pyspark.sql import functions as F

    from yamon_spark.operators.similarity import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    ts = sorted(thresholds or [i / 10.0 for i in range(3, 10)])
    if target_block:
        pairs = embedding_near_dup_lsh(embeddings, threshold=ts[0], target_block=target_block)
    else:
        pairs = embedding_near_dup_pairs(embeddings, threshold=ts[0], block_col=block_col)
    # per-doc roll-up: each candidate-removal doc carries its pair count
    # and max similarity; every per-threshold statistic derives from it
    per_b = pairs.groupBy("vec_b").agg(
        *[F.sum((F.col("cos_sim") >= F.lit(t)).cast("long")).alias(f"c{i}") for i, t in enumerate(ts)],
        F.max("cos_sim").alias("mx"),
    )
    row = per_b.agg(
        *[
            a
            for i, t in enumerate(ts)
            for a in (
                F.sum(f"c{i}").alias(f"np{i}"),
                F.sum((F.col("mx") >= F.lit(t)).cast("long")).alias(f"nr{i}"),
            )
        ]
    )
    stack = "stack({n}, {cells}) AS (threshold, n_pairs, n_removed)".format(
        n=len(ts),
        cells=", ".join(f"{t!r}D, coalesce(np{i}, 0L), coalesce(nr{i}, 0L)" for i, t in enumerate(ts)),
    )
    total = embeddings.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return (
        row.selectExpr(stack)
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_removed").cast("bigint").alias("n_removed"),
            F.round(F.col("n_removed") / F.col("n_docs"), 4).alias("removed_frac"),
        )
        .orderBy("threshold")
    )


def dedup_cluster_sizes(docs: DataFrame) -> DataFrame:
    """Duplicate-cluster size distribution from exact (md5-digest)
    dedup: one row per observed cluster size with the number of
    clusters and docs at that size — the "how duplicated is this crawl"
    headline table (size 1 = unique docs; the heavy tail is what exact
    dedup reclaims). Two partial-agg groupBys (digest → size,
    size → histogram), both map-side combined; no row ever carries more
    than a digest and a count, so the shape holds at 100 TB."""
    sizes = docs.groupBy(F.md5("text").alias("digest")).agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def lsh_band_tuning(
    docs: DataFrame, ngram: int = 3, num_hashes: int = 12, band_sizes: tuple[int, ...] = (2, 3, 4, 6)
) -> DataFrame:
    """LSH operating-point table: for each (bands b, rows r) split of
    ONE shared MinHash signature (b·r = num_hashes), the measured
    bucket collisions — buckets with ≥2 docs and the candidate checks
    Σ C(bucket,2) they imply — next to the analytic S-curve threshold
    s* = (1/b)^(1/r). The table read before committing a banding to a
    100 TB dedup run: small r catches low similarities but explodes
    candidate checks; this shows the actual explosion on the actual
    corpus instead of the textbook curve alone.

    Plan: signatures once (the minhash_signatures kernel), then every
    config's band keys emit from ONE projection (per doc: Σ b keys
    across configs) into ONE groupBy (band_size, band, key) — one
    corpus scan, one shuffle, per-config rows reduce to a 4-row
    report. Candidate checks are counted per bucket (the work a
    verifier would do), never materialized as pairs."""
    sigs = minhash_signatures(docs, ngram, num_hashes)
    entries = []
    for r in band_sizes:
        n_bands = num_hashes // r
        for b in range(n_bands):
            key = band_key(b, r).alias("band_key")
            entries.append(F.struct(F.lit(r).alias("band_size"), F.lit(b).alias("band"), key))
    rows = sigs.select(F.explode(F.array(*entries)).alias("e")).select("e.band_size", "e.band", "e.band_key")
    buckets = rows.groupBy("band_size", "band", "band_key").agg(F.count(F.lit(1)).alias("n"))
    thr = {r: round((1.0 / (num_hashes // r)) ** (1.0 / r), 4) for r in band_sizes}
    thr_expr = F.create_map(*[F.lit(x) for r in band_sizes for x in (r, thr[r])])
    return (
        buckets.groupBy("band_size")
        .agg(
            F.sum((F.col("n") >= 2).cast("long")).cast("bigint").alias("buckets_ge2"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("bigint").alias("candidate_checks"),
        )
        .select(
            (F.lit(num_hashes) / F.col("band_size")).cast("int").alias("n_bands"),
            F.col("band_size").cast("int").alias("band_size"),
            thr_expr[F.col("band_size")].alias("est_threshold"),
            "buckets_ge2",
            "candidate_checks",
        )
        .orderBy("band_size")
    )


def source_dup_matrix(docs: DataFrame, ngram: int = 3, threshold: float = 0.5) -> DataFrame:
    """Cross-source near-duplicate matrix: for every unordered source
    pair, how many near-dup doc pairs (exact n-gram Jaccard >= threshold)
    span it, and at what mean similarity — the "which crawls mirror each
    other" report that decides whether a new source is worth its ingest
    budget or is a rehost of one already held. The diagonal (src_a ==
    src_b) measures intra-source duplication.

    Scale shape: the expensive part is the pair generation, which reuses
    the posting-list kernel (``ngram_jaccard_pairs``) unchanged; the pair
    set is near-dup-rate-sized (<< corpus), so the two doc_id->source
    hash joins and the |sources|^2-bounded groupBy shuffle only pairs and
    a 2-column corpus projection.
    """
    pairs = ngram_jaccard_pairs(docs, ngram=ngram, threshold=threshold)
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")), "doc_a"
        ).join(src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")), "doc_b")
    )
    return (
        j.select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "jaccard",
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            # tie-proof mean of 4dp-rounded jaccards: pair jaccards are
            # exact 4dp values, so their mean can land EXACTLY on a 4dp
            # half-tie (sf0.1 hits four: e.g. (0.9492+0.9493)/2) where
            # double round() is engine-dependent. Sum the 1e4-scaled
            # values as exact integers and round half-up in integer
            # arithmetic: floor((2*S + k) / (2k)) / 1e4 — both engines
            # compute the identical integer, no float tie exists.
            F.sum(F.round(F.col("jaccard") * 10000, 0).cast("bigint")).alias("_s"),
        )
        .select(
            "src_a",
            "src_b",
            "n_pairs",
            (
                F.expr("(2 * _s + n_pairs) DIV (2 * n_pairs)").cast("double") / 10000.0
            ).alias("avg_jaccard"),
        )
        .orderBy(F.col("n_pairs").desc(), "src_a", "src_b")
    )
