"""Text-analysis operators for training-data pipelines over `documents`:
tokenization, quality scoring, language ID, token counting, fingerprints.

All pure JVM-side built-ins (split/filter/transform/regexp) — no Python
UDFs — so they whole-stage-codegen and scale linearly with input splits:
at 100 TB these are embarrassingly parallel scan-transform jobs with zero
shuffle (per-document outputs).

Tokenization contract (shared with the DuckDB oracles): words =
regexp-split of trimmed text on whitespace runs.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "in")

# language marker words checked in this order; ties resolve to the earlier
# entry (deterministic CASE chain on both engines)
LANG_MARKERS = (("en", "the"), ("es", "la"), ("de", "der"), ("fr", "le"), ("zh", "的"))

# BPE-ish lexer: letter runs | single digits | single non-alnum symbols
TOKEN_PATTERN = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def words_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


class WordFeatures(NamedTuple):
    n_words: Column  # bigint
    avg_word_len: Column  # double, unrounded
    stop_ratio: Column  # double, unrounded
    n_stop: Column  # int, stopword occurrences


def word_features(w: Column) -> WordFeatures:
    """The document-quality features of a words array — the one
    definition text_stats, the curation rule gate, the Gopher rules and
    the quality heads all read. The ratios divide by the bigint word
    count, which the engine widens to double: the same bits as a
    double count, so the heads' ln(n_words) inputs match too."""
    n_words = F.size(w).cast("bigint")
    n_stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    return WordFeatures(
        n_words,
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")) / n_words,
        n_stop.cast("double") / n_words,
        n_stop,
    )


def shingles_col(w: Column, ngram: int) -> Column:
    """Word n-gram shingles with the shared tail contract (FIXTURES.md):
    indices run 1..max(len-n+1, 1), so docs shorter than n yield ONE
    short shingle. The single source of truth — curation and dedup both
    import this so the contract cannot desynchronize between the
    exact-Jaccard index and the contamination shingles."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(w) - (ngram - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, ngram)))


def text_stats(docs: DataFrame) -> DataFrame:
    """Quality-scoring features: char/word counts, avg word length,
    punctuation ratio, stopword ratio, and a composite quality score."""
    # split once into a materialized column; the HOFs below run
    # interpreted and would otherwise each re-split the text
    base = docs.select("doc_id", "text", words_col(F.col("text")).alias("w"))
    f = word_features(F.col("w"))
    n_words = f.n_words
    n_chars = F.length("text").cast("bigint")
    n_punct = F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).cast("bigint")
    avg_word_len = F.round(f.avg_word_len, 4)
    stop_ratio = F.round(f.stop_ratio, 4)
    # empty document -> NULL ratio (not a crash: ANSI division by zero
    # aborts the whole job on a single zero-length text); n_words is >= 1
    # by construction (split of "" yields [""]), so only n_chars needs the
    # guard. quality inherits the NULL.
    punct_ratio = F.when(n_chars > 0, F.round(n_punct.cast("double") / n_chars, 4))
    # simple quality heuristic: long enough, low punct, some stopwords
    quality = F.round(
        F.least(n_words.cast("double") / 100.0, F.lit(1.0)) * (1.0 - punct_ratio) * (0.5 + stop_ratio),
        4,
    )
    return base.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        avg_word_len.alias("avg_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    ).orderBy("doc_id")


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram-heuristic language ID: count marker-word hits per language,
    argmax with deterministic tie-break (marker order)."""
    base = docs.select("doc_id", "lang", words_col(F.col("text")).alias("w"))
    w = F.col("w")

    def count_word(marker: str) -> Column:
        # factory keeps a proper closure: a 2-arg lambda would be treated
        # by pyspark as the (element, index) form
        return F.size(F.filter(w, lambda x: x == F.lit(marker))).cast("bigint")

    counts = {lang: count_word(marker) for lang, marker in LANG_MARKERS}
    # explicit CASE chain, identical on both engines; earlier langs win ties
    c = counts
    pred = (
        F.when((c["en"] >= c["es"]) & (c["en"] >= c["de"]) & (c["en"] >= c["fr"]) & (c["en"] >= c["zh"]), "en")
        .when((c["es"] >= c["de"]) & (c["es"] >= c["fr"]) & (c["es"] >= c["zh"]), "es")
        .when((c["de"] >= c["fr"]) & (c["de"] >= c["zh"]), "de")
        .when(c["fr"] >= c["zh"], "fr")
        .otherwise("zh")
    )
    return base.select(
        "doc_id",
        *[counts[lang].alias(f"n_{lang}") for lang, _ in LANG_MARKERS],
        pred.alias("pred_lang"),
        "lang",
    ).orderBy("doc_id")


def token_count(docs: DataFrame) -> DataFrame:
    """Tokenizer-style token counting with a BPE-ish regex lexer."""
    return docs.select(
        "doc_id",
        F.regexp_count(F.lower("text"), F.lit(TOKEN_PATTERN)).cast("bigint").alias("n_tokens"),
        F.size(words_col(F.col("text"))).cast("bigint").alias("n_words"),
    ).orderBy("doc_id")


def winnow_fingerprints(docs: DataFrame, ngram: int = 4, window: int = 4) -> DataFrame:
    """Winnowing (MOSS-style) fingerprint sets: hash every word n-gram,
    slide a w-hash window, keep each window's min hash, emit the
    distinct selected hashes. Guarantees any shared run of
    ngram+window-1 words between two docs shares a fingerprint —
    the partial-overlap detector doc_fingerprint's single global min
    can't provide. Per-doc array ops, shuffle-free; md5-hex ordering is
    engine-independent so the oracle reproduces selections exactly."""
    base = docs.select("doc_id", words_col(F.col("text")).alias("w"))
    idx = F.sequence(F.lit(1), F.greatest(F.size("w") - (ngram - 1), F.lit(1)))
    shingles = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, ngram)))
    hashed = base.select("doc_id", F.transform(shingles, F.md5).alias("h"))
    widx = F.sequence(F.lit(1), F.greatest(F.size("h") - (window - 1), F.lit(1)))
    mins = F.transform(widx, lambda i: F.array_min(F.slice(F.col("h"), i, window)))
    fps = F.array_distinct(mins)
    return (
        hashed.select("doc_id", F.explode(fps).alias("fingerprint"))
        .orderBy("doc_id", "fingerprint")
    )


def doc_fingerprint(docs: DataFrame, ngram: int = 4) -> DataFrame:
    """Document fingerprinting: hash every word n-gram (rolling across the
    doc), keep the min hash as the fingerprint (winnowing-style) plus the
    distinct-shingle count. Hashes are md5 hex strings so the total order
    is engine-independent."""
    # materialize the words array before the lambda touches it: inlining
    # the split into the (interpreted) transform re-tokenizes the doc per
    # element — O(words²); a column reference keeps it O(words). Then
    # explode + md5 in a codegen'd projection + one partial-agg groupBy.
    from yamon_spark.operators.dedup import _spread

    base = _spread(docs.select("doc_id", "text"), "doc_id")
    words = base.select("doc_id", words_col(F.col("text")).alias("w"))
    idx = F.sequence(F.lit(1), F.greatest(F.size("w") - (ngram - 1), F.lit(1)))
    shingles = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, ngram)))
    exploded = words.select("doc_id", F.explode(shingles).alias("sh")).withColumn("h", F.md5("sh"))
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.min("h").alias("fingerprint"),
            F.countDistinct("h").cast("bigint").alias("n_shingles"),
        )
        .orderBy("doc_id")
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/boilerplate signal (low entropy = repeated characters /
    padding, high = encrypted or binary junk) used alongside the Gopher
    quality rules. H = -sum_c p_c·log2(p_c) over the document's chars.

    Scale shape: pure per-doc JVM array ops, shuffle-free. Per-char
    counts come from run lengths over the SORTED char array — O(n log n)
    per doc, not the O(distinct × n) a naive per-char filter costs in
    interpreted HOFs (measured 4× on the sf0.1 bench; same cliff family
    as operators/similarity.py pq_encode). Run order = sorted-char order
    on both engines, so the float fold is deterministic and the count
    values/order match the oracle's distinct-char form bit-for-bit.
    Arrays materialize as columns before dependent HOFs touch them."""
    base = docs.select(
        "doc_id",
        F.array_sort(F.split(F.col("text"), "")).alias("s"),
    ).select("doc_id", "s", F.size("s").cast("double").alias("n"))
    # run starts: positions where the sorted array changes value
    # (greatest(i-1, 1) keeps element_at in-bounds at i=1; that compare
    # is s[1] != s[1] = false, and the i=1 disjunct includes it anyway)
    starts = F.filter(
        F.sequence(F.lit(1), F.size("s")),
        lambda i: (i == F.lit(1))
        | (F.element_at(F.col("s"), i) != F.element_at(F.col("s"), F.greatest(i - 1, F.lit(1)))),
    )
    mat = base.select("doc_id", "n", starts.alias("st"))
    # run lengths = deltas between consecutive starts (+ end sentinel)
    bnd = F.concat(F.col("st"), F.array((F.col("n") + 1).cast("int")))
    cnt = F.zip_with(
        F.slice(bnd, F.lit(1), F.size("st")),
        F.slice(bnd, F.lit(2), F.size("st")),
        lambda a, b: (b - a).cast("double"),
    )
    mat = mat.select("doc_id", "n", cnt.alias("cnt"))
    h = -F.aggregate(
        F.transform(F.col("cnt"), lambda c: (c / F.col("n")) * F.log2(c / F.col("n"))),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return mat.select(
        "doc_id",
        F.when(F.col("n") == 0, F.lit(0.0)).otherwise(F.round(h, 4)).alias("char_entropy"),
    ).orderBy("doc_id")


def bm25_scores(
    docs: DataFrame, terms: list[str], k1: float = 1.2, b: float = 0.75
) -> DataFrame:
    """BM25 ranked retrieval over the documents corpus for a fixed term
    set — the scoring layer the reference's log-search surface
    (res/schema.sql:93-98 ORDER BY + bloom indexes) implies once search
    results need ranking, and a standard training-data retrieval tool
    (benchmark decontamination lookups, nearest-corpus queries).

    Scale shape: per-doc term frequencies are pure codegen'd array ops
    (no explode, no shuffle); corpus statistics (N, avgdl, per-term doc
    freq) reduce to ONE aggregate row that broadcasts back, so the whole
    plan costs a single partial-agg reduction regardless of corpus size.
    Tokenization is lowercase + non-alphanumeric split, chosen to be
    expressible identically in SQL engines (DuckDB oracle parity);
    query terms pass through the SAME normalization, so "Spark!" matches
    token "spark" instead of silently scoring tf=0."""
    terms = [t2 for t in terms for t2 in re.split(r"[^a-z0-9]+", t.lower()) if t2]
    if not terms:
        raise ValueError("bm25_scores requires at least one non-empty term")
    w = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    base = docs.select("doc_id", w.alias("w")).withColumn(
        "dl", F.size("w").cast("double")
    )
    def tf_col(term: str):
        # single-arg lambda: a 2-arg lambda would be read as (elem, index)
        return F.size(F.filter(F.col("w"), lambda x: x == F.lit(term)))

    for i, t in enumerate(terms):
        base = base.withColumn(f"tf{i}", tf_col(t).cast("double"))
    base = base.drop("w")

    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("double")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    def part(i: int):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
        norm = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        return F.when(tf > 0, idf * tf * (k1 + 1.0) / norm).otherwise(F.lit(0.0))

    score = part(0)
    for i in range(1, len(terms)):
        score = score + part(i)
    tf_cols = [F.col(f"tf{i}") for i in range(len(terms))]
    hit = (F.greatest(*tf_cols) if len(tf_cols) > 1 else tf_cols[0]) > 0
    return scored.where(hit).select("doc_id", score.alias("bm25"))


def zipf_slope(docs: DataFrame) -> DataFrame:
    """Zipf-law fit over the corpus unigram frequency table: OLS slope of
    ln(freq) against ln(rank) (rank = frequency order, ties broken by
    token). Natural text sits near -1; a corpus drifting toward 0 is
    boilerplate-heavy, drifting much below -1 is vocabulary-starved — a
    one-row health gauge for a training mix.

    Scale shape: one partial-agg wordcount shuffle builds the frequency
    table (|vocab| rows, orders of magnitude smaller than the corpus).
    The rank is then derived WITHOUT any global sort: ln(cnt) is constant
    within a frequency tie group, so the OLS slope is invariant to tie
    order and each group's ranks are just base+1..base+n, where base is
    the cumulative size of all higher-frequency groups. The cumsum runs
    over the frequency HISTOGRAM — |distinct cnt| rows, O(sqrt(total
    tokens)) by the classic bound — and is itself two-level so NO
    unpartitioned window exists anywhere in the plan: within-bucket
    exclusive cumsum partitioned by floor(log2(cnt)) (monotone with the
    rank order, <= 64 buckets), plus per-bucket bases from a <= 64-row
    broadcast self-join. Rank values are regenerated in bounded 64k
    chunks (repartitioned so the hapax group's chunks spread across
    tasks) and folded straight into the closed-form slope aggregate — no
    per-document state, no driver materialization, no single-partition
    sort of the vocabulary (the old whole-vocab row_number)."""
    words = docs.select(F.explode(words_col(F.lower(F.col("text")))).alias("w"))
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    hist = freq.groupBy("cnt").agg(F.count(F.lit(1)).alias("n"))
    hist = hist.withColumn("bkt", F.floor(F.log2(F.col("cnt"))))
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.col("cnt").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = hist.withColumn("in_base", F.coalesce(F.sum("n").over(w_in), F.lit(0)))
    btot = hist.groupBy("bkt").agg(F.sum("n").alias("bn"))
    bkt_base = (
        btot.alias("a")
        .join(F.broadcast(btot.alias("b")), F.col("b.bkt") > F.col("a.bkt"), "left")
        .groupBy(F.col("a.bkt").alias("bkt"))
        .agg(F.coalesce(F.sum("b.bn"), F.lit(0)).alias("bkt_base"))
    )
    hist = hist.join(F.broadcast(bkt_base), "bkt").withColumn(
        "base", F.col("bkt_base") + F.col("in_base")
    )
    chunk = 65536
    chunks = hist.select(
        "cnt",
        "base",
        "n",
        F.explode(F.sequence(F.lit(0), ((F.col("n") - 1) / chunk).cast("long"))).alias("ci"),
    ).repartition(F.col("cnt"), F.col("ci"))
    ranks = chunks.select(
        "cnt",
        F.explode(
            F.sequence(
                F.col("base") + F.col("ci") * chunk + 1,
                F.least(F.col("base") + (F.col("ci") + 1) * chunk, F.col("base") + F.col("n")),
            )
        ).alias("rank"),
    )
    xy = ranks.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    return xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(F.covar_pop("x", "y") / F.var_pop("x"), 4).alias("zipf_slope"),
    )


def bpe_pair_counts(docs: DataFrame, top_n: int = 50) -> DataFrame:
    """The inner statistic of BPE tokenizer training: corpus-weighted
    adjacent character-pair counts (the quantity the first merge rule
    maximizes). Emits the top_n pairs by weighted count.

    Scale shape: the corpus collapses to its distinct-word frequency
    table FIRST (one partial-agg shuffle to |vocab| rows), then pairs
    explode over vocab rows weighted by word count — pair generation
    cost is O(|vocab| * word_len), independent of corpus size. Top-n is
    TakeOrderedAndProject. This is exactly how production BPE trainers
    scale (they iterate word-frequency dicts, not raw text)."""
    words = docs.select(F.explode(words_col(F.lower(F.col("text")))).alias("w"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = (
        wc.where(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair"),
            F.col("cnt"),
        )
        .groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("n"))
    )
    return pairs.orderBy(F.col("n").desc(), F.col("pair")).limit(top_n)


def chunk_windows(docs: DataFrame, size: int = 64, stride: int = 48) -> DataFrame:
    """Sliding token-window chunking — the pretokenization pass that turns
    variable-length documents into fixed-size training windows with
    overlap (size - stride tokens of context carry across boundaries).

    Output: (doc_id, chunk_idx, n_tok, chunk_hash) — one row per window,
    chunk_hash = first 8 hex of md5 of the space-rejoined window (stable
    content id for window-level dedup downstream).

    Scale shape: split once, one Generate (posexplode) per doc, no
    shuffle at all — chunking is embarrassingly parallel and this plan
    keeps it that way; output order is imposed only at the end."""
    words = docs.select("doc_id", words_col(F.col("text")).alias("w"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("w"), F.lit(1)), F.lit(stride))
    chunks = F.transform(starts, lambda s: F.slice(F.col("w"), s, size))
    ex = words.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size("chunk").cast("bigint").alias("n_tok"),
        F.substring(F.md5(F.concat_ws(" ", "chunk")), 1, 8).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


# reserved merge marker for bpe_merge_step: a codepoint the tokenizer's
# [a-z0-9 ] corpus can never contain, so a merged pair stays one symbol
BPE_MERGE_MARKER = "Ƶ"  # 'Ƶ'


def bpe_merge_step(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """One iteration of BPE training past the pair-count statistic: take
    the corpus-weighted top adjacent character pair (bpe_pair_counts
    rank 1), apply the merge to every distinct word (left-to-right
    non-overlapping replace, merged pair -> one reserved marker symbol),
    and recount adjacent pairs over the merged symbol sequences. The
    re-ranked table is exactly the candidate list the NEXT merge would
    choose from — demonstrating the iterative loop's step as a bounded
    two-shuffle pass (word-frequency groupBy + pair groupBy).

    Scale shape: the top-1 merge is a 1-row broadcast; the replace is
    map-side over the distinct-word table (vocabulary-sized, not
    corpus-sized — the same compression bpe_pair_counts exploits)."""
    def pair_counts(wc: DataFrame) -> DataFrame:
        return (
            wc.where(F.length("w") >= 2)
            .select(
                F.explode(
                    F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
                ).alias("pair"),
                F.col("cnt"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("n"))
        )

    words = docs.select(F.explode(words_col(F.lower(F.col("text")))).alias("w"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    top = (
        pair_counts(wc)
        .orderBy(F.col("n").desc(), "pair")
        .limit(1)
        .select(F.col("pair").alias("top_pair"))
    )
    merged = wc.crossJoin(F.broadcast(top)).select(
        F.replace(F.col("w"), F.col("top_pair"), F.lit(BPE_MERGE_MARKER)).alias("w"), "cnt"
    )
    return pair_counts(merged).orderBy(F.col("n").desc(), "pair").limit(top_n)


# distinct merge markers for bpe_apply — one per merge rank, all outside
# any real corpus alphabet so a merged pair stays one atomic symbol
BPE_APPLY_MARKERS = "ǄǅǆǇǈǉǊǋ"


# Session-scoped BPE memo: bpe_apply and tokenizer_fertility share the
# exact same n_merges learning chain over the same corpus; within one
# SparkSession the chain runs once and the second query reuses its
# artifacts. Key discipline and sweep: operators/_memo.py (the GD memo
# recipe). Stored value = (persisted distinct-word vocab frame, learned
# merge list — plain Python strings). Recompute-safe by construction:
# the vocab is persist()ed (worst case a re-scan), the merges live in
# the driver — NO localCheckpoint survives into the memo (the r12
# eviction hazard that kept this memo out of r13; an evicted persist
# block recomputes, an evicted localCheckpoint block errors).
_BPE_MEMO: dict[tuple, tuple] = {}


def _bpe_vocab_merges(docs: DataFrame, n_merges: int):
    """(persisted (w, cnt) distinct-word frame over lowered words,
    learned merge pairs [<= n_merges strings]) — the shared BPE learning
    core of bpe_apply and tokenizer_fertility.

    Each learning round recounts pairs over the vocabulary with all
    previous merges applied (map-side literal replaces over the
    PERSISTED vocab — the replay is O(round) string replaces per word,
    cheaper than materializing each round's table) and collects the
    top-1 pair to the driver (one bounded TakeOrdered job per round —
    the GD chain's collect-the-artifact shape). A round with no
    mergeable pair ends learning: every later round would recount the
    same unmergeable vocabulary and stay a no-op (replaces only shrink
    words; once no length>=2 word exists none reappears)."""
    from yamon_spark.operators._memo import plan_data_key, sweep_dead_sessions

    key = plan_data_key(docs, int(n_merges))
    sweep_dead_sessions(_BPE_MEMO)
    if key is not None and key in _BPE_MEMO:
        return _BPE_MEMO[key]
    vocab = (
        docs.select(F.explode(words_col(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    merges: list[str] = []
    for i in range(n_merges):
        cur = vocab.select(_bpe_replay(F.col("w"), merges).alias("w"), "cnt")
        top = (
            cur.where(F.length("w") >= 2)
            .select(
                F.explode(
                    F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
                ).alias("pair"),
                F.col("cnt"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        merges.append(top[0]["pair"])
    if key is None:
        # nothing will reuse an unmemoized vocab: release its blocks (the
        # caller's plan recomputes it from lineage) instead of leaking them
        vocab.unpersist()
    else:
        _BPE_MEMO[key] = (vocab, merges)
    return vocab, merges


def _bpe_replay(w: Column, merges: list[str]) -> Column:
    """Apply the learned merge list in order as literal replaces —
    merge i rewrites its pair to BPE_APPLY_MARKERS[i], exactly the
    per-round replace of the learning loop."""
    for i, pair in enumerate(merges):
        w = F.replace(w, F.lit(pair), F.lit(BPE_APPLY_MARKERS[i]))
    return w


def bpe_apply(docs: DataFrame, n_merges: int = 6) -> DataFrame:
    """Tokenize the corpus with a LEARNED merge table: run n_merges true
    BPE training iterations (each round recounts pairs over the already-
    merged vocabulary and applies the new top pair — the real iterative
    algorithm, not a one-shot top-k), then encode every document and
    report its unit counts before/after. This is the apply half
    bpe_pair_counts/bpe_merge_step lead up to: the pass that actually
    writes tokenized training data.

    Output: (doc_id, n_words, n_units_char, n_units_bpe) — exact
    integers (character units before merging vs BPE units after), the
    compression the merge table buys on each doc.

    Scale shape: every round is vocabulary-sized, not corpus-sized (the
    corpus collapses to its distinct-word frequency table once, persisted
    and memoized per session — see _bpe_vocab_merges); each round's top-1
    merge is a bounded 1-row collect and the replays are map-side literal
    replaces. r13 shape (7 localCheckpoints + 6 per-round broadcast
    joins) replaced in r14: the learned pairs become driver-side
    literals, so the final vocab map is ONE map-side projection over the
    persisted vocab with no checkpoint chain, and tokenizer_fertility
    (same corpus, same session) skips the learning entirely. The final
    doc encoding is one join of the exploded words against the
    |vocab|-row merge map (hash join on uniform word keys), then a
    per-doc partial agg. Learning executes at BUILD time (the bounded
    per-round collects — the mmr_topk eager-build precedent)."""
    if n_merges > len(BPE_APPLY_MARKERS):
        raise ValueError(f"n_merges must be <= {len(BPE_APPLY_MARKERS)}")

    vocab, merges = _bpe_vocab_merges(docs, n_merges)
    words = docs.select("doc_id", F.explode(words_col(F.lower(F.col("text")))).alias("w"))
    vocab_map = vocab.select(
        F.col("w").alias("orig"),
        F.length(_bpe_replay(F.col("w"), merges)).cast("bigint").alias("n_tok"),
    )
    return (
        words.join(vocab_map, words.w == vocab_map.orig)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length(words.w)).cast("bigint").alias("n_units_char"),
            F.sum("n_tok").cast("bigint").alias("n_units_bpe"),
        )
        .orderBy("doc_id")
    )


def chunk_dup_groups(docs: DataFrame, size: int = 64, stride: int = 48) -> DataFrame:
    """Cross-document shared training windows: chunk every doc
    (chunk_windows) and group by window content hash, keeping hashes that
    appear in >= 2 DISTINCT documents — substring duplication at window
    granularity, the unit that actually matters for train-set leakage
    (a memorized 64-token span, not a whole-doc match).

    Scale shape: chunking is shuffle-free; the one shuffle is the
    groupBy on chunk_hash (uniform md5 keys — no skew by construction);
    groups are bounded by true duplication, not corpus size."""
    ch = chunk_windows(docs, size, stride)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy("chunk_hash")
    )


VOCAB_GROWTH_FRACS = [0.1, 0.25, 0.5, 1.0]


def vocab_growth(docs: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct-word count and token
    count over nested corpus prefixes (docs with doc_id <= frac *
    max_doc_id) — the statistic that sizes a tokenizer vocabulary and
    predicts how much new data keeps paying off.

    Scale shape: ONE pass builds word -> first_doc (min doc_id per word,
    a partial-agg groupBy to |vocab| rows); each frac is then a flag
    over vocab rows (explode by |fracs|), so the curve costs one corpus
    scan regardless of how many points it has. Counts are exact
    integers — no rounding contract needed."""
    fracs = F.array(*[F.lit(f) for f in VOCAB_GROWTH_FRACS])
    mx = docs.agg(F.max("doc_id").alias("max_id"))
    words = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("word"))
    minw = words.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    cutoff = F.floor(F.col("frac") * F.col("max_id")).cast("bigint")
    v = (
        minw.select("first_doc", F.explode(fracs).alias("frac"))
        .crossJoin(F.broadcast(mx))
        .groupBy("frac")
        .agg(
            F.max(cutoff).alias("cutoff"),
            F.sum((F.col("first_doc") <= cutoff).cast("long")).alias("vocab_size"),
        )
    )
    tc = docs.select("doc_id", F.size(words_col(F.col("text"))).cast("long").alias("n"))
    tk = (
        tc.select("doc_id", "n", F.explode(fracs).alias("frac"))
        .crossJoin(F.broadcast(mx))
        .groupBy("frac")
        .agg(F.sum(F.when(F.col("doc_id") <= cutoff, F.col("n")).otherwise(F.lit(0))).alias("n_tokens"))
    )
    return v.join(tk, "frac").select("frac", "cutoff", "vocab_size", "n_tokens").orderBy("frac")


def tfidf_pairs(
    docs: DataFrame, df_max: int = 100, threshold: float = 0.15, idf_scale: int = 1000
) -> DataFrame:
    """Sparse TF-IDF cosine similarity between document pairs via an
    inverted index — the lexical near-duplicate/related-document measure
    that BM25 (point queries) and MinHash (set overlap) don't give:
    weighted bag-of-words similarity with hot-term suppression.

    Scale shape (the same posting-list pair expansion as dedup_jaccard,
    which replaced the word self-join that shuffles the index twice and
    sort-merges quadratically inside each equal-word group): one groupBy
    folds the index into per-word posting lists; terms with df >
    ``df_max`` (stop-like, the quadratic posting lists) or df < 2 (can't
    form a pair) die as a free size filter BEFORE any pair is generated;
    a codegen'd two-level explode then emits exactly the candidate
    pairs, bounded by sum over kept terms of df^2 with df <= ``df_max``.
    idf falls out of the posting length itself — no separate df table or
    word-keyed join. Corpus size enters as ONE broadcast count row; the
    final norm attach is a doc-keyed equi-join against a |docs|-row
    aggregate (broadcast at bench scale, shuffled-hash on uniform keys
    at corpus scale).

    Determinism: idf is quantized to an integer (round(ln(N/df) *
    ``idf_scale``)), making weights, dot products, and squared norms
    integer-EXACT regardless of summation order; the only float ops are
    the final division/sqrt on exact integers — identical on any IEEE
    engine (FIXTURES.md shared-fragment rule)."""
    words = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    posting = (
        tf.groupBy("w")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "tf"))).alias("docs"))
        .where((F.size("docs") >= 2) & (F.size("docs") <= df_max))
        .crossJoin(F.broadcast(n))
    )
    idf_q = F.round(F.log(F.col("n_docs") / F.size("docs")) * idf_scale).cast("long")
    wdocs = posting.select(
        F.transform(
            "docs",
            lambda d: F.struct(
                d["doc_id"].alias("doc_id"), (d["tf"] * idf_q).alias("wt")
            ),
        ).alias("docs")
    )
    flat = wdocs.select(F.explode("docs").alias("d")).select(
        F.col("d.doc_id").alias("doc_id"), F.col("d.wt").alias("wt")
    )
    norms = flat.groupBy("doc_id").agg(F.sum(F.col("wt") * F.col("wt")).alias("n2"))
    # two-level explode: (anchor position, anchor) x partners after it
    # (posting lists are doc_id-sorted, so doc_a < doc_b by construction)
    lvl1 = wdocs.select("docs", F.posexplode("docs").alias("i", "a"))
    pairs = lvl1.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.wt").alias("wa"),
        F.explode(F.slice("docs", F.col("i") + 2, F.size("docs"))).alias("b"),
    )
    dots = (
        pairs.select("doc_a", "wa", F.col("b.doc_id").alias("doc_b"), F.col("b.wt").alias("wb"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    return (
        dots.join(norms.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(norms.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot")
                / F.sqrt(F.col("na.n2").cast("double") * F.col("nb.n2").cast("double")),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy(F.desc("cosine"), "doc_a", "doc_b")
    )


def ngram_novelty(docs: DataFrame, ngram: int = 8) -> DataFrame:
    """Per-document novelty: the fraction of its distinct word 8-grams
    whose FIRST corpus occurrence (lowest doc_id) is this document — the
    redundancy curve that says whether newly ingested data still adds
    unseen content (complement of vocab_growth, at memorization-relevant
    n-gram granularity rather than unigrams).

    Scale shape: shingles hash to uniform md5 keys; first-owner is one
    partial-agg groupBy to |distinct shingles| rows; the novel count is
    a |docs|-row aggregate joined on doc_id — no posting-list join back
    to the corpus. Per-doc totals are MAP-ONLY (r13): the shingle array
    is already array_distinct'd, so n_shingles = size(array) straight
    off the scan — the r12 shape re-ran the whole explode + md5 chain
    and shuffled corpus x shingles rows a second time just to count
    rows per doc (r13 plan: 10 -> 7 Exchanges, one Generate instead of
    two). Novelty is one int/int IEEE division (unrounded per the
    determinism contract).

    Per-task shape (the shingle_table recipe, r13): text repartitioned
    before the explode so a small input file count never serializes the
    fan-out; the words array materialized in its own projection so the
    interpreted shingles_col lambda references a COLUMN, not an inlined
    re-tokenizing split (the measured 4.5x shingle_table hazard)."""
    from yamon_spark.operators.dedup import _spread

    base = _spread(docs.select("doc_id", "text"), "doc_id")
    words = base.select("doc_id", words_col(F.col("text")).alias("w"))
    arr = F.array_distinct(shingles_col(F.col("w"), ngram))
    sh = words.select("doc_id", F.explode(arr).alias("g")).select(
        "doc_id", F.md5("g").alias("g")
    )
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel")
    )
    # map-only totals: no repartition on this branch (it feeds a
    # doc_id-keyed join, not a fan-out) — just the words projection
    wt = docs.select("doc_id", words_col(F.col("text")).alias("w"))
    tot = wt.select("doc_id", F.size(arr).cast("bigint").alias("n_shingles"))
    return (
        tot.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias("n_novel"),
            (
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_shingles")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


def _cms_bucket(col, i: int, width: int):
    """Portable md5-hex bucket for CMS row i — identical strings,
    identical buckets cross-engine (the split_bucket_col idiom)."""
    return (
        F.conv(F.substring(F.md5(F.concat(col, F.lit(f":{i}"))), 1, 8), 16, 10).cast("bigint")
        % width
    )


def _cms_rows(width: int, depth: int):
    return F.array(
        *[
            F.struct(F.lit(i).alias("i"), _cms_bucket(F.col("w"), i, width).alias("b"))
            for i in range(depth)
        ]
    )


def cms_counters(docs: DataFrame, width: int = 64, depth: int = 4) -> DataFrame:
    """The count-min counter table (i, b, c) over the corpus word
    stream: depth x width exact-integer cells, one depth-expanded scan
    with map-side combine. Works unchanged on a STREAMING docs frame —
    explode + groupBy count is a streaming aggregation whose state is
    bounded at depth x width rows by construction, which is what makes
    the live twin (streaming/sketch.py) trivial."""
    w = docs.select(F.explode(words_col(F.col("text"))).alias("w"))
    return (
        w.select(F.explode(_cms_rows(width, depth)).alias("s"))
        .groupBy(F.col("s.i").alias("i"), F.col("s.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def count_min_sketch(
    docs: DataFrame, width: int = 64, depth: int = 4, top_n: int = 50
) -> DataFrame:
    """Count-min sketch over the corpus word stream — the mergeable
    point-frequency sketch that pairs with the HLL distinct sketch
    (q66): depth x width integer counters built in ONE pass, point
    estimates by min-over-rows, with the classic one-sided guarantee
    est >= exact (collisions only ever ADD). Emits the top_n words by
    exact count alongside their sketch estimate and overcount — the
    sketch-vs-truth audit every approximate counter ships with here
    (the recall-gate pattern applied to frequency sketching).

    Determinism: bucket = first-8-hex of md5(word || ':' || row) mod
    width (the repo's portable hash idiom — identical strings, identical
    buckets cross-engine); all counters are exact integers.

    Scale shape: the counter build is a depth-expanded word scan into a
    groupBy of AT MOST depth x width cells (map-side combine does
    almost all the work — the sketch IS the partial aggregate); the
    bounded counter table broadcasts back for the estimate join. At
    100 TB the sketch is the thing you CAN afford to keep per
    source/day when exact per-word counts are not."""
    w = docs.select(F.explode(words_col(F.col("text"))).alias("w"))
    rows = _cms_rows(width, depth)
    cms = cms_counters(docs, width=width, depth=depth)
    top = (
        w.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "w")
        .limit(top_n)
    )
    q = top.select("w", "exact_n", F.explode(rows).alias("s")).select(
        "w", "exact_n", F.col("s.i").alias("i"), F.col("s.b").alias("b")
    )
    return (
        q.join(F.broadcast(cms), ["i", "b"])
        .groupBy("w", "exact_n")
        .agg(F.min("c").alias("est_n"))
        .select(
            F.col("w").alias("word"),
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.col("exact_n").desc(), "word")
    )


def mattr(docs: DataFrame, window: int = 25) -> DataFrame:
    """Moving-average type-token ratio (Covington & McFall's MATTR) —
    the length-robust lexical-diversity score corpus analysis uses where
    plain TTR is confounded by doc length: mean over all `window`-word
    sliding windows of (distinct words in window) / window. Templated or
    looping text scores low at ANY length; short docs (< window words)
    fall back to plain TTR and flag windowed=0 so downstream thresholds
    can treat them separately.

    Determinism: per-window distinct counts are INTEGERS, so the mean is
    Σd_i / (window·k) — computed entirely in integer arithmetic with an
    explicit half-up at 4dp: floor((2·Σd·10⁴ + D) / (2D)) / 10⁴. A
    double fold-then-round was 1 ulp apart between engines on sf0.1's
    exact half-ties (doc 1977's mean lands on .xxxx5; caught by the r13
    sf0.1 oracle sweep) because window/25 ratios aren't binary-exact.
    Shuffle-free per-doc array math, O(n·window) per doc."""
    t = docs.select("doc_id", words_col(F.col("text")).alias("w"))
    n = F.size("w")
    # integer DIV throughout (double division would re-introduce the
    # exactness loss this formulation removes)
    windowed_score = (
        F.expr(
            f"(2 * aggregate(transform(sequence(1, size(w) - {window} + 1),"
            f"                         i -> cast(size(array_distinct(slice(w, i, {window}))) as bigint)),"
            f"               cast(0 as bigint), (a, x) -> a + x) * 10000"
            f" + {window} * cast(size(w) - {window} + 1 as bigint))"
            f" DIV (2 * {window} * cast(size(w) - {window} + 1 as bigint))"
        ).cast("double")
        / 10000.0
    )
    ttr = (
        F.expr(
            "(2 * cast(size(array_distinct(w)) as bigint) * 10000"
            " + cast(size(w) as bigint)) DIV (2 * cast(size(w) as bigint))"
        ).cast("double")
        / 10000.0
    )
    return t.select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        F.when(n >= window, windowed_score).otherwise(ttr).alias("mattr"),
        (n >= window).cast("int").alias("windowed"),
    ).orderBy("doc_id")


def doc_length_survival(docs: DataFrame, cuts: tuple[int, ...] = (64, 128, 256, 512, 1024, 2048, 4096)) -> DataFrame:
    """Context-length operating table: for each candidate sequence cut,
    how many docs a max-length truncation would clip and what fraction
    of the corpus's tokens it would discard — the table read before
    committing a max_seq_len / packing size to a 100 TB training run
    (too short silently deletes the long-document tail; too long wastes
    pad/packing budget).

    ONE scan feeds every row: per-cut doc and token losses are
    conditional sums over the same whitespace token count, stacked to
    |cuts| rows with the corpus totals carried in the same 1-row agg —
    the quality_threshold_sweep shape, no per-cut rescans, no shuffle
    beyond the single-row agg. Fractions round 4dp."""
    n = F.size(words_col(F.col("text"))).cast("long")
    cuts = tuple(sorted(cuts))
    row = docs.select(n.alias("n")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("n_tokens"),
        *[
            a
            for i, c in enumerate(cuts)
            for a in (
                F.sum((F.col("n") > c).cast("long")).alias(f"d{i}"),
                F.sum(F.greatest(F.col("n") - c, F.lit(0))).alias(f"t{i}"),
            )
        ],
    )
    stack = "stack({n}, {cells}) AS (cut, n_docs_truncated, tokens_lost)".format(
        n=len(cuts),
        cells=", ".join(f"{c}L, d{i}, t{i}" for i, c in enumerate(cuts)),
    )
    return (
        row.select(F.expr(stack), "n_docs", "n_tokens")
        .select(
            "cut",
            F.col("n_docs_truncated").cast("bigint").alias("n_docs_truncated"),
            F.round(F.col("n_docs_truncated") / F.col("n_docs"), 4).alias("frac_docs_truncated"),
            F.col("tokens_lost").cast("bigint").alias("tokens_lost"),
            F.round(F.col("tokens_lost") / F.col("n_tokens"), 4).alias("frac_tokens_lost"),
        )
        .orderBy("cut")
    )


def boilerplate_report(docs: DataFrame, seg_words: int = 8, min_docs: int = 2) -> DataFrame:
    """Per-document boilerplate fraction via cross-document segment
    frequency — the CCNet/RefinedWeb repeated-paragraph filter adapted to
    the fixture's newline-free text: the unit is the NON-OVERLAPPING
    ``seg_words``-word segment (a paragraph stand-in with a deterministic
    boundary both engines can compute). A segment is boilerplate when it
    occurs in >= ``min_docs`` DISTINCT documents (navigation chrome,
    license banners, template footers); each document reports how much of
    it is made of such segments. Complements dedup: near-dup finds pairs
    of mostly-identical docs, this finds the shared scaffolding inside
    otherwise-distinct docs.

    Scale shape: segments hash to uniform md5 keys; occurrences fold to
    per-(doc, segment) multiplicities map-side, and per-doc totals are
    one |docs|-row aggregate. Hot-key caveat (ADVICE r13): the per-seg
    doc frequency is a COUNT WINDOW over the pair table, so a segment
    present in MOST documents puts all its (doc, seg) rows in one
    WindowExec group — that group buffers (and can spill) on a single
    task, a skew profile the pre-r13 groupBy+join shape spread with
    map-side partials. Acceptable because the window input is the
    DEDUPLICATED pair table (≤ |docs| rows per segment, ~16 bytes each
    — a full-corpus boilerplate segment at 10B docs is ~160 GB spilled
    on one task, so for corpora at that scale with near-universal
    chrome, switch the frequency attach back to groupBy(seg).count() +
    broadcast/merge join). Docs shorter than one segment are excluded
    (they have no unit to score, and keeping them would divide by
    zero).

    Relation to the stop-shingle cap: this operator never expands pairs,
    so a hot segment costs one groupBy row — no cap needed HERE. But its
    output is exactly the evidence that the posting-list pair kernel
    (dedup_jaccard / dedup_source_matrix) needs capping on this corpus:
    a high boilerplate fraction means hot shingles, and dedup_cap_plan
    (operators/dedup.py stop_shingle_cap_plan) is the operating table
    for choosing that kernel's max_doc_freq before a corpus-wide pass.
    """
    from yamon_spark.operators.dedup import _spread

    base = _spread(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", words_col(F.col("text")).alias("w")
    )
    base = base.where(F.size("w") >= seg_words)
    nseg = F.floor(F.size("w") / seg_words).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda j: F.concat_ws(" ", F.slice(F.col("w"), j * seg_words + 1, seg_words)),
    )
    seg = base.select("doc_id", F.explode(segs).alias("s")).select(
        "doc_id", F.md5("s").alias("seg")
    )
    # ONE explode, one pass (r13, guide §2.3/§2.4): the r12 shape ran the
    # whole explode+md5 subtree TWICE (once to build the doc-frequency
    # table, once as the left side of the flag join) and shuffled raw
    # segment occurrences twice more through distinct + join. Instead:
    # fold occurrences to per-(doc, segment) multiplicities (one shuffle
    # on the uniform pair key), attach each segment's doc frequency as a
    # COUNT WINDOW over the pair table (n_docs per seg = rows per seg,
    # since the pair table is distinct by construction — no join, no
    # second subtree), and partial-agg per doc. Exchanges 5 -> 3, one
    # Generate instead of two; identical counts.
    cnt = seg.groupBy("doc_id", "seg").agg(F.count(F.lit(1)).alias("c"))
    flagged = cnt.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("seg"))
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_segments"),
        F.sum(F.when(F.col("n_docs") >= min_docs, F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_boiler"),
    )
    return per_doc.select(
        "doc_id",
        "n_segments",
        "n_boiler",
        (F.col("n_boiler").cast("double") / F.col("n_segments")).alias("boiler_frac"),
    ).orderBy("doc_id")
