"""Batch-three training-data operators: semantics on crafted micro-data.

Oracle parity runs in test_oracle.py via the registry; these pin the
behaviors an oracle diff can't see (the bit layout of the sign sketch,
Hamming's identity/complement extremes, hard negatives never sharing the
query's label, chunk overlap arithmetic, containment catching a strict
substring that Jaccard misses, the BPE merge actually collapsing the top
pair into one symbol).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yamon_spark.operators.dedup import ngram_containment_pairs, ngram_jaccard_pairs
from yamon_spark.operators.similarity import (
    binary_sketch,
    hamming_topk,
    hard_negative_mining,
)
from yamon_spark.operators.text import BPE_MERGE_MARKER, bpe_merge_step, chunk_windows

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)], DOC_SCHEMA
    )


def _embs(spark, rows):
    return spark.createDataFrame(rows, EMB_SCHEMA)


def _vec(signs):
    # 64-dim vector from a short sign prefix (rest -1 -> bit clear)
    out = [-1.0] * 64
    for i, s in enumerate(signs):
        out[i] = float(s)
    return out


def test_binary_sketch_bit_layout(spark):
    # dim 1 -> lo bit 0, dim 33 -> hi bit 0, dim 64 -> hi bit 31
    emb = [-1.0] * 64
    emb[0] = 1.0
    emb[32] = 1.0
    emb[63] = 1.0
    row = binary_sketch(_embs(spark, [(0, emb, 0)])).collect()[0]
    assert row.lo == 1
    assert row.hi == 1 | (1 << 31)


def test_binary_sketch_zero_is_not_positive(spark):
    row = binary_sketch(_embs(spark, [(0, [0.0] * 64, 0)])).collect()[0]
    assert (row.lo, row.hi) == (0, 0)


def test_hamming_identity_and_complement(spark):
    a = _vec([1] * 8)
    rows = hamming_topk(
        _embs(spark, [(0, a, 0), (1, a, 0), (2, [-x for x in a], 0)]), 0, k=2
    ).collect()
    got = {r.vec_id: r.hamming for r in rows}
    assert got[1] == 0  # identical signs
    assert got[2] == 64  # negation flips every sign bit


def test_hard_negatives_exclude_query_label(spark):
    rows = [(0, _vec([1, 1, 1]), 7)] + [
        (i, _vec([1, 1, 1]), 7 if i % 2 else 3) for i in range(1, 9)
    ]
    out = hard_negative_mining(_embs(spark, rows), query_mod=97, k=3).collect()
    assert out, "query 0 must yield negatives"
    assert all(r.q_id == 0 for r in out)
    # only label!=7 candidates (even ids) may appear
    assert all(r.vec_id % 2 == 0 for r in out)


def test_chunk_windows_overlap_arithmetic(spark):
    # 100 tokens, size 64 stride 48 -> starts 1, 49, 97: sizes 64, 52, 4
    docs = _docs(spark, [(" ".join(f"t{i}" for i in range(100)), "s")])
    rows = chunk_windows(docs, size=64, stride=48).collect()
    assert [(r.chunk_idx, r.n_tok) for r in rows] == [(0, 64), (1, 52), (2, 4)]
    # overlap: chunk 1 starts at token 49 (0-based 48), inside chunk 0
    assert len({r.chunk_hash for r in rows}) == 3


def test_chunk_windows_short_doc_single_chunk(spark):
    rows = chunk_windows(_docs(spark, [("a b c", "s")]), size=64, stride=48).collect()
    assert [(r.chunk_idx, r.n_tok) for r in rows] == [(0, 3)]


def test_containment_catches_substring_jaccard_misses(spark):
    short = "x1 x2 x3 x4 x5"
    long = short + " " + " ".join(f"y{i}" for i in range(40))
    docs = _docs(spark, [(short, "s"), (long, "s")])
    cont = ngram_containment_pairs(docs, ngram=3, threshold=0.7).collect()
    assert [(r.doc_a, r.doc_b) for r in cont] == [(0, 1)]
    assert cont[0].containment == 1.0  # every 3-gram of the short doc is in the long
    jacc = ngram_jaccard_pairs(docs, ngram=3, threshold=0.5).collect()
    assert jacc == []  # union-diluted below threshold


def test_bpe_merge_collapses_top_pair(spark):
    # 'ab' dominates; after the merge no 'ab' pair survives and marker
    # pairs appear instead
    docs = _docs(spark, [("abab abab abab abc", "s")])
    merged = {r.pair: r.n for r in bpe_merge_step(docs, top_n=50).collect()}
    assert "ab" not in merged
    marker_pairs = [p for p in merged if BPE_MERGE_MARKER in p]
    assert marker_pairs, "merged symbol must participate in new pairs"
    # 'abab' -> [Ƶ, Ƶ] contributes the ƵƵ pair 3 times
    assert merged[BPE_MERGE_MARKER * 2] == 3


def test_cascade_equals_exact_when_shortlist_covers_all(spark):
    # with shortlist >= corpus, tier 2 IS brute force -> recall 1.0
    from yamon_spark.operators.similarity import cascade_recall

    rows = [(i, _vec([1 if (i >> b) & 1 else -1 for b in range(6)]), 0) for i in range(20)]
    r = cascade_recall(_embs(spark, rows), query_vec_id=0, k=5, shortlist=100).collect()[0]
    assert r.recall_at_10 == 1.0


def test_cascade_rerank_orders_by_cosine_not_hamming(spark):
    from yamon_spark.operators.similarity import cascade_topk

    # vec 1: same signs as query but tiny magnitudes on dims 1-3 -> hamming 0
    # vec 2: one sign flipped but otherwise identical -> hamming 1, higher cosine
    q = _vec([1, 1, 1, 1])
    v1 = [0.01] * 4 + [-1.0] * 60
    v2 = _vec([1, 1, 1, -1])
    v2[3] = -0.01  # near-zero flip: cosine stays close to q's
    out = cascade_topk(
        _embs(spark, [(0, q, 0), (1, v1, 0), (2, v2, 0)]), 0, k=2, shortlist=10
    ).collect()
    assert [r.vec_id for r in out] == sorted(
        [1, 2], key=lambda i: -{r.vec_id: r.cos_sim for r in out}[i]
    )
    # rerank must rank by cosine even though v1 wins on hamming
    sims = {r.vec_id: r.cos_sim for r in out}
    assert sims[2] > sims[1]


def test_chunk_dup_groups_finds_shared_window(spark):
    shared = " ".join(f"w{i}" for i in range(64))
    docs = _docs(
        spark,
        [
            (shared + " tail one", "s"),
            (shared + " other ending", "s"),
            ("completely different words " * 16, "s"),
        ],
    )
    from yamon_spark.operators.text import chunk_dup_groups

    rows = chunk_dup_groups(docs, size=64, stride=48).collect()
    # the shared full 64-token first window appears in docs 0 and 1
    assert any(r.n_docs == 2 and r.first_doc == 0 for r in rows)


def test_vocab_growth_monotone_and_exact(spark):
    from yamon_spark.operators.text import vocab_growth

    docs = _docs(
        spark,
        [("a b", "s"), ("a c", "s"), ("d e f", "s"), ("a b c d e f g h", "s")],
    )
    rows = {r.frac: r for r in vocab_growth(docs).collect()}
    # max_id=3: cutoffs 0, 0, 1, 3
    assert rows[1.0].vocab_size == 8 and rows[1.0].n_tokens == 15
    assert rows[0.5].vocab_size == 3  # docs 0-1: {a,b,c}
    assert rows[0.1].vocab_size == 2  # doc 0 only: {a,b}
    assert rows[0.1].n_tokens == 2
    vs = [rows[f].vocab_size for f in (0.1, 0.25, 0.5, 1.0)]
    assert vs == sorted(vs)


def test_ivfpq_single_cell_equals_pq(spark):
    # one coarse cell (all labels equal) -> the probe is the whole corpus
    # and IVF+PQ must reproduce plain PQ exactly
    from yamon_spark.operators.similarity import ivfpq_topk, pq_topk

    rows = [(i, _vec([1 if (i >> b) & 1 else -1 for b in range(5)]), 0) for i in range(16)]
    emb = _embs(spark, rows)
    got = [(r.vec_id, r.pq_dist) for r in ivfpq_topk(emb, 0, topk=5).collect()]
    want = [(r.vec_id, r.pq_dist) for r in pq_topk(emb, 0, topk=5).collect()]
    assert got == want


def test_ivfpq_probes_only_query_cell(spark):
    # candidates in other cells must never appear, even if closer
    from yamon_spark.operators.similarity import ivfpq_topk

    q = _vec([1, 1, 1, 1])
    rows = [(0, q, 7), (1, q, 7), (2, q, 3), (3, _vec([1, 1]), 7)]
    out = ivfpq_topk(_embs(spark, rows), 0, topk=4).collect()
    assert {r.vec_id for r in out} == {1, 3}  # label-7 cell only


def test_label_separation_cohesion_positive_for_clustered_labels(spark):
    # two well-separated clusters: own-centroid cosine must beat
    # global-centroid cosine for both labels
    from yamon_spark.operators.similarity import label_separation

    rows = [(i, _vec([1, 1, 1, 1]), 0) for i in range(5)] + [
        (10 + i, [-1.0] * 32 + [1.0] * 32, 1) for i in range(5)
    ]
    out = {r.label: r for r in label_separation(_embs(spark, rows)).collect()}
    assert out[0].n_vecs == 5 and out[1].n_vecs == 5
    for lbl in (0, 1):
        assert out[lbl].avg_intra_cos > out[lbl].avg_global_cos
        assert abs(out[lbl].cohesion - (out[lbl].avg_intra_cos - out[lbl].avg_global_cos)) < 1e-12
    # identical vectors within each label -> intra cosine is exactly 1
    assert out[0].avg_intra_cos == 1.0


def test_hamming_search_on_persisted_sketch_reads_no_floats(spark, tmp_path):
    """The shipped-index path: write the sign sketch to parquet, search
    FROM the sketch table, and assert (a) results equal the inline form
    and (b) the scan's ReadSchema touches only (vec_id, lo, hi) — the
    16-byte index, never the float embeddings."""
    from yamon_spark.operators.similarity import (
        binary_sketch,
        hamming_search,
        hamming_topk,
    )

    rows = [(i, _vec([1 if (i >> b) & 1 else -1 for b in range(6)]), 0) for i in range(20)]
    emb = _embs(spark, rows)
    path = str(tmp_path / "sketch")
    binary_sketch(emb).write.parquet(path)

    persisted = hamming_search(spark.read.parquet(path), 0, k=5)
    inline = hamming_topk(emb, 0, k=5)
    assert [tuple(r) for r in persisted.collect()] == [tuple(r) for r in inline.collect()]

    plan = persisted._jdf.queryExecution().executedPlan().toString()
    import re

    schemas = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    assert schemas and all("embedding" not in s for s in schemas)


def test_mix_budget_plan_caps_and_conserves(spark):
    from yamon_spark.queries import REGISTRY, all_queries

    all_queries()
    build = REGISTRY["mix_budget_plan"].build
    rows = build(spark, "/root/testdata/sf0.001").collect()
    assert rows, "plan must cover every source"
    for r in rows:
        assert 0.0 < r.sample_prob <= 1.0
        # a source can never contribute more than it has
        assert r.expected_tokens <= r.tokens + 1e-6
        assert abs(r.expected_tokens - r.sample_prob * r.tokens) < 0.51
    # temperature shares form a distribution
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 0.01


@pytest.mark.parametrize("bits", [16, 32, 64])
def test_simhash_hamming_pairs_semantics(spark, bits):
    """Identical docs pair at Hamming 0; a doc with a disjoint vocabulary
    pairs with nothing; every emitted pair is within the ball and ordered
    doc_a < doc_b — at one-word and two-word widths alike."""
    from yamon_spark.operators.dedup import simhash, simhash_hamming_pairs

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 0
        (2, "qq ww ee rr tt yy uu ii oo pp"),  # disjoint vocab
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_hamming_pairs(docs, bits).collect()}
    assert pairs.get((0, 1)) == 0  # identical text -> identical fingerprint
    assert all(a < b for a, b in pairs)  # pair direction fixed
    assert all(h <= 2 for h in pairs.values())  # inside the declared ball
    # the ball membership matches the fingerprints exactly
    fps = {r[0]: tuple(r[1:]) for r in simhash(docs, bits=bits).collect()}

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(fps[a], fps[b]))

    for (a, b), h in pairs.items():
        assert ham(a, b) == h
    for a in fps:
        for b in fps:
            if a < b and ham(a, b) <= 2:
                assert (a, b) in pairs  # no ball member missed


def test_embedding_kmeans_separates_blobs(spark):
    """Two well-separated blobs with k=2: Lloyd assigns each blob to one
    cluster regardless of the (deliberately bad) lowest-vec_id init that
    starts both centroids inside blob A; populations and near-zero
    within-cluster spread confirm convergence in 3 rounds."""
    from yamon_spark.operators.similarity import embedding_kmeans

    blob_a = [[0.0 + i * 0.01, 0.0] for i in range(6)]
    blob_b = [[10.0 + i * 0.01, 10.0] for i in range(6)]
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(blob_a + blob_b)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = embedding_kmeans(emb, k=2, iters=3).collect()
    assert sorted(r.n_vecs for r in out) == [6, 6]
    assert all(r.avg_sqdist < 0.01 for r in out)  # tight within-blob spread
    # deterministic: a second run returns identical rows
    again = embedding_kmeans(emb, k=2, iters=3).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


def test_embedding_pca_power_finds_dominant_axis(spark):
    """Variance concentrated on axis 0 (spread -5..5) with tiny axis-1
    jitter: after 3 power rounds the top loading is ~unit on dim 0 and
    near-zero on dim 1, and the vector is unit-norm."""
    from yamon_spark.operators.similarity import embedding_pca_power

    rows = [(i, [float(i - 5), 0.01 * (i % 3)], 0) for i in range(11)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.dim: r.loading for r in embedding_pca_power(emb, dim=2, iters=3).collect()}
    assert abs(out[0]) > 0.99
    assert abs(out[1]) < 0.1
    assert abs(out[0] ** 2 + out[1] ** 2 - 1.0) < 0.01


def test_dedup_incremental_verdicts(spark):
    """Batch docs (doc_id % 10 == 9): 9 is an exact copy of index doc 1,
    19 shares most shingles with index doc 2 (band collision -> near),
    29 has a disjoint vocabulary (unique). Within-batch dups must NOT
    count: 39 duplicates 29 but neither is in the index."""
    from yamon_spark.operators.dedup import dedup_incremental

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "one two three four five six seven eight nine ten"),
        (9, base),  # exact dup of index doc 1
        (19, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),  # near of 2
        (29, "zz yy xx ww vv uu tt ss rr qq"),  # unique
        (39, "zz yy xx ww vv uu tt ss rr qq"),  # dup of 29 — but 29 isn't index
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_incremental(docs).collect()}
    assert set(out) == {9, 19, 29, 39}
    assert out[9].verdict == "exact" and out[9].matched_id == 1
    assert out[19].verdict == "near" and out[19].matched_id == 2
    assert out[19].n_bands_hit >= 1
    assert out[29].verdict == "unique" and out[29].matched_id is None
    assert out[39].verdict == "unique"  # within-batch dup out of scope


def test_bpe_apply_survives_exhausted_vocabulary(spark):
    """A corpus of single-character words has NO mergeable pairs: every
    round's top-1 is empty, and the left-join guard must make rounds
    no-ops instead of annihilating the vocabulary (the old crossJoin
    returned zero rows)."""
    from yamon_spark.operators.text import bpe_apply

    docs = spark.createDataFrame(
        [(0, "a b c a b"), (1, "c c a")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bpe_apply(docs, n_merges=2).collect()}
    assert set(out) == {0, 1}
    assert out[0].n_words == 5 and out[0].n_units_char == 5
    assert out[0].n_units_bpe == out[0].n_units_char  # nothing merged


def test_simhash64_two_word_packing_and_pairs(spark):
    """The 64-bit two-word fingerprint: hi/lo pack the first 16 md5
    nibbles exactly (brute-force recompute per doc), identical docs pair
    at Hamming 0, every pair is inside the declared ball, and no ball
    member is missed. The mask expansion is a literal explode, so the
    plan has no nested-loop join."""
    import hashlib

    from yamon_spark.operators.dedup import simhash, simhash_hamming_pairs

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        (2, "qq ww ee rr tt yy uu ii oo pp"),  # disjoint vocab
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r.doc_id: (r.sim_hi, r.sim_lo) for r in simhash(docs, bits=64).collect()}

    def brute(text: str) -> tuple[int, int]:
        votes = [0] * 64
        for w in set(text.split()):
            h = hashlib.md5(w.encode()).hexdigest()
            for j in range(64):
                bit = (int(h[j // 4], 16) >> (3 - j % 4)) & 1
                votes[j] += 2 * bit - 1
        hi = sum(1 << (31 - j) for j in range(32) if votes[j] > 0)
        lo = sum(1 << (63 - j) for j in range(32, 64) if votes[j] > 0)
        return hi, lo

    for doc_id, text in rows:
        assert fps[doc_id] == brute(text), doc_id

    pairs_df = simhash_hamming_pairs(docs, bits=64)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in pairs_df.collect()}
    assert pairs.get((0, 1)) == 0
    assert all(a < b for a, b in pairs)
    assert all(h <= 2 for h in pairs.values())

    def ham(a, b):
        return bin(fps[a][0] ^ fps[b][0]).count("1") + bin(fps[a][1] ^ fps[b][1]).count("1")

    for (a, b), h in pairs.items():
        assert ham(a, b) == h
    for a in fps:
        for b in fps:
            if a < b and ham(a, b) <= 2:
                assert (a, b) in pairs

    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan  # masks explode from one literal


def test_tokenizer_fertility_closed_form(spark):
    """Single-lang corpus with a vocabulary the 6 merges fully compress:
    fertility = bpe units per word, compression = char units per bpe
    unit — checked against hand-computed bpe_apply output sums."""
    from pyspark.sql import functions as F

    from yamon_spark.operators.text import bpe_apply
    from yamon_spark.queries.training_ops2 import tokenizer_fertility_q  # noqa: F401

    rows = [(0, "aa bb aa", "en"), (1, "aa aa", "en"), (2, "cc dd", "de")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    per_doc = {r.doc_id: r for r in bpe_apply(docs, n_merges=6).collect()}
    out = {r.lang: r for r in (
        bpe_apply(docs, n_merges=6)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("w"),
            F.sum("n_units_bpe").alias("b"),
            F.sum("n_units_char").alias("c"),
        )
        .collect()
    )}
    en_w = per_doc[0].n_words + per_doc[1].n_words
    en_b = per_doc[0].n_units_bpe + per_doc[1].n_units_bpe
    assert (out["en"].w, out["en"].b) == (en_w, en_b)
    assert out["de"].w == per_doc[2].n_words
    # merges compress repeated 2-char words to single units
    assert en_b <= per_doc[0].n_units_char + per_doc[1].n_units_char
