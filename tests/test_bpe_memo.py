"""The r14 BPE merge-chain session memo (operators/text.py
_bpe_vocab_merges): bpe_apply and tokenizer_fertility share one learning
run per (session, corpus, n_merges); the stored artifacts must be
recompute-safe (persist + driver-side merge literals, never a
localCheckpoint), and in-memory frames must never be memoized — the GD
memo discipline (operators/_memo.py)."""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import functions as F

from yamon_spark.operators.text import _BPE_MEMO, _bpe_vocab_merges, bpe_apply
from yamon_spark.queries import table as load_table

SF = "/root/testdata/sf0.001"


def test_memo_hit_for_file_backed_corpus(spark):
    _BPE_MEMO.clear()
    docs = load_table(spark, SF, "documents")
    v1, m1 = _bpe_vocab_merges(docs, 6)
    v2, m2 = _bpe_vocab_merges(docs, 6)
    assert v1 is v2 and m1 is m2  # second call rides the memo
    assert 0 < len(m1) <= 6 and all(isinstance(p, str) and len(p) == 2 for p in m1)
    # a different n_merges is a different chain — no collision
    _, m3 = _bpe_vocab_merges(docs, 2)
    assert m3 == m1[:2]


def test_inmemory_frames_never_memoized(spark):
    _BPE_MEMO.clear()
    a = spark.createDataFrame(
        [(1, "aaab aaab aaab"), (2, "abab abab")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(1, "zzzq zzzq zzzq"), (2, "qzqz qzqz")], "doc_id long, text string"
    )
    _, ma = _bpe_vocab_merges(a, 2)
    _, mb = _bpe_vocab_merges(b, 2)
    assert not _BPE_MEMO  # nothing keyed
    assert ma != mb  # B learned on B, not on A's cache
    # aaab x3 + abab x2: ab occurs 3 + 4 = 7 > aa 6; zzzq x3 + qzqz x2: zz 6 > zq 5
    assert ma[0] == "ab" and mb[0] == "zz"


def test_inmemory_vocab_unpersisted_after_learning(spark):
    """A vocab nothing memoizes is released once learning is done:
    repeated bpe_apply calls over an in-memory frame leave the session's
    persistent-RDD count where it was."""
    docs = spark.createDataFrame(
        [(1, "ccdc ccdc ccdc"), (2, "cdcd cdcd")], "doc_id long, text string"
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        assert bpe_apply(docs, n_merges=2).count() == 2
    assert jsc.getPersistentRDDs().size() == before


def test_eviction_safety_results_survive_unpersist(spark):
    """The memoized vocab is persist()ed, so a cache eviction (simulated
    with an explicit unpersist) must only cost a recompute — bpe_apply
    results stay identical, no error (the localCheckpoint failure mode
    this memo was designed around)."""
    _BPE_MEMO.clear()
    docs = load_table(spark, SF, "documents")
    before = bpe_apply(docs, n_merges=6).collect()
    vocab, _merges = next(iter(_BPE_MEMO.values()))
    vocab.unpersist(blocking=True)
    after = bpe_apply(docs, n_merges=6).collect()
    assert before == after


def _frame_of_session(jsc):
    """A stub frame whose session's SparkContext holds ``jsc``."""
    return SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=SimpleNamespace(_jsc=jsc)))


def test_dead_session_entries_swept(spark):
    # SparkContext.stop() leaves _jsc = None: a stopped session
    _BPE_MEMO[("dead-session-key",)] = (_frame_of_session(None), ["ab"])
    docs = load_table(spark, SF, "documents")
    _bpe_vocab_merges(docs, 2)  # access runs the sweep
    assert ("dead-session-key",) not in _BPE_MEMO


def test_sweep_evicts_only_confirmed_stops():
    from yamon_spark.operators._memo import sweep_dead_sessions

    def context(is_stopped):
        return SimpleNamespace(sc=lambda: SimpleNamespace(isStopped=is_stopped))

    def probe_fails():
        raise RuntimeError("py4j hiccup")

    memo = {
        "cleared": (_frame_of_session(None),),
        "reports_stopped": (_frame_of_session(context(lambda: True)),),
        "reports_live": (_frame_of_session(context(lambda: False)),),
        "probe_raises": (_frame_of_session(context(probe_fails)),),
    }
    sweep_dead_sessions(memo)
    assert sorted(memo) == ["probe_raises", "reports_live"]


def test_learning_matches_unmemoized_replay(spark):
    """The literal-replace replay must reproduce the r13 per-round
    checkpoint chain: re-derive the merge list with an independent
    driver-side reference implementation over the same vocab."""
    _BPE_MEMO.clear()
    docs = load_table(spark, SF, "documents")
    vocab, merges = _bpe_vocab_merges(docs, 6)
    rows = [(r["w"], r["cnt"]) for r in vocab.collect()]
    from yamon_spark.operators.text import BPE_APPLY_MARKERS

    cur = dict(rows)
    expect = []
    for i in range(6):
        counts: dict[str, int] = {}
        for w, cnt in cur.items():
            for k in range(len(w) - 1):
                counts[w[k : k + 2]] = counts.get(w[k : k + 2], 0) + cnt
        if not counts:
            break
        top = max(counts.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0]]))[0]
        expect.append(top)
        nxt: dict[str, int] = {}
        for w, cnt in cur.items():
            nw = w.replace(top, BPE_APPLY_MARKERS[i])
            nxt[nw] = nxt.get(nw, 0) + cnt
        cur = nxt
    assert merges == expect
