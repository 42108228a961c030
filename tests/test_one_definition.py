"""Decisions that are each stated once.

The word features, the rule gate, the quality head's training stats and
its z-score each have one definition in ``yamon_spark/operators/``
(``text.word_features``, ``curation._gate_fails``, ``_logit_train_frames``
and ``curation._zscore``), as do the MinHash shingle hash and LSH band
key (``dedup.shingle_hash``, ``dedup.band_key``); every operator that
needs one calls it. The store's tables, with their sort keys and TTLs,
are listed once, in ``plans/layout.STORE``. The whitespace word split
is ``text.words_col``. The two durable-write rules live in
``plans/durable.py``: ``write_epoch`` is the one replay-safe epoch
overwrite (the only dynamic partition overwrite in the package), and
``recover_swaps`` is the one recovery sweep for the crash-safe directory
swap that compaction and the IVF rebuild share. In
``operators/multimodal.py`` the RIFF container is read by one walk
(``iter_riff``) and written by one chunk writer (``riff_chunk``), the
image magic-byte dispatch is ``sniff_decode`` with its format map
``CLAIM_FORMATS``, and the ``*_roundtrip`` operators share one
per-document stage (``_per_doc``). A second copy could drift
from the first without any error, so this test counts the defining
source text across the package, the way ``test_env_reads.py`` pins the
environment surface.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "yamon_spark")


def _count(pattern: str) -> dict[str, int]:
    """Matches of the regex ``pattern`` per package file that has any."""
    hits: dict[str, int] = {}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    n = len(re.findall(pattern, fh.read()))
                if n:
                    hits[os.path.relpath(path, PKG)] = n
    return hits


def test_stopword_count_defined_once():
    assert _count(re.escape("isin(*STOPWORDS)")) == {"operators/text.py": 1}


def test_head_stats_aggregate_defined_once():
    assert _count(re.escape('F.stddev_pop(f"x{i}")')) == {"operators/curation.py": 1}


def test_head_zscore_defined_once():
    assert _count(re.escape('F.col(f"m{i}")')) == {"operators/curation.py": 1}


def test_gate_defined_once():
    # one set of thresholds, and the only feature comparisons in the
    # package's Python (the SQL oracles state their own) are the gate's
    # five, in _gate_fails
    assert _count(r"GATE_MIN_WORDS, GATE_MAX_WORDS = ") == {"operators/curation.py": 1}
    assert _count(r"\b(n_words|avg_word_len|stop_ratio) [<>] (?!\d)") == {"operators/curation.py": 5}


def test_minhash_keying_defined_once():
    assert _count(re.escape('16, 10).cast("long") % MINHASH_P')) == {"operators/dedup.py": 1}
    assert _count(r'F\.md5\(\s*F\.concat_ws\("\|"') == {"operators/dedup.py": 1}


def test_rollup_tables_keyed_once():
    # a rollup table is a key in the catalogue and in the fused writer's
    # rollup map, and nowhere else
    for table in ("metrics_gauge_lts", "metrics_counter_lts", "metrics_uniq_lts"):
        keyed = _count(rf'"{table}"(?=: |\] = )')
        assert keyed == {"plans/layout.py": 1, "streaming/pipeline.py": 1}, (table, keyed)


def test_word_split_defined_once():
    # the /proc field splits in sources/ are a different decision
    hits = {f: n for f, n in _count(re.escape(r'r"\s+"')).items() if f.startswith("operators/")}
    assert hits == {"operators/text.py": 1}


def test_dynamic_partition_overwrite_defined_once():
    assert _count("partitionOverwriteMode") == {"plans/durable.py": 1}


def test_swap_recovery_defined_once():
    # the restore-the-old-dir step: a hidden old copy renamed back to
    # its missing live dir
    assert _count(r"if not live\.exists\(\):\s+\w+\.rename\(live\)") == {"plans/durable.py": 1}
    assert _count(r"def _(ivf_)?recover\b") == {}


def test_riff_chunk_walk_defined_once():
    # the even-offset pad skip is the walk's step; stdlib wave writes
    # only, so it is no second reader
    assert _count(r"\(\w+ & 1\)") == {"operators/multimodal.py": 1}
    assert _count(r"def walk\(") == {}
    assert _count(r"wave\.open\(") == {"operators/multimodal.py": 1}
    assert _count(r'wave\.open\(\w+, "wb"\)') == {"operators/multimodal.py": 1}


def test_riff_chunk_writer_defined_once():
    assert _count(re.escape('fourcc + struct.pack("<I", len(data))')) == {
        "operators/multimodal.py": 1
    }


def test_image_magic_dispatch_defined_once():
    assert _count(re.escape('b[:2] == b"BM"')) == {"operators/multimodal.py": 1}
    assert _count(r'"image": \{"bmp"') == {"operators/multimodal.py": 1}


def test_roundtrips_share_one_stage():
    assert _count(r"def roundtrip\b") == {}
    assert _count(r'\.mapInPandas\([^)]*\)\s*\.orderBy\("doc_id"\)') == {"operators/multimodal.py": 1}
    assert _count(r"return _per_doc\(docs, \w+_ROUNDTRIP_SCHEMA, row\b") == {
        "operators/multimodal.py": 7
    }
