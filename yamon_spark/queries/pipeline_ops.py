"""Declared queries for the training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal) — SURVEY §2 'beyond the
reference' inventory. Oracles replicate the exact same deterministic
hash/fold contracts (md5-hex ordering, double left-folds) in DuckDB SQL;
some oracle strings are generated programmatically (simhash bit
arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from yamon_spark.queries import register, table

# shared DuckDB SQL fragments -------------------------------------------

_WORDS = r"regexp_split_to_array(trim(text), '\s+')"


def _shingle_cte(ngram: int) -> str:
    n1 = ngram - 1
    return f"""
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len({_WORDS}) - {n1}, 1) + 1),
        i -> array_to_string(({_WORDS})[i:i+{n1}], ' ')))) AS shingle
      FROM documents
    )
    """


_JACCARD_TAIL = """
    , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    , inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b) t
    WHERE jaccard >= {thr} ORDER BY doc_a, doc_b
"""


@register(
    "dedup_exact",
    """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY sha256(text) ORDER BY doc_id
    """,
    doc="Exact dedup via content-digest groupBy; survivor = min doc_id.",
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import exact_dedup

    return exact_dedup(table(spark, sf_dir, "documents"))


@register(
    "dedup_budget_impact",
    f"""
    WITH t AS (
      SELECT doc_id, sha256(text) AS dg,
             CAST(len({_WORDS}) AS DOUBLE) AS tokens
      FROM documents
    ), g AS (
      SELECT dg, CAST(count(*) AS DOUBLE) AS n, sum(tokens) AS tot,
             arg_min(tokens, doc_id) AS surv
      FROM t GROUP BY dg
    ), pol AS (
      SELECT CAST(sum(n) AS BIGINT) AS raw_docs, round(sum(tot), 4) AS raw_tokens,
             CAST(count(*) AS BIGINT) AS hard_docs, round(sum(surv), 4) AS hard_tokens,
             round(sum(surv * (1.0 + ln(n))), 4) AS ca_tokens
      FROM g
    )
    SELECT policy, eff_docs, eff_tokens FROM (
      SELECT 'count_aware' AS policy, hard_docs AS eff_docs, ca_tokens AS eff_tokens FROM pol
      UNION ALL SELECT 'hard', hard_docs, hard_tokens FROM pol
      UNION ALL SELECT 'raw', raw_docs, raw_tokens FROM pol
    ) ORDER BY policy
    """,
    doc=(
        "Dedup-policy planning report: effective doc and token mass "
        "under raw (keep all), hard (min-id survivor per digest), and "
        "count-aware survivor upweighting (surv x (1+ln n), the "
        "sublinear policy that keeps duplication as a popularity signal "
        "after hard dedup). One digest groupBy with map-side combine -> "
        "a 3-row stack; the numbers that decide a dedup policy before "
        "it drops data."
    ),
)
def dedup_budget_impact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import dedup_budget_impact

    return dedup_budget_impact(table(spark, sf_dir, "documents"))


@register(
    "corpus_snapshot_diff",
    f"""
    WITH old AS (
      SELECT doc_id, text AS old_text FROM documents WHERE doc_id % 10 <> 7
    ), new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' edited' ELSE text END AS new_text
      FROM documents WHERE doc_id % 10 <> 3
    ), j AS (
      SELECT coalesce(old.doc_id, new.doc_id) AS doc_id, old_text, new_text
      FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    )
    SELECT CASE WHEN old_text IS NULL THEN 'added'
                WHEN new_text IS NULL THEN 'removed'
                WHEN old_text <> new_text THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(coalesce(new_text, old_text)), '\\s+')))
                AS BIGINT) AS n_tokens
    FROM j GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Dataset-versioning diff between two corpus snapshots: per "
        "status (added/removed/changed/unchanged) doc and token counts, "
        "decided by CONTENT comparison under a full-outer join on "
        "doc_id. Unique-key big-big join -> explicit shuffle-hash hint "
        "(no sort needed on a unique key), one uniform-key shuffle, "
        "4-row aggregate — the release audit a managed corpus runs."
    ),
)
def corpus_snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixture lives HERE, not in the operator: the synthetic old/new pair
    # (old = ids not ending in 7, new = ids not ending in 3, every 13th
    # doc's text edited in the new snapshot) derives from the one
    # documents table; the operator itself diffs any two real releases
    from pyspark.sql import functions as F

    from yamon_spark.operators.dedup import corpus_snapshot_diff

    docs = table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 10 != 7).select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 10 != 3).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" edited")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus_snapshot_diff(old, new)


@register(
    "dedup_jaccard",
    "WITH " + _shingle_cte(3) + _JACCARD_TAIL.format(thr=0.5),
    doc="Exact 3-gram Jaccard near-dup pairs via inverted shingle index.",
)
def dedup_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"), ngram=3, threshold=0.5)


@register(
    "dedup_cap_plan",
    f"""
    WITH {_shingle_cte(3)}
    , post AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    , caps AS (SELECT unnest([8, 16, 32, 64, 128, 256, 512, 1024]) AS cap)
    SELECT cap,
      CAST(coalesce(sum(CASE WHEN df > cap THEN 1 END), 0) AS BIGINT)
        AS n_stop_shingles,
      CAST(coalesce(sum(CASE WHEN df > cap THEN df * (df - 1) // 2 END), 0)
        AS BIGINT) AS pairs_dropped,
      CAST(coalesce(sum(CASE WHEN df >= 2 AND df <= cap
                        THEN df * (df - 1) // 2 END), 0) AS BIGINT)
        AS pairs_kept
    FROM caps CROSS JOIN post GROUP BY cap ORDER BY cap
    """,
    doc=(
        "Operating table for choosing the stop-shingle cap "
        "(max_doc_freq): per candidate cap, shingles stopped and exact "
        "posting-list pair work (sum df*(df-1)/2) dropped vs kept. The "
        "pre-flight a curation pipeline runs on a sample before a "
        "corpus-wide near-dup pass — the right cap sits where "
        "pairs_dropped has exploded (boilerplate mass) while "
        "n_stop_shingles is still a sliver of the vocabulary. ONE "
        "df-histogram groupBy (uniform shingle keys), a broadcast x8 "
        "fan-out, an 8-row agg; no pair expansion at any cap."
    ),
)
def dedup_cap_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import stop_shingle_cap_plan

    return stop_shingle_cap_plan(table(spark, sf_dir, "documents"), ngram=3)


def _minhash_sig_sql(num_hashes: int = 16, band_size: int = 4) -> tuple[str, str]:
    """(sig-select-list, band-key-select-list) embedding the same affine-
    permutation literals as operators.dedup.minhash_coeffs — one md5 per
    shingle, k multiply-adds, identical in both engines."""
    from yamon_spark.operators.dedup import MINHASH_P, minhash_coeffs

    sigs = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS sig_{i}" for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    bks = ", ".join(
        "md5("
        + " || '|' || ".join(f"CAST(sig_{b * band_size + j} AS VARCHAR)" for j in range(band_size))
        + f") AS bk_{b}"
        for b in range(num_hashes // band_size)
    )
    return sigs, bks


_SIG_SQL, _BK_SQL = _minhash_sig_sql(16, 4)

_MINHASH_ORACLE = (
    "WITH "
    + _shingle_cte(3)
    + f"""
    , hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % 2147483647 AS h
      FROM sh
    )
    , sigt AS (SELECT doc_id, {_SIG_SQL} FROM hashed GROUP BY doc_id)
    , bkt AS (SELECT doc_id, {_BK_SQL} FROM sigt)
    , cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bkt a JOIN bkt b
        ON a.doc_id < b.doc_id
       AND (a.bk_0 = b.bk_0 OR a.bk_1 = b.bk_1 OR a.bk_2 = b.bk_2 OR a.bk_3 = b.bk_3)
    )
    , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    , inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b) t
    WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b
    """
)


@register(
    "dedup_minhash_lsh",
    _MINHASH_ORACLE,
    doc=(
        "MinHash(16 seeds)+LSH(4 bands of 4) candidates verified by exact "
        "Jaccard — md5-hex signature order is engine-independent, so the "
        "oracle reproduces candidates bit-for-bit."
    ),
)
def dedup_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), ngram=3, num_hashes=16, band_size=4, threshold=0.5
    )


def _simhash_cte(bits: int = 16) -> str:
    """CTE chain ending in `sims(doc_id, simhash)` — shared by the
    fingerprint oracle and the Hamming-pairs oracle."""
    bit_exprs = []
    for j in range(bits):
        nib = f"(strpos('0123456789abcdef', substr(h, {j // 4 + 1}, 1)) - 1)"
        bit = f"(({nib} // {2 ** (3 - j % 4)}) % 2)"
        bit_exprs.append(f"sum({bit} * 2 - 1) AS b{j}")
    fp_terms = " + ".join(f"CASE WHEN b{j} > 0 THEN {2 ** (bits - 1 - j)} ELSE 0 END" for j in range(bits))
    return f"""
    wrds AS (
      SELECT doc_id, unnest(list_distinct({_WORDS})) AS word FROM documents
    ), hashed AS (
      SELECT doc_id, md5(word) AS h FROM wrds
    ), votes AS (
      SELECT doc_id, {", ".join(bit_exprs)} FROM hashed GROUP BY doc_id
    ), sims AS (
      SELECT doc_id, CAST({fp_terms} AS BIGINT) AS simhash FROM votes
    )"""


def _simhash_oracle(bits: int = 16) -> str:
    return f"WITH {_simhash_cte(bits)} SELECT doc_id, simhash FROM sims ORDER BY doc_id"


@register(
    "dedup_simhash",
    _simhash_oracle(16),
    doc="16-bit SimHash fingerprints from word unigrams (majority vote per bit).",
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import simhash

    return simhash(table(spark, sf_dir, "documents"), bits=16)


_COS_EXPRS = """
      list_reduce(list_transform(range(1, len(e.embedding) + 1),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), (a, b) -> a + b) AS dot,
      list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS na,
      list_reduce(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS nb
"""


@register(
    "sim_cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id, {_COS_EXPRS}
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
    )
    SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    doc="Brute-force exact cosine top-10 neighbors of vec_id=0.",
)
def sim_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.similarity import cosine_topk

    return cosine_topk(table(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


@register(
    "sim_ivf_topk",
    f"""
    WITH q AS (SELECT embedding AS q_emb, label AS q_label FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id, {_COS_EXPRS}
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0 AND e.label = q.q_label
    )
    SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    doc="IVF-style ANN: probe only the query's coarse cell, exact rerank inside.",
)
def sim_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.similarity import ivf_topk

    return ivf_topk(table(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


def lsh_bucket_sql(n_planes: int = 4, dim: int = 64) -> str:
    """The SQL twin of operators.similarity.lsh_bucket — bit j = sign of
    embedding . plane_j, planes shared as literals. ONE generator for
    every oracle that buckets (sim_lsh_topk, sim_near_dup_lsh,
    dedup_semantic): the sign convention and %g literal formatting must
    stay byte-identical to the Spark side, so no oracle carries its own
    copy."""
    from yamon_spark.operators.similarity import lsh_hyperplanes

    plane_sql = lambda h: "[" + ", ".join(f"{x:g}" for x in h) + "]"  # noqa: E731
    return " + ".join(
        f"""(CASE WHEN list_reduce(list_transform(range(1, {dim + 1}),
             i -> CAST(embedding[i] AS DOUBLE) * ({plane_sql(h)}::DOUBLE[])[i]), (a, b) -> a + b) >= 0
             THEN {2 ** j} ELSE 0 END)"""
        for j, h in enumerate(lsh_hyperplanes(n_planes, dim))
    )


def _lsh_oracle(n_planes: int = 4, dim: int = 64, k: int = 10) -> str:
    bucket_terms = lsh_bucket_sql(n_planes, dim)
    return f"""
    WITH b AS (SELECT vec_id, embedding, {bucket_terms} AS bucket FROM embeddings),
    q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id, {_COS_EXPRS}
      FROM b e CROSS JOIN q WHERE e.vec_id <> 0 AND e.bucket = q.q_bucket
    )
    SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM s ORDER BY cos_sim DESC, vec_id LIMIT {k}
    """


@register(
    "sim_lsh_topk",
    _lsh_oracle(),
    doc=(
        "Random-hyperplane LSH ANN: deterministic md5-derived hyperplanes "
        "(shared as literals with the oracle) bucket every vector; the "
        "probe reranks only the query's bucket."
    ),
)
def sim_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.similarity import lsh_topk

    return lsh_topk(table(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


@register(
    "sim_near_dup_pairs",
    """
    WITH s AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      list_reduce(list_transform(range(1, len(a.embedding) + 1),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y) AS dot,
      list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS na,
      list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS nb
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM (
      SELECT vec_a, vec_b, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim FROM s) t
    WHERE cos_sim >= 0.35 ORDER BY vec_a, vec_b
    """,
    doc=(
        "Embedding-cosine near-dup pairs with coarse-cell (label) "
        "blocking. CORPUS-SIZE-SAFE BY DEFAULT since r10: when the "
        "average cell outgrows 512 vectors, each cell is sub-bucketed "
        "by corpus-size-scaled hyperplanes (the fixed-label form "
        "measured 633x wall at 100x data); below that floor — every "
        "verification SF — zero planes fire and results equal exact "
        "label blocking, which this oracle is."
    ),
)
def sim_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(table(spark, sf_dir, "embeddings"), threshold=0.35)


_STOP_SQL = "(x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'in')"


@register(
    "text_stats",
    f"""
    WITH t AS (SELECT doc_id, text, {_WORDS} AS w FROM documents),
    r AS (
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(w) AS BIGINT) AS n_words,
        round(list_reduce(list_transform(w, x -> CAST(length(x) AS DOUBLE)), (a, b) -> a + b)
              / len(w), 4) AS avg_word_len,
        CASE WHEN length(text) = 0 THEN NULL
             ELSE round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                        / length(text), 4) END AS punct_ratio,
        round(CAST(len(list_filter(w, x -> {_STOP_SQL})) AS DOUBLE) / len(w), 4) AS stop_ratio
      FROM t
    )
    SELECT doc_id, n_chars, n_words, avg_word_len, punct_ratio, stop_ratio,
           round(least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
                 * (1.0 - punct_ratio) * (0.5 + stop_ratio), 4) AS quality
    FROM r ORDER BY doc_id
    """,
    doc="Quality-scoring features: lengths, punct/stopword ratios, composite score.",
)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.text import text_stats

    return text_stats(table(spark, sf_dir, "documents"))


@register(
    "text_entropy",
    """
    WITH c AS (
      SELECT doc_id, list_transform(range(1, length(text) + 1), i -> text[i]) AS cs
      FROM documents
    ),
    d AS (
      SELECT doc_id, cs, list_sort(list_distinct(cs)) AS dch,
             CAST(len(cs) AS DOUBLE) AS n
      FROM c
    ),
    k AS (
      SELECT doc_id, n,
             list_transform(dch, ch -> CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)) AS cnt
      FROM d
    )
    SELECT doc_id,
           CASE WHEN n = 0 THEN 0.0
                ELSE round(-list_reduce(list_transform(cnt, c -> (c / n) * log2(c / n)),
                                        (a, b) -> a + b), 4)
           END AS char_entropy
    FROM k ORDER BY doc_id
    """,
    doc=(
        "Character-level Shannon entropy per doc (gibberish/boilerplate "
        "quality signal): sorted distinct-char counts -> one deterministic "
        "float fold, shuffle-free on both engines."
    ),
)
def text_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.text import char_entropy

    return char_entropy(table(spark, sf_dir, "documents"))


def lang_id_sql_parts() -> tuple[str, str, str]:
    """(count-select-list, count-column-list, pred CASE expr) generated
    from operators.text.LANG_MARKERS — the ONE source of truth for the
    marker words and the earlier-wins tie-break, shared by text_lang_id
    and eval_ops.lang_id_confusion (same generator pattern as
    _minhash_sig_sql: constants live in the operator, SQL derives)."""
    from yamon_spark.operators.text import LANG_MARKERS

    counts = ",\n        ".join(
        f"CAST(len(list_filter(w, x -> x = '{m}')) AS BIGINT) AS n_{lang}"
        for lang, m in LANG_MARKERS
    )
    langs = [lang for lang, _ in LANG_MARKERS]
    branches = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"n_{lang} >= n_{o}" for o in langs[i + 1 :])
        branches.append(f"WHEN {conds} THEN '{lang}'")
    case = (
        "CASE " + "\n           ".join(branches) + f"\n           ELSE '{langs[-1]}' END"
    )
    return counts, ", ".join(f"n_{lang}" for lang in langs), case


_LANG_COUNTS, _LANG_COLS, _LANG_CASE = lang_id_sql_parts()


@register(
    "text_lang_id",
    f"""
    WITH t AS (SELECT doc_id, lang, {_WORDS} AS w FROM documents),
    c AS (
      SELECT doc_id, lang,
        {_LANG_COUNTS}
      FROM t
    )
    SELECT doc_id, {_LANG_COLS},
      {_LANG_CASE} AS pred_lang,
      lang
    FROM c ORDER BY doc_id
    """,
    doc="Marker-word language-ID heuristic with deterministic tie-break.",
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.text import lang_id

    return lang_id(table(spark, sf_dir, "documents"))


@register(
    "text_token_count",
    rf"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS n_tokens,
      CAST(len({_WORDS}) AS BIGINT) AS n_words
    FROM documents ORDER BY doc_id
    """,
    doc="BPE-ish regex token counting (letter runs / digits / symbols).",
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.text import token_count

    return token_count(table(spark, sf_dir, "documents"))


@register(
    "text_fingerprint",
    f"""
    WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    s AS (
      SELECT doc_id, list_transform(range(1, greatest(len(w) - 3, 1) + 1),
               i -> md5(array_to_string(w[i:i+3], ' '))) AS sh
      FROM t
    )
    SELECT doc_id, list_min(sh) AS fingerprint,
           CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles
    FROM s ORDER BY doc_id
    """,
    doc="Rolling-hash document fingerprint (min md5 of word 4-grams).",
)
def fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.text import doc_fingerprint

    return doc_fingerprint(table(spark, sf_dir, "documents"), ngram=4)


@register(
    "multimodal_meta",
    """
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      sha256(text) AS sha,
      CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
      CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height,
      CAST(octet_length(encode(text)) % 30 AS BIGINT) AS n_frames
    FROM documents ORDER BY doc_id
    """,
    doc=(
        "Multimodal plumbing: binary payload -> Arrow mapInPandas decode "
        "stage (deterministic stub codec) -> typed metadata."
    ),
)
def multimodal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.multimodal import multimodal_meta

    return multimodal_meta(table(spark, sf_dir, "documents"))


@register(
    "multimodal_frames",
    """
    WITH t AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    f AS (SELECT doc_id, n, unnest(range(0, greatest(n // 64, 1), 2)) AS frame_idx FROM t)
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(least(64, n - frame_idx * 64) AS BIGINT) AS n_bytes
    FROM f ORDER BY doc_id, frame_idx
    """,
    doc=(
        "Frame-sampling plumbing: binary payload -> mapInPandas UDTF-style "
        "expansion, every 2nd 64-byte frame; oracle checks ids + byte counts."
    ),
)
def multimodal_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from yamon_spark.operators.multimodal import attach_binary, sample_frames

    frames = sample_frames(attach_binary(table(spark, sf_dir, "documents")), every_n=2)
    return frames.select(
        "doc_id", "frame_idx", F.octet_length("frame").cast("bigint").alias("n_bytes")
    ).orderBy("doc_id", "frame_idx")


@register(
    "multimodal_video_frames",
    """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
      FROM documents
    ), bytes AS (
      SELECT doc_id, n,
        list_transform(range(0, n), i ->
          16*(strpos('0123456789ABCDEF', substr(h, 2*i+1, 1))-1)
          + (strpos('0123456789ABCDEF', substr(h, 2*i+2, 1))-1)) AS arr
      FROM b
    ), f AS (
      SELECT doc_id, n, arr, unnest(range(0, greatest(n // 256, 1), 2)) AS idx
      FROM bytes
    )
    SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
      CAST(16 + (COALESCE(list_sum(arr[idx*256+1 : idx*256+4]), 0) % 64) AS BIGINT) AS width,
      CAST(CASE WHEN n - idx*256 > 4
           THEN 16 + (COALESCE(list_sum(arr[idx*256+5 : idx*256+8]), 0) % 64)
           ELSE 16 END AS BIGINT) AS height,
      CAST(least(256, n - idx*256) AS BIGINT) AS n_bytes
    FROM f ORDER BY doc_id, frame_idx
    """,
    doc=(
        "Video frame-sampling plumbing (pyav slot): container bytes -> "
        "every 2nd 256-byte stub frame with per-frame dims via "
        "mapInPandas; oracle recomputes frame indices, dims (block-byte "
        "sums mod 64) and byte counts from hex-decoded utf-8 bytes."
    ),
)
def multimodal_video_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from yamon_spark.operators.multimodal import attach_binary, sample_video_frames

    frames = sample_video_frames(attach_binary(table(spark, sf_dir, "documents")), every_n=2)
    return frames.select(
        "doc_id", "frame_idx", "width", "height",
        F.octet_length("frame").cast("bigint").alias("n_bytes"),
    ).orderBy("doc_id", "frame_idx")


@register(
    "multimodal_features",
    """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
      FROM documents
    ), bytes AS (
      SELECT doc_id, (n + 7) // 8 AS cols,
        list_transform(range(0, n), i ->
          16*(strpos('0123456789ABCDEF', substr(h, 2*i+1, 1))-1)
          + (strpos('0123456789ABCDEF', substr(h, 2*i+2, 1))-1)) AS arr
      FROM b
    )
    SELECT doc_id,
    CAST(COALESCE(list_sum(arr[0*cols+1 : 1*cols]), 0) AS BIGINT) AS s0,
    CAST(COALESCE(list_sum(arr[1*cols+1 : 2*cols]), 0) AS BIGINT) AS s1,
    CAST(COALESCE(list_sum(arr[2*cols+1 : 3*cols]), 0) AS BIGINT) AS s2,
    CAST(COALESCE(list_sum(arr[3*cols+1 : 4*cols]), 0) AS BIGINT) AS s3,
    CAST(COALESCE(list_sum(arr[4*cols+1 : 5*cols]), 0) AS BIGINT) AS s4,
    CAST(COALESCE(list_sum(arr[5*cols+1 : 6*cols]), 0) AS BIGINT) AS s5,
    CAST(COALESCE(list_sum(arr[6*cols+1 : 7*cols]), 0) AS BIGINT) AS s6,
    CAST(COALESCE(list_sum(arr[7*cols+1 : 8*cols]), 0) AS BIGINT) AS s7
    FROM bytes ORDER BY doc_id
    """,
    doc=(
        "Feature-extraction plumbing: payload -> fixed-dim vector via "
        "Arrow-batched mapInPandas (the GPU-encoder slot at scale). The "
        "stub encoder's chunk-mean feature is scalarized to EXACT integer "
        "chunk byte-sums (round(f_i * cols * 255), lossless for payloads "
        "< ~2 MB given float32's 24-bit mantissa) so the oracle — which "
        "recomputes the sums from hex-decoded utf-8 bytes in DuckDB — "
        "hash-matches without float tolerance."
    ),
)
def multimodal_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from yamon_spark.operators.multimodal import attach_binary, extract_features

    docs = table(spark, sf_dir, "documents")
    feats = extract_features(attach_binary(docs), dim=8)
    cols = F.floor((F.octet_length("text") + F.lit(7)) / 8)
    sized = feats.join(docs.select("doc_id", cols.alias("cols")), "doc_id")
    return sized.select(
        "doc_id",
        *[
            F.round(F.element_at("feature", i + 1).cast("double") * F.col("cols") * 255)
            .cast("bigint")
            .alias(f"s{i}")
            for i in range(8)
        ],
    ).orderBy("doc_id")


@register(
    "multimodal_bmp_roundtrip",
    """
    WITH d AS (
      SELECT doc_id, n_chars % 13 + 1 AS w, doc_id % 7 + 1 AS h
      FROM documents
    )
    SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(54 + ((w * 24 + 31) // 32) * 4 * h AS BIGINT) AS n_bytes
    FROM d ORDER BY doc_id
    """,
    doc=(
        "Real-codec round-trip: encode an actual uncompressed BMP per doc "
        "(dims derived from doc fields), decode it back with the vendored "
        "stdlib decoder, emit recovered dims + container size. The oracle "
        "recomputes dims and the exact BMP byte layout (54-byte headers + "
        "4-byte-padded rows) arithmetically — a hash match means genuine "
        "image-container bytes parsed correctly on the Spark side."
    ),
)
def multimodal_bmp_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.multimodal import bmp_roundtrip

    return bmp_roundtrip(table(spark, sf_dir, "documents"))


@register(
    "multimodal_png_roundtrip",
    """
    WITH d AS (
      SELECT doc_id, n_chars % 13 + 1 AS w, doc_id % 7 + 1 AS h
      FROM documents
    )
    SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(list_reduce(list_transform(range(0, w * h),
                  i -> (doc_id * 31 + (i // w) * w + (i % w) * 7) % 256),
                (a, b) -> a + b) AS BIGINT) AS pixel_sum
    FROM d ORDER BY doc_id
    """,
    doc=(
        "COMPRESSED-codec round-trip: encode a real zlib-deflated "
        "grayscale PNG per doc (filter types cycling 0-4), fully decode "
        "it back (CRC check, inflate, all five unfilter paths), emit "
        "recovered dims + exact pixel sum. The oracle recomputes the "
        "pixel sum arithmetically from the deterministic pattern — a "
        "hash match proves the compressed bitstream reconstructed every "
        "pixel, closing the 'vendored codecs are uncompressed-only' gap."
    ),
)
def multimodal_png_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.multimodal import png_roundtrip

    return png_roundtrip(table(spark, sf_dir, "documents"))


@register(
    "multimodal_jpeg_roundtrip",
    """
    WITH d AS (
      SELECT doc_id, n_chars % 3 + 1 AS wb, doc_id % 2 + 1 AS hb
      FROM documents
    )
    SELECT doc_id, CAST(8 * wb AS BIGINT) AS width,
           CAST(8 * hb AS BIGINT) AS height,
           CAST(list_reduce(list_transform(range(0, wb * hb),
                  b -> 64 * ((doc_id * 7 + b * 13) % 201 + 28)),
                (a, b) -> a + b) AS BIGINT) AS pixel_sum,
           CAST(list_reduce(list_transform(range(0, wb * hb),
                  b -> 19600 * ((doc_id * 7 + b * 13) % 201 + 28)
                       + 64 * ((doc_id + b * 5) % 41 - 20)),
                (a, b) -> a + b) AS BIGINT) AS wxy_sum
    FROM d ORDER BY doc_id
    """,
    doc=(
        "LOSSY-codec round-trip: encode a real baseline JPEG per doc "
        "(SOF0 grayscale, Annex K Huffman tables, DC prediction, ZRL "
        "runs, byte stuffing), fully decode it back (marker walk, "
        "canonical Huffman rebuild, dequant, de-zigzag, full 2-D IDCT), "
        "emit dims + two integer pixel statistics. Coefficients are "
        "chosen so the IDCT is exactly integral (one DC + one AC at "
        "raster (4,4), flat quant 8), so the oracle recomputes both "
        "stats arithmetically: pixel_sum pins the DC path, wxy_sum "
        "(x\u00b2y\u00b2-weighted) pins AC magnitude and sign. A hash match "
        "proves the entropy-coded lossy bitstream reconstructed every "
        "pixel \u2014 the production image format the PNG/BMP trio lacked."
    ),
)
def multimodal_jpeg_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.multimodal import jpeg_roundtrip

    return jpeg_roundtrip(table(spark, sf_dir, "documents"))


@register(
    "multimodal_wav_roundtrip",
    """
    WITH d AS (SELECT doc_id, n_chars % 50 + 1 AS n FROM documents)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(list_reduce(list_transform(range(0, n),
                  k -> (doc_id * 37 + k * 11) % 2001 - 1000), (a, b) -> a + b)
                AS BIGINT) AS sample_sum,
           CAST(44 + 2 * n AS BIGINT) AS n_bytes
    FROM d ORDER BY doc_id
    """,
    doc=(
        "Real audio-container round-trip: synthesize a deterministic "
        "PCM16 signal per doc, write an actual RIFF/WAVE file (stdlib "
        "wave), parse it back, emit recovered sample count + exact "
        "integer sample sum + container size (44-byte header + 2 bytes "
        "per sample). With the BMP and AVI round-trips, all three "
        "vendored real codec paths are hash-verified by the driver."
    ),
)
def multimodal_wav_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.multimodal import wav_roundtrip

    return wav_roundtrip(table(spark, sf_dir, "documents"))


@register(
    "multimodal_avi_roundtrip",
    """
    WITH d AS (
      SELECT doc_id, n_chars % 13 + 1 AS w, doc_id % 7 + 1 AS h,
             doc_id % 4 + 1 AS nf, n_chars % 9 + 1 AS flen
      FROM documents
    )
    SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(nf * flen AS BIGINT) AS frame_bytes,
           CAST(100 + nf * (8 + flen + flen % 2) AS BIGINT) AS n_bytes
    FROM d ORDER BY doc_id
    """,
    doc=(
        "Real video-container round-trip: encode an uncompressed RIFF/AVI "
        "per doc (dims + frame count + frame size derived from doc "
        "fields), demux it back with the vendored stdlib demuxer, emit "
        "recovered dims/frame-count/byte totals. The oracle recomputes "
        "the exact RIFF layout (12-byte header + 76-byte hdrl + 12-byte "
        "movi head + per-frame 8-byte chunks with even padding) "
        "arithmetically — a hash match means real chunk parsing ran."
    ),
)
def multimodal_avi_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.multimodal import avi_roundtrip

    return avi_roundtrip(table(spark, sf_dir, "documents"))


def _adpcm_oracle_sql() -> str:
    # The oracle replays the IMA decode recursion as a RECURSIVE CTE (one
    # row per (doc, sample); standard row semantics — DuckDB 1.0's lambda
    # struct-folds evaluate cross-field reads inconsistently and cannot
    # host the state machine). The predictor clamp is omitted on purpose:
    # the lattice construction bounds |pred| <= 1271 over the full
    # (doc_id, n_chars) space (exhaustively swept), so it can never fire;
    # the index clamp DOES fire (adj -1 at idx 0) and is kept.
    from yamon_spark.operators.multimodal import ADPCM_STEPS

    steps = "[" + ", ".join(map(str, ADPCM_STEPS)) + "]"
    return f"""
    WITH RECURSIVE
    tbl AS (SELECT {steps} AS st, [-1,-1,-1,-1,2,4,6,8] AS adj),
    d AS (
      SELECT doc_id, n_chars % 41 + 8 AS n,
             (doc_id * 29) % 2001 - 1000 AS p0,
             doc_id % 8 AS i0
      FROM documents
    ),
    walk AS (
      SELECT doc_id, n, 1 AS k, p0 AS pred, i0 AS idx,
             CAST(p0 AS BIGINT) AS ssum, CAST(0 AS BIGINT) AS csum
      FROM d
      UNION ALL
      SELECT doc_id, n, k + 1,
        pred + (CASE WHEN (doc_id + k * 5) % 2 = 1 THEN -1 ELSE 1 END) *
          (st[idx + 1] // 8
           + (((doc_id * 7 + k * 13) % 6) % 2) * (st[idx + 1] // 4)
           + ((((doc_id * 7 + k * 13) % 6) // 2) % 2) * (st[idx + 1] // 2)
           + (((doc_id * 7 + k * 13) % 6) // 4) * st[idx + 1]),
        greatest(0, least(88, idx + adj[((doc_id * 7 + k * 13) % 6) + 1])),
        ssum + pred + (CASE WHEN (doc_id + k * 5) % 2 = 1 THEN -1 ELSE 1 END) *
          (st[idx + 1] // 8
           + (((doc_id * 7 + k * 13) % 6) % 2) * (st[idx + 1] // 4)
           + ((((doc_id * 7 + k * 13) % 6) // 2) % 2) * (st[idx + 1] // 2)
           + (((doc_id * 7 + k * 13) % 6) // 4) * st[idx + 1]),
        csum + ((doc_id * 7 + k * 13) % 6)
             + CASE WHEN (doc_id + k * 5) % 2 = 1 THEN 8 ELSE 0 END
      FROM walk, tbl WHERE k < n
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples, ssum AS sample_sum,
           csum AS code_sum, CAST(64 + n // 2 AS BIGINT) AS n_bytes
    FROM walk WHERE k = n ORDER BY doc_id
    """


@register(
    "multimodal_adpcm_roundtrip",
    _adpcm_oracle_sql(),
    doc=(
        "COMPRESSED-audio round-trip — the last modality without a real "
        "compressed bitstream: synthesize a signal on the IMA-ADPCM "
        "decoder's reachable lattice, 4-bit ADPCM-encode it for real, "
        "container it as an actual WAV format 0x11 file (fmt cbSize=2 + "
        "fact + block header), fully parse and decode that bitstream "
        "back, and emit exact integer stats. code_sum pins the ENCODER's "
        "emitted codes against the oracle's formula-derived sequence; "
        "sample_sum pins the container parse + decode recursion (header "
        "state, low-first nibble order, step/index tables, fact-count "
        "pad crop); n_bytes pins the RIFF layout (64-byte fixed overhead "
        "+ one nibble byte per two samples — the 4:1 compression). The "
        "oracle replays the stateful decode as a recursive CTE."
    ),
)
def multimodal_adpcm_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.multimodal import adpcm_roundtrip

    return adpcm_roundtrip(table(spark, sf_dir, "documents"))


@register(
    "multimodal_mjpeg_roundtrip",
    """
    WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS nf FROM documents)
    SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(list_reduce(list_transform(range(0, nf),
                  f -> 64 * ((doc_id * 7 + f * 13) % 201 + 28)),
                (a, b) -> a + b) AS BIGINT) AS pixel_sum,
           CAST(list_reduce(list_transform(range(0, nf),
                  f -> 19600 * ((doc_id * 7 + f * 13) % 201 + 28)
                       + 64 * ((doc_id + f * 5) % 41 - 20)),
                (a, b) -> a + b) AS BIGINT) AS wxy_sum
    FROM d ORDER BY doc_id
    """,
    doc=(
        "COMPRESSED-VIDEO round-trip: per doc, entropy-code nf "
        "coefficient-domain frames into standalone baseline JPEGs, mux "
        "them as '00dc' MJPG chunks in a real RIFF/AVI (avih + "
        "'vids'/'MJPG' strh + movi), then demux and FULLY decode every "
        "frame back (container walk, handler check, Huffman decode, "
        "dequant, 2-D IDCT) and emit per-doc pixel statistics the "
        "oracle recomputes arithmetically. Closes the 'no compressed "
        "video bitstream has ever executed' gap: the AVI path was "
        "uncompressed frames, the JPEG path single images — this is "
        "the composition, a genuine MJPEG video stream under the "
        "driver's hash gate."
    ),
)
def multimodal_mjpeg_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.multimodal import mjpeg_roundtrip

    return mjpeg_roundtrip(table(spark, sf_dir, "documents"))


# shared by multimodal_audio_windows and multimodal_audio_trim: the
# hex-decoded little-endian PCM16 framing + per-window RMS derivation
_AUDIO_WINDOWS_SQL = """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
      FROM documents
    ), s AS (
      SELECT doc_id, CAST((nb - nb % 2) / 2 AS BIGINT) AS n,
        list_transform(range(0, CAST((nb - nb % 2) / 2 AS BIGINT)), k ->
          CASE WHEN (16*(strpos('0123456789ABCDEF', substr(h, 4*k+3, 1))-1)
                     + (strpos('0123456789ABCDEF', substr(h, 4*k+4, 1))-1)) * 256
                    + 16*(strpos('0123456789ABCDEF', substr(h, 4*k+1, 1))-1)
                    + (strpos('0123456789ABCDEF', substr(h, 4*k+2, 1))-1) >= 32768
               THEN (16*(strpos('0123456789ABCDEF', substr(h, 4*k+3, 1))-1)
                     + (strpos('0123456789ABCDEF', substr(h, 4*k+4, 1))-1)) * 256
                    + 16*(strpos('0123456789ABCDEF', substr(h, 4*k+1, 1))-1)
                    + (strpos('0123456789ABCDEF', substr(h, 4*k+2, 1))-1) - 65536
               ELSE (16*(strpos('0123456789ABCDEF', substr(h, 4*k+3, 1))-1)
                     + (strpos('0123456789ABCDEF', substr(h, 4*k+4, 1))-1)) * 256
                    + 16*(strpos('0123456789ABCDEF', substr(h, 4*k+1, 1))-1)
                    + (strpos('0123456789ABCDEF', substr(h, 4*k+2, 1))-1)
          END) AS arr
      FROM b
    ), w AS (
      SELECT doc_id, n, arr,
             unnest(range(0, CASE WHEN n >= 64 THEN (n - 64) // 32 + 1 ELSE 1 END)) AS i
      FROM s
    )
    SELECT doc_id, CAST(i AS BIGINT) AS win_idx, n AS n_samples,
           -- COALESCE guards the empty-window slice (payload < 2 bytes):
           -- list_sum([]) is NULL in DuckDB, audio_windows emits 0.0
           COALESCE(ROUND(sqrt(list_sum(list_transform(arr[i*32+1 : i*32+64],
                                              x -> CAST(x * x AS DOUBLE)))
                      / len(arr[i*32+1 : i*32+64])), 4), 0.0) AS rms
    FROM w ORDER BY doc_id, win_idx
    """


@register(
    "multimodal_audio_windows",
    _AUDIO_WINDOWS_SQL,
    doc=(
        "Audio framing plumbing: payload interpreted as little-endian "
        "PCM16 -> per-window RMS energy (64-sample windows every 32) via "
        "Arrow mapInPandas; the oracle decodes the same PCM samples from "
        "hex-decoded payload bytes. Integer-exact sums + IEEE sqrt make "
        "the float comparison engine-stable."
    ),
)
def multimodal_audio_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.multimodal import attach_binary, audio_windows

    wins = audio_windows(attach_binary(table(spark, sf_dir, "documents")), win=64, hop=32)
    return wins.orderBy("doc_id", "win_idx")


@register(
    "multimodal_audio_trim",
    f"""
    WITH aw AS ({_AUDIO_WINDOWS_SQL.replace("ORDER BY doc_id, win_idx", "")})
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN rms >= 25500.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
           min(CASE WHEN rms >= 25500.0 THEN win_idx END) AS first_active,
           max(CASE WHEN rms >= 25500.0 THEN win_idx END) AS last_active,
           CASE WHEN sum(CASE WHEN rms >= 25500.0 THEN 1 ELSE 0 END) > 0
                THEN least(max(CASE WHEN rms >= 25500.0 THEN win_idx END) * 32 + 64,
                           any_value(n_samples))
                     - min(CASE WHEN rms >= 25500.0 THEN win_idx END) * 32
                ELSE 0 END AS trimmed_samples,
           round(CAST(sum(CASE WHEN rms >= 25500.0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS active_ratio
    FROM aw GROUP BY doc_id ORDER BY doc_id
    """,
    doc=(
        "Silence trimming over the framed-RMS audio front end (the VAD "
        "pre-step every ASR training pipeline runs): per doc, the first "
        "and last analysis window whose RMS clears the energy floor and "
        "the trimmed sample span they bound (window*hop geometry, span "
        "capped at the decoded length); all-quiet docs trim to 0. "
        "Composes on the audio_windows plan — same shuffle-free Arrow "
        "framing, one per-doc partial agg."
    ),
)
def multimodal_audio_trim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.multimodal import attach_binary, audio_trim

    return audio_trim(
        attach_binary(table(spark, sf_dir, "documents")), win=64, hop=32, rms_threshold=25500.0
    )


def _minhash_err_oracle(num_hashes: int = 16) -> str:
    eq = " + ".join(
        f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return (
        "WITH "
        + _shingle_cte(3)
        + f"""
    , hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % 2147483647 AS h
      FROM sh
    )
    , sigt AS (SELECT doc_id, {{sig}} FROM hashed GROUP BY doc_id)
    , bkt AS (SELECT doc_id, {{bk}} FROM sigt)
    , cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bkt a JOIN bkt b
        ON a.doc_id < b.doc_id
       AND (a.bk_0 = b.bk_0 OR a.bk_1 = b.bk_1 OR a.bk_2 = b.bk_2 OR a.bk_3 = b.bk_3)
    )
    , est AS (
      SELECT c.doc_a, c.doc_b, ({eq}) / {num_hashes}.0 AS est_j
      FROM cand c JOIN sigt a ON a.doc_id = c.doc_a JOIN sigt b ON b.doc_id = c.doc_b
    )
    , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    , inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    , ex AS (
      SELECT i.doc_a, i.doc_b,
             CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS exact_j
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    , err AS (
      SELECT abs(e.est_j - coalesce(x.exact_j, 0)) AS abs_err
      FROM est e LEFT JOIN ex x USING (doc_a, doc_b)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(abs_err), 4) AS mean_abs_err,
           round(max(abs_err), 4) AS max_abs_err
    FROM err
    """
    ).format(sig=_SIG_SQL, bk=_BK_SQL)


@register(
    "dedup_minhash_err",
    _minhash_err_oracle(16),
    doc=(
        "Accuracy gate for the MinHash sketch: over the LSH candidate "
        "pairs, |sketch-estimated Jaccard (equal-signature fraction) - "
        "exact shingle Jaccard| as mean/max — the recall-gate pattern "
        "the ANN shelf uses, applied to the dedup family's estimator. "
        "Band-collision pairs with no shared shingle count against the "
        "estimate (exact = 0). Signatures computed once; candidates "
        "bucket-bounded; exact pass shingles only candidate docs."
    ),
)
def minhash_err_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import minhash_estimate_error

    return minhash_estimate_error(table(spark, sf_dir, "documents"), ngram=3, num_hashes=16, band_size=4)


def _simhash_pairs_oracle(bits: int = 16, max_hamming: int = 3) -> str:
    from itertools import combinations

    masks = [
        sum(1 << i for i in pos)
        for r in range(1, max_hamming + 1)
        for pos in combinations(range(bits), r)
    ]
    return f"""
    WITH {_simhash_cte(bits)},
    d AS (SELECT DISTINCT simhash AS fa FROM sims),
    nb AS (
      SELECT fa, xor(fa, m) AS fb
      FROM d, unnest([{", ".join(map(str, masks))}]) t(m)
      WHERE xor(fa, m) > fa
    ),
    fpp AS (SELECT nb.fa, nb.fb FROM nb JOIN d d2 ON d2.fa = nb.fb),
    cross_p AS (
      SELECT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b,
             CAST(bit_count(xor(p.fa, p.fb)) AS INT) AS hamming
      FROM fpp p JOIN sims a ON a.simhash = p.fa JOIN sims b ON b.simhash = p.fb
    ),
    same_p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INT) AS hamming
      FROM sims a JOIN sims b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT * FROM cross_p UNION ALL SELECT * FROM same_p
    ) ORDER BY doc_a, doc_b
    """


@register(
    "dedup_simhash_pairs",
    _simhash_pairs_oracle(32, 2),
    doc=(
        "SimHash near-dup pairs within Hamming<=2 over 32-bit "
        "fingerprints (Manku-style web dedup): candidates from the "
        "DISTINCT-fingerprint table expanded through the 528 XOR-mask "
        "neighbors and hash-joined back — |distinct fps| x 528 rows, "
        "linear with a small constant (all-pairs and short band-buckets "
        "are both quadratic); doc fan-out bounded by true duplication. "
        "Integer-exact, no rounding contract."
    ),
)
def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(table(spark, sf_dir, "documents"), bits=32, max_hamming=2)


def _simhash64_cte() -> str:
    """CTE chain ending in `sims(doc_id, sim_hi, sim_lo)` — the two-word
    64-bit fingerprint (bit j of word-hash = bit (3 - j%4) of md5 nibble
    j//4; hi = bits 0-31 weighted 2^(31-j), lo = bits 32-63 weighted
    2^(63-j)), mirroring operators.dedup.simhash(bits=64) exactly."""
    bit_exprs = []
    for j in range(64):
        nib = f"(strpos('0123456789abcdef', substr(h, {j // 4 + 1}, 1)) - 1)"
        bit = f"(({nib} // {2 ** (3 - j % 4)}) % 2)"
        bit_exprs.append(f"sum({bit} * 2 - 1) AS b{j}")
    hi = " + ".join(f"CASE WHEN b{j} > 0 THEN {2 ** (31 - j)} ELSE 0 END" for j in range(32))
    lo = " + ".join(f"CASE WHEN b{j} > 0 THEN {2 ** (63 - j)} ELSE 0 END" for j in range(32, 64))
    return f"""
    wrds AS (
      SELECT doc_id, unnest(list_distinct({_WORDS})) AS word FROM documents
    ), hashed AS (
      SELECT doc_id, md5(word) AS h FROM wrds
    ), votes AS (
      SELECT doc_id, {", ".join(bit_exprs)} FROM hashed GROUP BY doc_id
    ), sims AS (
      SELECT doc_id, CAST({hi} AS BIGINT) AS sim_hi, CAST({lo} AS BIGINT) AS sim_lo
      FROM votes
    )"""


_SIMHASH64_PAIRS_ORACLE = f"""
    WITH {{cte}},
    single AS (
      SELECT CAST(p AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2 FROM range(0, 64) t(p)
    ),
    duo AS (
      SELECT CAST(a.p AS BIGINT) AS b1, CAST(b.p AS BIGINT) AS b2
      FROM range(0, 64) a(p), range(0, 64) b(p) WHERE a.p < b.p
    ),
    masks AS (
      SELECT (CASE WHEN b1 < 32 THEN (1::BIGINT << CAST(31 - b1 AS INT)) ELSE 0 END)
           + (CASE WHEN b2 IS NOT NULL AND b2 < 32
                   THEN (1::BIGINT << CAST(31 - b2 AS INT)) ELSE 0 END) AS mhi,
             (CASE WHEN b1 >= 32 THEN (1::BIGINT << CAST(63 - b1 AS INT)) ELSE 0 END)
           + (CASE WHEN b2 IS NOT NULL AND b2 >= 32
                   THEN (1::BIGINT << CAST(63 - b2 AS INT)) ELSE 0 END) AS mlo
      FROM (SELECT * FROM single UNION ALL SELECT * FROM duo)
    ),
    d AS (SELECT DISTINCT sim_hi AS fa_hi, sim_lo AS fa_lo FROM sims),
    nb AS (
      SELECT fa_hi, fa_lo, xor(fa_hi, mhi) AS fb_hi, xor(fa_lo, mlo) AS fb_lo
      FROM d, masks
      WHERE xor(fa_hi, mhi) > fa_hi
         OR (xor(fa_hi, mhi) = fa_hi AND xor(fa_lo, mlo) > fa_lo)
    ),
    fpp AS (
      SELECT nb.fa_hi, nb.fa_lo, nb.fb_hi, nb.fb_lo
      FROM nb JOIN d d2 ON d2.fa_hi = nb.fb_hi AND d2.fa_lo = nb.fb_lo
    ),
    cross_p AS (
      SELECT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b,
             CAST(bit_count(xor(p.fa_hi, p.fb_hi))
                  + bit_count(xor(p.fa_lo, p.fb_lo)) AS INT) AS hamming
      FROM fpp p
      JOIN sims a ON a.sim_hi = p.fa_hi AND a.sim_lo = p.fa_lo
      JOIN sims b ON b.sim_hi = p.fb_hi AND b.sim_lo = p.fb_lo
    ),
    same_p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INT) AS hamming
      FROM sims a JOIN sims b
        ON a.sim_hi = b.sim_hi AND a.sim_lo = b.sim_lo AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT * FROM cross_p UNION ALL SELECT * FROM same_p
    ) ORDER BY doc_a, doc_b
    """


@register(
    "dedup_simhash64",
    "WITH" + _simhash64_cte()[4:] + " SELECT doc_id, sim_hi, sim_lo FROM sims ORDER BY doc_id",
    doc=(
        "64-bit SimHash fingerprints as two 32-bit BIGINT words (hi = "
        "bits 0-31, lo = 32-63) - the Manku production operating point "
        "where the fingerprint space cannot saturate; two words because "
        "bit 0's 2^63 weight overflows signed BIGINT in both engines."
    ),
)
def dedup_simhash64_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import simhash

    return simhash(table(spark, sf_dir, "documents"), bits=64)


@register(
    "dedup_simhash64_pairs",
    _SIMHASH64_PAIRS_ORACLE.format(cte=_simhash64_cte()),
    doc=(
        "SimHash near-dup pairs within Hamming<=2 over 64-bit two-word "
        "fingerprints (the Manku production configuration): distinct "
        "(hi,lo) table expanded through the 2,080 XOR-mask neighbors "
        "(C(64,1)+C(64,2)) and hash-joined back on both words - "
        "|distinct fps| x 2,080 rows, linear; Hamming = bit_count(hi "
        "XOR) + bit_count(lo XOR), integer-exact."
    ),
)
def dedup_simhash64_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(table(spark, sf_dir, "documents"), bits=64, max_hamming=2)


_INCR_ORACLE = (
    "WITH "
    + _shingle_cte(3)
    + f"""
    , hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % 2147483647 AS h
      FROM sh
    )
    , sigt AS (SELECT doc_id, {_SIG_SQL} FROM hashed GROUP BY doc_id)
    , bkt AS (SELECT doc_id, {_BK_SQL} FROM sigt)
    , br AS (
      SELECT doc_id, 0 AS band, bk_0 AS band_key FROM bkt
      UNION ALL SELECT doc_id, 1, bk_1 FROM bkt
      UNION ALL SELECT doc_id, 2, bk_2 FROM bkt
      UNION ALL SELECT doc_id, 3, bk_3 FROM bkt
    )
    , dig AS (SELECT doc_id, sha256(text) AS digest FROM documents)
    , idx_dig AS (
      SELECT digest, min(doc_id) AS exact_id FROM dig WHERE doc_id % 10 <> 9 GROUP BY digest
    )
    , ex AS (
      SELECT d.doc_id, i.exact_id FROM dig d LEFT JOIN idx_dig i USING (digest)
      WHERE d.doc_id % 10 = 9
    )
    , idx_b AS (
      SELECT band, band_key, min(doc_id) AS idx_min
      FROM br WHERE doc_id % 10 <> 9 GROUP BY band, band_key
    )
    , hits AS (
      SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_bands_hit, min(i.idx_min) AS near_id
      FROM br n JOIN idx_b i ON i.band = n.band AND i.band_key = n.band_key
      WHERE n.doc_id % 10 = 9 GROUP BY n.doc_id
    )
    SELECT e.doc_id,
           CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
                WHEN h.near_id IS NOT NULL THEN 'near'
                ELSE 'unique' END AS verdict,
           coalesce(e.exact_id, h.near_id) AS matched_id,
           CAST(coalesce(h.n_bands_hit, 0) AS BIGINT) AS n_bands_hit
    FROM ex e LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """
)


@register(
    "dedup_incremental",
    _INCR_ORACLE,
    doc=(
        "Ingest-time batch-vs-index dedup verdicts (exact sha256 hit / "
        "MinHash-LSH band collision / unique) — the incremental path a "
        "production pipeline runs per landed batch instead of re-deduping "
        "the whole corpus. Hash joins on uniform digest/band keys against "
        "min-doc-per-key index aggregates; no broadcast grows with the "
        "corpus, no pair space materialized."
    ),
)
def dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import dedup_incremental

    return dedup_incremental(table(spark, sf_dir, "documents"), batch_mod=10, batch_rem=9)


@register(
    "dedup_threshold_sweep",
    """
    WITH s AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      list_reduce(list_transform(range(1, len(a.embedding) + 1),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y) AS dot,
      list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS na,
      list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS nb
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    p AS (
      SELECT vec_b, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cs FROM s
    ),
    ts AS (SELECT unnest(list_transform(range(3, 10), i -> i / 10.0)) AS t),
    c AS (
      SELECT t,
             count(CASE WHEN cs >= t THEN 1 END) AS n_pairs,
             count(DISTINCT CASE WHEN cs >= t THEN vec_b END) AS n_removed
      FROM p, ts GROUP BY t
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM embeddings)
    SELECT t AS threshold, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_removed AS BIGINT) AS n_removed,
           round(n_removed / tot.n_docs, 4) AS removed_frac
    FROM c, tot ORDER BY threshold
    """,
    doc=(
        "Operating-point selection for semantic dedup — the "
        "threshold-sweep idea applied to the cosine near-dup gate: per "
        "candidate threshold 0.3..0.9, the pairs that fire and the docs "
        "the greedy drop-higher-id policy would remove (count + corpus "
        "fraction). ONE blocked-matmul pair pass at the lowest "
        "threshold feeds every row via conditional aggregates — no "
        "per-threshold rescans; the table read before committing a "
        "dedup threshold to a 100 TB corpus."
    ),
)
def dedup_threshold_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import dedup_threshold_sweep

    return dedup_threshold_sweep(table(spark, sf_dir, "embeddings"))


@register(
    "dedup_source_matrix",
    "SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs, "
    # tie-proof mean (see operators/dedup.py source_dup_matrix): exact
    # integer half-up over 1e4-scaled 4dp jaccards — double round(avg)
    # is engine-dependent on the exact half-ties sf0.1 produces
    "CAST((2 * sum(CAST(round(jaccard * 10000, 0) AS BIGINT)) + count(*)) "
    "     // (2 * count(*)) AS DOUBLE) / 10000.0 AS avg_jaccard FROM ("
    "  SELECT least(da.source, db.source) AS src_a, "
    "         greatest(da.source, db.source) AS src_b, p.jaccard"
    "  FROM (WITH " + _shingle_cte(3) + _JACCARD_TAIL.format(thr=0.5) + ") p"
    "  JOIN documents da ON da.doc_id = p.doc_a"
    "  JOIN documents db ON db.doc_id = p.doc_b) j "
    "GROUP BY src_a, src_b ORDER BY n_pairs DESC, src_a, src_b",
    doc=(
        "Cross-source near-dup matrix: near-dup pair count + mean "
        "Jaccard per unordered source pair — the 'which crawls mirror "
        "each other' ingest-budget report (diagonal = intra-source "
        "duplication). Reuses the posting-list pair kernel; joins and "
        "the |sources|^2-bounded groupBy shuffle only the pair set. "
        "Because it shares the pair kernel, the stop-shingle cap "
        "(DEFAULT_MAX_DOC_FREQ, operators/dedup.py) applies here too: "
        "on a boilerplate-heavy corpus run dedup_cap_plan first and "
        "pass the chosen max_doc_freq, or the cross-source pair "
        "expansion inherits the same quadratic hot-shingle mass."
    ),
)
def dedup_source_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yamon_spark.operators.dedup import source_dup_matrix

    return source_dup_matrix(table(spark, sf_dir, "documents"), ngram=3, threshold=0.5)
