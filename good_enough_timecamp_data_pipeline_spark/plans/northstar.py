"""North-star LLM-data-pipeline queries (SURVEY §2.11) over documents/
embeddings, with DuckDB oracle twins where SQL-expressible. Families:
corpus text analysis (``t_token_stats`` … ``t_ngram_novelty``), lexical
near-dup detection, containment and their audits (``d_``), embedding
search and semantic dedup (``s_cosine_*``, ``s_ann_*``, ``s_kmeans``,
``t_semdedup``), multimodal features, and the streaming entries
(``s_stream_*``).

Duplicate/near-duplicate inputs are *injected* deterministically (the
driver's documents table has fully distinct texts): exact copies under
``doc_id + 1_000_000`` for ``doc_id % 7 = 0``, near-copies (5 appended
tokens) for ``doc_id % 19 = 0`` — both sides derive the same unioned view.

Portability notes:
- tokenization: ``split on \\s+, drop empties`` ≙ DuckDB
  ``list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '')``;
- all text hashes are md5 (bit-identical across engines);
- cosine scores are bit-identical because both sides multiply float32
  values widened to float64 and fold sequentially (verified empirically:
  Spark ``aggregate(zip_with(...))`` == DuckDB ``list_dot_product``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, similarity, text
from ..operators.dedup import containment_pairs, shingle_pairs_jaccard, shingle_rows
from ..operators.layout import fan_out_scan
from ..operators.text import tokenize
from ..streaming.stateful import streaming_sessionize
from ..streaming.windows import (
    streaming_dedup,
    streaming_sliding_counts,
    streaming_tumbling_counts,
)
from . import shared
from .common import (
    DOCS_NEAR_DUP_SQL,
    TOKS_SQL,
    corpus_lsh_index,
    docs_near_dup,
    shingles_sql,
    stop_ratio_sql,
)
from .shared import session_memo
from .testdata import load_table


DOCS_EXACT_DUP_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
""".strip()


def _docs_exact_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.unionByName(dups)


# ---------------------------------------------------------------------------
# T — text analysis
# ---------------------------------------------------------------------------

def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = text.tokenize(F.col("text"))
    total_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n = F.size(toks)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        total_chars.alias("total_token_chars"),
        F.when(n > 0, total_chars.cast("double") / n).otherwise(F.lit(0.0)).alias(
            "avg_token_len"
        ),
    )


T_TOKEN_STATS_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS INTEGER) AS total_token_chars,
       CASE WHEN len(toks) > 0
            THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
            ELSE 0.0 END AS avg_token_len
FROM t
""".strip()


def t_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = text.tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        text.stopword_ratio(toks, text.STOPWORDS["en"]).alias("en_stop_ratio"),
        text.quality_score(F.col("text")).alias("quality"),
    )


T_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
m AS (
    SELECT doc_id,
           {stop_ratio_sql('toks', text.STOPWORDS['en'])} AS en_stop_ratio,
           CASE WHEN len(toks) >= 20 AND len(toks) <= 1000 THEN 1.0
                WHEN len(toks) > 0 THEN 0.5 ELSE 0.0 END AS len_band,
           CASE WHEN length(text) > 0
                THEN CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                     / length(text)
                ELSE 0.0 END AS alpha_ratio
    FROM t
)
SELECT doc_id, en_stop_ratio,
       0.4 * len_band + 0.4 * alpha_ratio
           + 0.2 * (CASE WHEN en_stop_ratio > 0.01 THEN 1.0 ELSE 0.0 END) AS quality
FROM m
""".strip()


def t_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", text.lang_id(F.col("text")).alias("lang_pred"))


T_LANGID_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
r AS (
    SELECT doc_id,
           {stop_ratio_sql('toks', text.STOPWORDS['de'])} AS r_de,
           {stop_ratio_sql('toks', text.STOPWORDS['en'])} AS r_en,
           {stop_ratio_sql('toks', text.STOPWORDS['es'])} AS r_es
    FROM t
)
SELECT doc_id,
       CASE WHEN r_es > r_de AND r_es > r_en AND r_es > 0 THEN 'es'
            WHEN r_en > r_de AND r_en > 0 THEN 'en'
            WHEN r_de > 0 THEN 'de'
            ELSE 'und' END AS lang_pred
FROM r
""".strip()


def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id",
        text.content_fingerprint(F.col("text")).alias("content_hash"),
        text.key_fingerprint(F.col("text")).alias("key_hash"),
    )


T_FINGERPRINT_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
       md5(array_to_string(toks, ' ')) AS content_hash,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS key_hash
FROM t
""".strip()


def t_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    # tf-weighted signature build (guide §2.3): collapse repeats to
    # distinct (doc, tok, cnt) first — map-side partial count, since a
    # doc's tokens are co-located pre-explode — so md5/conv/bit exprs run
    # once per distinct token per doc; SUM(cnt × ±1) ≡ SUM(±1) exactly
    tok_counts = (
        docs.select("doc_id", F.explode(text.tokenize(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("_cnt"))
        .withColumn("tok_hash", F.md5("tok"))
    )
    # fast engine path: parse each md5 half once, shift/mask per bit —
    # bit-identical to the portable instr/substr SQL the oracle runs
    v1, v2 = text.md5_half_longs("tok_hash")
    tok_counts = tok_counts.withColumn("_v1", v1).withColumn("_v2", v2)
    return (
        tok_counts.groupBy("doc_id")
        .agg(*text.simhash_agg_cols_weighted("_v1", "_v2", "_cnt", 64))
        .select("doc_id", F.expr(text.simhash_bits_concat_sql(64)).alias("simhash"))
    )


T_SIMHASH_SQL = f"""
WITH t AS (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS tok_hash FROM t),
s AS (SELECT doc_id, {', '.join(text.simhash_agg_exprs('tok_hash', 64))}
      FROM h GROUP BY doc_id)
SELECT doc_id, {text.simhash_bits_concat_sql(64)} AS simhash
FROM s
""".strip()


def t_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation as ONE composed plan:
    duplicate-injected docs → exact-dedup (keep min-id winner) → quality
    gate (≥ 0.5) → language ID + token stats for the surviving docs.

    The composition is the point — and every per-doc narrow
    compute reads the SESSION-SHARED scored corpus
    (`curation.docs_hash_scored`: doc_id, content_h, n_tokens, quality,
    lang_pred — built once, reported under shared_build_sec) instead of
    re-tokenizing per query. The duplicate-injected twins share their
    source's TEXT by construction, so they inherit its artifact row with
    only a doc_id shift — the composed plan never touches the corpus
    body at all: dedup winners are row_number()=1 over a content-HASH
    window whose shuffle payload is six narrow columns (the former shape
    shuffled full document text — the dominant sf10 cost, 2.98× DuckDB),
    and the gate/stats columns are already materialized. On a real
    cluster this is exactly a curation run over a scored-corpus
    materialized view. Output identical; every derived column's oracle
    twin still recomputes from raw text in SQL.
    """
    from .curation import docs_hash_scored

    stats = docs_hash_scored(spark, sf_dir)
    injected = stats.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    d = stats.unionByName(injected)
    w = Window.partitionBy("content_h").orderBy("doc_id")
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("quality") >= 0.5))
        .select(
            "doc_id",
            "quality",
            "lang_pred",
            F.col("n_tokens").cast("int").alias("n_tokens"),
        )
    )


T_CORPUS_PREP_SQL = f"""
WITH d AS ({DOCS_EXACT_DUP_SQL}),
winners AS (
    SELECT MIN(doc_id) AS doc_id FROM d GROUP BY md5(text)
),
t AS (
    SELECT d.doc_id, d.text, {TOKS_SQL} AS toks
    FROM d JOIN winners w ON d.doc_id = w.doc_id
),
m AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 20 AND len(toks) <= 1000 THEN 1.0
                WHEN len(toks) > 0 THEN 0.5 ELSE 0.0 END AS len_band,
           CASE WHEN length(text) > 0
                THEN CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                     / length(text)
                ELSE 0.0 END AS alpha_ratio,
           {stop_ratio_sql('toks', text.STOPWORDS['en'])} AS r_en,
           {stop_ratio_sql('toks', text.STOPWORDS['es'])} AS r_es,
           {stop_ratio_sql('toks', text.STOPWORDS['de'])} AS r_de,
           len(toks) AS n_tokens
    FROM t
),
q AS (
    SELECT doc_id,
           0.4 * len_band + 0.4 * alpha_ratio
               + 0.2 * (CASE WHEN r_en > 0.01 THEN 1.0 ELSE 0.0 END) AS quality,
           CASE WHEN r_es > r_de AND r_es > r_en AND r_es > 0 THEN 'es'
                WHEN r_en > r_de AND r_en > 0 THEN 'en'
                WHEN r_de > 0 THEN 'de'
                ELSE 'und' END AS lang_pred,
           n_tokens
    FROM m
)
SELECT doc_id, quality, lang_pred, n_tokens
FROM q WHERE quality >= 0.5
""".strip()


def t_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) + per-split
    language counts in one output — reproducible across engines because
    the bucket is md5-derived, not rand()."""
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    assigned = hash_split(
        docs, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05}
    )
    return assigned.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
    )


T_SPLIT_SQL = """
WITH b AS (
    SELECT lang, n_chars,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 AS bucket
    FROM documents
),
assigned AS (
    SELECT lang, n_chars,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM b
)
SELECT split, lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
FROM assigned GROUP BY split, lang
""".strip()


# ---------------------------------------------------------------------------
# D — deduplication
# ---------------------------------------------------------------------------

def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs_exact_dup(spark, sf_dir))


D_EXACT_DEDUP_SQL = f"""
WITH d AS ({DOCS_EXACT_DUP_SQL})
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS winner_id,
       COUNT(*) AS n_copies
FROM d GROUP BY md5(text)
""".strip()


def _jaccard_tail_sql(threshold: float) -> str:
    return f"""
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_inter,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}
""".strip()


@shared.artifact("neardup_shingles_n5")
def _near_dup_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, sh) 5-gram shingle rows over the near-dup corpus as a
    SESSION-shared checkpoint (plans/shared.py): tokenize+shingle is the
    CPU-heavy narrow pass of every lexical dedup entry, and
    d_ngram_jaccard / d_minhash_lsh / d_lsh_quality all consume the
    identical table — one materialization serves the family (in
    production this is the persisted shingle half of the LSH index,
    dedup.build_lsh_index_cached)."""
    return dedup.shingle_rows(docs_near_dup(spark, sf_dir), n=5)


@shared.artifact("neardup_truth_n5_t0.5")
def _near_dup_truth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard ≥ 0.5 pair set over the shared shingles, shared-
    checkpointed: it is simultaneously d_ngram_jaccard's RESULT and
    d_lsh_quality's ground truth (the truth-reuse pattern — the audit
    measures recall against exactly this definition)."""
    return dedup.shingle_pairs_jaccard(
        docs_near_dup(spark, sf_dir),
        n=5,
        threshold=0.5,
        max_shingle_df=None,
        shingles=_near_dup_shingles(spark, sf_dir),
    )


@shared.artifact("neardup_bb_64x32")
def _near_dup_band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, band, bucket) LSH rows (64 hashes × 32 bands) over the
    shared shingles, shared-checkpointed — the signature+banding agg is
    identical between d_minhash_lsh and the d_lsh_quality audit (in
    production: the bucket half of the persisted LSH index)."""
    return dedup.minhash_band_buckets(
        _near_dup_shingles(spark, sf_dir), num_hashes=64, bands=32
    )


@shared.artifact("neardup_cand_64x32")
def _near_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct LSH candidate pairs from the shared band buckets,
    shared-checkpointed: the bucket self-join is the costly half of both
    `d_minhash_lsh` (which exact-verifies the candidates) and
    `d_lsh_quality` (which measures them against ground truth) — one
    pass serves both, the same artifact-reuse discipline as the shingle
    and bucket tables."""
    return dedup.band_bucket_candidates(_near_dup_band_buckets(spark, sf_dir))


def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _near_dup_truth_pairs(spark, sf_dir)


D_NGRAM_JACCARD_SQL = f"""
WITH d AS ({DOCS_NEAR_DUP_SQL}),
t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM d),
sh AS (SELECT doc_id, unnest({shingles_sql('toks', 5)}) AS sh FROM t),
{_jaccard_tail_sql(0.5)}
""".strip()


def d_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH + exact verification. Oracle = the exact-Jaccard pair set.

    Banding 32 bands × 2 rows: a pair at exactly the 0.5 threshold is
    caught with prob 1-(1-0.5²)^32 ≈ 1-1e-4; the testdata corpus has a
    few dozen borderline (j∈[0.5,0.8)) natural pairs, and at 16×4 their
    per-pair miss prob was ~0.35 — observed one miss at sf0.1. More bands
    → more candidates, but the exact-verify stage discards false
    positives, so the only cost is candidate-join width.

    Shingles, the signature/band table, and the candidate pair set are
    the session-shared materializations (one pass serves the dedup
    family); the exact verification — the part that IS this operator —
    runs here."""
    sh = _near_dup_shingles(spark, sf_dir)
    candidates = _near_dup_candidates(spark, sf_dir)
    return dedup.verify_candidate_pairs(sh, candidates, threshold=0.5)


D_MINHASH_LSH_SQL = D_NGRAM_JACCARD_SQL


def t_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training mix: at most 30 docs per language, chosen
    deterministically by hash order (not rand(), not first-k-by-id — the
    hash order is uniform AND reproducible across engines/runs). The
    standard move when one language dominates a corpus."""
    from pyspark.sql import Window

    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        hash_bucket("doc_id").asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 30)
        .select("doc_id", "lang", F.col("_rk").cast("int").alias("rk"))
    )


T_BALANCED_SAMPLE_SQL = """
WITH ranked AS (
    SELECT doc_id, lang,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 10000 ASC,
                        doc_id ASC
           ) AS INTEGER) AS rk
    FROM documents
)
SELECT doc_id, lang, rk FROM ranked WHERE rk <= 30
""".strip()


@session_memo
def _docs_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic 'arriving batch' for incremental dedup: the usual injected
    near-dups (every 19th doc + a 5-token suffix) PLUS genuinely novel docs
    (every 17th doc with its token order reversed — word-5-gram shingles of
    reversed text share nothing with the original, so these must NOT match
    the index)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz vv ww yy")).alias("text"),
    )
    novel = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(
            F.reverse(F.split(F.trim(F.col("text")), r"\s+")), " "
        ).alias("text"),
    )
    return dups.unionByName(novel)


DOCS_NEW_BATCH_SQL = r"""
SELECT doc_id + 1000000 AS doc_id, text || ' qq zz vv ww yy' AS text
FROM documents WHERE doc_id % 19 = 0
UNION ALL
SELECT doc_id + 2000000,
       array_to_string(list_reverse(list_filter(
           string_split_regex(trim(text), '\s+'), x -> x <> '')), ' ')
FROM documents WHERE doc_id % 17 = 0
""".strip()


def prewarm_lsh_index(spark: SparkSession, sf_dir: str) -> None:
    """Land (or just verify) the write-once LSH index artifact that
    `d_incremental_dedup` probes. Harnesses call this during warm-up so
    the per-query bench number times the operator's actual steady-state
    claim — the O(batch) probe — while the one-time corpus build cost is
    reported once, separately (round-6 VERDICT item 4)."""
    corpus_lsh_index(spark, sf_dir)


def d_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a new batch probed against the corpus index
    (`operators.dedup.incremental_lsh_pairs`). Per-batch cost O(batch),
    never O(corpus) — the corpus' band buckets are the write-once index,
    and "write-once" is literal: `build_lsh_index_cached` lands the
    shingle/bucket tables as a parquet artifact keyed by the documents
    file fingerprint, so repeat invocations (and every later batch) READ
    the index instead of re-shingling the corpus (round-5 VERDICT item
    8: the per-run rebuild was 5.6 s at sf0.1). Oracle = exact cross-set
    Jaccard (32×2 banding misses a θ=0.5 pair w.p. ~1e-4, same argument
    as `d_minhash_lsh`)."""
    idx = corpus_lsh_index(spark, sf_dir)
    return dedup.incremental_lsh_pairs(
        _docs_new_batch(spark, sf_dir), index=idx, n=5, num_hashes=64, bands=32,
        threshold=0.5,
    )


D_INCREMENTAL_DEDUP_SQL = f"""
WITH newb AS ({DOCS_NEW_BATCH_SQL}),
tn AS (SELECT doc_id, {TOKS_SQL} AS toks FROM newb),
ti AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
shn AS (SELECT doc_id, unnest({shingles_sql('toks', 5)}) AS sh FROM tn),
shi AS (SELECT doc_id, unnest({shingles_sql('toks', 5)}) AS sh FROM ti),
szn AS (SELECT doc_id, COUNT(*) AS n_new FROM shn GROUP BY doc_id),
szi AS (SELECT doc_id, COUNT(*) AS n_idx FROM shi GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_new, b.doc_id AS dup_of, COUNT(*) AS n_inter
    FROM shn a JOIN shi b ON a.sh = b.sh
    GROUP BY 1, 2
)
SELECT id_new, dup_of, n_inter,
       szn.n_new AS n_new, szi.n_idx AS n_idx,
       CAST(n_inter AS DOUBLE) / (szn.n_new + szi.n_idx - n_inter) AS jaccard
FROM inter
JOIN szn ON szn.doc_id = id_new
JOIN szi ON szi.doc_id = dup_of
WHERE CAST(n_inter AS DOUBLE) / (szn.n_new + szi.n_idx - n_inter) >= 0.5
""".strip()


def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming(sig_a, sig_b) ≤ 3 over the
    duplicate-injected corpus.

    Banding is EXACT here, not approximate: the 64-bit signature splits
    into 4 bands of 16 bits, and ≤ 3 differing bits cannot touch all 4
    bands (pigeonhole), so every qualifying pair shares at least one
    identical band — candidate generation via 4 band-equality joins has
    zero false negatives, and the exact hamming filter removes false
    positives. That is why the plain pairwise-SQL oracle matches exactly.
    """
    docs = fan_out_scan(docs_near_dup(spark, sf_dir), "doc_id")
    # tf-weighted signature build — same rewrite as t_simhash (§2.3):
    # SUM(cnt × ±1) over distinct (doc, tok) ≡ SUM(±1) over instances
    tok_counts = (
        docs.select("doc_id", F.explode(text.tokenize(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("_cnt"))
        .withColumn("tok_hash", F.md5("tok"))
    )
    v1, v2 = text.md5_half_longs("tok_hash")
    tok_counts = tok_counts.withColumn("_v1", v1).withColumn("_v2", v2)
    sigs = (
        tok_counts.groupBy("doc_id")
        .agg(*text.simhash_agg_cols_weighted("_v1", "_v2", "_cnt", 64))
        .select("doc_id", F.expr(text.simhash_bits_concat_sql(64)).alias("sig"))
        .persist()
    )
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.substring("sig", b * 16 + 1, 16).alias("v"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.b").alias("b"), F.col("bb.v").alias("v"))
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.v") == F.col("y.v"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.col("x.sig").alias("sig_a"),
            F.col("y.sig").alias("sig_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "hamming", text.hamming_distance_bits(F.col("sig_a"), F.col("sig_b"))
    ).filter(F.col("hamming") <= 3).select("id_a", "id_b", "hamming")


D_SIMHASH_PAIRS_SQL = f"""
WITH d AS ({DOCS_NEAR_DUP_SQL}),
t AS (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM d),
h AS (SELECT doc_id, md5(tok) AS tok_hash FROM t),
s AS (SELECT doc_id, {', '.join(text.simhash_agg_exprs('tok_hash', 64))}
      FROM h GROUP BY doc_id),
sigs AS (SELECT doc_id, {text.simhash_bits_concat_sql(64)} AS sig FROM s),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(range(1, 65),
                i -> substr(a.sig, i, 1) <> substr(b.sig, i, 1))) AS INTEGER)
               AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
""".strip()


# ---------------------------------------------------------------------------
# S — similarity search
# ---------------------------------------------------------------------------

def s_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    # the query set is a fixed 1% sample by construction — skip the
    # eager broadcast-size probe + persist (they cost more than the
    # whole 20×2,000 workload at sf0.1; measured 1.1 s → 0.15 s warm)
    return similarity.brute_force_topk(emb, queries, k=10, broadcast_queries=True)


S_COSINE_TOPK_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id % 100 = 0),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(q.v, c.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
           AS score
    FROM q JOIN v c ON q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, score, rank
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
    FROM scored
) WHERE rank <= 10
""".strip()


def s_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n_tiles=1: tiling splits BIG blocks so one hot block cannot
    serialize the GEMM stage — the testdata's ~200-vector blocks fit one
    tile, and the 4-way default would Arrow-ship every row 4× for ~100
    near-empty python groups (measured 0.97 s → 0.68 s warm, 3.6 → 0.9 s
    cold). At 100 TB callers size n_tiles ≈ block_rows / tile_target."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs_blocked(
        emb, block_col="label", threshold=0.40, n_tiles=1
    )


S_COSINE_NEARDUP_SQL = """
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS score
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.40
""".strip()


# ---------------------------------------------------------------------------
# rows-only queries (no SQL equivalent — approximate / UDF / streaming)
# ---------------------------------------------------------------------------

def s_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via sign-random-projection buckets (recall < 1 by
    design — not oracle-expressible)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    # 3 planes × 6 OR-amplified tables: ~0.8 recall on the near-uniform
    # synthetic embeddings (single-table SRP collapses to ~0.01 there)
    return similarity.lsh_topk(emb, queries, k=10, n_planes=3, n_tables=6)


def s_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF index (probe 4 of 16 lists — recall < 1
    by design, so rows-only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return similarity.ivf_topk(emb, queries, k=10, n_lists=16, n_probe=4)


def m_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + Arrow-batched feature extraction with REAL stdlib
    decode: even doc_ids carry a decodable P6 PPM (true width/height),
    odd ids a WAV clip (true duration) — strict mode, so an undecodable
    payload fails loudly instead of degrading to byte stats.

    fan_out_scan (r15): the synth + decode passes are Python-side
    per-row work fused into the scan stage, and the single-file local
    table ran the WHOLE pipeline on one core (1 job, no exchange —
    measured 2.8 s). One narrow (doc_id, text) exchange spreads the
    media work across the machine; a many-file input fans out by itself
    (the fan_out_scan file-count guard)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = multimodal.attach_synthetic_media(fan_out_scan(docs, "doc_id"))
    return multimodal.extract_features(media, strict=True)


def s_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming watermarked tumbling window over events."""
    return streaming_tumbling_counts(spark, sf_dir)


def s_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming watermarked sliding window over events."""
    return streaming_sliding_counts(spark, sf_dir)


def s_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: applyInPandasWithState sessionization,
    state handed across micro-batches. Emits sessions closed by a later
    event. 3 time-ordered chunks = 2 cross-batch state handoffs — the
    minimum that still proves repeated state carry-over; each extra
    micro-batch costs a fixed ~1 s of engine constants (closed-session
    output is chunk-count invariant, so this is pure overhead). Since
    r16 the SHARED staging default is also 3 chunks (see
    streaming/stateful.py::SHARED_CHUNKS), so this entry rides the
    session-memoized chunk dir instead of re-staging privately per
    call — the same events scan serves all three chunk-replay
    entries."""
    return streaming_sessionize(spark, sf_dir)


def s_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``session_window`` twin of s_stream_sessions: identical
    30-min-gap sessions via JVM-side session-merging state (no Python
    workers, no Arrow) — the cheaper default when no custom per-session
    logic is needed. Complete mode, so open tail sessions emit too;
    batch-equality with the native batch plan asserted in tests."""
    from ..streaming.windows import streaming_session_windows

    # default chunk count = the session-shared staging (one events scan
    # serves all three chunk-replay streaming entries, r12)
    return streaming_session_windows(spark, sf_dir)


def s_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup: the event stream is fed TWICE
    (duplicate micro-batch — worst-case at-least-once redelivery);
    dropDuplicatesWithinWatermark keeps exactly one copy per event_id with
    state bounded by the watermark. Per-type counts equal the single-copy
    batch counts iff every cross-batch duplicate was caught (asserted in
    tests/test_multimodal_streaming.py)."""
    return streaming_dedup(spark, sf_dir)


def s_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embeddings table (operators/
    clustering.py): 8 clusters, Lloyd iterations to convergence (≤5).
    rows-only — float mean reduction is order-sensitive by nature; the
    invariant tests assert monotone inertia + nearest-centroid assignment.
    Returns per-cluster sizes and mean squared distance."""
    from ..operators.clustering import kmeans

    vecs = load_table(spark, sf_dir, "embeddings")
    assign, _history = kmeans(vecs, k=8, max_iter=5)
    return assign.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        (F.sum("sq_dist") / F.count("*")).alias("mean_sq_dist"),
    )


def s_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (clicks to preceding views
    within 1 h, same user) — the two-stream state surface the other
    streaming gates don't touch. rows-only; asserted equal to the batch
    interval join in tests/test_multimodal_streaming.py."""
    from ..streaming.windows import streaming_stream_join

    return streaming_stream_join(spark, sf_dir)


def s_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch idempotent upsert sink under duplicate redelivery
    (grow-only anti-join merge into parquet) — the streaming→batch-sink
    bridge every production pipeline ends in. rows-only; equality with
    the deduplicated batch answer asserted in tests."""
    from ..streaming.windows import streaming_foreachbatch_upsert

    return streaming_foreachbatch_upsert(spark, sf_dir)


def s_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (streaming events ⋈ static nation
    dim): no watermark, no join state — the static side re-resolves per
    micro-batch and broadcasts. rows-only; equality with the batch twin
    asserted in tests/test_multimodal_streaming.py."""
    from ..streaming.windows import streaming_static_join

    return streaming_static_join(spark, sf_dir)


def s_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup ingestion: document micro-batches probed against
    the corpus' persisted LSH index via foreachBatch — O(batch) per
    arrival, state in the index + result table, never in streaming state.
    rows-only; per-batch equality with the batch incremental probe on the
    same rows asserted in tests/test_round5.py."""
    from ..streaming.windows import streaming_incremental_dedup

    return streaming_incremental_dedup(spark, sf_dir)


def s_stream_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dead-letter routing: validated rows to the main table,
    failing rows to a quarantine table with ordered reason codes, both
    written from ONE foreachBatch projection. The feed is the events
    file plus a corrupted copy so the quarantine path runs for real.
    rows-only; exact-partition + batch-equality invariants in
    tests/test_curation.py."""
    from ..streaming.windows import streaming_deadletter_split

    return streaming_deadletter_split(spark, sf_dir)


# ---------------------------------------------------------------------------
# t_semdedup — semantic dedup: cluster embeddings, near-dedup within clusters
# ---------------------------------------------------------------------------

SEMDEDUP_CLUSTERS = 8


def t_semdedup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.40
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, then cosine near-dedup WITHIN each cluster — the
    all-pairs O(n²) becomes a sum of per-cluster squares, and the cluster
    count is the recall/cost knob. This is the semantic complement of the
    lexical MinHash path: paraphrases share no shingles but do share an
    embedding neighborhood.

    Pure composition of existing scale operators: `clustering.kmeans`
    (deterministic first-k init, mapInPandas partial sums) feeds its
    cluster ids as the blocking column of
    `similarity.neardup_pairs_blocked` (tiled-GEMM candidates + exact
    sequential-fold refine). rows-only: the float centroid means make
    cluster BOUNDARIES engine-specific even though the run itself is
    deterministic; the duplicate-recall property is pinned in tests by
    injecting known duplicates.

    Returns per-cluster (n_vectors, n_dup_pairs) — the dedup-rate map a
    curator reads before pulling the trigger.
    """
    from pyspark.storagelevel import StorageLevel

    from ..operators.clustering import kmeans
    from ..operators.similarity import neardup_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    assign, _ = kmeans(emb, k=SEMDEDUP_CLUSTERS, max_iter=3)
    # pinned: consumed by the pair GEMM, the sizes agg, and the dup-count
    # join — without it each consumer re-runs the assignment scan + join
    labeled = emb.join(assign.select("vec_id", "cluster"), "vec_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = neardup_pairs_blocked(labeled, block_col="cluster", threshold=threshold)
    sizes = labeled.groupBy("cluster").agg(F.count("*").alias("n_vectors"))
    dup_counts = (
        pairs.join(
            labeled.select(F.col("vec_id").alias("id_a"), "cluster"), "id_a"
        )
        .groupBy("cluster")
        .agg(F.count("*").alias("n_dup_pairs"))
    )
    return (
        sizes.join(dup_counts, "cluster", "left")
        .select(
            "cluster",
            "n_vectors",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# d_containment — asymmetric subset-duplication pairs
# ---------------------------------------------------------------------------

EXCERPT_MOD = 23  # 1-in-23 docs get an excerpt twin injected

EXCERPT_ID_OFFSET = 2_000_000


def _docs_with_excerpts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus + injected EXCERPT twins: a 40%-prefix slice of every 23rd
    document (min 5 tokens, so each excerpt has ≥ 1 5-gram shingle).
    Prefix slices make containment exactly 1.0 against the source while
    jaccard sits near 0.4 — the case the symmetric measure misses.
    Integer arithmetic ((2·len) div 5) so both engines cut identically."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokenize(F.col("text"))
    k = F.greatest(F.floor((F.size(toks) * 2) / F.lit(5)).cast("int"), F.lit(5))
    exc = docs.filter(F.col("doc_id") % EXCERPT_MOD == 0).select(
        (F.col("doc_id") + EXCERPT_ID_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), k)).alias("text"),
    )
    return docs.unionByName(exc)


DOCS_WITH_EXCERPTS_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {EXCERPT_ID_OFFSET} AS doc_id,
       array_to_string(list_slice(toks, 1, GREATEST((len(toks) * 2) // 5, 5)), ' ') AS text
FROM (SELECT doc_id, {TOKS_SQL} AS toks FROM documents WHERE doc_id % {EXCERPT_MOD} = 0)
""".strip()


def d_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment ≥ 0.9 pairs over the excerpt-injected corpus.

    max_shingle_df=None because the oracle enumerates the exact pair
    set; production passes the default cap (the stop-shingle
    prefix-filter) — same plan, bounded join width."""
    return containment_pairs(
        _docs_with_excerpts(spark, sf_dir), n=5, threshold=0.9, max_shingle_df=None
    )


D_CONTAINMENT_SQL = f"""
WITH d AS ({DOCS_WITH_EXCERPTS_SQL}),
t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM d),
sh AS (SELECT doc_id, unnest({shingles_sql('toks', 5)}) AS sh FROM t),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_inter,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(n_inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= 0.9
""".strip()


def d_incremental_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-set containment probe: the injected excerpts
    play an ARRIVING batch, the raw documents table plays the fixed
    corpus — exactly the excerpt-contamination check `curate.py`'s
    incremental mode runs with ``--near-dup containment``. Exact pairs
    via the asymmetric prefix filter applied cross-set
    (`operators/dedup.py::incremental_containment_pairs`): O(batch)
    per arrival against write-once corpus artifacts."""
    from ..operators.dedup import incremental_containment_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokenize(F.col("text"))
    k = F.greatest(F.floor((F.size(toks) * 2) / F.lit(5)).cast("int"), F.lit(5))
    batch = docs.filter(F.col("doc_id") % EXCERPT_MOD == 0).select(
        (F.col("doc_id") + EXCERPT_ID_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), k)).alias("text"),
    )
    # the corpus index (shingles + df order + prefix) is the op's
    # write-once per-generation artifact — model that lifetime with
    # shared checkpoints so the per-arrival number times the PROBE,
    # with the build labeled under shared_build_sec
    return incremental_containment_pairs(
        batch, index=_inc_containment_corpus_sh(spark, sf_dir), n=5, threshold=0.9
    )


@shared.prewarmed
def _inc_containment_corpus_sh(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Write-once corpus containment index (shingles, df table, prefix,
    per-doc shingle-array table) for the cross-set probe
    (shared-artifact accessor; prewarmed by catalog.prewarm_shared)."""
    from ..operators.dedup import build_containment_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    holder: dict = {}

    def derived(which: str):
        def build() -> DataFrame:
            if not holder:
                full, df_tbl, prefix, arr = build_containment_index(
                    corpus_df=docs, threshold=0.9
                )
                holder.update(full=full, df=df_tbl, prefix=prefix, arr=arr)
            # checkpoint PARTITIONED BY the probe's join key: localCheckpoint
            # preserves outputPartitioning, so every per-arrival join
            # against these artifacts shuffles only the O(batch) side —
            # the in-session analog of the production index's
            # bucketBy(sh) parquet layout. The arr table's probe key is
            # the DOC id (the verify joins candidate pairs by dup_of).
            key = "doc" if which == "arr" else "sh"
            return holder[which].repartition(F.col(key))

        return build

    full = shared.shared_checkpoint(
        spark, sf_dir, "inc_containment_corpus_sh", derived("full")
    )
    df_tbl = shared.shared_checkpoint(
        spark, sf_dir, "inc_containment_corpus_df", derived("df")
    )
    prefix = shared.shared_checkpoint(
        spark, sf_dir, "inc_containment_corpus_prefix_t09", derived("prefix")
    )
    arr = shared.shared_checkpoint(
        spark, sf_dir, "inc_containment_corpus_arr", derived("arr")
    )
    return full, df_tbl, prefix, arr


D_INCREMENTAL_CONTAINMENT_SQL = f"""
WITH t0 AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
batch AS (
    SELECT doc_id + {EXCERPT_ID_OFFSET} AS doc_id,
           array_to_string(list_slice(toks, 1, GREATEST((len(toks) * 2) // 5, 5)), ' ') AS text
    FROM t0 WHERE doc_id % {EXCERPT_MOD} = 0
),
bt AS (SELECT doc_id, {TOKS_SQL} AS toks FROM batch),
bsh AS (SELECT doc_id, unnest({shingles_sql('toks', 5)}) AS sh FROM bt),
csh AS (SELECT doc_id, unnest({shingles_sql('toks', 5)}) AS sh FROM t0),
bsz AS (SELECT doc_id, COUNT(*) AS n_new FROM bsh GROUP BY doc_id),
csz AS (SELECT doc_id, COUNT(*) AS n_idx FROM csh GROUP BY doc_id),
inter AS (
    SELECT b.doc_id AS id_new, c.doc_id AS dup_of, COUNT(*) AS n_inter
    FROM bsh b JOIN csh c ON b.sh = c.sh
    GROUP BY b.doc_id, c.doc_id
)
SELECT id_new, dup_of, n_inter, bsz.n_new, csz.n_idx,
       CAST(n_inter AS DOUBLE) / LEAST(bsz.n_new, csz.n_idx) AS containment
FROM inter
JOIN bsz ON bsz.doc_id = id_new
JOIN csz ON csz.doc_id = dup_of
WHERE CAST(n_inter AS DOUBLE) / LEAST(bsz.n_new, csz.n_idx) >= 0.9
""".strip()


# ---------------------------------------------------------------------------
# d_threshold_curve — dedup-threshold calibration sweep
# ---------------------------------------------------------------------------

CURVE_FLOOR = 0.5  # compute pairs once at the loosest threshold under study


@shared.artifact("docs_shingles_n5")
def _docs_shingles_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, sh) 5-gram shingle rows over the PLAIN documents table as a
    session-shared checkpoint (plans/shared.py) — d_threshold_curve and
    t_ngram_novelty consume the identical table (distinct from the
    near-dup-injected corpus northstar._near_dup_shingles covers)."""
    return shingle_rows(load_table(spark, sf_dir, "documents"), n=5)


def d_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts bucketed by Jaccard decile (0.5 … 1.0):
    the calibration sweep behind "which threshold do we dedup at".
    The pair set is computed ONCE at the loosest threshold; each row is
    (bucket, n_pairs) where bucket = floor(jaccard·10)/10.

    Oracle-twinned with ``max_shingle_df=None`` (exact pair set);
    production passes the stop-shingle cap for skew safety — the sweep
    logic is unchanged."""
    pairs = shingle_pairs_jaccard(
        load_table(spark, sf_dir, "documents"),
        threshold=CURVE_FLOOR,
        max_shingle_df=None,
        shingles=_docs_shingles_shared(spark, sf_dir),
    )
    return (
        pairs.withColumn("bucket", F.floor(F.col("jaccard") * 10) / 10.0)
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("bucket")
    )


D_THRESHOLD_CURVE_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({shingles_sql('toks', 5)}) AS sh FROM t),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {CURVE_FLOOR}
)
SELECT FLOOR(jaccard * 10) / 10.0 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1 ORDER BY 1
""".strip()


# ---------------------------------------------------------------------------
# d_lsh_quality — recall/precision audit of banded LSH vs exact ground truth
# ---------------------------------------------------------------------------


LSH_AUDIT_SEED = 7


def d_lsh_quality(
    spark: SparkSession, sf_dir: str, sample_fraction: float | None = None
) -> DataFrame:
    """Candidate-generation QUALITY audit: run the exact shingle-Jaccard
    pair enumeration AND the banded MinHash-LSH pipeline over the same
    near-dup corpus (the `d_ngram_jaccard`/`d_minhash_lsh` pair, same
    parameters: n=5, 64 hashes, 32 bands, τ=0.5) and report
    recall / precision of the LSH pair set against ground truth — the
    measurement a dedup rollout runs before trusting banding at scale.

    The oracle encodes the CONTRACT, not a re-derivation: at 32×2
    banding a τ=0.5 pair is missed with prob ≈1e-4, and the fixed hash
    seeds make the outcome deterministic — so expected recall is exactly
    1.0 (and precision is 1.0 by construction: candidates are
    exact-verified). A banding regression (fewer bands, broken hash
    family, dropped candidate) surfaces as recall < 1.0 → hash mismatch
    at the driver gate. Both pair sets are already computed by their own
    catalog entries; this query full-outer-joins them (pair-keyed
    shuffle) and folds ONE summary row.

    100 TB contract — SAMPLE, then audit: the exact ground truth is an
    uncapped all-pairs shingle self-join, quadratic in duplicate-cluster
    size — an audit tool, NOT a pipeline stage, and a scale-killer on a
    full corpus. A production invocation passes ``sample_fraction`` so
    the audited corpus is a deterministic doc sample (pair Jaccard is a
    two-document property, so the sample's exact pair set is a strict
    subset of the full corpus's — recall/precision measured on it are
    unbiased estimates). The catalog/oracle twin runs the local exact
    mode (``sample_fraction`` None).
    """
    from ..operators.dedup import band_bucket_candidates, minhash_band_buckets, pin
    if sample_fraction is None:
        # the exact truth and the LSH candidate pair set are the
        # session-shared materializations d_ngram_jaccard /
        # d_minhash_lsh already computed over the identical corpus with
        # identical parameters — an audit should read the artifacts it
        # audits, not re-derive both sides from the raw text
        exact = _near_dup_truth_pairs(spark, sf_dir).select(
            "id_a", "id_b", F.lit(1).alias("in_exact")
        )
        candidates = _near_dup_candidates(spark, sf_dir)
    else:
        docs = docs_near_dup(spark, sf_dir).sample(
            fraction=sample_fraction, seed=LSH_AUDIT_SEED
        )
        # ONE pinned tokenize+shingle pass feeds both pipelines — the
        # exact and LSH sides each used to shingle the corpus
        # independently
        sh = pin(shingle_rows(docs, n=5))
        exact = pin(
            shingle_pairs_jaccard(
                docs, n=5, threshold=0.5, max_shingle_df=None, shingles=sh
            ).select("id_a", "id_b", F.lit(1).alias("in_exact"))
        )
        candidates = band_bucket_candidates(minhash_band_buckets(sh, 64, 32))
    # The LSH side's VERIFIED pair set is, by definition, its candidate
    # set intersected with {pairs at jaccard ≥ τ} — exactly the ground
    # truth this audit computes anyway (any candidate pair at ≥ τ shares
    # shingles, so it is in `exact`). Joining candidates against the
    # pinned truth therefore yields the identical verified set without
    # re-running the 3-join exact-verify stage a standalone
    # `minhash_lsh_pairs` needs.
    lsh = candidates.join(exact.select("id_a", "id_b"), ["id_a", "id_b"]).select(
        "id_a", "id_b", F.lit(1).alias("in_lsh")
    )
    both = exact.join(lsh, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.sum(F.coalesce("in_exact", F.lit(0))).cast("long").alias("n_exact"),
        F.sum(F.coalesce("in_lsh", F.lit(0))).cast("long").alias("n_lsh"),
        F.sum(
            F.when(F.col("in_exact").isNotNull() & F.col("in_lsh").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_common"),
    ).select(
        "n_exact",
        "n_lsh",
        "n_common",
        (F.col("n_common").cast("double") / F.col("n_exact").cast("double")).alias(
            "recall"
        ),
        (F.col("n_common").cast("double") / F.col("n_lsh").cast("double")).alias(
            "precision"
        ),
    )


D_LSH_QUALITY_SQL = f"""
WITH truth AS ({D_NGRAM_JACCARD_SQL})
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(*) AS BIGINT) AS n_lsh,
       CAST(COUNT(*) AS BIGINT) AS n_common,
       1.0 AS recall,
       1.0 AS precision
FROM truth
""".strip()


# ---------------------------------------------------------------------------
# t_ngram_novelty — first-occurrence shingle scoring (no pair enumeration)
# ---------------------------------------------------------------------------


def t_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: share of the doc's distinct 5-gram shingles
    whose FIRST occurrence (min doc_id) is this document. A late
    near-copy scores near 0, original content near 1 — duplication
    signal without any pairwise join: one shingle hash-agg (first-seen)
    plus one join back to the doc's shingles. Docs with fewer than 5
    tokens have no shingles and no row (consistent with the twin)."""
    sh = _docs_shingles_shared(spark, sf_dir)
    first = sh.groupBy("sh").agg(F.min("doc").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count("*").cast("long").alias("n_sh"),
            F.sum(F.when(F.col("first_doc") == F.col("doc"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double") / F.col("n_sh").cast("double"),
        )
    )


T_NGRAM_NOVELTY_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({shingles_sql('toks', 5)}) AS sh FROM t),
first_ AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_sh,
       CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM sh JOIN first_ USING (sh)
GROUP BY sh.doc_id
""".strip()
