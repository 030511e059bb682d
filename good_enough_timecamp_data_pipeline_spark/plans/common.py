"""Helpers that several plan modules share; this module defines no
catalog entry.

- DuckDB-side SQL fragments of the cross-engine contracts: the tokenizer
  (``TOKS_SQL``), word n-gram shingles, stop-word ratios and the "Xh YYm"
  duration format (which must mirror ``functions/formatting``).
- The injected near-duplicate corpus (``docs_near_dup`` and its SQL twin)
  and the corpus' write-once LSH index, which ``d_incremental_dedup`` and
  the streaming incremental-dedup probe both address.
- ``file_size_row_bound``: an exact row count from the parquet footers,
  the bound the cost-switched entries choose their tier by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from .shared import session_memo
from .testdata import load_table

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB side)
# ---------------------------------------------------------------------------

TOKS_SQL = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"


def shingles_sql(toks: str, n: int = 5) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


def _stop_hits_sql(toks: str, words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, x -> x IN ({inlist})))"


def stop_ratio_sql(toks: str, words: tuple[str, ...]) -> str:
    return (
        f"CASE WHEN len({toks}) > 0 "
        f"THEN CAST({_stop_hits_sql(toks, words)} AS DOUBLE) / len({toks}) "
        f"ELSE 0.0 END"
    )


def fmt_duration_sql(expr: str) -> str:
    """Inline "Xh YYm" — assumes ``expr`` >= 0 (pmod == % there)."""
    return (
        f"CAST(CAST(FLOOR(({expr}) / 3600) AS BIGINT) AS VARCHAR) || 'h ' || "
        f"LPAD(CAST(CAST(FLOOR((({expr}) % 3600) / 60) AS BIGINT) AS VARCHAR), 2, '0') || 'm'"
    )


def fmt_duration_signed_sql(expr: str) -> str:
    return (
        f"CASE WHEN ({expr}) < 0 THEN '-' || {fmt_duration_sql(f'ABS({expr})')} "
        f"ELSE {fmt_duration_sql(expr)} END"
    )


# ---------------------------------------------------------------------------
# the near-duplicate corpus and its write-once LSH index
# ---------------------------------------------------------------------------

DOCS_NEAR_DUP_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000, text || ' qq zz vv ww yy' FROM documents WHERE doc_id % 19 = 0
""".strip()


@session_memo
def docs_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz vv ww yy")).alias("text"),
    )
    return docs.unionByName(dups)


@session_memo
def corpus_lsh_index(spark: SparkSession, sf_dir: str):
    """The documents corpus' write-once LSH index (shingles, buckets),
    cache-keyed by the parquet file's identity so prewarm and probe can
    never diverge on the artifact they address. Session-memoized: the
    artifact is immutable once landed, so the two `spark.read.parquet`
    schema probes (~0.4 s of pure plan-build) need not repeat per probe
    call — a corpus swap mid-session changes sf_dir and misses the memo."""
    import os

    index = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doc_file = f"{sf_dir}/documents.parquet"
    st = os.stat(doc_file)
    return dedup.build_lsh_index_cached(
        spark,
        index,
        cache_key=f"{os.path.abspath(doc_file)}:{st.st_size}:{st.st_mtime_ns}",
        n=5,
        num_hashes=64,
        bands=32,
    )


# ---------------------------------------------------------------------------
# footer row counts
# ---------------------------------------------------------------------------

def file_size_row_bound(sf_dir: str, table: str = "events") -> int | None:
    """EXACT table row count from the parquet footers (no Spark job;
    distinct ≤ rows, so this upper-bounds a cardinality guard's quantity
    with certainty), or None when the path is not local parquet — then a
    probe job decides. Footer counts replace a bytes/4 heuristic:
    delta/dictionary encodings can pack whole rows below any assumed
    byte floor, so a size-derived bound was not actually certain."""
    import os

    try:
        # inside the try so a pyarrow-less environment degrades to the
        # documented "return None, let the probe job decide" path
        # instead of raising ImportError out of every caller
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.isfile(path):
            files = [path]
        elif os.path.isdir(path):
            files = [
                os.path.join(r, f)
                for r, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            ]
        else:
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None
