"""Per-batch drift monitoring for incremental/streaming curation.

A production corpus-ingestion loop ships telemetry next to its stage
counters: is this arrival DISTRIBUTED like the corpus it is being folded
into? Two complementary, bounded signals (the same statistics as the
catalog's ``a_ks_test_binned`` and ``t_token_kl_drift`` entries,
re-expressed over a (batch, reference) pair instead of fixed tables):

- **Binned two-sample KS** on the per-document token-count distribution:
  catches length drift (truncated scrapes, boilerplate floods). The grid
  is anchored on the REFERENCE min/max — fixed per corpus generation —
  so the reference histogram is computed ONCE and reused across batches;
  batch values outside the reference range clamp into the edge bins
  (an out-of-range flood lands all its mass in one edge bin, which is
  exactly a maximal ECDF gap). Binned D lower-bounds exact D, so the
  α=0.05 verdict is conservative.
- **Token-KL** (KL(batch ‖ reference)) over hashed unigram buckets:
  catches vocabulary drift (language shift, spam influx) that leaves
  lengths untouched. Laplace smoothing keeps every term finite; the
  bucketing is the md5 scheme ``t_token_kl_drift`` uses, so the numbers
  are comparable with the catalog entry's per-source monitor.

Scale shape: the reference reduces to ≤ ``bins`` + ``n_buckets`` rows in
one pass (cached per corpus identity — the stream's corpus is write-once
between compactions, like its LSH index); each batch pays ONE bounded
hash-agg per signal, and the final sup/sum runs driver-side over ≤256-row
aggregates (dimension-sized scalars, the sanctioned collect tier).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .text import tokenize

KS_ALPHA_C = 1.358  # c(α) for α = 0.05, as in plans.warehouse
DEFAULT_BINS = 256
DEFAULT_BUCKETS = 256
DEFAULT_KL_THRESHOLD = 0.25

# reference-side aggregates keyed by caller-supplied identity (e.g. the
# corpus path / fingerprint) — write-once per corpus generation, exactly
# the lifetime of the stream's LSH index
_REF_CACHE: dict[tuple, dict] = {}


def _bucket_col(tok) -> F.Column:
    """md5-hashed unigram bucket, identical to t_token_kl_drift."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
        % DEFAULT_BUCKETS
    )


def _side_aggregates(
    df: DataFrame, text_col: str, bins: int, vmin: float, vmax: float
) -> tuple[list, list, int, int]:
    """(count_hist[bins], bucket_counts[n_buckets], n_docs, n_tokens) of
    one side on the reference-anchored grid — ONE tokenize pass feeds
    both hash-aggs via a short-lived persist."""
    width = vmax - vmin
    toks = df.select(tokenize(F.col(text_col)).alias("__toks")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        # null text tokenizes to a null array; count it as a 0-token doc
        # (a flood of null-text rows IS length drift) instead of letting
        # a null bin abort the fold below (round-10 ADVICE item 2)
        n = F.coalesce(F.size("__toks"), F.lit(0)).cast("double")
        bin_col = (
            F.when(F.lit(width <= 0), F.lit(0))
            .otherwise(
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.lit(bins - 1),
                        F.floor((n - F.lit(vmin)) / F.lit(width) * bins).cast(
                            "int"
                        ),
                    ),
                )
            )
            .alias("bin")
        )
        hist_rows = toks.select(bin_col).groupBy("bin").count().collect()
        hist = [0] * bins
        n_docs = 0
        for r in hist_rows:
            if r["bin"] is None:  # defensive: never abort the batch
                continue
            hist[int(r["bin"])] = int(r["count"])
            n_docs += int(r["count"])
        bucket_rows = (
            toks.select(F.explode("__toks").alias("tok"))
            .select(_bucket_col(F.col("tok")).alias("bucket"))
            .groupBy("bucket")
            .count()
            .collect()
        )
        buckets = [0] * DEFAULT_BUCKETS
        n_tokens = 0
        for r in bucket_rows:
            buckets[int(r["bucket"])] = int(r["count"])
            n_tokens += int(r["count"])
        return hist, buckets, n_docs, n_tokens
    finally:
        toks.unpersist()


def reference_stats(
    reference: DataFrame,
    text_col: str = "text",
    *,
    bins: int = DEFAULT_BINS,
    cache_key=None,
) -> dict:
    """Reduce the reference corpus to its drift aggregates (one corpus
    pass; ≤ bins + n_buckets counters). ``cache_key`` memoizes per
    corpus identity so a stream pays this once, not per micro-batch."""
    key = None
    if cache_key is not None:
        key = (cache_key, text_col, bins)
        hit = _REF_CACHE.get(key)
        if hit is not None:
            return hit
    mm = reference.agg(
        F.min(F.size(tokenize(F.col(text_col)))).alias("vmin"),
        F.max(F.size(tokenize(F.col(text_col)))).alias("vmax"),
    ).collect()[0]
    vmin = float(mm["vmin"] if mm["vmin"] is not None else 0.0)
    vmax = float(mm["vmax"] if mm["vmax"] is not None else 0.0)
    hist, buckets, n_docs, n_tokens = _side_aggregates(
        reference, text_col, bins, vmin, vmax
    )
    stats = {
        "vmin": vmin,
        "vmax": vmax,
        "bins": bins,
        "hist": hist,
        "buckets": buckets,
        "n_docs": n_docs,
        "n_tokens": n_tokens,
    }
    if key is not None:
        _REF_CACHE[key] = stats
    return stats


def drift_report(
    batch: DataFrame,
    reference: DataFrame | None = None,
    *,
    ref_stats: dict | None = None,
    text_col: str = "text",
    bins: int = DEFAULT_BINS,
    kl_threshold: float = DEFAULT_KL_THRESHOLD,
    ref_cache_key=None,
) -> dict:
    """Drift of ``batch`` vs the reference corpus: binned token-count KS
    (+ α=0.05 verdict) and token-KL (+ threshold flag). Pass either a
    reference DataFrame or precomputed ``ref_stats``."""
    if ref_stats is None:
        if reference is None:
            raise ValueError("drift_report needs reference or ref_stats")
        ref_stats = reference_stats(
            reference, text_col, bins=bins, cache_key=ref_cache_key
        )
    bins = ref_stats["bins"]
    b_hist, b_buckets, n1, n_tok_b = _side_aggregates(
        batch, text_col, bins, ref_stats["vmin"], ref_stats["vmax"]
    )
    n2 = ref_stats["n_docs"]

    # binned two-sample KS: D = max |c1·n2 − c2·n1| / (n1·n2), integer
    # cumulative products so the sup is exact on the grid
    d_int, c1, c2 = 0, 0, 0
    for k in range(bins):
        c1 += b_hist[k]
        c2 += ref_stats["hist"][k]
        d_int = max(d_int, abs(c1 * n2 - c2 * n1))
    ks = d_int / (n1 * n2) if n1 and n2 else 0.0
    crit = (
        KS_ALPHA_C * math.sqrt((n1 + n2) / (n1 * n2)) if n1 and n2 else float("inf")
    )

    # KL(batch ‖ reference) over hashed buckets, Laplace-smoothed, summed
    # over the buckets the batch observed (as t_token_kl_drift)
    t_b, t_r = float(n_tok_b), float(ref_stats["n_tokens"])
    nb = DEFAULT_BUCKETS
    kl = 0.0
    for k in range(nb):
        c_b = b_buckets[k]
        if c_b == 0:
            continue
        p_b = (c_b + 1.0) / (t_b + nb)
        p_r = (ref_stats["buckets"][k] + 1.0) / (t_r + nb)
        kl += p_b * (math.log(p_b) - math.log(p_r))
    return {
        "n_batch_docs": n1,
        "n_ref_docs": n2,
        "n_batch_tokens": n_tok_b,
        "token_count_ks": round(ks, 6),
        "ks_significant": bool(ks > crit),
        "token_kl": round(kl, 6),
        "kl_flagged": bool(kl > kl_threshold),
    }
