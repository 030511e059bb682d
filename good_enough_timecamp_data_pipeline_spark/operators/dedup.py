"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH (SURVEY §2.11).

Scale design (the whole point of these at 100 TB):

- **Exact dedup** hashes content (md5/xxhash64) and keeps one winner per
  hash via min-id aggregation — one shuffle on the hash key; no sort, no
  window over the full data.
- **N-gram Jaccard** is the *exact* near-dup method: shingle → explode →
  self-join on shingle → per-pair intersection counts. Feasible when
  shingles are selective (word n-grams with n≥5 are near-unique); the
  shingle join is the classic "documents sharing ≥1 shingle" candidate
  generator, so skew on hot shingles is the risk — mitigated by dropping
  shingles with document-frequency above ``max_shingle_df`` (a standard
  prefix-filtering move: a shingle shared by thousands of docs contributes
  nothing to high-jaccard detection but dominates the join).
- **MinHash+LSH** is the scale path: K hash functions → per-doc signature
  (K mins) → B bands hashed to buckets → join docs per (band, bucket) —
  candidate generation cost is O(docs × B) instead of all-pairs; verified
  candidates are re-checked with exact Jaccard so false positives never
  surface. Deterministic: seeds are fixed, xxhash64 is a pure function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .text import tokenize


# Naive shingle-self-join output bound (= Σ df² rows) above which the
# exact Jaccard path switches to the PPJoin prefix filter; ~50M joined
# rows is a few seconds on 32 cores, the prefix path's extra passes cost
# ~4-5 s — the crossover sits near here at local scale and only moves
# in the prefix path's favor on a cluster (the blowup is quadratic).
_NAIVE_JOIN_ROWS_MAX = 50_000_000

# Absolute slack for threshold·size integer-bound arithmetic. t·n is
# computed in binary floating point, so a product that is mathematically
# an integer (0.56·25 = 14) can land a hair ABOVE it (14.000000000000002),
# pushing ceil() across an integer and shortening a prefix / tightening a
# size filter by one — silently DROPPING pairs at exactly-t boundaries
# (thresholds like 0.54/0.56/0.68 reproduce it). Subtracting ε before
# ceil() and loosening size comparisons by ε errs only toward EXTRA
# candidates, which exact verification removes; ε = 1e-9 dominates the
# ~1e-16-relative FP error for any realistic shingle-set size (≤ ~1e6).
_T_EPS = 1e-9

def _required_overlap(threshold: float, n_sh):
    """⌈t·n⌉ with conservative (never-rounds-up-across-integers) FP."""
    return F.ceil(F.lit(float(threshold)) * n_sh - F.lit(_T_EPS))


def pin(df: DataFrame) -> DataFrame:
    """Persist a DataFrame that the surrounding plan consumes several times.

    Spark's ReuseExchange only kicks in for bit-identical physical subplans
    inside ONE query; a self-join plus two side-joins on the same derived
    set otherwise re-reads and re-derives it per consumer. MEMORY_AND_DISK
    so a 100-TB-scale shingle set spills instead of OOMing."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def ngram_shingles(toks_col, n: int = 5):
    """Distinct word n-gram shingles of a token-array column.

    Docs shorter than ``n`` tokens yield an empty array — guarded
    explicitly because Spark's ``sequence(1, 0)`` counts *down* ([1, 0])
    rather than returning empty like DuckDB's ``range``.

    **Row-size bound (the 100 TB story for every per-doc
    ``collect_list("sh")`` verify array downstream):** the distinct
    shingle count of a doc is ≤ its token count − n + 1, so a verify
    array row is bounded by the corpus' max tokens-per-doc — the SAME
    asymptotic bound the pre-r15 per-pair (doc, sh) join output carried,
    concentrated in one row instead of many. That bound is an ingestion
    contract, not an accident: a production corpus lands through
    bounded-size chunking (the `plans/training.py::t_chunking` shape:
    fixed 100-token chunks), so "a pathological mega-doc" is excluded
    upstream of dedup. Pinned by
    tests/test_text_dedup.py::test_verify_array_rows_bounded_by_doc_tokens.

    Takes a *token array column attribute*, not raw text: higher-order
    ``transform`` lambdas run interpreted, so an inline ``tokenize(text)``
    argument would be re-evaluated (a regex split!) once per shingle
    index — measured 3× the whole stage cost. Callers materialize tokens
    with ``withColumn`` first (``shingle_rows`` does this)."""
    toks = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    n_sh = F.size(toks) - (n - 1)
    idx = F.when(n_sh > 0, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """(doc, sh) exploded distinct-shingle rows, one pass over the text.

    Tokenize + n-gram explode is the CPU-heavy narrow stage of every
    dedup pipeline, and Spark fuses it to the scan — a few-partition
    input (the local single-file testdata, or a union of two scan
    branches) would run it on a few cores no matter the session size. A
    HASH repartition on the doc id fans it out first: hash partitioning
    skips the full-row sort round-robin repartition pays
    (spark.sql.execution.sortBeforeRepartition), the exchanged payload
    is the raw text ONCE (callers pin the result, so the exchange never
    re-runs per consumer), and on real many-file inputs the partition
    probe skips the exchange entirely."""
    from .layout import fan_out_scan

    src = fan_out_scan(df.select(F.col(id_col).alias("doc"), F.col(text_col)), "doc")
    return (
        src.withColumn("__toks", tokenize(F.col(text_col)))
        .select("doc", F.explode(ngram_shingles(F.col("__toks"), n)).alias("sh"))
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One winner (min id) per exact content hash.

    Returns (hash, winner_id, n_copies). groupBy on the hash: single
    shuffle, partial-agg combine, no per-group sort."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("winner_id"),
            F.count("*").alias("n_copies"),
        )
    )


# Shingle-table row bound under which a broadcast build of the pinned
# shingle/sizes frames is allowed to stand: ~5M (doc, sh) rows is tens of
# MB hashed — safely inside any executor. Above it (or UNMEASURED) the
# joins pin per-partition shuffle_hash builds: a checkpoint/pin-backed
# table's LogicalRDD estimate does not grow with the data, so Catalyst
# would otherwise plan a broadcast of a corpus-sized table at any scale
# (the t_dsir_weights OOM class, caught by the round-10 plan audit).
# Same measured-cost-switch discipline as _NAIVE_JOIN_ROWS_MAX — the
# exact callers' Σdf² probe aggregate returns the row count for free.
_BROADCAST_SAFE_SHINGLE_ROWS = 5_000_000


def _shingle_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_df: int | None,
    shingles: DataFrame | None = None,
    sh_rows: int | None = None,
) -> DataFrame:
    """Shared pair-counting core of the exact near-dup family:
    (id_a, id_b, n_inter, n_a, n_b) for every doc pair sharing ≥ 1
    n-gram shingle. One shingle self-join + one hash-agg; the optional
    ``max_shingle_df`` cap drops stop-shingles before the join (the
    prefix-filter move — skew-safe, but it CHANGES the pair set, so
    oracle-twinned callers pass None). ``sh_rows`` is the MEASURED
    shingle-table row count (see _BROADCAST_SAFE_SHINGLE_ROWS)."""
    sh = shingles if shingles is not None else pin(shingle_rows(df, text_col, id_col, n))
    if max_shingle_df is not None:
        # no broadcast hint: the hot-shingle set is bounded by
        # shingle_rows / max_shingle_df — small in practice but O(corpus)
        # in the worst case; AQE broadcasts it when it measures small.
        hot = sh.groupBy("sh").count().filter(F.col("count") > max_shingle_df).select("sh")
        sh = pin(sh.join(hot, "sh", "left_anti"))
    small = sh_rows is not None and sh_rows <= _BROADCAST_SAFE_SHINGLE_ROWS

    def shj(frame: DataFrame) -> DataFrame:
        return frame if small else frame.hint("shuffle_hash")

    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    inter = (
        shj(sh.alias("a"))
        .join(sh.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    # sizes is also corpus-sized (one row per doc) — the same rule;
    # inter (output-bounded by the Σdf² probe) is the build side
    return (
        shj(inter)
        .join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .hint("shuffle_hash")
        .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        if not small
        else shj(inter)
        .join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
    )


def jaccard_prefix_candidates(
    sh: DataFrame, threshold: float, df_tbl: DataFrame | None = None
) -> DataFrame:
    """EXACT candidate pairs for Jaccard ≥ ``threshold`` via the prefix
    filter (Xiao, Wang, Lin, Yu — "Efficient Similarity Joins for Near
    Duplicate Detection", WWW 2008 / PPJoin; also Chaudhuri et al.'s
    SSJoin prefix principle).

    Order every doc's shingles by a GLOBAL total order (ascending
    document frequency, ties by shingle value) and keep only the first
    ``|d| − ⌈t·|d|⌉ + 1`` as the doc's *prefix*. Any pair with
    jaccard ≥ t has overlap o ≥ t·max(|A|,|B|) (size filter), and the
    first common shingle in the global order provably lies inside BOTH
    prefixes — so joining prefixes on the shingle loses nothing, while
    a stop-shingle shared by k docs no longer forces a k² join blowup:
    frequency-ascending ordering pushes hot shingles OUT of prefixes.
    Measured at the synthesized sf10 (526k docs, one injected suffix
    shingle with df=26k → 719M joined rows before): the naive shingle
    self-join ran 520+ s; the prefix-filtered candidate join is the
    scale-safe shape for the exact-truth path. The size filter
    (t·|A| ≤ |B|) rides the join condition."""
    if df_tbl is None:
        df_tbl = sh.groupBy("sh").agg(F.count("*").alias("__df"))
    w_doc = Window.partitionBy("doc")
    ranked = (
        sh.join(df_tbl, "sh")
        .withColumn("__rk", F.row_number().over(w_doc.orderBy("__df", "sh")))
        .withColumn("n_sh", F.count("*").over(w_doc))
    )
    prefix = pin(
        ranked.filter(
            F.col("__rk")
            <= F.col("n_sh") - _required_overlap(threshold, F.col("n_sh")) + 1
        ).select("doc", "sh", "n_sh")
    )
    t = F.lit(float(threshold))
    eps = F.lit(_T_EPS)
    return (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.col("a.n_sh") * t - eps <= F.col("b.n_sh"))
            & (F.col("b.n_sh") * t - eps <= F.col("a.n_sh")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def shingle_pairs_jaccard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.6,
    max_shingle_df: int | None = 1000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ t).
    ``shingles`` shares a pinned (doc, sh) pass — see minhash_lsh_pairs.

    The ``max_shingle_df=None`` (oracle-exact) mode picks its physical
    strategy from a measured cost bound, the way a cost-based optimizer
    would: ``Σ df(sh)²`` — one aggregation over the shingle table — IS
    the naive self-join's exact output row count. Below
    ``_NAIVE_JOIN_ROWS_MAX`` the direct shingle self-join wins (fewest
    stages; the common case for selective word 5-grams). Above it, one
    hot shingle is forcing a quadratic blowup, and candidates come from
    the PPJoin prefix filter instead (`jaccard_prefix_candidates` —
    exact, threshold-aware, skew-safe), verified against the full
    shingle sets. Measured at the synthesized sf10 (526k docs, one
    df=26k suffix shingle → Σdf² = 719M): naive 520 s, prefix+verify
    57 s; at sf0.1 (Σdf² small) naive stays ~0.8 s vs the prefix
    path's ~5 s of extra passes — both regimes keep the cheaper plan.
    The ``max_shingle_df`` cap remains the approximate alternative that
    CHANGES the pair set by dropping stop-shingles up front."""
    sh = (
        shingles
        if shingles is not None
        else pin(shingle_rows(df, text_col, id_col, n))
    )
    sh_rows = None  # unmeasured unless the exact-mode probe runs
    if max_shingle_df is None:
        df_tbl = pin(sh.groupBy("sh").agg(F.count("*").alias("__df")))
        stats = df_tbl.agg(
            F.sum(F.col("__df").cast("double") * F.col("__df")).alias("s"),
            F.sum("__df").alias("rows"),
        ).collect()[0]
        naive_rows, sh_rows = stats["s"], stats["rows"]
        if naive_rows is not None and naive_rows > _NAIVE_JOIN_ROWS_MAX:
            cand = jaccard_prefix_candidates(sh, threshold, df_tbl=df_tbl)
            return verify_candidate_pairs(sh, cand, threshold)
    return (
        _shingle_pair_counts(
            df, text_col, id_col, n, max_shingle_df, shingles=sh, sh_rows=sh_rows
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.9,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs: containment = |A∩B| / min(|A|, |B|).

    Jaccard misses subset duplication — a 40% excerpt of a document has
    jaccard ≈ 0.4 against its source but containment 1.0. Containment is
    the measure for quote/excerpt/boilerplate-inclusion detection
    (Broder's resemblance-vs-containment distinction, "On the
    resemblance and containment of documents", SEQUENCES 1997). Same
    one-self-join + one-hash-agg shape as `shingle_pairs_jaccard`; only
    the denominator differs (min of the two shingle-set sizes, so the
    smaller side's coverage decides).

    The exact mode (``max_shingle_df=None``) is cost-based like
    `shingle_pairs_jaccard`, but containment needs the ASYMMETRIC
    prefix filter: the symmetric Jaccard prefix is unsound here because
    a huge doc's required overlap (t·min) can be tiny relative to its
    own size. Soundness comes from the SMALLER side alone —
    o ≥ ⌈t·|small|⌉, so the first common shingle in the global
    frequency order lies inside the smaller doc's prefix — and the
    candidate join is prefix(smaller) × FULL index(larger), ordered by
    (n_sh, doc). A df=k stop-shingle then contributes k rows times the
    few SMALL docs whose prefix retains it, not k²."""
    sh = pin(shingle_rows(df, text_col, id_col, n))
    sh_rows = None  # unmeasured unless the exact-mode probe runs
    if max_shingle_df is None:
        df_tbl = pin(sh.groupBy("sh").agg(F.count("*").alias("__df")))
        stats = df_tbl.agg(
            F.sum(F.col("__df").cast("double") * F.col("__df")).alias("s"),
            F.sum("__df").alias("rows"),
        ).collect()[0]
        naive_rows, sh_rows = stats["s"], stats["rows"]
        if naive_rows is not None and naive_rows > _NAIVE_JOIN_ROWS_MAX:
            cand = containment_prefix_candidates(sh, threshold, df_tbl=df_tbl)
            return _verify_containment(sh, cand, threshold)
    return (
        _shingle_pair_counts(
            df, text_col, id_col, n, max_shingle_df, shingles=sh, sh_rows=sh_rows
        )
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "containment")
    )


def containment_prefix_candidates(
    sh: DataFrame, threshold: float, df_tbl: DataFrame | None = None
) -> DataFrame:
    """Exact candidates for containment ≥ t: the smaller doc's
    frequency-ordered prefix (length |d| − ⌈t·|d|⌉ + 1) joined against
    the FULL shingle index of docs at least its size (ties by id). Any
    pair with |A∩B| ≥ ⌈t·min⌉ collides here: at most
    |small| − ⌈t·|small|⌉ of the smaller doc's shingles precede its
    first common shingle in the global order (see
    `jaccard_prefix_candidates` — same lemma, applied one-sided)."""
    if df_tbl is None:
        df_tbl = sh.groupBy("sh").agg(F.count("*").alias("__df"))
    w_doc = Window.partitionBy("doc")
    ranked = pin(
        sh.join(df_tbl, "sh")
        .withColumn("__rk", F.row_number().over(w_doc.orderBy("__df", "sh")))
        .withColumn("n_sh", F.count("*").over(w_doc))
    )
    prefix = ranked.filter(
        F.col("__rk")
        <= F.col("n_sh") - _required_overlap(threshold, F.col("n_sh")) + 1
    ).select("doc", "sh", "n_sh")
    full = ranked.select("doc", "sh", "n_sh")
    return (
        prefix.alias("a")
        .join(
            full.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (
                (F.col("a.n_sh") < F.col("b.n_sh"))
                | (
                    (F.col("a.n_sh") == F.col("b.n_sh"))
                    & (F.col("a.doc") < F.col("b.doc"))
                )
            ),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("id_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("id_b"),
        )
        .distinct()
    )


def _verify_containment(
    sh: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact containment verification of candidate pairs — the
    `verify_candidate_pairs` shape with the min-size denominator."""
    cand_ids = (
        candidates.select(F.col("id_a").alias("doc"))
        .unionByName(candidates.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    sh_cand = pin(sh.join(cand_ids, "doc", "left_semi"))
    sizes = sh_cand.groupBy("doc").agg(F.count("*").alias("n_sh"))
    inter = (
        candidates.join(sh_cand.alias("a"), F.col("id_a") == F.col("a.doc"))
        .join(
            sh_cand.alias("b"),
            (F.col("id_b") == F.col("b.doc")) & (F.col("a.sh") == F.col("b.sh")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("n_sh", "n_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("n_sh", "n_b"),
            "id_b",
        )
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "containment")
    )


def build_containment_index(
    corpus_df: DataFrame | None = None,
    *,
    corpus_shingles: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.9,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The write-once corpus side of `incremental_containment_pairs`:
    (shingle rows, per-shingle document-frequency table, per-doc prefix
    under the df order at ``threshold``, per-doc shingle-array table
    the verify joins by doc). Build once per corpus
    generation, persist/pass to every arriving batch — the
    `build_lsh_index` discipline for the containment measure. The
    prefix depends on ``threshold``; rebuild when it changes."""
    if (corpus_df is None) == (corpus_shingles is None):
        raise ValueError("pass exactly one of corpus_df or corpus_shingles")
    cor_sh = (
        corpus_shingles
        if corpus_shingles is not None
        else pin(shingle_rows(corpus_df, text_col, id_col, n))
    )
    ranked, df_tbl = _ranked_containment_rows(cor_sh)
    return _containment_index_at(ranked, df_tbl, threshold)


def _ranked_containment_rows(cor_sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ranked shingle rows, df table) — the THRESHOLD-INDEPENDENT half
    of a containment index. ``ranked`` carries each doc's shingles with
    their rank under the global (df, sh) order plus the doc size, so any
    threshold's prefix is a pure filter of it (no further corpus pass)."""
    df_tbl = cor_sh.groupBy("sh").agg(F.count("*").alias("__df"))
    w_doc = Window.partitionBy("doc")
    ranked = (
        cor_sh.join(df_tbl, "sh")
        .withColumn("__rk", F.row_number().over(w_doc.orderBy("__df", "sh")))
        .withColumn("n_sh", F.count("*").over(w_doc))
    )
    return ranked, df_tbl


def _containment_index_at(
    ranked: DataFrame, df_tbl: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Specialize the threshold-free ranked rows to the (full, df,
    prefix, arr) tuple `incremental_containment_pairs` consumes. The
    full table carries n_sh so candidate generation reads doc sizes as
    a column; ``arr`` is the per-doc shingle-ARRAY form of the same
    corpus (doc, shs, n_sh) that verification joins by doc — shingles
    are distinct per doc (`ngram_shingles` array_distinct), so
    ``size(array_intersect(...))`` on two arr rows IS the exact
    intersection count, with no per-pair (doc, sh) shuffle join.
    collect_list order is nondeterministic and deliberately unsorted:
    only the SIZE of the intersect is read, which is order-free."""
    full = ranked.select("doc", "sh", "n_sh")
    prefix = ranked.filter(
        F.col("__rk")
        <= F.col("n_sh") - _required_overlap(threshold, F.col("n_sh")) + 1
    ).select("doc", "sh")
    arr = full.groupBy("doc").agg(
        F.collect_list("sh").alias("shs"), F.min("n_sh").alias("n_sh")
    )
    return full, df_tbl, prefix, arr


def incremental_containment_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    *,
    corpus_shingles: DataFrame | None = None,
    index: tuple[DataFrame, ...] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.9,
) -> DataFrame:
    """Cross-set containment probe: EXACT (id_new, dup_of) pairs with
    |new ∩ corpus| / min ≥ ``threshold`` between an arriving batch and a
    fixed corpus — the excerpt-contamination check the Jaccard LSH probe
    (`incremental_lsh_pairs`) structurally misses (a 40% verbatim
    excerpt of a corpus doc is jaccard ≈ 0.4 but containment 1.0).

    Scale shape (the `containment_pairs` asymmetric prefix filter,
    applied cross-set): order every doc's shingles by the CORPUS
    document frequency (batch-unseen shingles order first at df 0 —
    exactness needs only a consistent total order, frequency is the
    skew heuristic), keep each doc's |d| − ⌈t·|d|⌉ + 1 prefix, and
    collide prefix(batch) × full(corpus) ∪ full(batch) × prefix(corpus):
    a qualifying pair's first common shingle provably sits in the
    SMALLER side's prefix, so whichever side is smaller, one term
    catches it. Both joins carry the O(batch) side against the
    write-once corpus artifacts (shingle table, df table, prefix table,
    per-doc array table — built once per corpus generation by
    `build_containment_index` and passed via ``index``), so per-batch
    cost is O(batch + matches), never O(corpus²).

    Verification (round 15 — the old shape's cost audit): exact
    intersection counts come from ``size(array_intersect)`` over the
    two sides' per-doc shingle ARRAYS (distinct per doc by
    construction), joined to the candidate pairs BY DOC ID — the batch
    side is one tiny groupBy of the already-pinned batch shingles, the
    corpus side is the index's write-once ``arr`` artifact partitioned
    by doc. The previous shape re-joined candidate docs' shingle ROWS
    on (doc, sh) and re-aggregated per pair: for 238 candidate pairs at
    sf0.1 that plan spent ~1.4 s in two broadcast jobs + two semi-joins
    + a composite-key shuffle + a pair agg — all stage-count constant,
    no data. Per-pair work is O(shingles/doc) either way; the array
    shape does it with zero corpus-side exchange, zero broadcasts and
    zero driver scalars (the old measured broadcast-vs-shuffle switch
    on ``cand.count()`` is gone with the join it tuned). A 3-tuple
    ``index`` (pre-round-15 caller) still works: ``arr`` derives
    in-probe from the full table restricted to candidate docs — one
    corpus semi-join, exactly the old verify's corpus cost.
    Threshold arithmetic carries the `_T_EPS` slack (exactness at
    boundary thresholds)."""
    if index is None:
        index = build_containment_index(
            corpus_df,
            corpus_shingles=corpus_shingles,
            text_col=text_col,
            id_col=id_col,
            n=n,
            threshold=threshold,
        )
    elif corpus_df is not None or corpus_shingles is not None:
        raise ValueError("pass index OR corpus_df/corpus_shingles, not both")
    if len(index) == 3:  # pre-round-15 tuple: no per-doc array artifact
        cor_sh, df_tbl, cor_prefix = index
        cor_arr = None
    else:
        cor_sh, df_tbl, cor_prefix, cor_arr = index
    # batch-side prefix under the SAME global order: corpus df, with
    # batch-unseen shingles ordering first at df 0 (any consistent total
    # order is exact; corpus frequency is the skew heuristic). The
    # ranked frame carries n_sh so verification reads doc sizes as a
    # column instead of re-aggregating them.
    w_doc = Window.partitionBy("doc")
    # every corpus-side table below is checkpoint-backed (volume-blind
    # size estimates), so each join pins its build side explicitly:
    # shuffle_hash on the bounded/smaller side, never a broadcast of a
    # corpus-sized artifact (round-10 plan lint)
    new_sh = pin(
        shingle_rows(new_df, text_col, id_col, n)
        .join(df_tbl.hint("shuffle_hash"), "sh", "left")
        .withColumn("__df", F.coalesce(F.col("__df"), F.lit(0)))
        .withColumn("__rk", F.row_number().over(w_doc.orderBy("__df", "sh")))
        .withColumn("n_sh", F.count("*").over(w_doc))
    )
    new_prefix = new_sh.filter(
        F.col("__rk")
        <= F.col("n_sh") - _required_overlap(threshold, F.col("n_sh")) + 1
    ).select("doc", "sh")
    cand = (
        new_prefix.alias("a")
        .hint("shuffle_hash")
        .join(cor_sh.alias("b"), F.col("a.sh") == F.col("b.sh"))
        .select(F.col("a.doc").alias("id_new"), F.col("b.doc").alias("dup_of"))
        .unionByName(
            new_sh.alias("a")
            .hint("shuffle_hash")
            .join(cor_prefix.alias("b"), F.col("a.sh") == F.col("b.sh"))
            .select(
                F.col("a.doc").alias("id_new"), F.col("b.doc").alias("dup_of")
            )
        )
        .distinct()
    )
    if cor_arr is None:
        # legacy 3-tuple index: restrict the corpus shingles to candidate
        # docs (one semi-join — the old verify's corpus cost) and fold to
        # per-doc arrays in-probe. cand gains a second consumer → pin.
        cand = pin(cand)
        dup_ids = cand.select(F.col("dup_of").alias("doc")).distinct()
        cor_arr = (
            cor_sh.join(dup_ids.hint("shuffle_hash"), "doc", "left_semi")
            .groupBy("doc")
            .agg(F.collect_list("sh").alias("shs"), F.min("n_sh").alias("n_sh"))
        )
    # batch side folds to per-doc arrays off the pinned shingles — O(batch)
    new_arr = new_sh.groupBy("doc").agg(
        F.collect_list("sh").alias("__shs_new"), F.min("n_sh").alias("n_new")
    )
    n_inter = F.size(F.array_intersect(F.col("__shs_new"), F.col("b.shs")))
    return (
        cand.hint("shuffle_hash")
        .join(new_arr.alias("a"), F.col("id_new") == F.col("a.doc"))
        .hint("shuffle_hash")
        .join(cor_arr.alias("b"), F.col("dup_of") == F.col("b.doc"))
        .select(
            "id_new",
            "dup_of",
            n_inter.alias("n_inter"),
            F.col("n_new"),
            F.col("b.n_sh").alias("n_idx"),
        )
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.least(F.col("n_new"), F.col("n_idx")),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_new", "dup_of", "n_inter", "n_new", "n_idx", "containment")
    )


# Unresolved-Column caches for the K-hash signature and band-bucket
# expression lists. Column objects are plan-free expression trees, safe to
# reuse across DataFrames and sessions within one JVM; building them fresh
# is ~200 Py4J round-trips (several hundred ms of pure driver time) per
# minhash plan, paid by every query in the dedup family.
_SIG_COLS: dict[int, list] = {}
_BAND_ARRAYS: dict[tuple[int, int], object] = {}


def _sig_min_cols(num_hashes: int) -> list:
    cols = _SIG_COLS.get(num_hashes)
    if cols is None:
        cols = [
            F.min(F.xxhash64(F.lit(i), F.col("_base"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
        _SIG_COLS[num_hashes] = cols
    return cols


def _band_struct_array(num_hashes: int, bands: int):
    key = (num_hashes, bands)
    arr = _BAND_ARRAYS.get(key)
    if arr is None:
        rows_per_band = num_hashes // bands
        band_structs = []
        for b in range(bands):
            cols = [
                F.col(f"h{i}")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ]
            band_structs.append(
                F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bucket"))
            )
        arr = F.array(*band_structs)
        _BAND_ARRAYS[key] = arr
    return arr


def minhash_band_buckets(
    sh: DataFrame, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """(doc, band, bucket) LSH rows from exploded shingle rows (doc, sh).

    K min-hashes per doc in ONE hash-agg pass (partial+final combine).
    Two-level hash family: the variable-length shingle string is hashed
    once, then the K family members hash (seed, base_long) — fixed
    16-byte input, ~an order of magnitude cheaper than re-hashing the
    string K times, and still pairwise-independent enough for MinHash.
    The string hash is materialized ONCE per row: as an inline expression
    it appears in all K agg children and codegen is not guaranteed to CSE
    it across aggregate functions. Band buckets come from a single
    projection+explode over the signature — never B separate scans.

    This is the persistable INDEX of the corpus: in production it is
    written once (partitioned/bucketed by (band, bucket)) and each new
    batch probes it — see `incremental_lsh_pairs`.
    """
    rows_per_band = num_hashes // bands
    sh_base = sh.withColumn("_base", F.xxhash64(F.col("sh")))
    sig = sh_base.groupBy("doc").agg(*_sig_min_cols(num_hashes))
    return sig.select(
        F.col("doc"), F.explode(_band_struct_array(num_hashes, bands)).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def band_bucket_candidates(buckets: DataFrame) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from (doc, band, bucket) rows.

    The LSH candidate generator: docs sharing any (band, bucket) cell.
    One self-join on the banded key — cost O(sum of bucket sizes squared),
    never an all-pairs product over the corpus."""
    return (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
        .distinct()
    )


def verify_candidate_pairs(
    sh: DataFrame, candidates: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against shingle rows.

    Restricts the shingle set to docs that appear in some candidate pair
    before the intersection join — the full corpus is never pair-joined.
    NO forced broadcast on the candidate-id set: it is O(dup_rate ×
    corpus) — billions of ids on a lightly-deduped web crawl — so a
    mandatory broadcast OOMs exactly at scale. The semi-join shuffles on
    doc (a key the shingle set already hashes well on) and AQE still
    picks a broadcast when the measured candidate set is actually small.
    (ARCHITECTURE.md §Measured scaling records this stage's curve on a
    dup-heavy corpus.)
    """
    cand_ids = (
        candidates.select(F.col("id_a").alias("doc"))
        .unionByName(candidates.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    # Per-doc shingle-ARRAY verify (round 15): fold the candidate docs'
    # shingle rows (distinct per doc by `ngram_shingles`) to one array
    # row per doc, join the pair list by doc id on EACH side, and read
    # ``size(array_intersect)`` as the exact intersection count. The
    # previous shape pair-joined the shingle ROWS on (doc, sh) and
    # re-aggregated per pair — same O(shingles-per-doc) work per pair,
    # but paid through a composite-key shuffle of both restricted
    # shingle sets, a pair-agg exchange and two size-table joins; the
    # array shape replaces all of that with two id-keyed joins against
    # the pinned per-doc table (stage-count constant dominated at local
    # scale — the d_incremental_containment audit measured the old tail
    # at ~1.4 s for 238 pairs). Per-row memory is bounded by the
    # largest doc's shingle set — the same bound the row shape's
    # per-pair join output already carried. Array order is
    # nondeterministic and irrelevant: only the intersect SIZE is read.
    arr = pin(
        sh.join(cand_ids, "doc", "left_semi")
        .groupBy("doc")
        .agg(F.collect_list("sh").alias("shs"), F.count("*").alias("n_sh"))
    )
    return (
        candidates.hint("shuffle_hash")
        .join(arr.alias("a"), F.col("id_a") == F.col("a.doc"))
        .hint("shuffle_hash")
        .join(arr.alias("b"), F.col("id_b") == F.col("b.doc"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect(F.col("a.shs"), F.col("b.shs"))).alias(
                "n_inter"
            ),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature + banded LSH candidate pairs, exact-verified.

    Output schema matches `shingle_pairs_jaccard` — with near-identical
    inputs the banding probability of a false negative is ~0, so the two
    methods agree (which is what the oracle asserts); the difference is
    cost: candidates come from B bucket-joins, never an all-pairs product.

    ``shingles``: pass an already-pinned (doc, sh) table (shingle_rows
    output) to share ONE tokenize pass with a sibling pipeline — the
    d_lsh_quality audit runs this and the exact enumeration over the
    same corpus and would otherwise shingle it twice. Must match ``n``.
    """
    sh = shingles if shingles is not None else pin(shingle_rows(df, text_col, id_col, n))
    buckets = pin(minhash_band_buckets(sh, num_hashes, bands))
    candidates = pin(band_bucket_candidates(buckets))
    return verify_candidate_pairs(sh, candidates, threshold)


def build_lsh_index(
    index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """(shingles, band_buckets) of a corpus — the two persistable tables
    of an incremental-dedup index. In production both land as parquet
    (buckets bucketed by (band, bucket); shingles by doc) and are built
    ONCE, then every arriving batch probes them via
    `incremental_lsh_pairs(..., index=...)`."""
    sh_idx = shingle_rows(index_df, text_col, id_col, n)
    return sh_idx, minhash_band_buckets(sh_idx, num_hashes, bands)


# Bump when shingle_rows / minhash_band_buckets semantics change: the
# version participates in the artifact cache key, so old on-disk indexes
# built by previous algorithm versions can never be silently reused.
_LSH_INDEX_FORMAT = "1"


def _secure_artifact_dir(
    namespace: str,
    hashed_key: str,
    cache_root: str | None,
    expect_fresh: bool,
    what: str,
    cache_key: str,
) -> str:
    """Resolve (and harden) the on-disk artifact directory shared by the
    write-once index caches: per-uid private root unless the caller
    relocates it, lstat-verified (a symlink or another user's dir at the
    predictable path is rejected, never read — round-6/7 ADVICE), and
    ``expect_fresh`` makes key reuse across corpus generations an error
    instead of a silent stale read (round-8 ADVICE item 2).

    Housekeeping (round-11 ADVICE item 4, narrowed round 13): entering
    the root on the BUILD path (artifact missing) also (a) sweeps
    orphaned ``*.tmp.<pid>`` build dirs left by a crashed builder —
    only ones we own and older than an hour, so a live concurrent build
    is never raced — and (b) evicts the oldest generation-keyed
    artifacts beyond ``SPARK_GRAFT_ARTIFACT_KEEP`` (default 32) per
    namespace, so fingerprint-derived keys (a fresh key per corpus
    rewrite) cannot grow the cache without bound. Eviction deliberately
    does NOT run on reads (round-12 ADVICE): Spark reads are lazy, so a
    concurrent process mid-scan on an older-keyed artifact could have
    its parquet files deleted under it if every *read* evicted; builds
    are write-once-per-generation and therefore rare. Residual
    cross-process race: a reader whose artifact is beyond the keep
    horizon of ANOTHER process's build can still lose its files
    mid-scan — acceptable for the single-host harness at keep=32, where
    a full suite creates about a dozen keys per namespace. An evicted
    artifact is not an error for a subsequent caller: the build path
    rebuilds on a missing dir. Reads LRU-touch their artifact; the
    default keep is sized so one full test-suite run cannot evict the
    benchmark SF's prewarmed index — keep=8 measurably did exactly that
    (the r12 final bench re-paid a 2.1 s LSH build the 8-keep policy
    had evicted)."""
    import os
    import shutil
    import stat as statmod
    import time

    from ..localfs import secure_private_root

    if cache_root is not None:
        root = cache_root
        os.makedirs(root, mode=0o700, exist_ok=True)
    else:
        root = secure_private_root(namespace)
    art = os.path.join(root, hashed_key)
    try:
        art_st = os.lstat(art)
    except FileNotFoundError:
        art_st = None
    if art_st is None:
        # build path only — see docstring for why reads never evict
        try:
            keep = int(os.environ.get("SPARK_GRAFT_ARTIFACT_KEEP", "32"))
            now = time.time()
            entries = []
            for name in os.listdir(root):
                p = os.path.join(root, name)
                try:
                    st = os.lstat(p)
                except OSError:
                    continue
                if not statmod.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
                    continue
                if ".tmp." in name:
                    if now - st.st_mtime > 3600:
                        shutil.rmtree(p, ignore_errors=True)
                elif name != hashed_key:
                    entries.append((st.st_mtime, p))
            # keep-latest-N (minus the slot the current key will fill)
            entries.sort(reverse=True)
            for _, p in entries[max(keep - 1, 0):]:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # housekeeping must never fail the build path
    if art_st is not None and (
        statmod.S_ISLNK(art_st.st_mode)
        or not statmod.S_ISDIR(art_st.st_mode)
        or art_st.st_uid != os.getuid()
    ):
        raise PermissionError(
            f"{what} artifact {art!r} exists but is a symlink, not a "
            "directory, or owned by another user; refusing to read it — "
            "pass cache_root= to relocate"
        )
    if art_st is not None:
        try:
            os.utime(art)  # reads refresh mtime → eviction above is LRU
        except OSError:
            pass
    if expect_fresh and os.path.isdir(art):
        raise FileExistsError(
            f"{what} artifact for cache_key={cache_key!r} already exists "
            f"at {art!r} but the caller expected to BUILD a fresh one "
            "(expect_fresh=True). Reusing a cache key across corpus "
            "generations would silently probe a stale index; derive the key "
            "from the new generation's fingerprint instead."
        )
    return art


# Bump when shingle_rows / the (df, sh) rank order change — same
# stale-artifact discipline as _LSH_INDEX_FORMAT.
_CONTAINMENT_INDEX_FORMAT = "1"


def build_containment_index_cached(
    spark,
    corpus_df: DataFrame,
    cache_key: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.9,
    cache_root: str | None = None,
    expect_fresh: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """`build_containment_index` materialized as a WRITE-ONCE parquet
    artifact (the `build_lsh_index_cached` discipline applied to the
    containment measure): first call per ``cache_key`` lands the ranked
    shingle table and the df table on disk; every later call — this
    session or any other process — READS them, so a containment-mode
    stream (`curate.curate_stream`) probes at O(batch) per arrival
    instead of re-shingling the corpus per micro-batch (round-10 ADVICE
    item 1).

    The artifact is THRESHOLD-FREE: the stored ranked table carries each
    shingle's rank under the global (df, sh) order plus the doc size, so
    the threshold-dependent prefix is a pure filter applied at read time
    — one artifact serves every threshold. Build cost is ONE corpus
    pass; band security semantics (private root, lstat checks,
    ``expect_fresh``) match the LSH cache exactly."""
    import hashlib
    import os
    import shutil

    key = hashlib.md5(
        f"v{_CONTAINMENT_INDEX_FORMAT}:{cache_key}:{text_col}:{id_col}:{n}".encode()
    ).hexdigest()[:16]
    art = _secure_artifact_dir(
        "spark_graft_containment_index",
        key,
        cache_root,
        expect_fresh,
        "containment index",
        cache_key,
    )
    if not os.path.isdir(art):
        tmp = art + f".tmp.{os.getpid()}"
        # land the shingle rows once, then derive the df and ranked
        # tables from the RE-READ artifact so the pieces provably agree
        # (and the corpus shingle pass runs exactly once)
        shingle_rows(corpus_df, text_col, id_col, n).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "shingles"))
        sh_r = spark.read.parquet(os.path.join(tmp, "shingles"))
        sh_r.groupBy("sh").agg(F.count("*").alias("__df")).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "df"))
        df_r = spark.read.parquet(os.path.join(tmp, "df"))
        _ranked_from_parts(sh_r, df_r).write.mode("overwrite").parquet(
            os.path.join(tmp, "ranked")
        )
        shutil.rmtree(os.path.join(tmp, "shingles"), ignore_errors=True)
        try:
            os.replace(tmp, art)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(art):
                raise
    ranked = spark.read.parquet(os.path.join(art, "ranked"))
    df_tbl = spark.read.parquet(os.path.join(art, "df"))
    return _containment_index_at(ranked, df_tbl, threshold)


def _ranked_from_parts(cor_sh: DataFrame, df_tbl: DataFrame) -> DataFrame:
    """Ranked rows from an already-landed (shingles, df) pair — the join
    half of `_ranked_containment_rows` without re-deriving the df agg."""
    w_doc = Window.partitionBy("doc")
    return (
        cor_sh.join(df_tbl, "sh")
        .withColumn("__rk", F.row_number().over(w_doc.orderBy("__df", "sh")))
        .withColumn("n_sh", F.count("*").over(w_doc))
    )


def build_lsh_index_cached(
    spark,
    index_df: DataFrame,
    cache_key: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
    cache_root: str | None = None,
    expect_fresh: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """`build_lsh_index` materialized as a WRITE-ONCE parquet artifact:
    the first call per ``cache_key`` (corpus fingerprint + parameters)
    lands the shingle and band-bucket tables on disk; every later call —
    in this session or any other process — READS them, so the corpus
    pipeline never re-runs per probe. This is the operator's own
    "write-once index" claim made literal: without it, each
    `incremental_lsh_pairs(index_df=...)` invocation re-shingled and
    re-hashed the whole corpus (round-5 VERDICT item 8).

    Build cost is ONE corpus pass: shingles are written first, and the
    band buckets derive from the re-read shingle artifact. The rename
    into place is atomic, so concurrent builders race benignly. On a
    real cluster the same two tables land in object storage (buckets
    bucketBy (band, bucket), shingles by doc) via a saveAsTable
    warehouse instead of a /tmp path.

    The hashed key includes ``_LSH_INDEX_FORMAT`` so any change to the
    shingle/banding semantics invalidates old artifacts instead of
    silently reusing them; the default root is per-uid (mode 0700,
    lstat-verified — symlinks planted at the predictable path are
    rejected, since ``os.stat``'s uid check alone follows the link and
    would bless a redirected cache, round-7 ADVICE item 2) and an
    existing artifact is trusted only if this process owns it and it is
    a real directory — a world-shared predictable /tmp path would let
    another local user pre-plant parquet we'd silently read (round-6
    ADVICE item 1).

    ``expect_fresh=True`` makes the write-once semantics EXPLICIT for
    callers that are building a NEW corpus generation (index
    compaction): if an artifact already exists under this key the call
    raises instead of silently reading it — a reused ``cache_key``
    across generations would otherwise leave cross-arrival near-dups
    permanently invisible (round-8 ADVICE item 2)."""
    import hashlib
    import os
    import shutil

    key = hashlib.md5(
        f"v{_LSH_INDEX_FORMAT}:{cache_key}:{text_col}:{id_col}:{n}:{num_hashes}:{bands}".encode()
    ).hexdigest()[:16]
    art = _secure_artifact_dir(
        "spark_graft_lsh_index", key, cache_root, expect_fresh, "LSH index", cache_key
    )
    if not os.path.isdir(art):
        tmp = art + f".tmp.{os.getpid()}"
        shingle_rows(index_df, text_col, id_col, n).write.mode("overwrite").parquet(
            os.path.join(tmp, "shingles")
        )
        sh_r = spark.read.parquet(os.path.join(tmp, "shingles"))
        minhash_band_buckets(sh_r, num_hashes, bands).write.mode("overwrite").parquet(
            os.path.join(tmp, "buckets")
        )
        try:
            os.replace(tmp, art)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(art):
                raise
    return (
        spark.read.parquet(os.path.join(art, "shingles")),
        spark.read.parquet(os.path.join(art, "buckets")),
    )


def incremental_lsh_pairs(
    new_df: DataFrame,
    index_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental near-dup detection: probe a NEW batch against an
    existing corpus index. Returns (id_new, dup_of, n_inter, n_new,
    n_idx, jaccard) for cross-set pairs with exact Jaccard ≥ threshold.

    The shape every continuously-growing 100 TB corpus needs: the corpus'
    (doc, band, bucket) rows (`minhash_band_buckets`) are a persisted
    artifact built ONCE; each arriving batch computes signatures only for
    itself and bucket-joins the index — per-batch cost is O(batch), never
    O(corpus), and with the index parquet bucketed by (band, bucket) the
    probe join is exchange-free on the corpus side. Pass ``index`` (the
    `build_lsh_index` pair, typically re-read from parquet) to probe a
    prebuilt index; ``index_df`` derives it in-query instead (both-sides
    build — what the sandbox catalog query does, since no index persists
    between driver runs). MUST match n/num_hashes/bands used at build.

    Exact verification restricts both shingle sets to candidate docs
    before the intersection join, like `minhash_lsh_pairs`.
    """
    if (index is None) == (index_df is None):
        raise ValueError("pass exactly one of index_df or index")
    sh_new = pin(shingle_rows(new_df, text_col, id_col, n))
    if index is not None:
        sh_idx, b_idx = index
        sh_idx = pin(sh_idx)
    else:
        # pin shingles FIRST so the signature agg reads the pinned set
        sh_idx = pin(shingle_rows(index_df, text_col, id_col, n))
        b_idx = minhash_band_buckets(sh_idx, num_hashes, bands)
    b_new = minhash_band_buckets(sh_new, num_hashes, bands)

    candidates = pin(
        b_new.alias("x")
        .join(
            b_idx.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket")),
        )
        .select(F.col("x.doc").alias("id_new"), F.col("y.doc").alias("dup_of"))
        .distinct()
    )

    # no forced broadcast on either candidate-id set (same rationale as
    # minhash_lsh_pairs): cand_idx in particular is O(dup_rate × corpus);
    # AQE broadcasts when the runtime size allows, shuffles otherwise.
    # Verify via per-doc shingle ARRAYS (see verify_candidate_pairs —
    # the round-15 stage-count rewrite): fold each side's candidate
    # docs' shingle rows to one array row per doc, join the pair list
    # by id on each side, read size(array_intersect) as the exact
    # intersection — no composite-key shuffle, no pair agg, no size
    # joins. Corpus-side cost is unchanged: one semi-join restriction.
    cand_new = candidates.select(F.col("id_new").alias("doc")).distinct()
    cand_idx = candidates.select(F.col("dup_of").alias("doc")).distinct()
    arr_new = sh_new.join(cand_new, "doc", "left_semi").groupBy("doc").agg(
        F.collect_list("sh").alias("shs"), F.count("*").alias("n_new")
    )
    arr_idx = sh_idx.join(cand_idx, "doc", "left_semi").groupBy("doc").agg(
        F.collect_list("sh").alias("shs"), F.count("*").alias("n_idx")
    )
    return (
        candidates.hint("shuffle_hash")
        .join(arr_new.alias("a"), F.col("id_new") == F.col("a.doc"))
        .hint("shuffle_hash")
        .join(arr_idx.alias("b"), F.col("dup_of") == F.col("b.doc"))
        .select(
            "id_new",
            "dup_of",
            F.size(F.array_intersect(F.col("a.shs"), F.col("b.shs"))).alias(
                "n_inter"
            ),
            F.col("a.n_new").alias("n_new"),
            F.col("b.n_idx").alias("n_idx"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_new") + F.col("n_idx") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "dup_of", "n_inter", "n_new", "n_idx", "jaccard")
    )
