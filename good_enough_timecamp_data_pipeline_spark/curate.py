"""End-to-end corpus-curation pipeline CLI.

The catalog proves each curation operator individually (exact dedup,
MinHash-LSH near-dup, quality/classifier gates, language ID, splits);
this module composes them into the runnable pipeline a training-data
team actually ships::

    python -m good_enough_timecamp_data_pipeline_spark.curate \
        --input  /data/documents.parquet \
        --output ./curated \
        --min-quality 0.5 --neardup-threshold 0.6 \
        --splits train=0.9,val=0.05,test=0.05 --shards 64

Stage order (any stage is removable with ``--skip``):

1. ``scrub``      — mask emails/URLs in the text (map-only projection).
2. ``exact``      — one winner (min id) per exact content hash.
3. ``neardup``    — MinHash-LSH verified pairs → connected components →
                    per-cluster survivor (longest doc, ties to min id) —
                    the ``d_dedup_survivors`` policy.

**Incremental mode** (``--corpus``): curate a NEW batch against an
already-curated corpus. The within-batch stages run unchanged; in
addition the ``exact`` stage anti-joins the batch against the corpus'
content hashes, and the ``neardup`` stage probes the corpus' write-once
LSH index (``operators/dedup.py::build_lsh_index_cached`` +
``incremental_lsh_pairs``) — per-batch cost is O(batch), never
O(corpus), which is the only shape a continuously-growing corpus
affords. With ``--near-dup containment`` the corpus probe instead runs
the cross-set containment prefix join
(``incremental_containment_pairs``) — excerpt/subset contamination the
Jaccard probe structurally misses — still O(batch) per arrival. The
output is the append candidate set.
4. ``quality``    — heuristic gate: ``quality_score(text) >= min_quality``.
5. ``classifier`` — model-based gate, two modes:
                    ``hashed`` (default): deterministic md5-weight linear
                    classifier, mean token weight > ``--clf-threshold``;
                    ``trained``: the DCLM/fastText flow — train a hashed
                    logistic regression on the HEURISTIC gate's labels
                    over a deterministic pre-gate sample
                    (``operators/classifier.py``), then gate on
                    ``p_keep > --clf-threshold`` (default 0.5 there).
6. ``annotate``   — lang_pred / n_tokens / quality columns (always on).
7. ``split``      — deterministic md5-bucket split assignment.
8. ``shard``      — stable shard id in [0, --shards).

Scale shape: stages 1/4/5/6/7/8 are pure column expressions that fuse
into the scan; stage 2 is one hash groupBy + semi-join; stage 3 is the
banded-LSH pipeline (never all-pairs) plus a node-sized label
propagation. Per-stage row counts are collected with ``df.observe`` so
the single output write materializes every counter — no second pass
over the corpus (observe on the write job).

Reference parity note: the reference pipeline has no curation surface —
this is part of the SURVEY §2.11 north-star extension (LLM-training
data ops), built entirely from the operators the catalog already
verifies against the DuckDB oracle.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .operators import text
from .operators.dedup import exact_dedup, minhash_lsh_pairs
from .operators.graph import connected_components
from .operators.layout import fan_out_scan
from .operators.sampling import hash_bucket, hash_split

STAGES = ("scrub", "exact", "neardup", "quality", "classifier", "split", "shard")

_RUN_SEQ = itertools.count()

# RE2-compatible, identical to the t_scrub_pii catalog entry
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[^ ]+"


class _CachedCount:
    """Observation-shaped counter over a persisted stage frame: ``get``
    returns ``{"rows": n}`` like ``pyspark.sql.Observation.get`` so the
    stats code is mode-agnostic. The count runs at read time against the
    cached blocks (the frame is always materialized by then — the output
    write consumed it)."""

    def __init__(self, df: DataFrame) -> None:
        from pyspark.storagelevel import StorageLevel

        self.df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._n: int | None = None

    @property
    def get(self) -> dict:
        if self._n is None:
            self._n = self.df.count()
        return {"rows": self._n}


class _StageCounter:
    """``df.observe`` counter with a deterministic recount fallback.

    The observation fills for free on the output write (no extra pass —
    the primary path). But when the neardup stage's iterative internals
    (pinned shingle sets, label propagation's per-round counts and local
    checkpoints) execute the observed subtree through their own actions,
    Spark can leave the metrics row EMPTY for upstream observations
    (seen as ``Some([])`` / a toPyRow assertion). Every stage plan here
    is deterministic, so the fallback — re-counting the stage frame — is
    exact; it costs one narrow pass and only runs on the degraded path."""

    def __init__(self, df: DataFrame, name: str) -> None:
        self._o = Observation(name)
        self.df = df.observe(self._o, F.count(F.lit(1)).alias("rows"))
        self._n: int | None = None

    @property
    def get(self) -> dict:
        if self._n is None:
            # non-blocking probe: Observation.get WAITS forever on a
            # never-filled observation, so inspect the underlying row
            # option instead and recount when it is absent or empty
            try:
                opt = self._o._jo.getRowOrEmpty()
                if opt.isDefined() and opt.get().length() > 0:
                    self._n = int(opt.get().getLong(0))
            except Exception:
                self._n = None
            if self._n is None:
                self._n = self.df.count()
        return {"rows": self._n}


def _classifier_score() -> F.Column:
    """Mean hashed-bucket token weight in [-1, 1] (t_hashed_classifier)."""
    from .operators.classifier import weight_expr

    toks = text.tokenize(F.col("text"))
    raw = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + weight_expr(t)
    )
    n = F.size(toks)
    return F.when(
        n > 0, raw.cast("double") / (n.cast("double") * 1000.0)
    ).otherwise(F.lit(0.0))


def curate(
    spark: SparkSession,
    docs: DataFrame,
    *,
    min_quality: float = 0.5,
    clf_mode: str = "hashed",
    clf_threshold: float | None = None,
    clf_train_fraction: float = 0.5,
    clf_train_iters: int = 10,
    neardup_threshold: float = 0.6,
    neardup_mode: str = "jaccard",
    containment_threshold: float = 0.9,
    splits: dict[str, float] | None = None,
    shards: int = 64,
    skip: frozenset[str] = frozenset(),
    corpus: DataFrame | None = None,
    lsh_cache_key: str | None = None,
) -> tuple[DataFrame, dict[str, Observation]]:
    """Compose the curation plan over ``docs`` (doc_id, text, ...).

    Returns (curated DataFrame, {stage: Observation}) — the caller's
    write/collect action fills every observation; read counts only
    after materializing."""
    unknown = skip - set(STAGES)
    if unknown:
        raise ValueError(f"unknown stages in --skip: {sorted(unknown)}")
    if clf_mode not in ("hashed", "trained"):
        raise ValueError(f"clf_mode must be 'hashed' or 'trained', got {clf_mode!r}")
    if neardup_mode not in ("jaccard", "containment"):
        raise ValueError(
            f"neardup_mode must be 'jaccard' or 'containment', got {neardup_mode!r}"
        )

    obs: dict[str, Observation] = {}
    # metric names must be unique per QUERY, and a composed plan can
    # contain a previous curate() call's CollectMetrics nodes in its
    # lineage (e.g. re-curating a curated frame) — suffix every name
    # with a per-invocation sequence number
    run_seq = next(_RUN_SEQ)

    def observed(df: DataFrame, stage: str) -> DataFrame:
        if corpus is not None:
            # incremental mode: the LSH probe's iterative internals
            # (pinned shingle sets, label propagation's per-round
            # actions and local checkpoints) execute the stage subtrees
            # outside one clean query, which breaks df.observe (metrics
            # nodes re-execute or fire through RDD actions and report
            # empty rows). The batch is O(new docs) — small by
            # definition — so each stage persists and the counter reads
            # the cache lazily instead; downstream stages reuse the
            # same cached frame, so nothing recomputes.
            c = _CachedCount(df)
            obs[stage] = c
            return c.df
        sc = _StageCounter(df, f"curate_{stage}_{run_seq}")
        obs[stage] = sc
        return sc.df

    d = observed(fan_out_scan(docs, "doc_id"), "input")

    if "scrub" not in skip:
        clean = F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
            URL_RE,
            "<URL>",
        )
        d = d.withColumn("text", clean)

    if "exact" not in skip:
        winners = exact_dedup(d).select(F.col("winner_id").alias("doc_id"))
        d = observed(d.join(winners, "doc_id", "left_semi"), "exact")
        if corpus is not None:
            seen = corpus.select(F.md5("text").alias("__h")).distinct()
            d = observed(
                d.withColumn("__h", F.md5("text"))
                .join(seen, "__h", "left_anti")
                .drop("__h"),
                "exact_vs_corpus",
            )

    if "neardup" not in skip:
        if neardup_mode == "containment":
            # excerpt/subset duplication: a 40% verbatim excerpt has
            # jaccard ≈ 0.4 against its source (invisible to the LSH
            # gate at any sane threshold) but containment 1.0. The
            # asymmetric measure feeds the SAME cluster + survivor
            # selection below, where longest-wins keeps the source and
            # drops its excerpts. Cost-based exact join (Σdf² probe →
            # PPJoin prefix filter above the bound — dedup.py).
            from .operators.dedup import containment_pairs

            pairs = containment_pairs(
                d, threshold=containment_threshold, max_shingle_df=None
            )
        else:
            pairs = minhash_lsh_pairs(d, threshold=neardup_threshold)
        edges = pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        # over-segmentation on non-convergence keeps more docs — safe
        # for dedup (the connected_components contract)
        labels = connected_components(edges, on_nonconverged="warn")
        labeled = d.join(
            labels, d["doc_id"] == labels["node"], "left"
        ).select(
            d["*"],
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("__cluster"),
        )
        w = Window.partitionBy("__cluster").orderBy(
            F.desc(F.size(text.tokenize(F.col("text")))), F.asc("doc_id")
        )
        d = observed(
            labeled.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__cluster", "__rk"),
            "neardup",
        )
        if corpus is not None:
            # d is already persisted by this stage's _CachedCount — the
            # probe (shingle input) and the anti-join's left side read
            # the same cached blocks instead of re-running the batch
            # pipeline per consumer
            if neardup_mode == "containment":
                from .operators.dedup import (
                    build_containment_index_cached,
                    incremental_containment_pairs,
                )

                # cross-set excerpt/subset probe against the corpus'
                # write-once shingle artifacts (the LSH-index discipline
                # for the containment measure): with a cache key the
                # ranked/df tables land as parquet ONCE per corpus
                # generation and every later batch probes them at
                # O(batch); without one (one-shot batch mode) the index
                # derives in-session — one corpus pass for this call
                if lsh_cache_key is not None:
                    c_index = build_containment_index_cached(
                        spark,
                        corpus,
                        lsh_cache_key,
                        threshold=containment_threshold,
                    )
                    cross = incremental_containment_pairs(
                        d, index=c_index, threshold=containment_threshold
                    )
                else:
                    cross = incremental_containment_pairs(
                        d, corpus, threshold=containment_threshold
                    )
            else:
                from .operators.dedup import (
                    build_lsh_index,
                    build_lsh_index_cached,
                    incremental_lsh_pairs,
                )

                # probe the corpus' write-once index; without a cache key
                # the index is derived in-session (one corpus pass)
                if lsh_cache_key is not None:
                    index = build_lsh_index_cached(spark, corpus, lsh_cache_key)
                else:
                    index = build_lsh_index(corpus)
                cross = incremental_lsh_pairs(
                    d, index=index, threshold=neardup_threshold
                )
            dup_new = cross.select(F.col("id_new").alias("doc_id")).distinct()
            d = observed(
                d.join(dup_new, "doc_id", "left_anti"), "neardup_vs_corpus"
            )

    # one materialized token array serves the quality gate AND the
    # annotate stage below — below the codegen cutoff each
    # quality/lang/count term would otherwise re-run the tokenizer
    # (no whole-stage subexpression elimination); same rewrite as
    # t_corpus_prep, measured ~2× on that plan
    d = d.withColumn("__toks", text.tokenize(F.col("text")))
    d = d.withColumn(
        "quality", text.quality_score(F.col("text"), toks=F.col("__toks"))
    )

    # trained mode learns from the heuristic gate's labels on the
    # PRE-gate corpus (post-gate labels would be all-positive)
    model = None
    if "classifier" not in skip and clf_mode == "trained":
        from .operators.classifier import train_logreg_hashed
        from .operators.sampling import deterministic_sample

        labeled = d.select(
            "doc_id",
            "text",
            (F.col("quality") >= F.lit(min_quality)).cast("int").alias("label"),
        )
        if clf_train_fraction < 1.0:
            labeled = deterministic_sample(labeled, "doc_id", clf_train_fraction)
        model = train_logreg_hashed(labeled, n_iter=clf_train_iters)

    if "quality" not in skip:
        d = observed(d.filter(F.col("quality") >= F.lit(min_quality)), "quality")

    if "classifier" not in skip:
        if clf_mode == "trained":
            from .operators.classifier import score_with_model

            d = score_with_model(d, model)
            thr = 0.5 if clf_threshold is None else clf_threshold
            d = observed(d.filter(F.col("p_keep") > F.lit(thr)), "classifier")
        else:
            d = d.withColumn("clf_score", _classifier_score())
            thr = 0.0 if clf_threshold is None else clf_threshold
            d = observed(
                d.filter(F.col("clf_score") > F.lit(thr)), "classifier"
            )

    # annotate (always on): downstream mixers need these columns
    d = (
        d.withColumn(
            "lang_pred", text.lang_id(F.col("text"), toks=F.col("__toks"))
        )
        .withColumn("n_tokens", F.size("__toks").cast("int"))
        .drop("__toks")
    )

    if "split" not in skip:
        d = hash_split(
            d, "doc_id", splits or {"train": 0.90, "val": 0.05, "test": 0.05}
        )
    if "shard" not in skip:
        d = d.withColumn("shard", hash_bucket("doc_id", shards).cast("int"))

    return observed(d, "output"), obs


def _curate_one_batch(
    batch: DataFrame,
    batch_id: int,
    *,
    corpus_path: str,
    out_docs: str,
    stats_dir: str,
    lsh_cache_key: str | None,
    drift: bool = False,
    **curate_kwargs,
) -> None:
    """One ``curate_stream`` micro-batch, module-level so the replay
    path is directly testable: curate the batch against the corpus,
    anti-join against docs accepted by EARLIER batches (the current
    batch's own ``batch=<id>`` partition is excluded — on replay of an
    uncommitted micro-batch it already holds this batch's landed copy,
    and an unfiltered anti-join would match every doc against itself
    and re-emit the partition empty), then land
    at ``docs/batch=<id>`` with overwrite (idempotent under replay).

    With ``drift=True`` the per-batch stats gain a ``drift`` section:
    binned token-count KS + token-KL of the ARRIVING batch vs the
    corpus (`operators/drift.py`). The corpus-side aggregates cache on
    ``corpus_path`` — the corpus is write-once between compactions, so
    monitoring costs one bounded hash-agg pair per batch."""
    import glob as _glob

    sess = batch.sparkSession
    corp = sess.read.parquet(corpus_path)
    drift_stats = None
    if drift:
        from .operators.drift import drift_report

        # key the reference cache by the corpus FINGERPRINT (path +
        # listing digest), matching the LSH index cache's lifetime — a
        # raw-path key would silently serve stale reference stats after
        # an in-process corpus compaction
        drift_stats = drift_report(
            batch, corp, ref_cache_key=_corpus_fingerprint(corpus_path)
        )
    out, obs = curate(
        sess, batch, corpus=corp, lsh_cache_key=lsh_cache_key, **curate_kwargs
    )
    if _glob.glob(os.path.join(out_docs, "batch=*", "*.parquet")):
        # partition discovery exposes ``batch`` as a column, so the
        # != filter also partition-prunes the directory being
        # overwritten out of the read
        accepted = (
            sess.read.parquet(out_docs)
            .filter(F.col("batch") != F.lit(batch_id))
            .select(F.md5("text").alias("__h"))
            .distinct()
        )
        out = (
            out.withColumn("__h", F.md5("text"))
            .join(accepted, "__h", "left_anti")
            .drop("__h")
        )
    # 'landed' = rows actually written after the cross-batch anti-join;
    # curate()'s own 'output' counter is pre-anti-join, so a batch of
    # all-dups reports output>0 but landed=0.
    # The observation fills on the write.
    landed = _StageCounter(out, f"landed_{batch_id}_{next(_RUN_SEQ)}")
    landed.df.write.mode("overwrite").parquet(
        os.path.join(out_docs, f"batch={batch_id}")
    )
    stats = {k: o.get["rows"] for k, o in obs.items()}
    stats["landed"] = landed.get["rows"]
    if drift_stats is not None:
        stats["drift"] = drift_stats
    with open(os.path.join(stats_dir, f"batch_{batch_id}.json"), "w") as f:
        json.dump(stats, f)


def curate_stream(
    spark: SparkSession,
    feed_dir: str,
    corpus_path: str,
    output_dir: str,
    *,
    lsh_cache_key: str | None = None,
    checkpoint_dir: str | None = None,
    drift: bool = False,
    **curate_kwargs,
) -> str:
    """Continuous curation: arriving document micro-batches are curated
    INCREMENTALLY against a fixed curated corpus and appended to
    ``output_dir``/docs. Returns that path after draining the feed.

    Shape (the ``streaming_incremental_dedup`` discipline, extended to
    the full pipeline): the corpus' LSH index is write-once
    (``lsh_cache_key``); each ``foreachBatch`` runs the batch pipeline +
    corpus probe at O(batch) cost, then also drops exact copies of docs
    ACCEPTED from earlier micro-batches (content-hash anti-join against
    the landed output — hashes, never shingles, so the growing output
    costs one narrow scan). Cross-arrival NEAR-dups are deliberately out
    of scope per micro-batch — the production pattern is periodic index
    compaction (rebuild the corpus index to absorb accepted docs), not
    per-batch index mutation.

    Idempotence under replay: each batch lands at ``docs/batch=<id>``
    with overwrite, so a crash between sink write and checkpoint commit
    re-emits the same partition instead of duplicating it (the
    epoch-keyed sink pattern from the streaming timecamp source tests).
    """
    import tempfile

    # a stream without an explicit corpus key would rebuild the corpus
    # index (LSH or containment) on EVERY micro-batch — O(corpus) per
    # arrival, contradicting this function's own contract. Derive the
    # write-once key from the corpus fingerprint by default; callers
    # managing generations explicitly still pass their own.
    if lsh_cache_key is None:
        lsh_cache_key = _corpus_fingerprint(corpus_path)

    feed_schema = spark.read.parquet(feed_dir).schema
    stream = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    out_docs = os.path.join(output_dir, "docs")
    stats_dir = os.path.join(output_dir, "stats")
    os.makedirs(stats_dir, exist_ok=True)

    def one_batch(batch: DataFrame, batch_id: int) -> None:
        _curate_one_batch(
            batch,
            batch_id,
            corpus_path=corpus_path,
            out_docs=out_docs,
            stats_dir=stats_dir,
            lsh_cache_key=lsh_cache_key,
            drift=drift,
            **curate_kwargs,
        )

    ckpt_ctx = (
        tempfile.TemporaryDirectory() if checkpoint_dir is None else None
    )
    ckpt = checkpoint_dir if checkpoint_dir is not None else ckpt_ctx.name
    try:
        q = (
            stream.writeStream.foreachBatch(one_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if ckpt_ctx is not None:
            ckpt_ctx.cleanup()
    return out_docs


def compact_index(
    spark: SparkSession,
    corpus_path: str,
    accepted_path: str,
    compacted_path: str,
    *,
    lsh_cache_key: str,
) -> str:
    """Periodic index compaction: fold stream-accepted docs back into
    the corpus and build the NEXT write-once LSH index over the union.

    This is the second half of the ``curate_stream`` contract — the
    stream probes a FIXED index (O(batch) arrivals), and compaction runs
    on a schedule: land corpus ∪ accepted as the new corpus generation,
    then build its index under a NEW cache key (the key is the corpus
    fingerprint, so the old artifact is never silently reused — the
    `_LSH_INDEX_FORMAT` discipline applied to data versions). After
    compaction the stream's cross-arrival near-dup blind spot closes for
    everything accepted before the compaction point.

    Returns ``compacted_path``; the caller restarts the stream with
    ``corpus_path=compacted_path`` and the new key."""
    from .operators.dedup import build_lsh_index_cached

    corp = spark.read.parquet(corpus_path).select("doc_id", "text")
    acc = spark.read.parquet(accepted_path).select("doc_id", "text")
    merged = corp.unionByName(acc)
    merged.write.mode("overwrite").parquet(compacted_path)
    # build from the LANDED generation (not the in-memory union) so the
    # artifact provably matches what the next stream run reads;
    # expect_fresh makes a reused --corpus-key an error instead of a
    # silent stale-index read
    landed = spark.read.parquet(compacted_path)
    build_lsh_index_cached(spark, landed, lsh_cache_key, expect_fresh=True)
    return compacted_path


def profile_curated(df: DataFrame) -> DataFrame:
    """One-pass (split, lang) profile of a curated corpus: doc/token
    counts, quality moments, token-length spread — the acceptance report
    a curator reads before shipping. Single hash aggregation over the
    output; group count is bounded by splits × languages."""
    keys = [c for c in ("split", "lang_pred") if c in df.columns]
    return (
        df.groupBy(*keys)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
            F.round(F.avg("n_tokens"), 2).alias("mean_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy(*keys)
    )


def _corpus_fingerprint(path: str) -> str:
    """Default write-once-index cache key for a corpus directory: the
    absolute path plus a digest of the file LISTING (sorted relative
    names, sizes, mtime_ns). A corpus rewritten in-place changes file
    names/sizes/nanosecond mtimes even within the same wall-clock
    second, so the stale-index hazard of the old ``int(mtime)`` key
    is gone, while re-probes of the same landed
    generation still hit the cache."""
    import hashlib

    root = os.path.abspath(path)
    h = hashlib.md5()
    if os.path.isdir(root):
        for dirpath, dirnames, filenames in sorted(os.walk(root)):
            dirnames.sort()
            for fn in sorted(filenames):
                full = os.path.join(dirpath, fn)
                st = os.stat(full)
                rel = os.path.relpath(full, root)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    else:
        st = os.stat(root)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return f"{root}@{h.hexdigest()[:16]}"


def _parse_splits(raw: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for part in raw.split(","):
        name, _, w = part.partition("=")
        if not _:
            raise ValueError(f"--splits expects name=weight, got {part!r}")
        out[name.strip()] = float(w)
    return out


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="curate", description="Corpus-curation pipeline (dedup → gates → splits)"
    )
    p.add_argument("--input", required=True, help="documents parquet path/dir")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--clf-mode", choices=("hashed", "trained"), default="hashed",
                   help="'trained' learns a hashed logreg from the heuristic "
                        "gate's labels and gates on p_keep")
    p.add_argument("--clf-threshold", type=float, default=None,
                   help="score cut (default 0.0 hashed, 0.5 trained)")
    p.add_argument("--clf-train-fraction", type=float, default=0.5)
    p.add_argument("--clf-train-iters", type=int, default=10)
    p.add_argument("--neardup-threshold", type=float, default=0.6)
    p.add_argument("--near-dup", dest="neardup_mode",
                   choices=("jaccard", "containment"), default="jaccard",
                   help="near-dup measure: LSH-Jaccard (default) or exact "
                        "containment |A∩B|/min — catches excerpt/subset "
                        "duplication Jaccard misses; with --corpus the "
                        "corpus probe uses the cross-set containment "
                        "prefix join (O(batch) per arrival)")
    p.add_argument("--containment-threshold", type=float, default=0.9)
    p.add_argument("--splits", type=_parse_splits,
                   default={"train": 0.90, "val": 0.05, "test": 0.05},
                   help="comma list name=weight summing to 1")
    p.add_argument("--shards", type=int, default=64)
    p.add_argument("--skip", default="",
                   help=f"comma list of stages to skip (of {','.join(STAGES)})")
    p.add_argument("--corpus", default=None,
                   help="parquet path of an already-curated corpus: "
                        "incremental mode — the batch is also deduped "
                        "against the corpus (exact + LSH probe)")
    p.add_argument("--corpus-key", default=None,
                   help="stable fingerprint of --corpus for the write-once "
                        "corpus index cache (LSH or containment, per "
                        "--near-dup; default: derived from the corpus file "
                        "listing)")
    p.add_argument("--drift-report", action="store_true",
                   help="with --corpus: emit binned token-count KS + "
                        "token-KL of the input vs the corpus into stats")
    p.add_argument("--profile", action="store_true",
                   help="also write a (split, lang) acceptance profile "
                        "of the curated output to <output>/profile.json")
    p.add_argument("--compact", action="store_true",
                   help="compaction mode: fold --input (accepted docs) "
                        "into --corpus, land the union at --output, and "
                        "build its write-once LSH index under "
                        "--corpus-key (required)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    skip = frozenset(s.strip() for s in args.skip.split(",") if s.strip())

    from .session import get_spark

    spark = get_spark("curate")
    if args.compact:
        if args.corpus is None or args.corpus_key is None:
            print("--compact requires --corpus and --corpus-key", file=sys.stderr)
            return 2
        path = compact_index(
            spark, args.corpus, args.input, args.output,
            lsh_cache_key=args.corpus_key,
        )
        print(json.dumps({"compacted_path": path, "corpus_key": args.corpus_key}))
        return 0
    docs = spark.read.parquet(args.input)
    corpus = None
    corpus_key = None
    if args.corpus is not None:
        corpus = spark.read.parquet(args.corpus)
        corpus_key = args.corpus_key
        if corpus_key is None:
            corpus_key = _corpus_fingerprint(args.corpus)
    drift_stats = None
    if args.drift_report:
        if corpus is None:
            print("--drift-report requires --corpus", file=sys.stderr)
            return 2
        from .operators.drift import drift_report

        drift_stats = drift_report(
            docs, corpus, ref_cache_key=_corpus_fingerprint(args.corpus)
        )
    curated, obs = curate(
        spark,
        docs,
        min_quality=args.min_quality,
        clf_mode=args.clf_mode,
        clf_threshold=args.clf_threshold,
        clf_train_fraction=args.clf_train_fraction,
        clf_train_iters=args.clf_train_iters,
        neardup_threshold=args.neardup_threshold,
        neardup_mode=args.neardup_mode,
        containment_threshold=args.containment_threshold,
        splits=args.splits,
        shards=args.shards,
        skip=skip,
        corpus=corpus,
        lsh_cache_key=corpus_key,
    )

    out_docs = os.path.join(args.output, "docs")
    writer = curated.write.mode("overwrite")
    if "split" not in skip:
        writer = writer.partitionBy("split")
    writer.parquet(out_docs)

    stats = {stage: o.get["rows"] for stage, o in obs.items()}
    stats["output_path"] = out_docs
    if drift_stats is not None:
        stats["drift"] = drift_stats
    with open(os.path.join(args.output, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1)
    if args.profile:
        prof = [
            r.asDict() for r in profile_curated(spark.read.parquet(out_docs)).collect()
        ]
        with open(os.path.join(args.output, "profile.json"), "w") as f:
            json.dump(prof, f, indent=1)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
