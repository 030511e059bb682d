"""Sequential-reference tests for language-mix entropy, dedup threshold curve, n-gram novelty."""

import collections
import math

import pandas as pd
from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.plans import northstar, warehouse


def test_lang_entropy_matches_python(spark, sf_dir):
    out = {r.source: r for r in warehouse.a_source_lang_entropy(spark, sf_dir).collect()}
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "lang"])
    cells = collections.Counter(zip(docs.source, docs.lang))
    by_src = collections.defaultdict(dict)
    for (s, l), c in cells.items():
        by_src[s][l] = c
    for s, langs in by_src.items():
        n = sum(langs.values())
        fold = 0.0
        for l in sorted(langs):  # the engine folds in lang order
            fold += float(langs[l]) * math.log(float(langs[l]))
        r = out[s]
        assert r.n_docs == n and r.n_langs == len(langs)
        assert r.entropy == round(math.log(float(n)) - fold / n, 4), s


def test_lang_entropy_degenerate_is_zero(spark):
    """A single-language source must score exactly 0 (and n·ln(n) terms
    must cancel, not leave float residue)."""
    df = spark.createDataFrame(
        [(i, "only", "en") for i in range(7)], "doc_id long, source string, lang string"
    )
    orig = warehouse.load_table
    try:
        warehouse.load_table = lambda spark, sf_dir, name: df
        (r,) = warehouse.a_source_lang_entropy(spark, "unused").collect()
    finally:
        warehouse.load_table = orig
    assert r.entropy == 0.0 and r.n_langs == 1 and r.n_docs == 7


def test_threshold_curve_buckets_partition_the_pairs(spark, sf_dir):
    from good_enough_timecamp_data_pipeline_spark.operators.dedup import (
        shingle_pairs_jaccard,
    )
    from good_enough_timecamp_data_pipeline_spark.plans.testdata import load_table

    curve = northstar.d_threshold_curve(spark, sf_dir).collect()
    pairs = shingle_pairs_jaccard(
        load_table(spark, sf_dir, "documents"),
        threshold=northstar.CURVE_FLOOR,
        max_shingle_df=None,
    ).collect()
    # bucket counts must partition the pair set computed independently
    ref = collections.Counter(math.floor(p.jaccard * 10) / 10.0 for p in pairs)
    assert {r.bucket: r.n_pairs for r in curve} == dict(ref)
    assert sum(r.n_pairs for r in curve) == len(pairs)
    assert all(northstar.CURVE_FLOOR <= r.bucket <= 1.0 for r in curve)


def test_ngram_novelty_matches_python(spark):
    """Hand graph: doc 1 original, doc 2 a full copy (novelty 0), doc 3
    half-overlapping, doc 4 too short for any shingle (absent)."""
    base = " ".join(f"w{i}" for i in range(10))  # 6 shingles
    half = " ".join(f"w{i}" for i in range(5, 15))  # shares shingle w5..w9
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, half), (4, "too short text")],
        "doc_id long, text string",
    )
    orig = northstar.load_table
    try:
        northstar.load_table = lambda spark, sf_dir, name: df
        out = {r.doc_id: r for r in northstar.t_ngram_novelty(spark, "unused").collect()}
    finally:
        northstar.load_table = orig
    assert set(out) == {1, 2, 3}
    assert out[1].novelty == 1.0 and out[1].n_sh == 6
    assert out[2].novelty == 0.0  # every shingle first seen in doc 1
    # doc 3: 6 shingles, exactly one ("w5 w6 w7 w8 w9") already in doc 1
    assert out[3].n_sh == 6 and out[3].n_novel == 5
    assert out[3].novelty == 5.0 / 6.0


def test_ngram_novelty_testdata_bounds(spark, sf_dir):
    rows = northstar.t_ngram_novelty(spark, sf_dir).collect()
    assert rows
    assert all(0.0 <= r.novelty <= 1.0 and r.n_novel <= r.n_sh for r in rows)
    # lowest doc_id with shingles is all-novel by construction
    first = min(rows, key=lambda r: r.doc_id)
    assert first.novelty == 1.0


def test_lsh_quality_perfect_at_pinned_settings(spark, sf_dir):
    (r,) = northstar.d_lsh_quality(spark, sf_dir).collect()
    assert r.n_exact > 0  # the injected near-dup corpus guarantees pairs
    assert r.n_exact == r.n_lsh == r.n_common
    assert r.recall == 1.0 and r.precision == 1.0


def test_lsh_quality_detects_degraded_banding(spark):
    """Sanity that the audit CAN fail: with far fewer bands the borderline
    pair (jaccard ≈ 0.5) is likely missed and recall drops below 1 —
    recomputed here directly through the operators at 2 bands."""
    from good_enough_timecamp_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        shingle_pairs_jaccard,
    )

    # ~0.5-jaccard pair: 15 shared tokens, 8 unique tail each
    a = " ".join(f"w{i}" for i in range(15)) + " " + " ".join(f"a{i}" for i in range(8))
    b = " ".join(f"w{i}" for i in range(15)) + " " + " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    exact = shingle_pairs_jaccard(df, threshold=0.4, max_shingle_df=None).count()
    assert exact == 1
    weak = minhash_lsh_pairs(df, num_hashes=4, bands=2, threshold=0.4).count()
    strong = minhash_lsh_pairs(df, num_hashes=64, bands=32, threshold=0.4).count()
    assert strong == 1  # the pinned settings catch it
    assert weak <= strong  # degraded banding can only lose pairs


# ---------------------------------------------------------------------------
# t_train_classifier / operators.classifier
# ---------------------------------------------------------------------------


def test_train_classifier_learns_and_scores(spark, sf_dir):
    """The distributed trainer must beat the zero-model baseline by a
    wide margin on the separable distant-supervision task, and the
    learned weights must score documents consistently with the labels
    through the zero-shuffle inference scan."""
    from pyspark.sql import functions as F

    from good_enough_timecamp_data_pipeline_spark.operators.classifier import (
        score_with_model,
        train_logreg_hashed,
    )
    from good_enough_timecamp_data_pipeline_spark.operators.text import tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labeled = docs.select(
        "doc_id",
        "text",
        F.array_contains(tokenize(F.col("text")), "customer").cast("int").alias("label"),
    )
    model = train_logreg_hashed(labeled, n_iter=15)
    first = model.history[0]
    last = model.history[-1]
    assert first[1] > 0.69  # zero-model log-loss ≈ ln 2
    assert last[1] < 0.35 and last[2] >= 0.85, model.history[-3:]
    scored = score_with_model(labeled, model).select("label", "p_keep").collect()
    acc = sum((r.p_keep >= 0.5) == (r.label == 1) for r in scored) / len(scored)
    # final-weight accuracy can sit slightly below the history metric
    # (history measures at iteration START); both must clear the ~0.77
    # majority-class baseline decisively
    assert acc >= 0.80, acc


def test_train_classifier_deterministic(spark, sf_dir):
    """Same files, same partitioning → bit-identical weights and history
    across runs (partition-ordered reduce, zero-init, no rand())."""
    from pyspark.sql import functions as F

    from good_enough_timecamp_data_pipeline_spark.operators.classifier import (
        train_logreg_hashed,
    )
    from good_enough_timecamp_data_pipeline_spark.operators.text import tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labeled = docs.select(
        "text",
        F.array_contains(tokenize(F.col("text")), "customer").cast("int").alias("label"),
    )
    m1 = train_logreg_hashed(labeled, n_iter=4)
    m2 = train_logreg_hashed(labeled, n_iter=4)
    assert m1.history == m2.history
    assert (m1.weights == m2.weights).all() and m1.bias == m2.bias


def test_partial_grad_matches_rowloop_reference():
    """The r15 vectorized partial-gradient pass (bincount gather/scatter)
    must match a row-sequential reference — the pre-vectorization loop —
    on the same batch: integers exactly, floats to ULP-scale tolerance
    (only the association of the sums changed)."""
    import numpy as np
    import pandas as pd

    from good_enough_timecamp_data_pipeline_spark.operators.classifier import (
        _partial_grad,
    )

    V = 32
    rng = np.random.RandomState(7)
    docs = [rng.randint(0, V, size=rng.randint(0, 40)).tolist() for _ in range(200)]
    labels = rng.randint(0, 2, size=200).astype(float)
    w = rng.randn(V)
    b = 0.37

    def rowloop(pdf):
        grad = np.zeros(V + 1)
        loss, hits, n = 0.0, 0, 0
        for idx, y in zip(pdf["idx"], pdf["label"]):
            idx = np.asarray(idx, dtype=np.int64)
            y = float(y)
            z = (float(w[idx].sum()) + b) if idx.size else b
            if z >= 0:
                ez = np.exp(-z)
                p = 1.0 / (1.0 + ez)
                loss += (1.0 - y) * z + np.log1p(ez)
            else:
                ez = np.exp(z)
                p = ez / (1.0 + ez)
                loss += -y * z + np.log1p(ez)
            err = p - y
            if idx.size:
                np.add.at(grad, idx, err)
            grad[V] += err
            hits += int((p >= 0.5) == (y >= 0.5))
            n += 1
        return grad, loss, hits, n

    class _B:  # stand-in for a Spark broadcast
        def __init__(self, v):
            self.value = v

    pdf = pd.DataFrame({"idx": docs, "label": labels})
    out = next(iter(_partial_grad(V, _B(w), _B(b))(iter([pdf]))))
    g_ref, l_ref, h_ref, n_ref = rowloop(pdf)
    assert out["n"][0] == n_ref
    assert out["hits"][0] == h_ref
    assert abs(out["loss"][0] - l_ref) <= 1e-9 * max(1.0, abs(l_ref))
    assert np.allclose(out["grad"][0], g_ref, rtol=1e-12, atol=1e-12)


def test_train_classifier_fused_matches_periter(spark, sf_dir):
    """The single-partition fused epoch loop must be BIT-identical to the
    per-iteration driver loop on the same one-partition input (same
    `_batch_partial` kernel, same update formulas, no cross-partition
    reduce to reorder)."""
    from pyspark.sql import functions as F

    from good_enough_timecamp_data_pipeline_spark.operators.classifier import (
        train_logreg_hashed,
    )
    from good_enough_timecamp_data_pipeline_spark.operators.text import tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").coalesce(1)
    labeled = docs.select(
        "text",
        F.array_contains(tokenize(F.col("text")), "customer").cast("int").alias("label"),
    )
    fused = train_logreg_hashed(labeled, n_iter=5)
    ref = train_logreg_hashed(labeled, n_iter=5, fuse_single_partition=False)
    assert fused.history == ref.history
    assert (fused.weights == ref.weights).all()
    assert fused.bias == ref.bias
    assert fused.n_rows == ref.n_rows


def test_train_classifier_two_small_files_take_fused_path(spark, sf_dir, tmp_path, monkeypatch):
    """Spark packs small files into one scan partition, so a two-file
    input whose bytes fit one partition must train on the fused path, and
    give the same model as the per-iteration loop."""
    from pyspark.sql import functions as F

    from good_enough_timecamp_data_pipeline_spark.operators import classifier

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    docs.repartition(2).write.parquet(str(tmp_path / "docs"))
    two_files = spark.read.parquet(str(tmp_path / "docs"))
    assert len(two_files.inputFiles()) == 2
    labeled = two_files.select("text", (F.col("doc_id") % 2).cast("int").alias("label"))

    fused_calls = []
    real = classifier._fused_epochs
    monkeypatch.setattr(
        classifier, "_fused_epochs", lambda *a: fused_calls.append(a) or real(*a)
    )
    prev = spark.conf.get("spark.sql.files.minPartitionNum", None)
    # one split per core otherwise: the packing budget is what this pins
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        assert labeled.rdd.getNumPartitions() == 1
        fused = classifier.train_logreg_hashed(labeled, n_iter=3)
        ref = classifier.train_logreg_hashed(labeled, n_iter=3, fuse_single_partition=False)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.files.minPartitionNum")
        else:
            spark.conf.set("spark.sql.files.minPartitionNum", prev)
    assert len(fused_calls) == 1
    assert fused.history == ref.history
    assert (fused.weights == ref.weights).all() and fused.bias == ref.bias


def test_train_classifier_niter0_zero_model(spark, sf_dir):
    """n_iter=0 must return the zero model with empty history on BOTH
    paths (r15 ADVICE item 1: the fused pass raised 'empty training
    input' on non-empty single-partition input because n was only
    counted inside the epoch loop)."""
    from pyspark.sql import functions as F

    from good_enough_timecamp_data_pipeline_spark.operators.classifier import (
        train_logreg_hashed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").coalesce(1)
    labeled = docs.select("text", (F.col("doc_id") % 2).cast("int").alias("label"))
    for fuse in (True, False):
        m = train_logreg_hashed(labeled, n_iter=0, fuse_single_partition=fuse)
        assert m.history == []
        assert (m.weights == 0.0).all()
        assert m.bias == 0.0
        assert m.n_rows == 0


def test_train_classifier_raises_on_empty(spark):
    import pytest as _pytest

    from good_enough_timecamp_data_pipeline_spark.operators.classifier import (
        train_logreg_hashed,
    )

    empty = spark.createDataFrame([], "text string, label int")
    with _pytest.raises(ValueError, match="empty training input"):
        train_logreg_hashed(empty, n_iter=2)


def test_lsh_quality_sampled_pairs_are_subset(spark, sf_dir):
    """Sample-then-audit contract (round-5 VERDICT item 2): pair Jaccard
    is a two-document property, so the exact pair set of a doc sample
    must be a strict subset of the full corpus's exact pair set."""
    from good_enough_timecamp_data_pipeline_spark.operators.dedup import (
        shingle_pairs_jaccard,
    )
    from good_enough_timecamp_data_pipeline_spark.plans.northstar import (
        docs_near_dup,
    )

    docs = docs_near_dup(spark, sf_dir)
    full = {
        (r.id_a, r.id_b)
        for r in shingle_pairs_jaccard(
            docs, n=5, threshold=0.5, max_shingle_df=None
        ).collect()
    }
    sampled_docs = docs.sample(fraction=0.6, seed=7)
    sampled = {
        (r.id_a, r.id_b)
        for r in shingle_pairs_jaccard(
            sampled_docs, n=5, threshold=0.5, max_shingle_df=None
        ).collect()
    }
    assert full  # fixture guarantees near-dup pairs
    assert sampled <= full
    # and the audit itself runs end-to-end in sampled mode
    (r,) = northstar.d_lsh_quality(spark, sf_dir, sample_fraction=0.6).collect()
    assert r.precision == 1.0  # candidates are exact-verified by construction
