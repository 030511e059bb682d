"""Distributed training of a hashed bag-of-words logistic classifier.

The TRAIN half of the model-based quality-filter tier: the engine already
*scores* documents with a hashed linear model as a pure codegen scan
(`plans/curation.py::t_hashed_classifier` — the fasttext/DCLM shape); this
module learns those weights from labeled documents, distributed:

- **featurize once**: tokenize → hash into V buckets → per-doc sparse
  index arrays (raw term frequency), persisted — the corpus is scanned
  once, not once per iteration;
- **full-batch gradient descent**, one Arrow pass per iteration: every
  partition computes a PARTIAL (gradient, loss, hits) via vectorized
  numpy (`mapInPandas` — same partial-sums shape as `clustering.py`'s
  k-means), the driver reduces the ≤(partitions × V)-float partials and
  updates the broadcast weight vector. Per-iteration driver traffic is
  O(partitions × V) — independent of corpus size, the property that
  matters when the corpus is 10^9 documents. Single-partition input
  (one shard = local training) takes a fused bit-identical path: the
  whole epoch loop in ONE Arrow pass (guide §8 — the featurized rows
  cross the boundary once);
- **determinism**: partials are summed in partition order and each
  partition folds its rows in row order, so repeated runs on the same
  files produce bit-identical weights (asserted in tests). No rand():
  weights init at zero.

At 100 TB you would subsample to a training set first (`t_split` /
`t_balanced_sample` are the catalog's deterministic samplers) — gradient
descent needs labels, and labeled sets are small by construction; the
full-batch pass here demonstrates the unbounded-corpus path.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .text import tokenize

DEFAULT_FEATURES = 1024


def hashed_indices(text_col: Column, n_features: int = DEFAULT_FEATURES) -> Column:
    """Per-document array of hashed token buckets (xxhash64 % V, non-
    negative via pmod). Duplicates kept — term frequency enters through
    repetition, normalized per-doc at featurize time."""
    return F.transform(
        tokenize(text_col), lambda t: F.pmod(F.xxhash64(t), F.lit(n_features))
    )


@dataclass
class TrainedModel:
    weights: np.ndarray  # shape (V,)
    bias: float
    history: list[tuple[int, float, float]]  # (iteration, loss, accuracy)
    n_rows: int


def _featurized_batches(pdfs: Iterator[pd.DataFrame]):
    """Materialize Arrow batches as (flat, doc_of, y, k, total) tuples:
    the flattened per-doc index arrays plus a doc-of-element map — the
    shape both gradient passes consume."""
    for pdf in pdfs:
        k = len(pdf)
        if k == 0:
            continue
        idx_col = pdf["idx"]
        lens = np.fromiter((len(a) for a in idx_col), dtype=np.int64, count=k)
        total = int(lens.sum())
        if total:
            flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in idx_col])
        else:
            flat = np.empty(0, dtype=np.int64)
        doc_of = np.repeat(np.arange(k, dtype=np.int64), lens)
        y = pdf["label"].to_numpy(dtype=np.float64)
        yield flat, doc_of, y, k, total


def _batch_partial(grad, w, b: float, n_features: int, batch) -> tuple[float, int]:
    """Accumulate ONE batch's gradient into ``grad`` and return its
    (loss, hits) — the single shared kernel of the per-iteration
    distributed pass and the fused single-partition loop (so the two
    paths are the same float ops in the same order).

    Whole-batch vectorized (optimization guide §4.2): the flattened
    index array + doc-of-element map turn the per-doc score into one
    ``bincount`` gather and the gradient scatter into one weighted
    ``bincount`` — no Python row loop. Every per-element quantity
    (z, p, per-row loss term, err) is the same formula as the original
    row loop; only the ASSOCIATION of the float sums changed (bincount
    segment sums / one np.sum over rows instead of row-sequential
    accumulation), which moves the partials by ULPs. Determinism is
    preserved (no rand(), fixed batch order); the trajectory contract
    is re-pinned by tests/test_round5f.py::
    test_partial_grad_matches_rowloop_reference."""
    flat, doc_of, y, k, total = batch
    # raw term-frequency features (val = 1 per occurrence): measured to
    # converge ~2× faster here than 1/√n-normalized docs (the gradient
    # magnitude carries the signal)
    z = np.bincount(doc_of, weights=w[flat], minlength=k) + b
    # numerically-stable sigmoid + log-loss, branch-free via |z|
    pos = z >= 0
    ezn = np.exp(-np.abs(z))
    p = np.where(pos, 1.0 / (1.0 + ezn), ezn / (1.0 + ezn))
    loss = float((np.where(pos, (1.0 - y) * z, -y * z) + np.log1p(ezn)).sum())
    err = p - y
    if total:
        grad[:n_features] += np.bincount(
            flat, weights=err[doc_of], minlength=n_features
        )
    grad[n_features] += err.sum()
    hits = int(((p >= 0.5) == (y >= 0.5)).sum())
    return loss, hits


def _partial_grad(n_features: int, w_b, b_b):
    """Build the per-partition (gradient, loss, hits) pass. The weight
    vector arrives via a Spark broadcast — one copy per executor, not
    per task."""

    def compute(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = w_b.value
        b = b_b.value
        grad = np.zeros(n_features + 1, dtype=np.float64)  # [V] = bias slot
        loss = 0.0
        hits = 0
        n = 0
        for batch in _featurized_batches(pdfs):
            l, h = _batch_partial(grad, w, b, n_features, batch)
            loss += l
            hits += h
            n += batch[3]
        out = pd.DataFrame(
            {
                "grad": [grad.tolist()],
                "loss": [float(loss)],
                "hits": [int(hits)],
                "n": [int(n)],
            }
        )
        yield out

    return compute


def _fused_epochs(n_features: int, n_iter: int, lr: float, l2: float):
    """Single-partition fused trainer (guide §8 — move the heavy bytes
    once): the featurized rows cross the JVM→Python boundary ONE time
    and the full epoch loop runs where the data is. With one partition
    there is no cross-partition reduce, so this is the SAME float ops in
    the SAME order as the per-iteration driver loop (shared
    `_batch_partial` kernel, update formulas copied verbatim) —
    bit-identical weights and history, 1 job instead of n_iter+1
    (asserted by tests/test_round5f.py::
    test_train_classifier_fused_matches_periter)."""

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = list(_featurized_batches(pdfs))
        if not batches:
            return
        w = np.zeros(n_features, dtype=np.float64)
        b = 0.0
        losses: list[float] = []
        accs: list[float] = []
        n = 0
        for it in range(n_iter):
            grad = np.zeros(n_features + 1, dtype=np.float64)
            loss = 0.0
            hits = 0
            n = 0
            for batch in batches:
                l, h = _batch_partial(grad, w, b, n_features, batch)
                loss += l
                hits += h
                n += batch[3]
            losses.append(loss / n)
            accs.append(hits / n)
            step = grad / n
            # 1/√(1+t) decay — keep in exact sync with the driver loop in
            # train_logreg_hashed
            lr_t = lr / np.sqrt(1.0 + it)
            w = w - lr_t * (step[:n_features] + l2 * w)
            b = b - lr_t * step[n_features]
        yield pd.DataFrame(
            {
                "losses": [losses],
                "accs": [accs],
                "w": [w.tolist()],
                "b": [float(b)],
                "n": [int(n)],
            }
        )

    return run


def _files_fit_one_partition(df: DataFrame) -> bool:
    """False when ``df``'s input files cannot share one scan partition.

    Spark packs small files into partitions (``FilePartition``): a file
    joins the open partition while the partition's bytes, each earlier
    file counted with ``spark.sql.files.openCostInBytes``, plus its own
    length stay within the split size, which is at most
    ``spark.sql.files.maxPartitionBytes``. So the files can share one
    partition only if Σ(length + openCost) − openCost ≤ maxPartitionBytes.
    A necessary test, not a sufficient one (the split size may be
    smaller); True for a non-file source and on any surprise."""
    try:
        files = df.inputFiles()
        if not files:
            return True
        jvm, jspark = df.sparkSession._jvm, df.sparkSession._jsparkSession
        conf = jspark.sessionState().conf()
        budget = conf.filesMaxPartitionBytes() + conf.filesOpenCostInBytes()
        hadoop_conf = jspark.sessionState().newHadoopConf()
        total = 0
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            total += path.getFileSystem(hadoop_conf).getFileStatus(path).getLen()
            total += conf.filesOpenCostInBytes()
            if total > budget:
                return False
        return True
    except Exception:
        return True


def train_logreg_hashed(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    n_features: int = DEFAULT_FEATURES,
    n_iter: int = 15,
    lr: float = 1.0,
    l2: float = 1e-6,
    fuse_single_partition: bool = True,
) -> TrainedModel:
    """Learn (weights, bias) for P(label=1 | hashed-BoW(text)).

    One featurize pass (persisted), then ``n_iter`` Arrow passes, each
    producing per-partition partial gradients reduced on the driver in
    partition order (deterministic). Returns the model plus the
    (loss, accuracy) history — loss is the FULL-batch log-loss at the
    weights of that iteration's start, so history[0] is the zero-model
    baseline.

    When the featurized input has exactly ONE partition (the degenerate
    data-parallel case: one shard = local training), the epoch loop runs
    fused inside a single Arrow pass instead — bit-identical output (no
    cross-partition reduce exists to reorder), n_iter× less boundary
    traffic (guide §8). ``fuse_single_partition=False`` forces the
    per-iteration path (the parity test's reference)."""
    if n_iter <= 0:
        # degenerate config: both paths must agree (the fused pass only
        # learned n inside the epoch loop, so it raised "empty training
        # input" on NON-empty input while the per-iteration path returned
        # the zero model). Short-circuit to the zero model the
        # per-iteration loop would produce, with no Spark work at all.
        return TrainedModel(
            weights=np.zeros(n_features, dtype=np.float64),
            bias=0.0,
            history=[],
            n_rows=0,
        )
    feats = df.select(
        hashed_indices(F.col(text_col), n_features).alias("idx"),
        F.col(label_col).cast("double").alias("label"),
    )
    # Fusion eligibility in two tiers: the `.rdd` partition-count probe
    # forces plan analysis + RDD translation (~1.3 s of driver time per
    # fresh plan — the cost layout.py's fan_out_scan documents and
    # avoids), so first rule out inputs whose files cannot fit one
    # partition (`_files_fit_one_partition`): there the fused path
    # can't apply, and the probe would be pure overhead on exactly the
    # large sharded inputs where plans are biggest. Inputs that may fit
    # (or a non-file source) still need the authoritative partition
    # count — fusing a multi-partition input would train on one shard
    # only.
    if fuse_single_partition and _files_fit_one_partition(feats) and (
        feats.rdd.getNumPartitions() == 1
    ):
        rows = feats.mapInPandas(
            _fused_epochs(n_features, n_iter, lr, l2),
            schema="losses array<double>, accs array<double>, "
            "w array<double>, b double, n bigint",
        ).collect()
        if not rows or rows[0]["n"] == 0:
            raise ValueError("train_logreg_hashed: empty training input")
        r = rows[0]
        return TrainedModel(
            weights=np.asarray(r["w"], dtype=np.float64),
            bias=float(r["b"]),
            history=[
                (i, float(l), float(a))
                for i, (l, a) in enumerate(zip(r["losses"], r["accs"]))
            ],
            n_rows=int(r["n"]),
        )
    feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
    schema = "grad array<double>, loss double, hits bigint, n bigint"
    sc = feats.sparkSession.sparkContext
    w = np.zeros(n_features, dtype=np.float64)
    b = 0.0
    history: list[tuple[int, float, float]] = []
    n_rows = 0
    for it in range(n_iter):
        w_b = sc.broadcast(w)
        b_b = sc.broadcast(b)
        parts = feats.mapInPandas(
            _partial_grad(n_features, w_b, b_b), schema=schema
        ).collect()
        w_b.unpersist()
        b_b.unpersist()
        grad = np.zeros(n_features + 1, dtype=np.float64)
        loss = 0.0
        hits = 0
        n = 0
        for row in parts:  # partition order — deterministic reduce
            grad += np.asarray(row["grad"], dtype=np.float64)
            loss += row["loss"]
            hits += row["hits"]
            n += row["n"]
        if n == 0:
            raise ValueError("train_logreg_hashed: empty training input")
        n_rows = n
        history.append((it, loss / n, hits / n))
        step = grad / n
        # 1/√(1+t) decay: big early steps without the fixed-lr full-batch
        # oscillation (measured: flat lr 10–60 bounces around the optimum)
        lr_t = lr / np.sqrt(1.0 + it)
        w = w - lr_t * (step[:n_features] + l2 * w)
        b = b - lr_t * step[n_features]
    feats.unpersist()
    return TrainedModel(weights=w, bias=b, history=history, n_rows=n_rows)


def score_with_model(
    df: DataFrame,
    model: TrainedModel,
    text_col: str = "text",
    n_features: int = DEFAULT_FEATURES,
) -> DataFrame:
    """Inference with trained weights as a broadcast V-vector literal —
    the same zero-shuffle scan shape as `t_hashed_classifier`, with the
    learned array replacing the md5 stand-in weights. Adds `p_keep`."""
    weights = F.array(*[F.lit(float(x)) for x in model.weights])
    idx = hashed_indices(F.col(text_col), n_features)
    z = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc + F.element_at(weights, i.cast("int") + 1),
    ) + F.lit(float(model.bias))
    return df.withColumn("p_keep", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


# ---------------------------------------------------------------------------
# scoring weights of the hashed linear model (t_hashed_classifier, curate)
# ---------------------------------------------------------------------------

HASH_BUCKETS = 1024  # V: feature-hash vocabulary size
WEIGHT_MOD = 2001  # weights are integers in [-1000, 1000] (milli-units)


def _bucket_expr(tok) -> F.Column:
    """Feature hash: first 8 hex digits of md5(token) mod V — identical
    arithmetic in both engines (the t_balanced_sample hash contract)."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % HASH_BUCKETS


def _weight_table() -> list[int]:
    """The V=1024 bucket weights md5('w' || bucket) defines, computed
    once on the driver (hashlib.md5 hex == Spark's F.md5 — the repo-wide
    hash contract). The per-token expression then does ONE md5 (the
    feature hash) + a constant-folded array lookup instead of chaining a
    second md5 + hex-conv per token inside the interpreted HOF lambda —
    measured ~2× on the classifier/calibration scans, and exactly what
    "swap for trained weights" already promised the plan shape allows."""
    import hashlib

    return [
        int(hashlib.md5(f"w{b}".encode()).hexdigest()[:8], 16) % WEIGHT_MOD - 1000
        for b in range(HASH_BUCKETS)
    ]


_WEIGHTS = _weight_table()


# The V=1024 literal array Column is built ONCE per process: each
# F.lit() is a Py4J round-trip, so constructing it inside every
# weight_expr call put ~1-2 s of pure driver chatter into every fresh
# classifier plan. A Column is a reusable expression wrapper — safe to
# share across plans and sessions in one process.
_WEIGHT_ARRAY_COL: list = []


def _weight_array_col() -> F.Column:
    if not _WEIGHT_ARRAY_COL:
        _WEIGHT_ARRAY_COL.append(
            F.array(*[F.lit(w).cast("long") for w in _WEIGHTS])
        )
    return _WEIGHT_ARRAY_COL[0]


def weight_expr(tok) -> F.Column:
    """Deterministic per-bucket weight in [-1000, 1000]: md5('w' || bucket),
    materialized as a literal V-vector (see `_weight_table`) and indexed
    by the feature hash. INTEGER so per-document sums are exact
    regardless of token order (float weights would make the sum depend on
    Spark's partition-local accumulation order and break the oracle)."""
    b = _bucket_expr(tok)
    # CreateArray of literals constant-folds to one Literal array; 1-based
    return F.element_at(_weight_array_col(), b.cast("int") + 1)


_BUCKET_SQL = "(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 1024)"

WEIGHT_SQL = (
    "((CAST(('0x' || substr(md5('w' || CAST("
    + _BUCKET_SQL
    + " AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000)"
)
