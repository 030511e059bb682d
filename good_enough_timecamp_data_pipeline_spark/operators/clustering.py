"""Distributed k-means (Lloyd's algorithm) over an embedding column.

The iterative-algorithm tier of the similarity stack (SURVEY §2.11): IVF
ANN (`operators/similarity.py::ivf_topk`) *assigns* to fixed centroids;
this *learns* the centroids — the standard preprocessing step for IVF
index builds, diversity-aware sampling, and cluster-balanced training
mixes.

Physical design — the textbook distributed Lloyd layout:

- Centroid state (k·d doubles) lives on the driver and ships to executors
  as a Spark broadcast each round, as in every engine's k-means.
- Per iteration, ONE narrow action: an Arrow-batched ``mapInPandas`` pass
  computes, per input partition, the numpy-vectorized nearest-centroid
  assignment and the per-cluster partial sums (Σx per dim, count,
  Σ sq_dist). Each partition emits k tiny rows; the driver reduces
  (#partitions × k) rows into new means + inertia. No shuffle at all —
  the reduction over partials is the collect of a few KB.
- The assignment DataFrame returned to callers is the same numpy map
  against the final centroids — embarrassingly parallel at any scale.

This is the documented exception to the "built-ins first" rule
(SURVEY §2.9): the distance kernel is dense linear algebra over every
(vector, centroid) pair. Three pure-DataFrame designs were measured —
per-row HOF folds (interpreted, re-evaluated per reference: 33 s at
sf0.1), a centroid crossJoin (~4 actions/iter: 11.7 s), and an exploded
(vec_id, dim, x) cell join grid (~2 s/iter, the previous shipped form).
The Arrow/numpy kernel does the same flops vectorized in C with zero
shuffle, and is the layout every large-scale implementation (MLlib
included) uses.

A corpus of at most ``local.MAX_ROWS`` vectors finishes on the driver
(operators/local.py): one bounded probe collects it as Arrow, and
`_kmeans_rows` runs the same Lloyd rounds (same init, same per-cluster
sums, same stop rule) in numpy; the assignments come back as an
Arrow-backed local relation instead of a per-round broadcast and
``mapInPandas`` job.

Floating-point means are order-sensitive, so the operator is rows-only
(no DuckDB oracle); tests assert the Lloyd invariants instead: inertia
monotonically non-increasing, every vector on its nearest centroid.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from . import local


def _nearest(X: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(assignment, sq_dist) per row; argmin takes the LOWEST cluster id on
    exact ties — same tie-break as a min over (dist, cluster) structs."""
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = d2.argmin(axis=1)
    return a, d2[np.arange(len(X)), a]


# Rows per block on the driver path: the default
# spark.sql.execution.arrow.maxRecordsPerBatch, the block the Spark loop's
# kernel sees, so one partition gives the same sums on both paths and the
# (rows × k × dim) distance temporary stays bounded.
BLOCK_ROWS = 10_000


def _lloyd_partials(
    blocks: Iterable[np.ndarray], C: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-cluster (Σx, count, Σ sq_dist) of row blocks of vectors against
    centroids ``C``, accumulated block by block."""
    S = np.zeros_like(C)
    cnt = np.zeros(len(C), dtype=np.int64)
    sd = np.zeros(len(C))
    for X in blocks:
        a, sq = _nearest(X, C)
        for j in range(len(C)):
            m = a == j
            if m.any():
                S[j] += X[m].sum(axis=0)
                cnt[j] += int(m.sum())
                sd[j] += float(sq[m].sum())
    return S, cnt, sd


def _blocks(X: np.ndarray) -> list[np.ndarray]:
    return [X[i : i + BLOCK_ROWS] for i in range(0, len(X), BLOCK_ROWS)]


def _kmeans_rows(
    table: pa.Table, k: int, max_iter: int
) -> tuple[pa.Table, list[float]]:
    """`kmeans` over (vec_id, v) rows the driver holds, as one partition:
    the same first-k-by-id init, per-cluster sums and stop rule."""
    if not table.num_rows:
        raise ValueError("kmeans: input has no vectors")
    X = np.stack(table.column("v").to_numpy(zero_copy_only=False))
    first = pc.sort_indices(
        table, sort_keys=[("vec_id", "ascending")], null_placement="at_start"
    )
    centroids = X[first.to_numpy()[:k]]
    inertia_history: list[float] = []
    for _ in range(max_iter):
        sums, counts, sd = _lloyd_partials(_blocks(X), centroids)
        inertia = 0.0
        for j in range(len(centroids)):
            inertia += sd[j]
        if inertia_history and inertia >= inertia_history[-1]:
            inertia_history.append(inertia)
            break
        inertia_history.append(inertia)
        moved = counts > 0
        centroids = centroids.copy()
        centroids[moved] = sums[moved] / counts[moved, None]
    a, sq = (np.concatenate(parts) for parts in zip(*(_nearest(b, centroids) for b in _blocks(X))))
    assign = pa.table(
        {"vec_id": table.column("vec_id"), "cluster": a.astype(np.int32), "sq_dist": sq}
    )
    return assign, inertia_history


def kmeans(
    vecs: DataFrame,
    k: int = 8,
    max_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[float]]:
    """Lloyd iterations; returns (assignments, inertia_history).

    assignments: (vec_id, cluster, sq_dist) against the final centroids,
    ``localCheckpoint``-ed on the Spark loop. Initial centroids are the
    first k vectors by id — deterministic and cheap; k-means++ would be a
    k-round weighted-sampling prologue over the same machinery. A small input
    finishes on the driver (see the module docstring).
    """
    spark = vecs.sparkSession
    id_type = dict(vecs.dtypes)[id_col]
    data = vecs.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    small = local.collect_small(data)
    if small is not None:
        assign_rows, inertia_history = _kmeans_rows(small, k, max_iter)
        return spark.createDataFrame(assign_rows), inertia_history
    data = data.persist(StorageLevel.MEMORY_AND_DISK)

    init = [list(r["v"]) for r in data.orderBy("vec_id").limit(k).collect()]
    if not init:
        data.unpersist()
        raise ValueError("kmeans: input has no vectors")
    # fewer vectors than requested clusters: every vector is its own
    # centroid (k silently clamps — the later np.zeros(k) state arrays
    # must match the true centroid count or assignment indexes past them)
    k = min(k, len(init))
    centroids = np.array(init)

    inertia_history: list[float] = []
    for _ in range(max_iter):
        bc = spark.sparkContext.broadcast(centroids)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            C = bc.value
            S, cnt, sd = _lloyd_partials(
                (np.stack(pdf["v"].to_numpy()) for pdf in batches if len(pdf)), C
            )
            yield pd.DataFrame(
                {
                    "cluster": np.arange(len(C), dtype=np.int32),
                    "sx": [S[j].tolist() for j in range(len(C))],
                    "n": cnt,
                    "sd": sd,
                }
            )

        grid = data.mapInPandas(
            partials, "cluster int, sx array<double>, n bigint, sd double"
        ).collect()  # (#partitions × k) tiny rows

        sums = np.zeros_like(centroids)
        counts = np.zeros(k, dtype=np.int64)
        inertia = 0.0
        for r in grid:
            sums[r["cluster"]] += np.asarray(r["sx"])
            counts[r["cluster"]] += r["n"]
            inertia += r["sd"]
        if inertia_history and inertia >= inertia_history[-1]:
            inertia_history.append(inertia)
            break  # converged (or fp-noise oscillation) — stop moving
        inertia_history.append(inertia)
        moved = counts > 0  # empty clusters keep their centroid
        centroids = centroids.copy()
        centroids[moved] = sums[moved] / counts[moved, None]

    bc_final = spark.sparkContext.broadcast(centroids)

    def assign_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc_final.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy())
            a, sq = _nearest(X, C)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cluster": a.astype(np.int32), "sq_dist": sq}
            )

    # materialized once, so the cached input can be released before return
    assign = data.mapInPandas(
        assign_fn, f"vec_id {id_type}, cluster int, sq_dist double"
    ).localCheckpoint()
    data.unpersist()
    return assign, inertia_history


def product_quantize(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_subspaces: int = 8,
    n_centroids: int = 16,
    n_iter: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Product quantization (PQ) of an embedding column: split each
    D-dim vector into ``n_subspaces`` contiguous sub-vectors, k-means
    each subspace independently (``n_centroids`` codewords), and encode
    every vector as its per-subspace nearest-codeword ids — D floats
    become ``n_subspaces`` bytes (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011).

    THE storage/recall trade for vector search at 100 TB: a 64-dim
    float32 corpus compresses 32× (256 B → 8 B/vector) and ANN distance
    becomes a table lookup per subspace. Returns ``(codes, codebook)``:
    codes = (id, code array<int>), codebook = (subspace, centroid_id,
    centroid array<double>).

    Scale shape: ALL subspaces train in one joint Lloyd loop — each
    round is a single Arrow ``mapInPandas`` scan that assigns every
    subspace slice and emits (subspace × centroid) partial sums per
    partition, so a full PQ codebook costs n_iter+1 data passes total
    (the naive per-subspace layout costs n_subspaces × n_iter). Driver
    traffic is (partitions × subspaces × centroids) tiny rows/round.
    Encoding is `pq_encode`: broadcast codebook + numpy argmin, zero
    shuffle.
    """
    spark = emb.sparkSession
    data = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    first = data.select("v").first()
    if first is None:
        data.unpersist()
        raise ValueError("product_quantize: input has no vectors")
    dim = len(first[0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    width = dim // n_subspaces

    # deterministic init: subspace slices of the first n_centroids vectors
    init = [list(r["v"]) for r in data.orderBy("vec_id").limit(n_centroids).collect()]
    k = min(n_centroids, len(init))
    C = np.array(
        [[v[s * width : (s + 1) * width] for v in init] for s in range(n_subspaces)]
    )  # (S, k, w)

    # n_iter assignment rounds; one extra pass so the shipped codewords are
    # the means of the FINAL assignment (and its counts drive the dense
    # renumbering of empty codewords below)
    counts = np.zeros((n_subspaces, k), dtype=np.int64)
    for _ in range(n_iter + 1):
        bc = spark.sparkContext.broadcast(C)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            Cb = bc.value
            S_, k_, w_ = Cb.shape
            sums = np.zeros((S_, k_, w_))
            cnt = np.zeros((S_, k_), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["v"].to_numpy()).reshape(len(pdf), S_, w_)
                for s in range(S_):
                    a, _sq = _nearest(X[:, s, :], Cb[s])
                    for j in range(k_):
                        m = a == j
                        if m.any():
                            sums[s, j] += X[m, s, :].sum(axis=0)
                            cnt[s, j] += int(m.sum())
            yield pd.DataFrame(
                {
                    "subspace": np.repeat(np.arange(S_, dtype=np.int32), k_),
                    "cluster": np.tile(np.arange(k_, dtype=np.int32), S_),
                    "sx": [sums[s, j].tolist() for s in range(S_) for j in range(k_)],
                    "n": cnt.reshape(-1),
                }
            )

        grid = data.mapInPandas(
            partials, "subspace int, cluster int, sx array<double>, n bigint"
        ).collect()  # (#partitions × S × k) tiny rows

        sums = np.zeros_like(C)
        counts = np.zeros((n_subspaces, k), dtype=np.int64)
        for r in grid:
            sums[r["subspace"], r["cluster"]] += np.asarray(r["sx"])
            counts[r["subspace"], r["cluster"]] += r["n"]
        moved = counts > 0  # empty codewords keep their centroid
        C = C.copy()
        C[moved] = sums[moved] / counts[moved][:, None]

    # drop empty codewords and renumber densely (code ids are POSITIONS in
    # the per-subspace codeword list)
    books = [
        (s, new_cid, C[s, j].tolist())
        for s in range(n_subspaces)
        for new_cid, j in enumerate(np.nonzero(counts[s] > 0)[0])
    ]
    codebook = spark.createDataFrame(
        books, "subspace int, centroid_id int, centroid array<double>"
    )
    # training is done with the cache; the encode pass is a single scan, so
    # release executor storage rather than leak max_iter-old blocks
    data.unpersist()
    codes = pq_encode(emb, codebook, vec_col=vec_col, id_col=id_col)
    return codes, codebook


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors against an EXISTING PQ codebook (train/encode
    split: codebooks train on a corpus sample — `product_quantize` — and
    this pass encodes everything, including vectors that arrive later).

    One broadcast of the (n_subspaces × n_centroids × width) codebook +
    an Arrow ``mapInPandas`` numpy argmin per subspace — zero shuffle,
    embarrassingly parallel at any corpus size. Ties break to the lowest
    codeword id (same as ``_nearest``)."""
    spark = emb.sparkSession
    rows = codebook.collect()  # n_subspaces × n_centroids — tiny by contract
    by_sub: dict[int, list[list[float]]] = {}
    for r in sorted(rows, key=lambda r: (r.subspace, r.centroid_id)):
        by_sub.setdefault(r.subspace, []).append(list(r.centroid))
    n_subspaces = len(by_sub)
    width = len(next(iter(by_sub.values()))[0])
    # subspaces may have differing live-codeword counts after empty-cluster
    # renumbering — keep a ragged list, not one dense array
    bc = spark.sparkContext.broadcast([np.array(by_sub[s]) for s in range(n_subspaces)])

    id_type = dict(emb.dtypes)[id_col]
    data = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cs = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy()).reshape(len(pdf), n_subspaces, width)
            codes = np.stack(
                [_nearest(X[:, s, :], Cs[s])[0] for s in range(n_subspaces)], axis=1
            ).astype(np.int32)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "code": list(codes)})

    return data.mapInPandas(encode, f"vec_id {id_type}, code array<int>").withColumnRenamed(
        "vec_id", id_col
    )


# ---------------------------------------------------------------------------
# Distributed PCA over an embedding column
# ---------------------------------------------------------------------------


@dataclass
class PCAModel:
    mean: "np.ndarray"  # (d,)
    components: "np.ndarray"  # (k, d), orthonormal rows
    explained_variance: "np.ndarray"  # (k,), descending
    explained_variance_ratio: "np.ndarray"  # (k,)
    n_rows: int


def pca_fit(
    df: DataFrame, vec_col: str = "embedding", k: int = 8
) -> PCAModel:
    """Distributed PCA: the (d×d) scatter matrix accumulates in ONE
    Arrow ``mapInPandas`` pass of per-partition partials (n, Σx, ΣxᵀX —
    d and d² doubles, tiny vs the corpus), the driver reduces partials
    in partition order and eigendecomposes the d×d covariance with
    numpy — the same moments-then-small-eigenproblem layout every
    distributed PCA uses (MLlib computes the Gramian the same way;
    d is bounded by the embedding width, never the corpus).

    Deterministic: partition-ordered reduce, LAPACK ``eigh`` on an
    identical matrix, and a fixed sign convention (each component's
    largest-|coordinate| entry is made positive — eigenvectors are
    otherwise sign-ambiguous and reruns could flip them)."""
    d_holder: list[int] = []

    def partials(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = None
        ss = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            g = x.T @ x
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.reshape(-1).tolist()]}
            )

    rows = df.select(vec_col).mapInPandas(
        partials, schema="n bigint, s array<double>, ss array<double>"
    ).collect()
    if not rows:
        raise ValueError("pca_fit: empty input")
    n = 0
    s = None
    ss = None
    for r in rows:  # partition order — deterministic reduce
        n += r["n"]
        rs = np.asarray(r["s"], dtype=np.float64)
        rss = np.asarray(r["ss"], dtype=np.float64)
        s = rs if s is None else s + rs
        ss = rss if ss is None else ss + rss
    d = s.shape[0]
    mean = s / n
    cov = (ss.reshape(d, d) - n * np.outer(mean, mean)) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][: min(k, d)]
    comps = evecs[:, order].T  # (k, d)
    # sign convention: the largest-|coordinate| entry of each component
    # is positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    ev = evals[order]
    total = float(evals.sum()) or 1.0
    return PCAModel(
        mean=mean,
        components=comps,
        explained_variance=ev,
        explained_variance_ratio=ev / total,
        n_rows=int(n),
    )


def pca_transform(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pc",
) -> DataFrame:
    """Project vectors onto the fitted components: one broadcast of the
    (k×d) matrix + an Arrow numpy pass — zero shuffle, the property that
    matters when projecting 10^11 vectors."""
    sc = df.sparkSession.sparkContext
    b = sc.broadcast((model.mean, model.components))
    id_type = dict(df.dtypes)[id_col]

    def project(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mean, comps = b.value
        for pdf in pdfs:
            if len(pdf) == 0:
                yield pd.DataFrame({id_col: pdf[id_col], out_col: []})
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            z = (x - mean) @ comps.T
            yield pd.DataFrame({id_col: pdf[id_col], out_col: list(z)})

    return df.select(id_col, vec_col).mapInPandas(
        project, schema=f"{id_col} {id_type}, {out_col} array<double>"
    )


# ---------------------------------------------------------------------------
# k-center greedy (farthest-point) diverse subset selection
# ---------------------------------------------------------------------------


def kcenter_greedy(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple]:
    """Greedy k-center (farthest-point) selection: start from the
    minimum-id vector, then repeatedly add the point FARTHEST from the
    chosen set — the classic 2-approximation to the k-center cover and
    the standard diversity-aware coreset selector for training-data
    curation (pick prototypes that span the embedding space instead of
    sampling the densest blob k times).

    Returns [(id, covering_radius_before_pick), ...] of length ≤ k —
    the radius column is the max-min-distance the pick eliminated, so
    the sequence is non-increasing and IS the coverage curve.

    Scale shape: centers (≤ k·d doubles) live on the driver and
    broadcast each round; one Arrow pass per round emits per-partition
    (best_dist, best_id, best_vec) candidates — collect is O(partitions)
    rows. Distances recompute against all chosen centers each round
    (O(k²·n·d/2) total flops — stateless passes beat k rounds of
    checkpoint churn for per-row carried minima; at very large k,
    persist the running min-dist column instead). Deterministic:
    ties break on min id, partials reduce in partition order."""
    sc = df.sparkSession.sparkContext
    first = df.select(F.min(id_col).alias("i")).collect()[0]["i"]
    if first is None:
        raise ValueError("kcenter_greedy: empty input")
    first_vec = np.asarray(
        df.filter(F.col(id_col) == first).select(vec_col).collect()[0][0],
        dtype=np.float64,
    )
    chosen: list[tuple] = [(first, float("inf"))]
    centers = [first_vec]

    data = df.select(id_col, vec_col)
    for _ in range(k - 1):
        c = np.asarray(centers)
        b = sc.broadcast(c)

        def far(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cen = b.value
            best_d = -1.0
            best_id = None
            best_v = None
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                x = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                ids = np.asarray(pdf[id_col], dtype=np.int64)
                # min distance to any chosen center, per row
                d2 = ((x[:, None, :] - cen[None, :, :]) ** 2).sum(axis=2).min(axis=1)
                j = int(np.lexsort((ids, -d2))[0])  # max dist, min id on ties
                if d2[j] > best_d or (d2[j] == best_d and (best_id is None or ids[j] < best_id)):
                    best_d = float(d2[j])
                    best_id = int(ids[j])
                    best_v = x[j]
            if best_id is not None:
                yield pd.DataFrame(
                    {"d2": [best_d], "i": [best_id], "v": [best_v.tolist()]}
                )

        parts = data.mapInPandas(far, schema="d2 double, i bigint, v array<double>").collect()
        b.unpersist()
        if not parts:
            break
        best = max(parts, key=lambda r: (r["d2"], -r["i"]))
        if best["d2"] <= 0.0:
            break  # every remaining point coincides with a chosen center
        chosen.append((best["i"], float(np.sqrt(best["d2"]))))
        centers.append(np.asarray(best["v"], dtype=np.float64))
    return chosen


# ---------------------------------------------------------------------------
# PQ recall audit — measure what the compression costs, don't guess
# ---------------------------------------------------------------------------


def pq_recall_audit(
    emb: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    query_mod: int = 29,
    top_k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of PQ ASYMMETRIC distance against exact L2 over a
    deterministic query sample (ids ≡ 0 mod ``query_mod``) — the
    measurement that decides whether a PQ index keeps enough recall,
    next to `s_pq_codes`' reconstruction error (aggregate distortion
    says nothing about RANKING damage, which is what retrieval eats).

    Scale shape: queries and the codebook broadcast (both tiny by
    contract — recall audits run on samples everywhere); ONE Arrow pass
    over the codes⋈vectors join emits (query, corpus, d_exact, d_pq)
    candidate rows; two query-partitioned windows rank them; recall is
    |top-k ∩ top-k| / k per query, averaged. Returns one row
    (n_queries, k, mean_recall, min_recall). Deterministic: distances
    in float64 with fixed formulas, rank ties on (distance, id)."""
    from pyspark.sql import Window

    cand = _pq_candidate_distances(emb, codes, codebook, query_mod, vec_col, id_col)
    w_e = Window.partitionBy("qid").orderBy(F.asc("d_exact"), F.asc("vec_id"))
    w_p = Window.partitionBy("qid").orderBy(F.asc("d_pq"), F.asc("vec_id"))
    ranked = cand.select(
        "qid",
        "vec_id",
        F.row_number().over(w_e).alias("rk_e"),
        F.row_number().over(w_p).alias("rk_p"),
    )
    per_q = (
        ranked.filter((F.col("rk_e") <= top_k) | (F.col("rk_p") <= top_k))
        .groupBy("qid")
        .agg(
            (
                F.sum(
                    F.when((F.col("rk_e") <= top_k) & (F.col("rk_p") <= top_k), 1).otherwise(0)
                ).cast("double")
                / top_k
            ).alias("recall")
        )
    )
    return per_q.agg(
        F.count("*").cast("int").alias("n_queries"),
        F.lit(top_k).cast("int").alias("k"),
        F.avg("recall").alias("mean_recall"),
        F.min("recall").alias("min_recall"),
    )


def _pq_candidate_distances(
    emb: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    query_mod: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared candidate pass of the PQ audits: (qid, vec_id, d_exact,
    d_pq) for every (query-sample, corpus) pair — queries and codebook
    broadcast, ONE Arrow pass over the codes⋈vectors join."""
    q_rows = (
        emb.filter((F.col(id_col) % query_mod) == 0)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv"))
        .collect()
    )
    if not q_rows:
        raise ValueError("pq_recall_audit: empty query sample")
    queries = [(int(r["qid"]), np.asarray(r["qv"], dtype=np.float64)) for r in q_rows]

    cb_rows = codebook.collect()
    by_sub: dict[int, list[list[float]]] = {}
    for r in sorted(cb_rows, key=lambda r: (r.subspace, r.centroid_id)):
        by_sub.setdefault(r.subspace, []).append(list(r.centroid))
    n_sub = len(by_sub)
    cents = [np.asarray(by_sub[s], dtype=np.float64) for s in range(n_sub)]

    spark = emb.sparkSession
    bq = spark.sparkContext.broadcast(queries)
    bc = spark.sparkContext.broadcast(cents)

    joined = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).join(codes.select(F.col(id_col).alias("vec_id"), "code"), "vec_id")

    def dists(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qs = bq.value
        cen = bc.value
        width = cen[0].shape[1]
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            codes_arr = np.asarray([np.asarray(c, dtype=np.int64) for c in pdf["code"]])
            ids = np.asarray(pdf["vec_id"], dtype=np.int64)
            # reconstructed vectors from the codebook (asymmetric distance
            # d(q, reconstruct(code)) — the standard ADC formulation)
            recon = np.concatenate(
                [cen[s][codes_arr[:, s]] for s in range(len(cen))], axis=1
            )
            out = {"qid": [], "vec_id": [], "d_exact": [], "d_pq": []}
            for qid, qv in qs:
                de = ((x - qv) ** 2).sum(axis=1)
                dp = ((recon - qv) ** 2).sum(axis=1)
                out["qid"].extend([qid] * len(ids))
                out["vec_id"].extend(ids.tolist())
                out["d_exact"].extend(de.tolist())
                out["d_pq"].extend(dp.tolist())
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        dists, schema="qid bigint, vec_id bigint, d_exact double, d_pq double"
    ).filter(F.col("qid") != F.col("vec_id"))  # a query always finds itself


def pq_rerank_audit(
    emb: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    query_mod: int = 29,
    top_k: int = 10,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of the standard two-stage PQ retrieval — ADC shortlist
    (PQ scan, top-``shortlist``) followed by EXACT-L2 re-rank of the
    shortlist — against exact top-k ground truth.

    This is the production repair for the ranking damage
    `pq_recall_audit` exposes (recall ≈ 0.2 on structure-free
    embeddings): the cheap compressed scan only has to keep the true
    neighbors anywhere in its top-100, and the exact re-rank — which
    fetches just ``shortlist`` full vectors per query — restores the
    ordering. Missed neighbors are only those the ADC scan ranks below
    the shortlist cut, which the shortlist/k ratio (10×) makes rare.

    Scale shape: identical candidate pass as `pq_recall_audit` (the
    audit needs exact distances for ground truth anyway); the staged
    selection is two query-partitioned windows. In production the exact
    leg touches shortlist×queries vectors, not the corpus. Returns one
    row (n_queries, k, shortlist, mean_recall, min_recall)."""
    from pyspark.sql import Window

    cand = _pq_candidate_distances(emb, codes, codebook, query_mod, vec_col, id_col)
    w_e = Window.partitionBy("qid").orderBy(F.asc("d_exact"), F.asc("vec_id"))
    w_p = Window.partitionBy("qid").orderBy(F.asc("d_pq"), F.asc("vec_id"))
    staged = cand.select(
        "qid",
        "vec_id",
        "d_exact",
        F.row_number().over(w_e).alias("rk_e"),
        F.row_number().over(w_p).alias("rk_p"),
    )
    # ADC shortlist → exact re-rank within it
    w_r = Window.partitionBy("qid").orderBy(F.asc("d_exact"), F.asc("vec_id"))
    reranked = (
        staged.filter(F.col("rk_p") <= shortlist)
        .withColumn("rk_rerank", F.row_number().over(w_r))
    )
    per_q = (
        staged.filter(F.col("rk_e") <= top_k)
        .select("qid", "vec_id")
        .join(
            reranked.filter(F.col("rk_rerank") <= top_k).select(
                "qid", "vec_id", F.lit(1).alias("_hit")
            ),
            ["qid", "vec_id"],
            "left",
        )
        .groupBy("qid")
        .agg((F.sum(F.coalesce("_hit", F.lit(0))).cast("double") / top_k).alias("recall"))
    )
    return per_q.agg(
        F.count("*").cast("int").alias("n_queries"),
        F.lit(top_k).cast("int").alias("k"),
        F.lit(shortlist).cast("int").alias("shortlist"),
        F.avg("recall").alias("mean_recall"),
        F.min("recall").alias("min_recall"),
    )


# ---------------------------------------------------------------------------
# Mergeable PCA moments — incremental maintenance for the spectrum
# ---------------------------------------------------------------------------


def pca_moments(df: DataFrame, vec_col: str = "embedding") -> tuple:
    """The sufficient statistics of PCA as a MERGEABLE artifact:
    (n, Σx, ΣxᵀX) from one Arrow pass. Moments from disjoint batches ADD
    — so a growing corpus maintains its spectrum at O(batch) per
    arrival (persist the triple, add each new batch's triple, refit via
    `pca_from_moments`), the same write-once/merge pattern as the HLL
    partial-merge rollup and the incremental LSH index."""

    def partials(pdfs: Iterator[pd.DataFrame]):
        n = 0
        s = None
        ss = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            g = x.T @ x
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.reshape(-1).tolist()]}
            )

    rows = df.select(vec_col).mapInPandas(
        partials, schema="n bigint, s array<double>, ss array<double>"
    ).collect()
    if not rows:
        raise ValueError("pca_moments: empty input")
    n = 0
    s = None
    ss = None
    for r in rows:
        n += r["n"]
        rs = np.asarray(r["s"], dtype=np.float64)
        rss = np.asarray(r["ss"], dtype=np.float64)
        s = rs if s is None else s + rs
        ss = rss if ss is None else ss + rss
    return int(n), s, ss


def pca_from_moments(moments: list[tuple], k: int = 8) -> PCAModel:
    """Fit the PCA model from one or more moment triples (merged by
    addition — the incremental path). `pca_fit(df)` ==
    `pca_from_moments([pca_moments(df)])` up to the float addition
    order of the merge, and batch-split vs whole-corpus moments agree
    to ~1 ulp (tested)."""
    if not moments:
        raise ValueError("pca_from_moments: no moments")
    n = 0
    s = None
    ss = None
    for mn, ms, mss in moments:
        n += mn
        s = ms.copy() if s is None else s + ms
        ss = mss.copy() if ss is None else ss + mss
    d = s.shape[0]
    mean = s / n
    cov = (ss.reshape(d, d) - n * np.outer(mean, mean)) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][: min(k, d)]
    comps = evecs[:, order].T
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    ev = evals[order]
    total = float(evals.sum()) or 1.0
    return PCAModel(
        mean=mean,
        components=comps,
        explained_variance=ev,
        explained_variance_ratio=ev / total,
        n_rows=int(n),
    )
