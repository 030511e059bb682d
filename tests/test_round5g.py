"""Brute-force parity for the grid-blocked spatial proximity join."""

import hashlib

import pandas as pd

from good_enough_timecamp_data_pipeline_spark.plans import advanced, curation, extensions, relational


def _coord(key: int, salt: str) -> float:
    h = int(hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:8], 16)
    return (h % advanced.GEO_SPAN_MM) / 1000.0


def test_geo_grid_join_matches_bruteforce(spark, sf_dir):
    """Every pair the O(n²) scan finds, the grid join finds — same ids,
    same squared distances bit-exactly — and nothing extra."""
    got = {
        (r.id_a, r.id_b): r.dist2
        for r in advanced.x_geo_grid_join(spark, sf_dir).collect()
    }
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey"])
    pts = [(int(k), _coord(int(k), "x"), _coord(int(k), "y")) for k in cust.c_custkey]
    want = {}
    r2 = advanced.GEO_RADIUS * advanced.GEO_RADIUS
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            (ia, xa, ya), (ib, xb, yb) = pts[i], pts[j]
            if ia > ib:
                (ia, xa, ya), (ib, xb, yb) = pts[j], pts[i]
            d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
            if d2 <= r2:
                want[(ia, ib)] = d2
    assert got == want


def test_geo_grid_join_finds_cross_cell_pairs(spark):
    """Points on opposite sides of a cell boundary (and diagonal
    neighbors) must still pair — the 3×3 neighborhood explode is what
    makes blocking complete, not just fast."""
    from pyspark.sql import functions as F

    # craft custkeys irrelevant — monkeypatch geo_points directly
    pts = spark.createDataFrame(
        [
            (1, 4.9, 2.0),   # cell (0,0)
            (2, 5.1, 2.0),   # cell (1,0) — 0.2 m away, across the boundary
            (3, 4.9, 4.9),   # cell (0,0)
            (4, 5.1, 5.1),   # cell (1,1) — diagonal neighbor, ~0.28 m
            (5, 50.0, 50.0), # far away
        ],
        "id long, x double, y double",
    )
    orig = advanced.geo_points
    try:
        advanced.geo_points = lambda spark, sf_dir: pts
        got = {(r.id_a, r.id_b) for r in advanced.x_geo_grid_join(spark, "unused").collect()}
    finally:
        advanced.geo_points = orig
    assert (1, 2) in got and (3, 4) in got
    assert all(5 not in p for p in got)


def test_array_ops_set_algebra_identities(spark, sf_dir):
    """|A∪B| = |A| + |B| − |A∩B| and |A\\B| = |A| − |A∩B| must hold
    row-by-row, and first_tok is the sorted head of the first half."""
    rows = extensions.f_array_ops(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_union == r.n_a + r.n_b - r.n_inter, r
        assert r.n_except == r.n_a - r.n_inter, r
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    by_id = {r.doc_id: r for r in rows}
    for doc_id, text in list(zip(docs.doc_id, docs.text))[:25]:
        toks = [t for t in text.strip().split() if t]
        half = len(toks) // 2
        a = list(dict.fromkeys(toks[:half]))
        b = list(dict.fromkeys(toks[half:]))
        r = by_id[doc_id]
        assert r.n_a == len(a) and r.n_b == len(b)
        assert r.n_inter == len(set(a) & set(b))
        assert r.first_tok == (min(a) if a else None)


def test_geo_knn_matches_ring_bruteforce(spark, sf_dir):
    """kNN must equal the brute-force ranking restricted to the same
    3x3 cell ring — ids, ranks, and squared distances bit-exactly."""
    got = {}
    for r in advanced.x_geo_knn(spark, sf_dir).collect():
        got.setdefault(r.id, []).append((r.rk, r.neighbor_id, r.dist2))
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey"])
    pts = {int(k): (_coord(int(k), "x"), _coord(int(k), "y")) for k in cust.c_custkey}
    R = advanced.GEO_RADIUS
    cells = {}
    for i, (x, y) in pts.items():
        cells.setdefault((int(x // R), int(y // R)), []).append(i)
    want = {}
    for i, (x, y) in pts.items():
        cx, cy = int(x // R), int(y // R)
        cand = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for j in cells.get((cx + dx, cy + dy), []):
                    if j == i:
                        continue
                    xj, yj = pts[j]
                    cand.append(((x - xj) * (x - xj) + (y - yj) * (y - yj), j))
        cand.sort()
        if cand:
            want[i] = [(rk + 1, j, d2) for rk, (d2, j) in enumerate(cand[: advanced.KNN_K])]
    assert got == want
    # ranks are contiguous from 1 and distances non-decreasing
    for lst in got.values():
        assert [r for r, _, _ in lst] == list(range(1, len(lst) + 1))
        d = [d2 for _, _, d2 in lst]
        assert d == sorted(d)


def test_round5g_queries_survive_empty_tables(spark):
    import tempfile

    from pyspark.sql import types as T

    cust_schema = T.StructType([T.StructField("c_custkey", T.LongType())])
    events_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    docs_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame([], cust_schema).write.parquet(f"{d}/customer.parquet")
        spark.createDataFrame([], events_schema).write.parquet(f"{d}/events.parquet")
        spark.createDataFrame([], docs_schema).write.parquet(f"{d}/documents.parquet")
        for fn in (
            advanced.x_geo_grid_join,
            advanced.x_geo_knn,
            extensions.f_array_ops,
            relational.x_asof_forward,
            relational.x_asof_nearest,
        ):
            assert fn(spark, d).collect() == [], fn.__name__


# ---------------------------------------------------------------------------
# PCA (operators/clustering.py::pca_fit / pca_transform)
# ---------------------------------------------------------------------------


def test_pca_matches_numpy_reference(spark, sf_dir):
    import numpy as np

    from good_enough_timecamp_data_pipeline_spark.operators.clustering import pca_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pca_fit(emb, vec_col="embedding", k=8)
    x = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in
         pd.read_parquet(f"{sf_dir}/embeddings.parquet").embedding]
    )
    assert model.n_rows == x.shape[0]
    assert np.allclose(model.mean, x.mean(axis=0), atol=1e-10)
    cov = np.cov(x, rowvar=False)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    assert np.allclose(model.explained_variance, evals[:8], atol=1e-8)
    # components orthonormal and actually eigenvectors of the covariance
    g = model.components @ model.components.T
    assert np.allclose(g, np.eye(8), atol=1e-10)
    for i in range(8):
        v = model.components[i]
        assert np.allclose(cov @ v, model.explained_variance[i] * v, atol=1e-8)
    # ratios descending and ≤ 1
    r = model.explained_variance_ratio
    assert all(r[i] >= r[i + 1] for i in range(len(r) - 1)) and r.sum() <= 1 + 1e-12


def test_pca_transform_variance_and_determinism(spark, sf_dir):
    import numpy as np

    from good_enough_timecamp_data_pipeline_spark.operators.clustering import (
        pca_fit,
        pca_transform,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    m1 = pca_fit(emb, vec_col="embedding", k=4)
    m2 = pca_fit(emb, vec_col="embedding", k=4)
    assert (m1.components == m2.components).all()  # bit-deterministic rerun
    z = {r.vec_id: r.pc for r in pca_transform(emb, m1).collect()}
    zz = np.asarray([z[k] for k in sorted(z)])
    # per-component sample variance of the projection equals the eigenvalue
    assert np.allclose(zz.var(axis=0, ddof=1), m1.explained_variance, atol=1e-8)
    # projections are centered
    assert np.allclose(zz.mean(axis=0), 0.0, atol=1e-9)


def test_pca_spectrum_entry_shape(spark, sf_dir):
    rows = curation.s_pca_spectrum(spark, sf_dir).collect()
    assert [r.component for r in rows] == list(range(curation.PCA_K))
    vals = [r.explained_variance for r in rows]
    assert vals == sorted(vals, reverse=True) and all(v >= 0 for v in vals)


# ---------------------------------------------------------------------------
# k-center greedy (operators/clustering.py::kcenter_greedy)
# ---------------------------------------------------------------------------


def _py_kcenter(vecs, k):
    import numpy as np

    ids = sorted(vecs)
    chosen = [(ids[0], float("inf"))]
    centers = [np.asarray(vecs[ids[0]], dtype=float)]
    for _ in range(k - 1):
        best = None
        for i in ids:
            v = np.asarray(vecs[i], dtype=float)
            d2 = min(float(((v - c) ** 2).sum()) for c in centers)
            if best is None or d2 > best[0] or (d2 == best[0] and i < best[1]):
                best = (d2, i, v)
        if best[0] <= 0:
            break
        chosen.append((best[1], best[0] ** 0.5))
        centers.append(best[2])
    return chosen


def test_kcenter_greedy_matches_python(spark, sf_dir):
    from good_enough_timecamp_data_pipeline_spark.operators.clustering import (
        kcenter_greedy,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = kcenter_greedy(emb, k=8)
    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {int(i): list(v) for i, v in zip(pdf.vec_id, pdf.embedding)}
    want = _py_kcenter(vecs, 8)
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, rg), (_, rw) in zip(got[1:], want[1:]):
        assert abs(rg - rw) < 1e-9


def test_diverse_sample_coverage_curve(spark, sf_dir):
    rows = curation.s_diverse_sample(spark, sf_dir).collect()
    assert [r.pick_order for r in rows] == list(range(len(rows)))
    assert rows[0].radius is None
    radii = [r.radius for r in rows[1:]]
    assert all(radii[i] >= radii[i + 1] for i in range(len(radii) - 1))
    assert len({r.vec_id for r in rows}) == len(rows)  # picks are distinct


# ---------------------------------------------------------------------------
# PQ recall audit
# ---------------------------------------------------------------------------


def test_pq_recall_perfect_on_codebook_representable_corpus(spark):
    """Vectors drawn exactly from few prototypes are encodable with zero
    error — PQ distances equal exact distances and recall@k is exactly
    1.0. Proves the audit's metric, not just its plumbing."""
    import numpy as np

    from good_enough_timecamp_data_pipeline_spark.operators.clustering import (
        pq_recall_audit,
        product_quantize,
    )

    rng = np.random.RandomState(3)
    protos = rng.randn(6, 16).round(2)
    rows = [(i, [float(x) for x in protos[i % 6]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes, codebook = product_quantize(
        emb, n_subspaces=4, n_centroids=8, n_iter=8
    )
    (r,) = pq_recall_audit(
        emb, codes, codebook, query_mod=10, top_k=5
    ).collect()
    assert r.n_queries == 6 and r.k == 5
    assert r.mean_recall == 1.0 and r.min_recall == 1.0


def test_pq_recall_entry_bounds_and_determinism(spark, sf_dir):
    a = curation.s_pq_recall(spark, sf_dir).collect()
    b = curation.s_pq_recall(spark, sf_dir).collect()
    assert a == b  # deterministic end to end
    (r,) = a
    assert r.n_queries > 0
    assert 0.0 <= r.min_recall <= r.mean_recall <= 1.0


def test_pca_moments_merge_equals_whole_corpus_fit(spark, sf_dir):
    """Batch-split moments merged by addition must reproduce the
    whole-corpus spectrum — the O(batch) incremental-maintenance path."""
    import numpy as np
    from pyspark.sql import functions as F

    from good_enough_timecamp_data_pipeline_spark.operators.clustering import (
        pca_fit,
        pca_from_moments,
        pca_moments,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    whole = pca_fit(emb, vec_col="embedding", k=6)
    part1 = pca_moments(emb.filter(F.col("vec_id") % 2 == 0))
    part2 = pca_moments(emb.filter(F.col("vec_id") % 2 == 1))
    merged = pca_from_moments([part1, part2], k=6)
    assert merged.n_rows == whole.n_rows
    assert np.allclose(merged.mean, whole.mean, atol=1e-10)
    assert np.allclose(merged.explained_variance, whole.explained_variance, atol=1e-8)
    assert np.allclose(np.abs(merged.components), np.abs(whole.components), atol=1e-6)


def test_pq_rerank_restores_recall_floor(spark, sf_dir):
    """Round-5 VERDICT item 3: the ADC-shortlist + exact-re-rank stage
    must lift recall@10 to >= 0.9 even on the structure-free testdata
    embeddings where plain PQ ranking collapses to ~0.2 — and must beat
    the plain ADC ranking it repairs."""
    (rerank,) = curation.s_pq_rerank(spark, sf_dir).collect()
    (plain,) = curation.s_pq_recall(spark, sf_dir).collect()
    assert rerank.n_queries == plain.n_queries > 0
    assert rerank.mean_recall >= 0.9, rerank
    assert rerank.mean_recall > plain.mean_recall


def test_pq_rerank_shortlist_contract(spark):
    """With shortlist >= corpus the two-stage result IS the exact
    ranking: recall must be exactly 1.0 (the audit's metric identity),
    regardless of how badly ADC orders the candidates."""
    import numpy as np

    from good_enough_timecamp_data_pipeline_spark.operators.clustering import (
        pq_rerank_audit,
        product_quantize,
    )

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes, codebook = product_quantize(emb, n_subspaces=4, n_centroids=8, n_iter=4)
    (r,) = pq_rerank_audit(
        emb, codes, codebook, query_mod=10, top_k=5, shortlist=200
    ).collect()
    assert r.mean_recall == 1.0 and r.min_recall == 1.0
