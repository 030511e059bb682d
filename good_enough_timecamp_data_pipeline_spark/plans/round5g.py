"""Round-5g batch: spatial grid-blocked proximity join.

``x_geo_grid_join`` — all point pairs within radius r, computed the way
a 100 TB spatial join must be: grid-cell blocking turns the distance
predicate into an EQUI-join (cell size = r, one side exploded to its
3×3 neighborhood, the other at its home cell), then the exact distance
filter runs as a residual — the 2-D analog of `x_range_join_bucketed`'s
time-bucket move, and the standard spatial-join shape (grid / geohash
partitioning) on any distributed engine. Never an all-pairs product:
candidate width is bounded by cell occupancy.

Exactness: coordinates derive from md5(custkey) — exact integers scaled
by an exact power-of-ten division — and the squared-distance residual
is +/−/× on doubles (correctly rounded, identical in both engines), so
even boundary pairs (dist² == r² exactly) agree cross-engine. Distance
is reported SQUARED to keep sqrt out of the hashed columns (sqrt is
correctly rounded too, but the squared form is the join's native
currency). Flat-plane geometry: the synthetic points live on a
1 km × 1 km plane; production geo data swaps in a geohash/S2 cell key
and a haversine residual — same plan shape (haversine's sin/cos are
NOT cross-engine bit-stable, which is exactly why the oracle-twinned
variant pins the plane case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import shared
from .testdata import load_table

GEO_RADIUS = 5.0  # meters; also the grid cell size
GEO_SPAN_MM = 1_000_000  # points live in [0, 1000) m, millimeter grid


def _coord(key: F.Column, salt: str) -> F.Column:
    """Deterministic coordinate in [0, 1000) m with mm resolution:
    md5 → first 8 hex digits → mod 10^6 mm → ÷1000. Exact: the integer
    is exact, 10^3 division is one correctly-rounded double op."""
    h = F.conv(F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8), 16, 10)
    return (h.cast("long") % GEO_SPAN_MM).cast("double") / 1000.0


def geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("id"),
        _coord(F.col("c_custkey"), "x").alias("x"),
        _coord(F.col("c_custkey"), "y").alias("y"),
    )


def x_geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point pairs within ``GEO_RADIUS`` meters (id_a < id_b, squared
    distance), via 3×3 grid-neighborhood equi-join + exact residual.

    Cell side == radius guarantees every qualifying pair shares a
    (home, neighbor) cell combination exactly once: the left row is
    exploded to the 9 cells around its home, the right row sits at its
    home cell — a pair is found iff b's home is in a's neighborhood
    (always true at dist ≤ r√2 ≥ r), and found ONCE because b has one
    home. Shuffle key = cell id — parallelism grows with the occupied
    area, hot cells bounded by density × r²."""
    pts = geo_points(spark, sf_dir)
    cell_x = F.floor(F.col("x") / GEO_RADIUS).cast("long")
    cell_y = F.floor(F.col("y") / GEO_RADIUS).cast("long")
    homed = pts.select("id", "x", "y", cell_x.alias("cx"), cell_y.alias("cy"))
    probe = (
        homed.select(
            "id", "x", "y",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"),
            "cx", "cy",
        )
        .select(
            "id", "x", "y",
            (F.col("cx") + F.col("dx")).alias("cx"),
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
            "cy",
        )
        .select("id", "x", "y", "cx", (F.col("cy") + F.col("dy")).alias("cy"))
    )
    a, b = probe.alias("a"), homed.alias("b")
    # explicit multiplies, not **2: pow() routes through Math.pow and is
    # not guaranteed bit-equal to x*x, while * is IEEE-exact both sides
    ddx = F.col("a.x") - F.col("b.x")
    ddy = F.col("a.y") - F.col("b.y")
    dist2 = ddx * ddx + ddy * ddy
    return (
        a.join(
            b,
            (F.col("a.cx") == F.col("b.cx"))
            & (F.col("a.cy") == F.col("b.cy"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist2.alias("dist2"),
        )
        .filter(F.col("dist2") <= F.lit(GEO_RADIUS * GEO_RADIUS))
        .orderBy("id_a", "id_b")
    )


X_GEO_GRID_JOIN_SQL = f"""
WITH pts AS (
    SELECT c_custkey AS id,
           CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 8))
                AS BIGINT) % {GEO_SPAN_MM} AS DOUBLE) / 1000.0 AS x,
           CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 8))
                AS BIGINT) % {GEO_SPAN_MM} AS DOUBLE) / 1000.0 AS y
    FROM customer
),
homed AS (
    SELECT id, x, y,
           CAST(FLOOR(x / {GEO_RADIUS}) AS BIGINT) AS cx,
           CAST(FLOOR(y / {GEO_RADIUS}) AS BIGINT) AS cy
    FROM pts
),
probe AS (
    SELECT id, x, y, cx + dx.g AS cx, cy + dy.g AS cy
    FROM homed,
         (SELECT unnest(generate_series(-1, 1)) AS g) dx,
         (SELECT unnest(generate_series(-1, 1)) AS g) dy
)
SELECT a.id AS id_a, b.id AS id_b,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
FROM probe a
JOIN homed b ON a.cx = b.cx AND a.cy = b.cy AND a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {GEO_RADIUS * GEO_RADIUS}
ORDER BY id_a, id_b
""".strip()


# ---------------------------------------------------------------------------
# f_array_ops — array set-algebra battery (union/intersect/except/sort)
# ---------------------------------------------------------------------------


def f_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-algebra over each document's token halves: sizes of
    union/intersection/difference of the two distinct-token sets plus
    the lexicographically-first token — the higher-order-function
    coverage row for Spark's array algebra (`array_union` /
    `array_intersect` / `array_except` / `array_sort`), all exercised
    where results are ORDER-INSENSITIVE (sizes and a sorted head:
    the engines' internal element orders differ, their set sizes
    don't). Pure projection — zero shuffle, codegen end to end."""
    from ..operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    half = (F.size(toks) / 2).cast("int")
    a = F.array_distinct(F.slice(toks, F.lit(1), half))
    b = F.array_distinct(F.slice(toks, half + 1, F.size(toks) - half))
    return docs.select(
        "doc_id",
        F.size(a).cast("int").alias("n_a"),
        F.size(b).cast("int").alias("n_b"),
        F.size(F.array_union(a, b)).cast("int").alias("n_union"),
        F.size(F.array_intersect(a, b)).cast("int").alias("n_inter"),
        F.size(F.array_except(a, b)).cast("int").alias("n_except"),
        F.element_at(F.array_sort(a), 1).alias("first_tok"),
    )


from .northstar import TOKS_SQL  # noqa: E402  (shared tokenizer contract)

F_ARRAY_OPS_SQL = f"""
WITH t AS (
    SELECT doc_id, {TOKS_SQL} AS toks FROM documents
),
halves AS (
    SELECT doc_id,
           list_distinct(list_slice(toks, 1, CAST(len(toks) // 2 AS INTEGER))) AS a,
           list_distinct(list_slice(toks, CAST(len(toks) // 2 AS INTEGER) + 1,
                                    len(toks))) AS b
    FROM t
)
SELECT doc_id,
       CAST(len(a) AS INTEGER) AS n_a,
       CAST(len(b) AS INTEGER) AS n_b,
       CAST(len(list_distinct(list_concat(a, b))) AS INTEGER) AS n_union,
       CAST(len(list_filter(a, x -> list_contains(b, x))) AS INTEGER) AS n_inter,
       CAST(len(list_filter(a, x -> NOT list_contains(b, x))) AS INTEGER) AS n_except,
       list_sort(a)[1] AS first_tok
FROM halves
""".strip()


# ---------------------------------------------------------------------------
# x_asof_forward / x_asof_nearest — the remaining as-of directions
# ---------------------------------------------------------------------------


def _asof_inputs(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", cents.alias("purchase_cents")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max(cents).alias("view_cents"))
    )
    return purchases, views


def x_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase enriched with the user's NEXT (>=) view — the
    forward direction of the as-of operator (`x_asof_join` pins
    backward): the same carry window over the reversed order, one keyed
    shuffle; DuckDB's native ASOF JOIN with `<=` is the oracle."""
    from ..operators.asof import asof_join

    purchases, views = _asof_inputs(spark, sf_dir)
    return asof_join(
        purchases, views, on="ts", by="user_id",
        value_cols=["view_cents"], direction="forward",
    )


X_ASOF_FORWARD_SQL = """
WITH purchases AS (
    SELECT event_id, user_id, ts, CAST(FLOOR(value * 100) AS BIGINT) AS purchase_cents
    FROM events WHERE event_type = 'purchase'
),
views AS (
    SELECT user_id, ts, MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS view_cents
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, l.ts, l.purchase_cents,
       r.ts AS ts_asof, r.view_cents AS view_cents_asof
FROM purchases l
ASOF LEFT JOIN views r ON l.user_id = r.user_id AND l.ts <= r.ts
""".strip()


def x_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase enriched with the temporally CLOSEST view on either
    side (ties resolve backward — never read the future on a coin
    flip). Composition of both carry passes + an exact integer-µs
    distance pick; the oracle composes DuckDB's two native ASOF
    directions with the same tie rule."""
    from ..operators.asof import asof_join_nearest

    purchases, views = _asof_inputs(spark, sf_dir)
    return asof_join_nearest(
        purchases, views, on="ts", by="user_id", value_cols=["view_cents"]
    )


X_ASOF_NEAREST_SQL = """
WITH purchases AS (
    SELECT event_id, user_id, ts, CAST(FLOOR(value * 100) AS BIGINT) AS purchase_cents
    FROM events WHERE event_type = 'purchase'
),
views AS (
    SELECT user_id, ts, MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS view_cents
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
),
bwd AS (
    SELECT l.event_id, r.ts AS ts_b, r.view_cents AS vc_b
    FROM purchases l
    ASOF LEFT JOIN views r ON l.user_id = r.user_id AND l.ts >= r.ts
),
fwd AS (
    SELECT l.event_id, r.ts AS ts_f, r.view_cents AS vc_f
    FROM purchases l
    ASOF LEFT JOIN views r ON l.user_id = r.user_id AND l.ts <= r.ts
)
SELECT p.event_id, p.user_id, p.ts, p.purchase_cents,
       CASE WHEN ts_b IS NOT NULL AND (ts_f IS NULL
                 OR ABS(epoch_us(ts_b) - epoch_us(p.ts))
                    <= ABS(epoch_us(ts_f) - epoch_us(p.ts)))
            THEN ts_b ELSE ts_f END AS ts_asof,
       CASE WHEN ts_b IS NOT NULL AND (ts_f IS NULL
                 OR ABS(epoch_us(ts_b) - epoch_us(p.ts))
                    <= ABS(epoch_us(ts_f) - epoch_us(p.ts)))
            THEN vc_b ELSE vc_f END AS view_cents_asof
FROM purchases p
JOIN bwd USING (event_id)
JOIN fwd USING (event_id)
""".strip()


# ---------------------------------------------------------------------------
# x_geo_knn — bounded-radius k-nearest-neighbors over the grid
# ---------------------------------------------------------------------------

KNN_K = 3


def x_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each point's K nearest neighbors AMONG candidates in its 3×3 cell
    ring — bounded-radius kNN, the form spatial kNN takes at scale
    (unbounded exact kNN needs expanding-ring search; bounding the
    radius at one cell ring keeps it a single equi-join and is the
    standard "neighbors within max distance" contract). Ranking is a
    window PARTITIONED BY the query point — candidate lists are
    ring-occupancy-bounded, so no hot partition. Deterministic ties:
    (dist2, neighbor id)."""
    from pyspark.sql import Window

    pts = geo_points(spark, sf_dir)
    cell_x = F.floor(F.col("x") / GEO_RADIUS).cast("long")
    cell_y = F.floor(F.col("y") / GEO_RADIUS).cast("long")
    homed = pts.select("id", "x", "y", cell_x.alias("cx"), cell_y.alias("cy"))
    probe = (
        homed.select(
            "id", "x", "y",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"),
            "cx", "cy",
        )
        .select(
            "id", "x", "y",
            (F.col("cx") + F.col("dx")).alias("cx"),
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
            "cy",
        )
        .select("id", "x", "y", "cx", (F.col("cy") + F.col("dy")).alias("cy"))
    )
    a, b = probe.alias("a"), homed.alias("b")
    ddx = F.col("a.x") - F.col("b.x")
    ddy = F.col("a.y") - F.col("b.y")
    cands = a.join(
        b,
        (F.col("a.cx") == F.col("b.cx"))
        & (F.col("a.cy") == F.col("b.cy"))
        & (F.col("a.id") != F.col("b.id")),
    ).select(
        F.col("a.id").alias("id"),
        F.col("b.id").alias("neighbor_id"),
        (ddx * ddx + ddy * ddy).alias("dist2"),
    )
    w = Window.partitionBy("id").orderBy(F.asc("dist2"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= KNN_K)
        .orderBy("id", "rk")
    )


X_GEO_KNN_SQL = f"""
WITH pts AS (
    SELECT c_custkey AS id,
           CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 8))
                AS BIGINT) % {GEO_SPAN_MM} AS DOUBLE) / 1000.0 AS x,
           CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 8))
                AS BIGINT) % {GEO_SPAN_MM} AS DOUBLE) / 1000.0 AS y
    FROM customer
),
homed AS (
    SELECT id, x, y,
           CAST(FLOOR(x / {GEO_RADIUS}) AS BIGINT) AS cx,
           CAST(FLOOR(y / {GEO_RADIUS}) AS BIGINT) AS cy
    FROM pts
),
probe AS (
    SELECT id, x, y, cx + dx.g AS cx, cy + dy.g AS cy
    FROM homed,
         (SELECT unnest(generate_series(-1, 1)) AS g) dx,
         (SELECT unnest(generate_series(-1, 1)) AS g) dy
),
cands AS (
    SELECT a.id AS id, b.id AS neighbor_id,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
    FROM probe a
    JOIN homed b ON a.cx = b.cx AND a.cy = b.cy AND a.id <> b.id
),
ranked AS (
    SELECT id, neighbor_id, dist2,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY id ORDER BY dist2 ASC, neighbor_id ASC
           ) AS INTEGER) AS rk
    FROM cands
)
SELECT id, neighbor_id, dist2, rk
FROM ranked WHERE rk <= {KNN_K}
ORDER BY id, rk
""".strip()


# ---------------------------------------------------------------------------
# s_pca_spectrum — distributed PCA fit over the embedding corpus
# ---------------------------------------------------------------------------

PCA_K = 8


def s_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit distributed PCA (k=8) on the embedding corpus and return the
    spectrum (component, explained_variance, ratio) — the
    dimensionality-reduction companion to product quantization in the
    vector-compression family. rows-only: eigendecomposition is
    iterative LAPACK, not SQL; determinism and numpy parity are pinned
    in tests/test_round5g.py. Scale shape
    (`operators/clustering.py::pca_fit`): moments in ONE Arrow pass
    (d + d² doubles per partition), eigenproblem on the driver at d×d —
    corpus size never touches the driver."""
    from ..operators.clustering import pca_fit

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, vec_col="embedding", k=PCA_K)
    return spark.createDataFrame(
        [
            (i, float(model.explained_variance[i]), float(model.explained_variance_ratio[i]))
            for i in range(model.components.shape[0])
        ],
        "component int, explained_variance double, variance_ratio double",
    )


# ---------------------------------------------------------------------------
# s_diverse_sample — k-center greedy coreset over the embeddings
# ---------------------------------------------------------------------------

DIVERSE_K = 12


def s_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diverse subset of the embedding corpus
    (`operators/clustering.py::kcenter_greedy`): the diversity-aware
    sampling tier — prototypes that SPAN the space instead of k draws
    from the densest blob. Returns (pick_order, vec_id, radius) where
    radius is the covering distance the pick eliminated (non-increasing
    — the coverage curve; NULL for the seed pick). rows-only: greedy
    farthest-point is iterative; python-greedy parity and monotone
    coverage are pinned in tests/test_round5g.py."""
    from ..operators.clustering import kcenter_greedy

    emb = load_table(spark, sf_dir, "embeddings")
    picks = kcenter_greedy(emb, k=DIVERSE_K)
    return spark.createDataFrame(
        [
            (i, int(vid), None if r == float("inf") else float(r))
            for i, (vid, r) in enumerate(picks)
        ],
        "pick_order int, vec_id long, radius double",
    )


# ---------------------------------------------------------------------------
# s_pq_recall — ranking damage of PQ compression, measured
# ---------------------------------------------------------------------------

@shared.artifact("pq_8x16_train")
def _pq_8x16(spark: SparkSession, sf_dir: str):
    """The trained 8×16 PQ (codes, codebook) pair, once per session.

    ``s_pq_recall`` and ``s_pq_rerank`` audit the SAME quantizer — the
    expensive part is the per-subspace k-means training, identical in
    both — so the pair is a shared artifact (plans/shared.py), each frame
    eagerly checkpointed."""
    from ..operators.clustering import product_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    codes, codebook = product_quantize(emb, n_subspaces=8, n_centroids=16, n_iter=5)
    return (
        codes.localCheckpoint(eager=True),
        codebook.localCheckpoint(eager=True),
    )


def s_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ asymmetric distance vs exact L2 over a
    deterministic query sample — `s_pq_codes` reports reconstruction
    DISTORTION; this reports the RANKING damage retrieval actually
    eats, and on THIS corpus it is damning: 8×16 PQ scores mean recall
    ≈ 0.17–0.28 (the synthetic embeddings are near-uniform, the worst
    case for PQ — no cluster structure for codewords to exploit). That
    is the point of the audit: the aggregate reconstruction error in
    `s_pq_codes` looks acceptable while top-k ranking is destroyed —
    ship PQ behind this measurement (raise codewords / add an exact
    re-rank stage), never behind distortion alone. rows-only; a
    perfectly-codebook-representable corpus scores exactly 1.0 in
    tests/test_round5g.py."""
    from ..operators.clustering import pq_recall_audit

    emb = load_table(spark, sf_dir, "embeddings")
    codes, codebook = _pq_8x16(spark, sf_dir)
    return pq_recall_audit(emb, codes, codebook, query_mod=29, top_k=10)


def s_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval — ADC shortlist (top-200, a 20× shortlist/k
    ratio) + exact re-rank — audited against exact top-10: the standard
    repair for the recall collapse `s_pq_recall` measures (≈0.2 on these
    structure-free embeddings; mean recall ≥ 0.93 after re-rank). The
    shortlist only has to CONTAIN the true neighbors; the exact leg
    (shortlist × queries vector fetches, never the corpus) restores
    their order. The shortlist/k ratio is the recall knob — uniform
    embeddings are PQ's worst case and need the full 20×; clustered
    corpora reach 1.0 at far smaller shortlists (tests/test_round5g).
    rows-only; recall floor asserted in tests/test_round5g.py."""
    from ..operators.clustering import pq_rerank_audit

    emb = load_table(spark, sf_dir, "embeddings")
    codes, codebook = _pq_8x16(spark, sf_dir)
    return pq_rerank_audit(emb, codes, codebook, query_mod=29, top_k=10, shortlist=200)
