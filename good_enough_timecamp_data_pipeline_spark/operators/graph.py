"""Distributed connected components (dedup-cluster assembly).

Near-dup detection (MinHash/SimHash/Jaccard — ``operators/dedup.py``) emits
*pairs*; turning pairs into keep-one-per-cluster decisions needs the
connected components of the pair graph. The reference has no graph step
(its dedup is a per-row JSON-cache diff, ``/root/reference/common/api.py:362-425``);
this is the standard scale-out companion every 100 TB dedup pipeline needs.

Algorithm: iterative min-label propagation. Every node starts labeled with
its own id; each round every node takes the min of its own label and its
neighbors' labels; at fixpoint each node holds the min node-id of its
component. Rounds = graph diameter — the right trade for dedup graphs,
whose components are near-cliques with tiny diameters (2–4). For
long-chain graphs swap in large-star/small-star (Kiveris et al., "CC in
MapReduce and Beyond") which converges in O(log n) rounds; the loop
structure below is unchanged, only the neighbor expansion differs.

Scale shape per round: one shuffle (groupBy node, min-combine — partial
aggregation makes each round a map-side-combinable agg, not a sort).
Labels are ``localCheckpoint``-ed each round — persist alone is NOT
enough for an iterative DataFrame loop: the cache stores data but the
LOGICAL plan still deepens every round, and Catalyst re-analyzes the
whole history each iteration (measured: round 7 of a chain graph took
41 s of pure driver planning vs 0.6 s for round 1). Checkpointing
truncates the lineage so per-round cost stays O(round's work). On a
cluster, swap ``localCheckpoint`` (executor-local blocks — lost blocks
kill the job on executor failure) for reliable ``checkpoint`` to the
cluster FS if the loop must survive preemption.  Convergence is detected
from ``sum(label)`` — labels only ever decrease, so an unchanged sum IS
the fixpoint; the driver sees one aggregated number per round, never row
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _unpersist_checkpoint_blocks(df: DataFrame) -> None:
    """Free the executor blocks behind a ``localCheckpoint``-ed DataFrame.

    ``df.unpersist()`` only talks to the SQL cache manager and is a no-op
    for checkpoint storage, so without this every round of an iterative
    loop leaves its full label set pinned in block storage until Python GC
    plus the ContextCleaner happen to reclaim it — up to ``max_iter``
    concurrent copies. ``queryExecution().toRdd()`` wraps the checkpoint
    scan in narrow adapters (Spark 4.1: SQLExecutionRDD →
    MapPartitionsRDD → the persisted RDD), so walk the one-parent chain
    until the first RDD that actually holds storage and unpersist THAT.
    Best-effort over py4j internals: on any surprise, skip — the
    ContextCleaner fallback still applies, correctness is unaffected.
    """
    try:
        r = df._jdf.queryExecution().toRdd()
        for _ in range(8):
            lvl = r.getStorageLevel()
            if lvl.useMemory() or lvl.useDisk():
                r.unpersist(False)
                return
            deps = r.dependencies()
            if not deps.nonEmpty():
                return
            r = deps.head().rdd()
    except Exception:  # pragma: no cover - defensive around internals
        pass


def _sized_for_loop(df: DataFrame, rows_per_partition: int = 75_000) -> DataFrame:
    """Coalesce an iterative loop's edge set to its measured size.

    A 32-partition shuffle per round over a few thousand edges is pure
    task-scheduling overhead (measured ~2× the whole CC loop on
    testdata); big inputs keep their natural partitioning. The count is
    an aggregate the surrounding persist needs anyway.

    rows_per_partition balances the two regimes: tiny test graphs still
    collapse to 1 partition, but a mid-size graph keeps enough
    partitions to use the machine — the original 1M threshold ran the
    whole 591k-edge sf0.1 PageRank loop single-threaded (measured
    13.8 s → 8.7 s for 8 rounds after this change).

    NOTE for callers: coalesce returns a NEW DataFrame — unpersist must
    target the original persisted one, not the rebound variable (a
    `df = df.coalesce(n)` rebind makes a later `df.unpersist()` a no-op
    that leaks the cache for the session).
    """
    n = df.count()
    target = max(1, min(df.rdd.getNumPartitions(), n // rows_per_partition))
    if target < df.rdd.getNumPartitions():
        return df.coalesce(target)
    return df


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Labels each node of the undirected edge set with its component's
    min node id. Returns (node, cluster_id).

    ``edges`` may list each pair once in either orientation; isolated
    nodes (no edges) are not the graph's concern — callers union them
    back as their own singleton clusters if needed.

    If the label propagation has not reached a fixpoint after ``max_iter``
    rounds (a component whose diameter exceeds the cap — possible exactly
    when the data is biggest), the labels are WRONG, so this raises by
    default rather than returning them silently; ``on_nonconverged="warn"``
    downgrades to a warning for callers that tolerate label splits
    (over-segmentation keeps more docs — safe for dedup, wrong for
    counting components).
    """
    und_pinned = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # size the loop's parallelism to the measured graph, not the session
    # default (see _sized_for_loop); unpersist targets und_pinned — the
    # coalesce wrapper would not match the cache entry.
    und = _sized_for_loop(und_pinned)
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
        .localCheckpoint(eager=False)
    )
    prev_sum: int | None = None  # first round always runs; saves one job
    converged = False

    for _ in range(max_iter):
        nbr = und.join(labels, und["u"] == labels["node"]).select(
            F.col("v").alias("node"), "cluster_id"
        )
        # lazy localCheckpoint: the convergence agg below is the round's one
        # job — it materializes the checkpoint as a side effect, and every
        # later reference scans checkpoint blocks, so the plan Catalyst sees
        # each round is one join+agg over a checkpoint scan, never the full
        # iteration history (see module docstring). eager=True would pay a
        # second materialization job per round for nothing.
        prev_labels = labels
        labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        # the collect above materialized the NEW checkpoint, so the previous
        # round's blocks are dead weight from here — free them now instead
        # of holding up to max_iter label copies in block storage.
        _unpersist_checkpoint_blocks(prev_labels)
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum

    und_pinned.unpersist()
    if not converged:
        msg = (
            f"connected_components: no fixpoint after max_iter={max_iter} rounds; "
            "labels are over-segmented (components wider than the cap exist). "
            "Raise max_iter (rounds = component diameter) or switch to "
            "large-star/small-star contraction for long-chain graphs."
        )
        if on_nonconverged == "warn":
            import warnings

            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        else:
            raise RuntimeError(msg)
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    num_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Directed PageRank with dangling-mass redistribution: (node, rank),
    ranks summing to 1 (up to float addition order).

    The second iterative graph operator next to `connected_components` —
    used to rank hosts/domains when curating a web-crawl corpus (which
    pages' duplicates to keep, which sources to up-weight). The reference
    has no graph surface at all; this is the standard scale companion.

    Same loop discipline as `connected_components` (see module
    docstring): fixed ``num_iter`` rounds (deterministic — no float
    convergence compare), each round is ONE keyed shuffle
    (edges ⋈ ranks on src, then a map-side-combinable sum by dst); ranks
    are lazily ``localCheckpoint``-ed so the plan never deepens, and the
    per-round dangling-mass aggregate is the single job that both
    materializes the new checkpoint and gives the driver its one scalar;
    the previous round's blocks are freed immediately after.

    Dangling nodes (no out-edges) leak rank mass; it is re-spread
    uniformly — skipping this makes ranks drift low and is the classic
    PageRank-at-scale bug.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = nodes.count()  # driver scalar, same contract as CC's convergence sum
    if n == 0:
        nodes.unpersist()  # nothing to iterate; don't leak the empty cache
        return nodes.withColumn("rank", F.lit(0.0))
    e_pinned = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # loop parallelism sized to the measured graph (see _sized_for_loop);
    # unpersist below targets e_pinned, not the coalesce wrapper.
    e = _sized_for_loop(e_pinned)
    out_deg = e.groupBy("u").agg(F.count("*").alias("out_deg"))
    # ranks live joined with out_deg once, so the loop never re-derives it
    ranked_nodes = nodes.join(out_deg, nodes["node"] == out_deg["u"], "left").select(
        "node", F.coalesce("out_deg", F.lit(0)).alias("out_deg")
    )
    ranks = ranked_nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(eager=False)

    # ONE job per round: the dangling-mass aggregate at the top of each
    # iteration is simultaneously (a) this round's driver scalar and
    # (b) the action that materializes the lazily-checkpointed ranks it
    # reads — so no separate count() job. Block freeing is deferred one
    # round: freeing round k-1 only after the collect that materialized
    # round k means at most two label copies are ever live.
    freeable: DataFrame | None = None
    for _ in range(num_iter):
        dangling = (
            ranks.filter(F.col("out_deg") == 0).agg(F.sum("rank")).collect()[0][0] or 0.0
        )
        if freeable is not None:
            _unpersist_checkpoint_blocks(freeable)
        base = (1.0 - damping) / n + damping * dangling / n
        contribs = (
            e.join(ranks, e["u"] == ranks["node"])
            .select(F.col("v").alias("node"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        freeable = ranks
        updated = ranks.select("node", "out_deg").join(contribs, "node", "left")
        ranks = updated.select(
            "node",
            "out_deg",
            (F.lit(base) + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))).alias(
                "rank"
            ),
        ).localCheckpoint(eager=False)
    # materialize the final checkpoint BEFORE releasing the edge/node
    # caches: the last round's plan still reads them, and unpersisting
    # first would force the caller's first action to recompute
    # edges.distinct() from source. One extra job; after it the result
    # scans only its own checkpoint blocks.
    ranks.count()
    if freeable is not None:
        _unpersist_checkpoint_blocks(freeable)
    nodes.unpersist()
    e_pinned.unpersist()
    return ranks.select("node", "rank")


def cluster_sizes(labels: DataFrame) -> DataFrame:
    """(node, cluster_id, cluster_size) — one extra keyed agg joined back.

    No broadcast hint: cluster COUNT is O(nodes) when most docs are
    singletons, which is the common case for a lightly-duplicated corpus —
    hinting would OOM exactly there. The join keys both sides on
    cluster_id (the agg just shuffled on it, so the partitioning is
    reused); AQE still picks a broadcast when the size table is small."""
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        "node", "cluster_id", "cluster_size"
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
) -> DataFrame:
    """Community detection by synchronous label propagation: every node
    repeatedly adopts the most frequent label among its neighbors (ties →
    smallest label). Returns (node, community).

    Complements the other graph operators: `connected_components` finds
    REACHABILITY clusters (any path joins them), LPA finds DENSITY
    communities (a bridge edge between two cliques does not merge them)
    — the right grouping when near-dup graphs are chained by borderline
    pairs, or when ranking crawl sources by community rather than host.

    Same loop discipline as the module's other iterative operators: per
    round ONE neighbor join (shuffle keyed by node) feeding two
    COMBINABLE hash-aggs ((node, label) count → per-node argmax via
    max_by with a deterministic tie-break), ranks localCheckpoint-ed so
    the plan never deepens, previous round's blocks freed after the next
    materializes. Synchronous updates on a bipartite graph can 2-cycle
    (labels oscillate) — the fixed ``max_iter`` bounds that by design,
    and determinism is preserved either way (no convergence compare).
    """
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e = _sized_for_loop(und)
    labels = (
        e.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("community", F.col("node"))
        .localCheckpoint(eager=False)
    )
    freeable: DataFrame | None = None
    for _ in range(max_iter):
        labels.count()  # materialize this round's checkpoint
        if freeable is not None:
            _unpersist_checkpoint_blocks(freeable)
        neigh = (
            e.join(labels, e["u"] == labels["node"])
            .select(F.col("v").alias("node"), "community")
            .groupBy("node", "community")
            .agg(F.count("*").alias("cnt"))
        )
        freeable = labels
        labels = (
            neigh.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("community")).alias("nc"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nc")).alias("community"))
            .localCheckpoint(eager=False)
        )
    labels.count()
    if freeable is not None:
        _unpersist_checkpoint_blocks(freeable)
    und.unpersist()
    return labels


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    max_iter: int = 200,
) -> DataFrame:
    """k-core decomposition by iterative peeling: (node, core_degree) for
    every node of the maximal subgraph in which ALL nodes have degree ≥ k.

    The density filter of graph-shaped curation: in a link/citation/
    co-occurrence graph the k-core is the standard "keep the structurally
    embedded part" cut (peripheral one-off nodes peel away; spam farms
    that only link outward peel with them). Matula & Beck's peeling
    algorithm distributed: each round is one degree hash-agg + two
    semi-joins (drop every edge with a sub-k endpoint) — no per-node
    messaging, no window. Rounds needed = peeling depth, typically a
    handful; each round strictly shrinks the edge set, so the loop
    provably terminates in ≤ |V| rounds. Same loop discipline as
    `connected_components`: lazy ``localCheckpoint`` per round so the
    plan never deepens, the convergence count is the round's ONE job,
    previous round's blocks freed right after, and a loud raise if
    ``max_iter`` fires first (truncated peeling returns a SUPERSET of
    the k-core — silently wrong).

    ``edges`` may list each undirected pair once in either orientation.
    Degree counts parallel edges once (distinct applied).
    """
    und_pinned = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))  # self-loops never count toward degree
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    und = _sized_for_loop(und_pinned)
    cur = und.localCheckpoint(eager=False)
    n_prev = cur.count()
    freeable: DataFrame | None = None
    converged = n_prev == 0
    try:
        for _ in range(max_iter):
            if converged:
                break
            keep = (
                cur.groupBy("u")
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= k)
                .select("u")
            )
            nxt = (
                cur.join(keep, "u", "left_semi")
                .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
                .localCheckpoint(eager=False)
            )
            n_next = nxt.count()  # materializes the checkpoint AND decides the loop
            if freeable is not None:
                _unpersist_checkpoint_blocks(freeable)
            freeable = cur
            cur = nxt
            converged = n_next == n_prev
            n_prev = n_next
        if not converged:
            raise RuntimeError(
                f"kcore did not reach a fixpoint within max_iter={max_iter} rounds; "
                "the surviving edge set is a superset of the true k-core"
            )
    except BaseException:
        # nothing will consume `cur` after a failure — free every cached
        # artifact so the non-convergence path doesn't leak storage in a
        # long-lived session
        if freeable is not None:
            _unpersist_checkpoint_blocks(freeable)
        _unpersist_checkpoint_blocks(cur)
        und_pinned.unpersist()
        raise
    out = cur.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("core_degree")
    )
    # the final degree agg still reads `cur`; leave its blocks to the final
    # consumer and free only the superseded round + the pinned input
    if freeable is not None:
        _unpersist_checkpoint_blocks(freeable)
    und_pinned.unpersist()
    return out
