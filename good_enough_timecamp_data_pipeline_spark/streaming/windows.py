"""Structured Streaming surface over the events table.

The reference is batch-only (SURVEY §2.10) — this is the optional stretch:
the same tumbling-window aggregation as ``plans.relational.e_tumbling_window``
expressed as a streaming query with a watermark, driven to completion over
the parquet file so a batch test can assert on it.

At scale this is the real shape for the reference's "recent days always
refetched" incremental pattern: a 7-day watermark bounds state exactly like
the reference's CACHE_THRESHOLD_DAYS bounds refetch
(``/root/reference/dlt_fetch_timecamp.py:194-217``).
"""

from __future__ import annotations

import os
import tempfile
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..plans import shared
from ..plans.testdata import ensure_events_read_conf, normalize_events_ts
from pyspark.sql import types as T

# State-store shard count for the finite driven-to-completion streams
# (this module + streaming/stateful.py). Every micro-batch pays a
# per-shard commit (state delta file per shard per batch), so fewer
# shards LOOK cheaper — but the r12 interleaved A/B over all 12
# streaming entries measured 2 shards strictly WORSE than 8 in every
# round (8: 27.7/24.3/27.5 s vs 2: 27.7/31.6/33.1 s, moderate load):
# at sf0.1 the per-batch state-op compute needs the parallelism more
# than it needs fewer commit files. 8 stays the measured default; on a
# cluster the shard count is sized to key cardinality instead.


def stream_shards() -> str:
    # default = cores/4 (≡ the measured-optimal 8 on 32 cores), so the
    # driver's low-core scaling probe sees fewer-way state-op parallelism
    # instead of the same 8-task schedule at every core count (same
    # derivation as session.tiny_partitions)
    from ..session import tiny_partitions

    return str(tiny_partitions())


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_SHARDS_LOCK = threading.Lock()
_SHARDS_HELD: dict[int, tuple[int, str]] = {}  # id(session) → (entries, prior value)


@contextmanager
def stream_shuffle_partitions(spark: SparkSession) -> Iterator[None]:
    """Lower ``spark.sql.shuffle.partitions`` to `stream_shards` while a
    finite stream runs: each micro-batch pays a per-state-store-shard
    cost, which dwarfs the work at local scale.

    Streams on threads share one session's conf, so entries are counted
    under a lock: the first entrant saves the prior value and the last one
    out restores it (a save/restore pair per stream, interleaved, would
    leave the stream value behind)."""
    key = id(spark)
    with _SHARDS_LOCK:
        entries, prior = _SHARDS_HELD.get(key, (0, ""))
        if not entries:
            prior = spark.conf.get(_SHUFFLE_PARTITIONS)
            spark.conf.set(_SHUFFLE_PARTITIONS, stream_shards())
        _SHARDS_HELD[key] = (entries + 1, prior)
    try:
        yield
    finally:
        with _SHARDS_LOCK:
            entries, prior = _SHARDS_HELD.pop(key)
            if entries > 1:
                _SHARDS_HELD[key] = (entries - 1, prior)
            else:
                spark.conf.set(_SHUFFLE_PARTITIONS, prior)


def _drain(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Run a finite stream to completion under `stream_shuffle_partitions`,
    with a throwaway checkpoint."""
    with stream_shuffle_partitions(spark), tempfile.TemporaryDirectory() as ckpt:
        q = writer.option("checkpointLocation", ckpt).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def events_stream_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Stream-source schema derived from a batch read of the SAME file —
    never hardcoded. FileStreamSource requires an explicit schema, and a
    pinned one silently desyncs when testdata drifts (round 3: ``ts``
    moved from long-nanos to timestamp[us] and every hardcoded-schema
    stream broke). A parquet footer read costs one metadata op."""
    ensure_events_read_conf(spark)
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


def streaming_tumbling_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Run the watermarked tumbling-window agg over events as a stream;
    returns the completed result as a batch DataFrame.

    Watermark semantics: events later than ``watermark`` behind the max
    seen event time are dropped from state — the streaming analog of the
    reference's immutable-past cache horizon.
    """
    # FileStreamSource requires a directory; expose the single parquet file
    # through a temp dir of symlinks (testdata is read-only).
    ensure_events_read_conf(spark)
    stream_dir = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stream_dir}/events.parquet")
    stream = normalize_events_ts(
        spark.readStream.schema(events_stream_schema(spark, sf_dir)).parquet(stream_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "value_cents"
        )
    )
    return _run_to_completion(spark, agg, "stream_tumbling_out", cleanup_dir=stream_dir)


def streaming_sliding_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked *sliding* window counts: each event lands in
    window/slide overlapping buckets (4 here) — the state-size trade-off
    version of the tumbling agg."""
    ensure_events_read_conf(spark)
    stream_dir = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stream_dir}/events.parquet")
    stream = normalize_events_ts(
        spark.readStream.schema(events_stream_schema(spark, sf_dir)).parquet(stream_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return _run_to_completion(spark, agg, "stream_sliding_out", cleanup_dir=stream_dir)


# name -> that entry's LATEST sink dir. A long bench/pytest session
# re-runs the same streaming entries (shape warm-up + timed run + movers
# re-probes), and one event-scale parquet dir per call would pile up in
# the temp dir. A re-run of the same name removes the previous call's dir
# first — safe because every harness consumes the returned (lazily
# file-backed) DataFrame before re-invoking the same entry; the registry's
# exit sweep (plans/shared.py) deletes the rest.
_FILE_SINK_DIRS: dict[str, str] = {}


def _sink_dir(name: str, prefix: str) -> str:
    """A fresh sink dir for ``name``, replacing (and deleting) its last one."""
    prev = _FILE_SINK_DIRS.pop(name, None)
    if prev is not None:
        shared.remove_dir(prev)
    _FILE_SINK_DIRS[name] = shared.temp_dir(prefix)
    return _FILE_SINK_DIRS[name]


def run_finite_stream(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    *,
    output_mode: str = "append",
    sink: str = "memory",
    cleanup_dir: str | None = None,
) -> DataFrame:
    """Drive a finite stream to completion and return its full output as
    a batch DataFrame.

    ``sink="memory"`` suits SMALL outputs (windowed aggregates, per-type
    counts — bounded by windows × types, not by events): rows live in
    the driver and the re-read is a LocalTableScan. For BIG outputs
    (per-event scores, per-pair join rows) the memory sink is the wrong
    shape twice over: every micro-batch pays an executor→driver collect
    of its full output, and every downstream consumer then rescans a
    single-threaded driver-local table. ``sink="parquet"`` lands each
    micro-batch executor-side through the exactly-once file sink and
    reads the result back as a distributed parquet scan (round-13
    VERDICT item 3: the 600k-row memory-sink collection was
    s_stream_ewma's dominant cost after the fold went numpy). File-sink
    dirs must outlive this call — the returned DataFrame reads them
    lazily — so they are cleaned at process exit, plus eagerly when the
    SAME ``name`` re-runs (which invalidates the previous call's
    DataFrame; every harness consumes eagerly, so only the latest
    call's dir is live at any time).

    Shuffle partitions are lowered while the stream runs
    (`stream_shuffle_partitions`; on a cluster, shard count is sized to
    key cardinality instead).
    """
    out_dir = _sink_dir(name, f"{name}_sink_") if sink == "parquet" else None
    try:
        w = df.writeStream.outputMode(output_mode)
        if sink == "parquet":
            _drain(spark, w.format("parquet").option("path", out_dir))
        else:
            _drain(spark, w.format("memory").queryName(name))
    finally:
        if cleanup_dir:
            import shutil

            shutil.rmtree(cleanup_dir, ignore_errors=True)
    if sink == "parquet":
        # explicit schema: the file-sink metadata log lists zero files
        # when the (finite) stream emitted nothing, and schema inference
        # would fail there; the streaming plan already knows the schema
        return spark.read.schema(df.schema).parquet(out_dir)
    # the memory sink keeps the rows in the session; no driver round-trip
    return spark.table(name)


def _run_to_completion(
    spark: SparkSession, agg: DataFrame, name: str, cleanup_dir: str | None = None
) -> DataFrame:
    """Drive a finite complete-mode agg (small output) via the memory
    sink — see run_finite_stream for the sink trade-off."""
    return run_finite_stream(
        spark,
        agg,
        name,
        output_mode="complete",
        sink="memory",
        cleanup_dir=cleanup_dir,
    )


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming deduplication across micro-batches.

    The events file is exposed to the stream TWICE (two symlinks, mtimes
    spaced so they arrive as separate micro-batches) — the second batch is
    a full duplicate feed, the worst case of at-least-once upstream
    delivery. ``dropDuplicatesWithinWatermark`` on event_id keeps one copy
    per key while the watermark bounds the dedup state (the batch analog
    of the reference's 7-day immutable-past horizon: old keys age out of
    state instead of living forever). Output = per-type counts of the
    deduped stream; correct iff every cross-batch duplicate was caught.
    """
    import time as _time

    ensure_events_read_conf(spark)
    stream_dir = tempfile.mkdtemp(prefix="events_dedup_")
    src = f"{sf_dir}/events.parquet"
    base = _time.time() - 3600
    for i, name in enumerate(("a.parquet", "b.parquet")):
        link = f"{stream_dir}/{name}"
        os.symlink(src, link)
        os.utime(link, (base + i * 10, base + i * 10), follow_symlinks=False)
    stream = normalize_events_ts(
        spark.readStream.schema(events_stream_schema(spark, sf_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return _run_to_completion(spark, deduped, "stream_dedup_out", cleanup_dir=stream_dir)


def streaming_stream_join(
    spark: SparkSession,
    sf_dir: str,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: clicks joined to the view
    (same user) they follow within ``horizon``.

    The canonical two-stream state pattern: BOTH sides are watermarked and
    the join condition bounds click_ts to [view_ts, view_ts + horizon], so
    Spark can size and expire the per-side join state — without the time
    bound a stream-stream inner join would buffer both streams forever.
    Output mode is append (the only mode stream-stream joins support);
    the joined pairs are aggregated per user *in batch* after completion,
    keeping the streaming graph exactly the join under test.

    At scale: state is partitioned by user_id (the equi-key); the interval
    predicate is evaluated inside each state partition, and watermark
    expiry bounds memory to ``watermark + horizon`` of traffic per side.
    """
    ensure_events_read_conf(spark)
    stream_dir = tempfile.mkdtemp(prefix="events_ssjoin_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stream_dir}/events.parquet")

    def side(kind: str, ts_name: str) -> DataFrame:
        return (
            normalize_events_ts(
                spark.readStream.schema(events_stream_schema(spark, sf_dir)).parquet(
                    stream_dir
                )
            )
            .filter(F.col("event_type") == kind)
            .select(
                F.col("user_id").alias(f"{kind}_user"),
                F.col("ts").alias(ts_name),
            )
            .withWatermark(ts_name, watermark)
        )

    views = side("view", "view_ts")
    clicks = side("click", "click_ts")
    joined = views.join(
        clicks,
        (F.col("view_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(F.col("view_user").alias("user_id"), "view_ts", "click_ts")

    # parquet sink: the joined PAIRS (not the final per-user counts) are
    # the stream's output — event-scale, so they land executor-side and
    # the per-user rollup below is a distributed scan, never a driver
    # round-trip (see run_finite_stream)
    pairs = run_finite_stream(
        spark,
        joined,
        "stream_join_out",
        sink="parquet",
        cleanup_dir=stream_dir,
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` sink: stream events (fed TWICE — duplicate
    micro-batch redelivery) into an idempotent parquet upsert keyed by
    event_id, then report per-type counts of the target table.

    foreachBatch is how Structured Streaming writes to engines that have
    no streaming sink (JDBC, MERGE-capable tables, multi-table fan-out):
    each micro-batch arrives as a plain DataFrame and the body runs any
    batch op. The body here is the grow-only upsert (anti-join against
    the current target, append only never-seen keys) — re-delivered rows
    vanish, so the result equals the deduped batch answer however many
    times the source re-feeds (asserted in tests). State lives in the
    TARGET table, not the stream: restarts and redeliveries are safe
    without streaming-side dedup state.

    At scale the anti-join probe is a join keyed on the target's primary
    key — with the target bucketed by that key (io.write_bucketed) it is
    exchange-free on the target side; the appended files are the only
    writes.
    """
    import shutil

    ensure_events_read_conf(spark)
    stream_dir = tempfile.mkdtemp(prefix="events_febatch_")
    # the returned frame reads the target lazily: a per-name sink dir
    target_dir = _sink_dir("stream_upsert_out", "febatch_target_") + "/t"
    src = f"{sf_dir}/events.parquet"
    base = __import__("time").time() - 3600
    for i, name in enumerate(("a.parquet", "b.parquet")):
        link = f"{stream_dir}/{name}"
        os.symlink(src, link)
        os.utime(link, (base + i * 10, base + i * 10), follow_symlinks=False)

    stream = normalize_events_ts(
        spark.readStream.schema(events_stream_schema(spark, sf_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        b = batch.dropDuplicates(["event_id"])  # in-batch dedup first
        sess = batch.sparkSession
        try:
            existing = sess.read.parquet(target_dir).select("event_id")
            b = b.join(existing, "event_id", "left_anti")
        except Exception:
            pass  # first batch: target doesn't exist yet
        b.write.mode("append").parquet(target_dir)

    try:
        _drain(spark, stream.writeStream.foreachBatch(upsert))
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)
    return (
        spark.read.parquet(target_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


SESSION_GAP = "30 minutes"
_SESSION_GAP_US = 30 * 60 * 1_000_000


def session_window_agg(events: DataFrame) -> DataFrame:
    """Native ``session_window`` sessionization (30-min gap) — works on a
    batch OR streaming events DataFrame unchanged.

    This is the built-in twin of `streaming.stateful.streaming_sessionize`:
    the same (user_id, session_start_us, session_end_us, n_events) rows,
    but with JVM-side session-merging state instead of Python
    ``applyInPandasWithState`` — no Arrow transfer, no Python workers, the
    cheaper choice whenever plain gap-sessionization is all that's needed.
    The pandas-state version remains the template for semantics the
    built-in can't express (per-session custom accumulators, early emits,
    CDC conflation). Spark's session window end = last event + gap, so the
    gap is subtracted back to report the true last-event time.
    """
    return (
        events.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            (F.unix_micros(F.col("sw.end")) - F.lit(_SESSION_GAP_US)).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


def batch_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode native sessionization over events."""
    ensure_events_read_conf(spark)
    events = normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return session_window_agg(events)


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window over a multi-batch stream (complete mode, so
    still-open sessions surface too — unlike the append-mode pandas-state
    operator, which emits only closed sessions). Sessions spanning
    micro-batches are merged by the state store; equality with the batch
    plan is asserted in tests. The chunks are the session-shared staging
    (see chunked_events_dir), so the three chunk-replay entries share
    one events scan."""
    from .stateful import chunked_events_dir

    src = chunked_events_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = session_window_agg(stream)
    return _run_to_completion(spark, agg, "stream_session_window_out")


def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming fact joins a STATIC dimension —
    the everyday enrichment shape (events ⋈ user→region dim) that needs
    NO watermark and NO join state: the static side is planned as a batch
    relation (broadcast when small) re-resolved per micro-batch, so only
    the aggregation keeps state.

    The dim here derives user→nation deterministically from the nation
    table (user_id % nation count) — dimension-sized by construction.
    Output: per-nation event counts and value cents, aggregated over the
    completed stream (memory sink), comparable 1:1 with the batch twin
    (asserted in tests).
    """
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("_nk"), "n_name"
    )
    n_nations = nation.count()

    stream_dir = tempfile.mkdtemp(prefix="events_ssjoin_static_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stream_dir}/events.parquet")
    stream = normalize_events_ts(
        spark.readStream.schema(events_stream_schema(spark, sf_dir)).parquet(stream_dir)
    ).withColumn("_nk", F.col("user_id") % F.lit(n_nations))

    enriched = stream.join(nation, "_nk")  # static side: no state, no watermark
    agg = enriched.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    return _run_to_completion(spark, agg, "stream_static_out", cleanup_dir=stream_dir)


@shared.artifact("lsh_feed_staging")
def _lsh_feed_dir(spark: SparkSession, sf_dir: str) -> str:
    """Land the incremental-dedup feed (every 25th corpus doc,
    id-shifted + token-appended — a near-dup of a known source) as two
    mtime-spaced parquet files for micro-batch replay.

    A shared artifact (plans/shared.py), priced as ``lsh_feed_staging``:
    the feed is a pure function of ``sf_dir``, so its filtered
    ``coalesce(1)`` writes run once per session. The registry owns the
    dir and deletes it with ``shared.invalidate(spark)`` or at process
    exit."""
    import glob as _glob
    import shutil

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    stream_dir = shared.temp_dir("stream_lsh_feed_", spark)
    base_ts = __import__("time").time() - 3600
    for k in range(2):
        batch = docs.filter(F.col("doc_id") % 25 == k).select(
            (F.col("doc_id") + F.lit((k + 1) * 100_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" zz{k}")).alias("text"),
        )
        staging = f"{stream_dir}/staging_{k}"
        batch.coalesce(1).write.mode("overwrite").parquet(staging)
        # feed plain files (one per micro-batch), not Spark output dirs
        (part,) = _glob.glob(f"{staging}/part-*.parquet")
        path = f"{stream_dir}/b{k}.parquet"
        shutil.move(part, path)
        shutil.rmtree(staging, ignore_errors=True)
        os.utime(path, (base_ts + k * 10, base_ts + k * 10))
    return stream_dir


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup detection: arriving document micro-batches are
    probed against the corpus' persisted LSH index via ``foreachBatch``.

    The production shape for continuous corpus ingestion: the corpus'
    (doc, band, bucket) rows and shingle rows are the WRITE-ONCE parquet
    artifact (`plans.common.corpus_lsh_index` →
    `dedup.build_lsh_index_cached`, the same artifact
    `d_incremental_dedup` probes and the harnesses prewarm); the stream
    then feeds document batches, and each micro-batch runs
    `dedup.incremental_lsh_pairs(batch, index=...)` — O(batch) per
    arrival, never O(corpus) — appending detected (id_new, dup_of) pairs
    to a result table. State lives in the INDEX and the result table,
    not in streaming state: restarts re-probe only undelivered files.
    (r12: the entry previously re-built its own index per invocation —
    ~3-4 s of O(corpus) work the operator's own claim says is built
    once; it now reuses the cached artifact, the same fix r11 applied to
    the containment-mode stream.)

    The synthetic feed takes every 25th corpus doc, shifts
    its id and appends a token — a near-dup of a known source doc — so
    every arriving doc should be matched to its origin (asserted in
    tests against the batch `incremental_lsh_pairs` on the same rows).
    Returns per-source-doc match counts.
    """
    import shutil

    from ..operators import dedup
    from ..plans.common import corpus_lsh_index

    # land (or reuse) the write-once corpus index BEFORE the stream
    # starts — the artifact the probes address; a no-op when the harness
    # prewarmed it
    corpus_lsh_index(spark, sf_dir)

    stream_dir = _lsh_feed_dir(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="stream_lsh_out_")
    out_dir = f"{work}/pairs"

    feed_schema = spark.read.parquet(f"{stream_dir}/b0.parquet").schema
    stream = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )

    def probe(batch: DataFrame, batch_id: int) -> None:
        # re-resolve through the session memo (artifact-backed parquet
        # reads) rather than capturing outer frames — same defensive
        # pattern as before, now against the shared write-once artifact
        index = corpus_lsh_index(batch.sparkSession, sf_dir)
        dedup.incremental_lsh_pairs(
            batch, index=index, n=5, num_hashes=64, bands=32, threshold=0.5
        ).write.mode("append").parquet(out_dir)

    _drain(spark, stream.writeStream.foreachBatch(probe))

    pairs = spark.read.parquet(out_dir)
    result = (
        pairs.groupBy("dup_of")
        .agg(F.count("*").alias("n_matches"), F.max("jaccard").alias("best_jaccard"))
        .orderBy("dup_of")
    )
    # the summary is per-source-doc of the batch (bounded, small): pull it
    # to the driver and re-create, so the returned DataFrame has NO lineage
    # into {work} — persist+count would still point recomputation at the
    # temp dirs deleted below.
    rows = result.collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


# ---------------------------------------------------------------------------
# dead-letter routing: per-row validation → main table / quarantine table
# ---------------------------------------------------------------------------

KNOWN_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def validation_reasons() -> "F.Column":
    """Ordered array of failed validation rules for an events row —
    empty array = valid. Single codegen projection (same shape as
    curation.t_quality_gate's reason codes); extend by appending rules.
    """
    rules = [
        ("null_ts", F.col("ts").isNull()),
        ("null_value", F.col("value").isNull()),
        ("negative_value", F.col("value") < 0),
        ("unknown_type", ~F.col("event_type").isin(*KNOWN_EVENT_TYPES)),
    ]
    return F.filter(
        F.array(*[F.when(cond, F.lit(name)).otherwise(F.lit(None)) for name, cond in rules]),
        lambda x: x.isNotNull(),
    )


@shared.artifact("deadletter_feed_staging")
def _deadletter_feed_dir(spark: SparkSession, sf_dir: str) -> str:
    """Land the dead-letter feed (the events file plus a corrupted copy:
    negative values / unknown types / nulled ts, ids shifted) as two
    mtime-spaced parquet files for 2-micro-batch replay.

    A shared artifact (plans/shared.py), priced as
    ``deadletter_feed_staging``: the feed is a pure function of
    ``sf_dir``, so its two full-table ``coalesce(1)`` writes run once per
    session. The registry owns the dir and deletes it with
    ``shared.invalidate(spark)`` or at process exit."""
    import glob as _glob
    import shutil

    ensure_events_read_conf(spark)
    stream_dir = shared.temp_dir("deadletter_feed_", spark)
    events = normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    # corrupted copy: rotate each row through one of three corruption modes
    m = F.col("event_id") % 3
    corrupted = events.select(
        (F.col("event_id") + 900_000_000).alias("event_id"),
        F.when(m == 0, F.lit(None).cast("timestamp")).otherwise(F.col("ts")).alias("ts"),
        F.col("user_id"),
        F.when(m == 1, F.lit("mystery")).otherwise(F.col("event_type")).alias("event_type"),
        F.when(m == 2, -F.abs("value")).otherwise(F.col("value")).alias("value"),
        F.col("props"),
    )
    base = __import__("time").time() - 3600
    for i, (name, df) in enumerate((("clean", events), ("dirty", corrupted))):
        staging = f"{stream_dir}/staging_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        (part,) = _glob.glob(f"{staging}/part-*.parquet")
        path = f"{stream_dir}/{name}.parquet"
        shutil.move(part, path)
        shutil.rmtree(staging, ignore_errors=True)
        os.utime(path, (base + i * 10, base + i * 10))
    return stream_dir


def streaming_deadletter_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ingestion with a dead-letter queue: every arriving row is
    validated; clean rows land in the main table, failing rows land in a
    QUARANTINE table carrying their ordered reason codes — the standard
    production shape for crawl/telemetry ingestion where one malformed
    row must neither kill the stage (see the multimodal non-strict
    decode) nor silently vanish (audit requirement).

    foreachBatch writes BOTH tables from one validated micro-batch
    DataFrame: the validation projection runs once, the two filtered
    writes share it, and the routing decision is recorded in data (the
    quarantine's ``reasons``), not in logs. The feed (session-shared,
    see _deadletter_feed_dir) is the events file plus a corrupted copy
    so the quarantine path is actually exercised.

    Returns per-(route, reason) counts; valid rows carry reason 'ok'.
    Batch-equality + exact-partition invariants in tests/test_curation.py.
    """
    ensure_events_read_conf(spark)
    stream_dir = _deadletter_feed_dir(spark, sf_dir)
    # sink dirs: bounded per-name like run_finite_stream's file sinks —
    # a re-run of the entry removes the previous call's outputs first
    work = _sink_dir("stream_deadletter_out", "deadletter_out_")
    main_dir = f"{work}/main"
    dlq_dir = f"{work}/quarantine"

    stream = normalize_events_ts(
        spark.readStream.schema(spark.read.parquet(f"{stream_dir}/clean.parquet").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )

    def route(batch: DataFrame, batch_id: int) -> None:
        v = batch.withColumn("reasons", validation_reasons())
        v.filter(F.size("reasons") == 0).drop("reasons").write.mode("append").parquet(
            main_dir
        )
        v.filter(F.size("reasons") > 0).withColumn(
            "reasons", F.array_join("reasons", ",")
        ).write.mode("append").parquet(dlq_dir)

    _drain(spark, stream.writeStream.foreachBatch(route))
    # stream_dir is the SESSION-SHARED feed — never delete it here

    main = (
        spark.read.parquet(main_dir)
        .groupBy()
        .agg(F.count("*").alias("n"))
        .select(F.lit("main").alias("route"), F.lit("ok").alias("reason"), "n")
    )
    dlq = (
        spark.read.parquet(dlq_dir)
        .select(F.explode(F.split("reasons", ",")).alias("reason"))
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
        .select(F.lit("quarantine").alias("route"), "reason", "n")
    )
    return main.unionByName(dlq).orderBy("route", "reason")
