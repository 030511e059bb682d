"""Custom stateful streaming operator: per-user sessionization.

The reference has no streaming surface (SURVEY §2.10); this is the engine's
`applyInPandasWithState` tier — the shape any custom stateful operator
(sessionization, dedup-within-horizon, CDC conflation) takes at scale:

- input is hash-partitioned by key (``groupBy(user_id)``) so each user's
  state lives on exactly one executor;
- state is a tiny summary (open-session start/last/count), never the raw
  events — state size is O(active keys), not O(events);
- sessions are *emitted when closed* by a later event (gap > threshold);
  the still-open tail session per user stays in state (production closes
  it with a timeout — here the input is finite, so the batch invariant
  "emitted == total sessions − open tails" is what the test asserts
  against the window-function sessionization of
  ``plans.relational.e_sessionize``).

The events table is re-landed as several time-ordered parquet chunks and
streamed with ``maxFilesPerTrigger=1``, so sessions genuinely span
micro-batches and the state handoff between batches is exercised — one
big batch would make stateful processing trivially correct.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import shared
from ..plans.testdata import ensure_events_read_conf, normalize_events_ts
from pyspark.sql import types as T

from .windows import run_finite_stream
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, matches e_sessionize

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _sessionize_user(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Vectorized (r12): session boundaries are pure integer
    gap-threshold comparisons, so the per-row Python fold (the dominant
    Python-side cost of s_stream_sessions at 600k events) collapses to
    numpy sort/diff/flatnonzero with IDENTICAL semantics — segment
    stitching against the carried open-session state handles the three
    cases the loop handled (continue, close-then-open, first-ever).
    Equality with the batch plan stays pinned in
    tests/test_multimodal_streaming.py."""
    import numpy as np

    (user_id,) = key
    # flatten ALL Arrow chunks before sorting — per-chunk sorting would
    # fold timestamps out of order when one key's micro-batch spans
    # multiple record batches (see _ewma_user)
    chunks = [pdf["ts_us"].to_numpy(dtype=np.int64) for pdf in pdfs]
    arr = np.sort(np.concatenate(chunks)) if chunks else np.empty(0, np.int64)

    if arr.size == 0:
        if state.exists:
            start_us, last_us, n = state.get
            state.update((int(start_us), int(last_us), int(n)))
        yield pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "session_start_us": pd.Series([], dtype="int64"),
                "session_end_us": pd.Series([], dtype="int64"),
                "n_events": pd.Series([], dtype="int64"),
            }
        )
        return

    # in-batch segmentation first: index 0 is ALWAYS a segment start (so
    # flatnonzero can never skip the events before the first in-batch gap),
    # positions 1.. break on their predecessor. The carried open session is
    # stitched in afterwards — grafted onto segment 0 if it continues, or
    # prepended as its own closed session if the batch starts past the gap.
    new_seg = np.empty(arr.size, dtype=bool)
    new_seg[0] = True
    new_seg[1:] = (arr[1:] - arr[:-1]) > SESSION_GAP_US
    starts_idx = np.flatnonzero(new_seg)
    ends_idx = np.append(starts_idx[1:] - 1, arr.size - 1)
    seg_start = arr[starts_idx]
    seg_end = arr[ends_idx]
    seg_n = (ends_idx - starts_idx + 1).astype(np.int64)

    if state.exists:
        start_us, last_us, n = state.get
        if (arr[0] - last_us) <= SESSION_GAP_US:
            # first segment CONTINUES the open session
            seg_start[0] = start_us
            seg_n[0] += n
        else:
            # the open session closes as its own session
            seg_start = np.insert(seg_start, 0, start_us)
            seg_end = np.insert(seg_end, 0, last_us)
            seg_n = np.insert(seg_n, 0, n)

    # every segment but the last is closed; the last stays open in state
    state.update((int(seg_start[-1]), int(seg_end[-1]), int(seg_n[-1])))
    yield pd.DataFrame(
        {
            "user_id": np.full(seg_start.size - 1, user_id, dtype=np.int64),
            "session_start_us": seg_start[:-1],
            "session_end_us": seg_end[:-1],
            "n_events": seg_n[:-1],
        }
    )


# Shared chunk-replay count for the three chunk-replay streaming entries.
# 3 time-ordered chunks = 2 cross-batch state handoffs — the minimum that
# proves REPEATED state carry-over (the adjudicated r12-r14 envelope is
# "3-4 chunks"; s_stream_sessions already ran 3 since r12). Every output
# is chunk-count invariant (chunks are ts-range partitions, equal
# timestamps never straddle a boundary, and each operator folds/merges
# in global (ts, event_id) order across batches), so each extra
# micro-batch is a fixed ~1 s of engine constants (micro-batch planning,
# state-store commit, pandas-group dispatch) buying nothing — measured
# r16: streaming_ewma 4.10 s at 4 chunks vs 3.01 s at 3.
SHARED_CHUNKS = 3


@shared.artifact("stream_chunk_staging")
def chunked_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Land events as time-ordered parquet chunks for multi-batch streaming.

    FileStreamSource replays files in *modification-time* order, and a
    parallel write gives every chunk the same mtime — which would replay
    chunks in arbitrary order and feed the stateful operator out-of-order
    batches. So chunks are written one at a time and their mtimes spaced
    explicitly; chunk i covers the i-th quantile range of ``ts``.

    A shared artifact (plans/shared.py), priced as
    ``stream_chunk_staging``: three streaming entries (pandas-state
    sessionize, pandas-state EWMA, native session_window) replay the
    identical chunk layout, so one events scan + range shuffle + write
    serves the session. The registry owns the dir and deletes it with
    ``shared.invalidate(spark)`` or at process exit.
    """
    import glob
    import time as _time

    ensure_events_read_conf(spark)
    out = shared.temp_dir("events_chunks_", spark)
    # normalize ts at chunk-write time so the chunks carry ONE canonical
    # type (timestamp) no matter which testdata vintage the source file is
    events = normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    # one scan + one range shuffle: RangePartitioner assigns ascending ts
    # ranges to ascending partition ids, so part-file NAME order is already
    # time order — only the mtimes need explicit spacing afterwards.
    (
        events.repartitionByRange(SHARED_CHUNKS, F.col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    base = _time.time() - 3600
    for i, part in enumerate(sorted(glob.glob(os.path.join(out, "part-*.parquet")))):
        os.utime(part, (base + i * 10, base + i * 10))
    return out


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run stateful sessionization over events as a multi-batch stream;
    returns the closed sessions as a batch DataFrame."""
    src = chunked_events_dir(spark, sf_dir)
    stream = (
        # schema from a batch read of the chunks we just wrote (they carry
        # the normalized timestamp ts — see chunked_events_dir)
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            F.col("user_id"),
            F.unix_micros(F.col("ts")).alias("ts_us"),
        )
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_user,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # parquet sink: closed sessions are event-scale output (10^5 rows at
    # sf0.1) — land them executor-side instead of collecting every
    # micro-batch's rows into the driver (see run_finite_stream)
    return run_finite_stream(spark, sessions, "stream_sessions_out", sink="parquet")


# ---------------------------------------------------------------------------
# Second custom stateful operator: per-user streaming EWMA + anomaly emission
# ---------------------------------------------------------------------------

EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
        T.StructField("anomaly", T.BooleanType()),
    ]
)

EWMA_STATE_SCHEMA = T.StructType(
    [T.StructField("ewma", T.DoubleType()), T.StructField("n", T.LongType())]
)


def _ewma_user(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user λ=½ EWMA carried ACROSS micro-batches: the monitoring
    twin of `_sessionize_user` — state is two numbers per key, each
    event is scored against the smoothed history (ratio rule, matching
    plans/advanced.py::e_ewma_anomaly) and emitted with its running
    mean. Arithmetic is `0.5*x + 0.5*prev` in IEEE doubles — the exact
    sequence the batch twin `batch_ewma_final` folds, so streaming and
    batch agree BIT-exactly per user."""
    import numpy as np

    (user_id,) = key
    if state.exists:
        ewma, n = state.get
    else:
        ewma, n = None, 0

    # concatenate BEFORE sorting: one key's micro-batch data may span
    # several Arrow record batches (> arrow.maxRecordsPerBatch rows), and
    # per-chunk sorting would fold events out of global (ts_us, event_id)
    # order, breaking bit-exact parity with batch_ewma_final.
    # Column-wise numpy + lexsort (r16): the per-GROUP call overhead is
    # this operator's dominant cost at 2k users × 4 micro-batches — the
    # old pd.concat + DataFrame.sort_values built two full frames per
    # call (~1.1 ms); extracting the three columns and ordering with one
    # np.lexsort is ~0.2 ms with the IDENTICAL (ts_us, event_id) order
    # (event_id is unique, so the order is total — stability moot), so
    # the fold consumes bit-identical sequences.
    chunks = list(pdfs)
    if len(chunks) == 1:
        ts_np = chunks[0]["ts_us"].to_numpy(dtype=np.int64)
        eid_np = chunks[0]["event_id"].to_numpy(dtype=np.int64)
        vals_np = chunks[0]["value"].to_numpy(dtype=np.float64)
    elif chunks:
        ts_np = np.concatenate([c["ts_us"].to_numpy(dtype=np.int64) for c in chunks])
        eid_np = np.concatenate(
            [c["event_id"].to_numpy(dtype=np.int64) for c in chunks]
        )
        vals_np = np.concatenate(
            [c["value"].to_numpy(dtype=np.float64) for c in chunks]
        )
    else:
        ts_np = np.empty(0, dtype=np.int64)
    if ts_np.size == 0:
        # guard on TOTAL row count, not `not chunks` (round-13 ADVICE): a
        # key can arrive as a non-empty iterator of zero-row Arrow chunks,
        # which would make prev[0] below raise IndexError — mirror
        # _sessionize_user's arr.size == 0 branch
        if n:
            state.update((float(ewma), int(n)))
        yield pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "ts_us": pd.Series([], dtype="int64"),
                "event_id": pd.Series([], dtype="int64"),
                "value": pd.Series([], dtype="float64"),
                "ewma": pd.Series([], dtype="float64"),
                "anomaly": pd.Series([], dtype="bool"),
            }
        )
        return

    order = np.lexsort((eid_np, ts_np))  # primary ts_us, secondary event_id
    ts_np = ts_np[order]
    eid_np = eid_np[order]
    vals_np = vals_np[order]
    # ONLY the recurrence stays a Python loop (each step must be the exact
    # IEEE sequence 0.5*v + 0.5*prev that batch_ewma_final folds — a
    # closed-form/np reformulation would drift by ULPs and break the
    # bit-exact streaming==batch pytest); everything around it — the old
    # per-row tuple building, int() casts, and anomaly comparisons over
    # pandas scalars, the dominant Python cost of s_stream_ewma at 600k
    # events — is numpy (r13). `.tolist()` hands the loop native Python
    # floats, bit-identical to float64 and ~3x faster to fold than numpy
    # scalars.
    ew = np.empty(vals_np.size, dtype=np.float64)
    e = ewma
    for i, v in enumerate(vals_np.tolist()):
        e = v if e is None else 0.5 * v + 0.5 * e
        ew[i] = e
    n += vals_np.size
    # prev-EWMA per event: carried state for row 0 (NaN when absent — NaN
    # comparisons are False, matching `prev is None`), shifted ewma after
    prev = np.empty(vals_np.size, dtype=np.float64)
    prev[0] = np.nan if ewma is None else ewma
    prev[1:] = ew[:-1]
    with np.errstate(invalid="ignore"):
        anomaly = (vals_np > 2.0 * prev) | (2.0 * vals_np < prev)

    state.update((float(e), int(n)))
    yield pd.DataFrame(
        {
            "user_id": np.full(vals_np.size, user_id, dtype=np.int64),
            "ts_us": ts_np,
            "event_id": eid_np,
            "value": vals_np,
            "ewma": ew,
            "anomaly": anomaly,
        }
    )


def streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event EWMA scores over events as a multi-batch stream; the
    state handoff between micro-batches is the point (one big batch
    would make the carry trivially correct)."""
    src = chunked_events_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .filter(F.col("value").isNotNull())
        .select(
            F.col("user_id"),
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.col("event_id"),
            F.col("value"),
        )
    )
    scored = stream.groupBy("user_id").applyInPandasWithState(
        _ewma_user,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # parquet sink (round-13 VERDICT item 3): the scored output is
    # PER-EVENT (600k rows at sf0.1) and the memory sink's per-batch
    # executor→driver collect was this entry's dominant cost after the
    # fold went numpy — land batches executor-side and let the caller's
    # per-user rollup scan parquet distributed
    return run_finite_stream(spark, scored, "stream_ewma_out", sink="parquet")


def s_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry (rows-only): per-user summary of the streamed EWMA —
    event count, anomaly count, and the final smoothed value (which the
    batch twin must reproduce bit-exactly — asserted in
    tests/test_multimodal_streaming.py::test_stream_ewma_matches_batch_fold)."""
    scored = streaming_ewma(spark, sf_dir)
    return scored.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("anomaly").cast("int")).cast("long").alias("n_anomalies"),
        F.max_by("ewma", F.struct("ts_us", "event_id")).alias("final_ewma"),
    )


def batch_ewma_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin: per-user FINAL λ=½ EWMA as one ordered fold over the
    user's (ts, event_id)-sorted values — same IEEE sequence the
    streaming operator executes, so equality is exact, not approximate.
    The per-user collect_list is bounded by per-user activity (the same
    contract as x_ordered_paths); the fold itself is expression-level."""
    ensure_events_read_conf(spark)
    ev = (
        normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_id",
            "value",
        )
    )
    arr = F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "value")))
    fold = F.aggregate(
        arr,
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x["value"]).otherwise(
            F.lit(0.5) * x["value"] + F.lit(0.5) * acc
        ),
    )
    return ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"), fold.alias("final_ewma")
    )
