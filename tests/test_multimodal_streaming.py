"""Multimodal plumbing + streaming surface tests."""

import time

import pytest
from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.operators import multimodal
from good_enough_timecamp_data_pipeline_spark.plans.relational import e_tumbling_window
from good_enough_timecamp_data_pipeline_spark.streaming.windows import (
    streaming_tumbling_counts,
)


def test_attach_binary_payload(spark):
    df = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    row = multimodal.attach_binary_payload(df, mime="text/plain").first()
    assert bytes(row.payload) == b"hello"
    assert row.meta.n_bytes == 5 and row.meta.mime == "text/plain"


def test_extract_features_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "")], "doc_id long, text string"
    )
    media = multimodal.attach_binary_payload(df)
    a = {r.doc_id: r for r in multimodal.extract_features(media).collect()}
    b = {r.doc_id: r for r in multimodal.extract_features(media).collect()}
    assert a[1].feat == b[1].feat  # deterministic stub
    assert len(a[1].feat) == 8
    assert a[1].n_bytes == 11
    assert a[2].n_bytes == 0  # empty payload doesn't crash the batch path


def test_decode_image_rejects_formats_needing_external_codecs():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x89PNG", "image/png")


def test_decode_ppm_known_image():
    """Hand-built 2x2 P6 with a comment line: exact dims + channel means."""
    pixels = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    payload = b"P6\n# a comment\n2 2\n255\n" + pixels
    d = multimodal.decode_ppm(payload)
    assert (d["width"], d["height"], d["maxval"]) == (2, 2, 255)
    assert d["mean_r"] == (255 + 0 + 0 + 255) / 4
    assert d["mean_g"] == (0 + 255 + 0 + 255) / 4
    assert d["mean_b"] == (0 + 0 + 255 + 255) / 4
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n2 2\n255\n\x00\x00")  # truncated


def test_decode_wav_known_clip():
    payload = multimodal.synthesize_wav(3)  # key 3 → 800+3*800 frames @8kHz
    d = multimodal.decode_wav(payload)
    assert d["n_frames"] == 800 + 3 * 800
    assert d["framerate"] == 8000 and d["n_channels"] == 1 and d["sampwidth"] == 2
    assert abs(d["duration_s"] - d["n_frames"] / 8000) < 1e-12
    assert d["rms"] > 1000  # a 12000-amplitude sine is loud, not silence


def test_extract_features_real_decode(spark):
    """The media tier decodes REAL payloads end-to-end on executors: PPM
    rows carry true width/height from the header, WAV rows true duration;
    strict mode raises on an undecodable mime instead of degrading."""
    df = spark.createDataFrame(
        [(2, "even doc"), (3, "odd doc")], "doc_id long, text string"
    )
    media = multimodal.attach_synthetic_media(df)
    out = {r.doc_id: r for r in multimodal.extract_features(media, strict=True).collect()}
    # doc 2: PPM with width = 4 + 2%5 = 6, height = 3 + 2%4 = 5
    assert (out[2].width, out[2].height) == (6, 5)
    assert out[2].duration_s is None
    assert out[2].mime == multimodal.PPM_MIME
    # doc 3: WAV with 800 + 3*800 frames @ 8 kHz = 0.4 s
    assert out[3].width is None and out[3].height is None
    assert abs(out[3].duration_s - 0.4) < 1e-9
    assert out[3].mime == multimodal.WAV_MIME

    undecodable = multimodal.attach_binary_payload(df, mime="image/png")
    with pytest.raises(Exception, match="NotImplementedError"):
        multimodal.extract_features(undecodable, strict=True).collect()


def test_streaming_matches_batch(spark, sf_dir):
    batch = {
        (r.window_start, r.event_type): (r.n, r.value_cents)
        for r in e_tumbling_window(spark, sf_dir).collect()
    }
    stream = {
        (r.window_start, r.event_type): (r.n, r.value_cents)
        for r in streaming_tumbling_counts(spark, sf_dir).collect()
    }
    assert stream == batch


def test_streaming_sliding_covers_tumbling(spark, sf_dir):
    from good_enough_timecamp_data_pipeline_spark.streaming.windows import (
        streaming_sliding_counts,
    )

    slide = streaming_sliding_counts(spark, sf_dir).collect()
    # every event lands in exactly window/slide = 4 overlapping windows
    total_batch = sum(
        r.n for r in e_tumbling_window(spark, sf_dir).collect()
    )
    assert sum(r.n for r in slide) == 4 * total_batch


def test_stateful_sessionize_matches_batch_invariant(spark, sf_dir):
    """Closed-session emission must equal the window-function answer minus
    the still-open tail session of each user."""
    from good_enough_timecamp_data_pipeline_spark.plans.relational import e_sessionize
    from good_enough_timecamp_data_pipeline_spark.streaming.stateful import (
        streaming_sessionize,
    )

    batch = e_sessionize(spark, sf_dir).collect()
    expected_closed = sum(r.n_sessions for r in batch) - len(batch)  # minus tails
    emitted = streaming_sessionize(spark, sf_dir).collect()
    assert len(emitted) == expected_closed
    assert all(r.session_end_us >= r.session_start_us for r in emitted)
    assert all(r.n_events >= 1 for r in emitted)


def test_session_window_stream_equals_batch(spark, sf_dir):
    """The native session_window twin: streaming (3 micro-batches, state
    merged across them) must equal the batch plan EXACTLY, and both must
    agree with the window-function sessionization (e_sessionize) on
    per-user session counts and event totals."""
    from good_enough_timecamp_data_pipeline_spark.plans.relational import e_sessionize
    from good_enough_timecamp_data_pipeline_spark.streaming.windows import (
        batch_session_windows,
        streaming_session_windows,
    )

    batch = sorted(map(tuple, batch_session_windows(spark, sf_dir).collect()))
    stream = sorted(map(tuple, streaming_session_windows(spark, sf_dir).collect()))
    assert stream == batch

    per_user: dict[int, list[tuple]] = {}
    for r in batch:
        per_user.setdefault(r[0], []).append(r)
    for r in e_sessionize(spark, sf_dir).collect():
        sessions = per_user[r.user_id]
        assert len(sessions) == r.n_sessions
        assert sum(s[3] for s in sessions) == r.n_events


def test_resize_constant_output_size(spark):
    df = spark.createDataFrame(
        [(1, "short"), (2, "a much longer document body " * 10), (3, "")],
        "doc_id long, text string",
    )
    media = multimodal.attach_binary_payload(df)
    out = {r.doc_id: r for r in multimodal.resize_images(media, 32, 32).collect()}
    sizes = {len(bytes(r.payload)) for r in out.values()}
    assert sizes == {32 * 32 // 64}  # constant-size output, even empty input
    assert out[1].width == 32 and out[1].height == 32
    # deterministic
    again = {r.doc_id: bytes(r.payload) for r in multimodal.resize_images(media, 32, 32).collect()}
    assert all(bytes(out[k].payload) == again[k] for k in again)


def test_sample_frames_fanout(spark):
    df = spark.createDataFrame(
        [(1, "x" * 1000), (2, "tiny")], "doc_id long, text string"
    )
    media = multimodal.attach_binary_payload(df)
    frames = multimodal.sample_frames(media, every_n_bytes=256, max_frames=8).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 3          # 1000 // 256
    assert len(by_doc[2]) == 1          # minimum one frame
    f1 = sorted(by_doc[1], key=lambda r: r.frame_index)
    assert [r.frame_offset for r in f1] == [0, 256, 512]
    assert all(len(bytes(r.frame)) <= 256 for r in frames)


def test_streaming_dedup_removes_duplicate_batch(spark, sf_dir):
    """The stream feeds the events file twice; per-type counts must equal
    the single-copy batch counts — every cross-batch duplicate caught."""
    from pyspark.sql import functions as F

    from good_enough_timecamp_data_pipeline_spark.streaming.windows import streaming_dedup

    got = {
        r["event_type"]: r["n_unique"]
        for r in streaming_dedup(spark, sf_dir).collect()
    }
    from good_enough_timecamp_data_pipeline_spark.plans.testdata import load_table

    want = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch_interval_join(spark, sf_dir):
    """The watermarked stream-stream join emits exactly the pairs the
    equivalent batch interval join produces (no late data at rest, so
    watermarking must not drop anything)."""
    from good_enough_timecamp_data_pipeline_spark.plans.northstar import s_stream_join
    from good_enough_timecamp_data_pipeline_spark.plans.testdata import load_table

    got = {r["user_id"]: r["n_pairs"] for r in s_stream_join(spark, sf_dir).collect()}

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    batch = (
        views.join(
            clicks,
            (F.col("vu") == F.col("cu"))
            & (F.col("cts") >= F.col("vts"))
            & (F.col("cts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(F.col("vu").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
    )
    expect = {r["user_id"]: r["n_pairs"] for r in batch.collect()}
    assert got == expect


def test_foreachbatch_upsert_idempotent_under_redelivery(spark, sf_dir):
    """The duplicate second micro-batch must add NOTHING: target counts
    equal the single-copy batch per-type counts."""
    from good_enough_timecamp_data_pipeline_spark.plans.northstar import s_stream_upsert
    from good_enough_timecamp_data_pipeline_spark.plans.testdata import load_table

    got = {r["event_type"]: r["n"] for r in s_stream_upsert(spark, sf_dir).collect()}
    expect = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect


def test_stream_static_join_equals_batch(spark, sf_dir):
    """The stream-static enrichment must aggregate to exactly the batch
    answer — no watermark/state semantics can change a static join."""
    from pyspark.sql import functions as F

    from good_enough_timecamp_data_pipeline_spark.plans.testdata import load_table
    from good_enough_timecamp_data_pipeline_spark.streaming.windows import (
        streaming_static_join,
    )

    got = {
        r["n_name"]: (r["n"], r["value_cents"])
        for r in streaming_static_join(spark, sf_dir).collect()
    }
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("_nk"), "n_name"
    )
    n_nations = nation.count()
    want = {
        r["n_name"]: (r["n"], r["value_cents"])
        for r in load_table(spark, sf_dir, "events")
        .withColumn("_nk", F.col("user_id") % F.lit(n_nations))
        .join(nation, "_nk")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .collect()
    }
    assert got == want and got


def test_stream_ewma_matches_batch_fold(spark, sf_dir):
    """The per-user EWMA carried across micro-batches must equal the
    batch-side ordered fold BIT-exactly (same IEEE sequence), and event
    counts must reconcile — the state handoff is what's under test."""
    from good_enough_timecamp_data_pipeline_spark.streaming.stateful import (
        batch_ewma_final,
        s_stream_ewma,
    )

    got = {r.user_id: r for r in s_stream_ewma(spark, sf_dir).collect()}
    want = {r.user_id: r for r in batch_ewma_final(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        assert g.n_events == w.n_events, uid
        assert g.final_ewma == w.final_ewma, (uid, g.final_ewma, w.final_ewma)


def test_stream_ewma_anomaly_rule(spark, sf_dir):
    """Anomalies obey the ratio rule against the PRE-update smoothed
    value, recomputed sequentially in python for a sample of users."""
    from good_enough_timecamp_data_pipeline_spark.streaming.stateful import (
        streaming_ewma,
    )

    rows = streaming_ewma(spark, sf_dir).collect()
    by_user = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts_us, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for uid in list(by_user)[:5]:
        ewma = None
        for r in by_user[uid]:
            expect_anom = ewma is not None and (
                r.value > 2.0 * ewma or 2.0 * r.value < ewma
            )
            assert r.anomaly == expect_anom, (uid, r.event_id)
            ewma = r.value if ewma is None else 0.5 * r.value + 0.5 * ewma
            assert r.ewma == ewma, (uid, r.event_id)


@pytest.mark.slow_e2e
def test_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    """The recovery contract behind every foreachBatch sink in the
    engine: stop a stream, add new files, RESTART against the same
    checkpoint — already-delivered files must not reprocess, new files
    must, and the result table ends exactly-once for every input row."""
    import os

    from pyspark.sql import functions as F

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed)

    def land(batch_id, ids):
        df = spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1)
        df.write.mode("overwrite").parquet(str(tmp_path / f"stage{batch_id}"))
        import glob as g
        import shutil

        (part,) = g.glob(str(tmp_path / f"stage{batch_id}/part-*.parquet"))
        shutil.move(part, f"{feed}/b{batch_id}.parquet")

    def run_once():
        stream = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

        def sink(batch, _bid):
            batch.withColumn("doubled", F.col("id") * 2).write.mode("append").parquet(out)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    land(0, range(0, 5))
    land(1, range(5, 10))
    run_once()
    first = spark.read.parquet(out).collect()
    assert sorted(r.id for r in first) == list(range(10))

    land(2, range(10, 15))  # arrives while the stream is DOWN
    run_once()  # restart from the same checkpoint
    rows = spark.read.parquet(out).collect()
    ids = sorted(r.id for r in rows)
    assert ids == list(range(15)), "restart must process exactly the new file"
    assert all(r.doubled == r.id * 2 for r in rows)


@pytest.mark.slow_e2e
def test_watermark_drops_late_event_in_append_mode(spark, tmp_path):
    """Pins the watermark SEMANTICS the windowed streaming aggs rely on:
    an event arriving in a later micro-batch, with an event time behind
    the advanced watermark, is dropped from state — the finalized
    append-mode window does NOT count it (while an on-time event in the
    same batch does land in its own open window)."""
    import glob as g
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    feed = str(tmp_path / "feed")
    os.makedirs(feed)

    def land(k, rows):
        df = spark.createDataFrame(rows, "event_id long, ts_s string").select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts")
        ).coalesce(1)
        stage = str(tmp_path / f"stage{k}")
        df.write.mode("overwrite").parquet(stage)
        (part,) = g.glob(f"{stage}/part-*.parquet")
        dst = f"{feed}/b{k}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (_time.time() - 3600 + k * 10,) * 2)

    # batch 0: three events in the 10:00 window + one at 12:00 that
    # advances the watermark (30 min) to 11:30
    land(0, [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:10:00"),
             (3, "2024-01-01 10:20:00"), (4, "2024-01-01 12:00:00")])
    # batch 1: on-time 13:00 — batch 1 runs under wm 11:30, which
    # finalizes+emits the 10:00 window (count 3) and advances wm to 12:30.
    # (Spark's late filter uses the watermark as of the batch's START, so
    # an event must arrive ≥2 batches late to be dropped — measured.)
    land(1, [(5, "2024-01-01 13:00:00")])
    # batch 2: a LATE event for the long-finalized 10:00 window — behind
    # the 12:30 watermark, must be dropped (no retro-count, no duplicate
    # append emission) — plus an on-time 14:30 event
    land(2, [(6, "2024-01-01 10:30:00"), (7, "2024-01-01 14:30:00")])

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("string").alias("start"), "n")
    )
    import tempfile

    name = "wm_drop_out"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    rows = spark.table(name).collect()
    ten = [r.n for r in rows if r.start == "2024-01-01 10:00:00"]
    # the 10:00 window finalized ONCE with THREE events: the late 10:30
    # arrival (event 6) was dropped — neither retro-counted nor emitted
    # as a duplicate append row for the same window
    assert ten == [3], rows


def test_read_media_dir_decodes_disk_files(spark, tmp_path):
    """Files-from-disk path: payloads written as real .ppm/.wav files,
    read back through the binaryFile source, and REAL-decoded — widths,
    durations, byte counts all must match the synthesizers exactly."""
    from good_enough_timecamp_data_pipeline_spark.operators.multimodal import (
        decode_ppm,
        decode_wav,
        extract_features,
        read_media_dir,
        synthesize_ppm,
        synthesize_wav,
    )

    media_dir = tmp_path / "media"
    media_dir.mkdir()
    want = {}
    for key in (2, 4, 6):
        b = synthesize_ppm(key, f"seed{key}")
        (media_dir / f"{key}.ppm").write_bytes(b)
        d = decode_ppm(b)
        want[key] = ("image/x-portable-pixmap", len(b), d["width"], d["height"], None)
    for key in (1, 3):
        b = synthesize_wav(key)
        (media_dir / f"{key}.wav").write_bytes(b)
        d = decode_wav(b)
        want[key] = ("audio/x-wav", len(b), None, None, d["duration_s"])
    (media_dir / "notes.txt").write_bytes(b"not media")

    media = read_media_dir(spark, str(media_dir), glob="*.{ppm,wav}")
    rows = {r.doc_id: r for r in media.collect()}
    assert set(rows) == set(want)
    for k, (mime, n, *_rest) in want.items():
        assert rows[k].meta.mime == mime and rows[k].meta.n_bytes == n
        assert rows[k].meta.source == "file"

    feats = {r.doc_id: r for r in extract_features(media, strict=True).collect()}
    for k, (mime, n, w, h, dur) in want.items():
        f = feats[k]
        assert f.mime == mime and f.n_bytes == n
        assert f.width == w and f.height == h
        if dur is None:
            assert f.duration_s is None
        else:
            assert abs(f.duration_s - dur) < 1e-9


def test_synthesize_wav_memo_bit_identical_and_bounded():
    """r15: synthesize_wav memoizes its ≤10 distinct payloads (params
    cycle with key % 10). The hit path must return bytes bit-identical
    to the uncached computation, and the cache must stay bounded."""
    from good_enough_timecamp_data_pipeline_spark.operators import multimodal as mm

    fresh = {}
    for key in range(1, 42, 2):  # odd keys, several full key%10 cycles
        mm._WAV_CACHE.clear()
        fresh[key] = mm.synthesize_wav(key)  # miss path = original code
    mm._WAV_CACHE.clear()
    for key in range(1, 42, 2):
        assert mm.synthesize_wav(key) == fresh[key]  # mix of miss+hit
    assert len(mm._WAV_CACHE) <= 10
    # keys sharing key % 10 share one payload object (the memo works)
    assert mm.synthesize_wav(3) is mm.synthesize_wav(23)
    # and decode still sees the true per-key params
    d = mm.decode_wav(mm.synthesize_wav(7))
    assert d["n_frames"] == 800 + (7 % 5) * 800 and d["framerate"] == 8000


# ---------------------------------------------------------------------------
# _sessionize_user stitch cases (r13 regression: continuation batches)
# ---------------------------------------------------------------------------


class _FakeGroupState:
    """Just enough of pyspark GroupState for driving _sessionize_user."""

    def __init__(self, value=None):
        self._value = value

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value


def _run_sessionize(state_tuple, ts_list):
    import pandas as pd

    from good_enough_timecamp_data_pipeline_spark.streaming.stateful import (
        _sessionize_user,
    )

    state = _FakeGroupState(state_tuple)
    out = list(
        _sessionize_user(
            (7,), iter([pd.DataFrame({"ts_us": ts_list})]), state
        )
    )
    emitted = [
        (int(r.session_start_us), int(r.session_end_us), int(r.n_events))
        for df in out
        for r in df.itertuples()
    ]
    return emitted, state.get


def test_sessionize_user_continuation_then_gap():
    """A batch that CONTINUES the open session and also contains a later
    in-batch gap: the merged first session must close (not be dropped),
    and the open tail must come from the post-gap segment."""
    from good_enough_timecamp_data_pipeline_spark.streaming.stateful import (
        SESSION_GAP_US as G,
    )

    emitted, carried = _run_sessionize((0, 10, 2), [20, 2 * G, 2 * G + 5])
    assert emitted == [(0, 20, 3)]
    assert carried == (2 * G, 2 * G + 5, 2)


def test_sessionize_user_pure_continuation_batch():
    """A batch with NO in-batch gap that continues the open session must
    emit nothing and extend the carried state (r12 code raised IndexError
    here)."""
    emitted, carried = _run_sessionize((0, 10, 2), [20, 30])
    assert emitted == []
    assert carried == (0, 30, 4)


def test_sessionize_user_batch_past_gap_closes_open_session():
    from good_enough_timecamp_data_pipeline_spark.streaming.stateful import (
        SESSION_GAP_US as G,
    )

    emitted, carried = _run_sessionize((0, 10, 2), [G + 20])
    assert emitted == [(0, 10, 2)]
    assert carried == (G + 20, G + 20, 1)


def test_sessionize_user_no_state_in_batch_gap():
    from good_enough_timecamp_data_pipeline_spark.streaming.stateful import (
        SESSION_GAP_US as G,
    )

    emitted, carried = _run_sessionize(None, [0, 5, 2 * G])
    assert emitted == [(0, 5, 2)]
    assert carried == (2 * G, 2 * G, 1)


def test_ewma_user_zero_row_chunks_preserve_state():
    """A non-empty iterator of ZERO-ROW Arrow chunks (distinct from an
    empty iterator) must emit nothing and keep the carried state —
    `not chunks` alone missed this and prev[0] raised IndexError
    (round-13 ADVICE)."""
    import pandas as pd

    from good_enough_timecamp_data_pipeline_spark.streaming.stateful import (
        _ewma_user,
    )

    empty = pd.DataFrame(
        {
            "user_id": pd.Series([], dtype="int64"),
            "ts_us": pd.Series([], dtype="int64"),
            "event_id": pd.Series([], dtype="int64"),
            "value": pd.Series([], dtype="float64"),
        }
    )
    state = _FakeGroupState((1.5, 3))
    out = list(_ewma_user((7,), iter([empty, empty]), state))
    assert sum(len(df) for df in out) == 0
    assert state.get == (1.5, 3)

    # empty-iterator case still behaves identically
    state2 = _FakeGroupState((2.5, 4))
    out2 = list(_ewma_user((7,), iter([]), state2))
    assert sum(len(df) for df in out2) == 0
    assert state2.get == (2.5, 4)


def test_run_finite_stream_parquet_sink_empty_output(spark, sf_dir, tmp_path):
    """The parquet file sink must round-trip a finite stream that emits
    ZERO rows: the sink's metadata log lists no files, so the read-back
    relies on the explicit schema (plain inference would fail)."""
    import os

    import pyspark.sql.functions as F

    from good_enough_timecamp_data_pipeline_spark.plans.testdata import (
        ensure_events_read_conf,
        normalize_events_ts,
    )
    from good_enough_timecamp_data_pipeline_spark.streaming.windows import (
        events_stream_schema,
        run_finite_stream,
    )

    ensure_events_read_conf(spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    stream = normalize_events_ts(
        spark.readStream.schema(events_stream_schema(spark, sf_dir)).parquet(src)
    ).filter(F.col("event_id") < -1)  # no such rows
    out = run_finite_stream(spark, stream, "empty_sink_test", sink="parquet")
    assert out.count() == 0
    assert "event_id" in out.columns


def test_run_finite_stream_rerun_bounds_sink_dirs(spark, sf_dir, tmp_path):
    """Re-running the same entry name must not accumulate sink dirs
    (round-14 ADVICE item 1): the previous call's dir is removed and the
    registry holds exactly one live dir per name."""
    import os

    import pyspark.sql.functions as F

    from good_enough_timecamp_data_pipeline_spark.plans.testdata import (
        ensure_events_read_conf,
        normalize_events_ts,
    )
    from good_enough_timecamp_data_pipeline_spark.streaming import windows as W

    ensure_events_read_conf(spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")

    def once():
        stream = normalize_events_ts(
            spark.readStream.schema(
                W.events_stream_schema(spark, sf_dir)
            ).parquet(src)
        ).filter(F.col("event_id") < -1)
        return W.run_finite_stream(
            spark, stream, "sink_dir_bound_test", sink="parquet"
        )

    once().count()
    first = W._FILE_SINK_DIRS["sink_dir_bound_test"]
    assert os.path.isdir(first)
    once().count()
    second = W._FILE_SINK_DIRS["sink_dir_bound_test"]
    assert second != first
    assert os.path.isdir(second)
    assert not os.path.exists(first)  # previous dir swept on re-run
    assert (
        sum(1 for n in W._FILE_SINK_DIRS if n == "sink_dir_bound_test") == 1
    )


def test_concurrent_stream_entries_restore_shuffle_partitions(spark, monkeypatch):
    """Two streams entered on threads, the first leaving first (the order
    in which per-stream save/restore pairs leave the stream value behind),
    then more threads than cores entering and leaving at random with a
    short switch interval: every stream runs at the stream value, and the
    conf ends at its prior value."""
    import random
    import sys
    import threading

    from good_enough_timecamp_data_pipeline_spark.streaming import windows as W

    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    monkeypatch.setattr(W, "stream_shards", lambda: "3")
    spark.conf.set(key, "7")
    entered = [threading.Event(), threading.Event()]
    leave = [threading.Event(), threading.Event()]
    seen = []

    def ordered(i):
        with W.stream_shuffle_partitions(spark):
            entered[i].set()
            leave[i].wait(30)
            seen.append(spark.conf.get(key))

    def stress(seed):
        rng = random.Random(seed)
        for _ in range(5):
            with W.stream_shuffle_partitions(spark):
                seen.append(spark.conf.get(key))
                time.sleep(rng.random() / 100)

    switch = sys.getswitchinterval()
    try:
        threads = [threading.Thread(target=ordered, args=(i,)) for i in (0, 1)]
        threads[0].start()
        assert entered[0].wait(30)
        threads[1].start()
        assert entered[1].wait(30)
        for i in (0, 1):
            leave[i].set()
            threads[i].join(30)
        assert not any(t.is_alive() for t in threads)
        assert seen == ["3", "3"] and spark.conf.get(key) == "7"

        sys.setswitchinterval(1e-6)
        threads = [threading.Thread(target=stress, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
        assert seen == ["3"] * (2 + 12 * 5) and spark.conf.get(key) == "7"
    finally:
        sys.setswitchinterval(switch)
        spark.conf.set(key, prior)
