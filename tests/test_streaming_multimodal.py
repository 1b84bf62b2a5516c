"""Streaming stateful framing + multimodal binary plumbing."""

from __future__ import annotations

import numpy as np
import pytest

from audio_feature_extraction_spark.core.config import FrameSpec
from audio_feature_extraction_spark.core.schemas import TOKEN_SEQUENCES
from audio_feature_extraction_spark.multimodal import binary
from audio_feature_extraction_spark.operators import framing
from audio_feature_extraction_spark.streaming import stream

SPEC = FrameSpec(frame_len=16, hop=8)


def _mkdf(spark, seqs):
    return spark.createDataFrame(
        [(f"doc_{i}", t, len(t), "web") for i, t in enumerate(seqs)],
        schema=TOKEN_SEQUENCES,
    )


def test_emit_frames_recurrence():
    spec = FrameSpec(frame_len=4, hop=2)
    # feed [0..9] in two chunks, then flush
    frames, pos, tail, nf = stream._emit_frames(list(range(6)), 0, 0, spec, False)
    assert frames == [(0, [0, 1, 2, 3]), (1, [2, 3, 4, 5])]
    assert pos == 4 and tail == [4, 5]
    frames2, pos2, tail2, nf2 = stream._emit_frames(
        tail + list(range(6, 10)), pos, nf, spec, False
    )
    assert frames2 == [(2, [4, 5, 6, 7]), (3, [6, 7, 8, 9])]
    frames3, _, _, _ = stream._emit_frames(tail2 + [], pos2, nf2, spec, True)
    assert frames3 == [(4, [8, 9])]  # flush emits the tail frame


@pytest.mark.parametrize("chunk_size", [5, 16, 7])
def test_chunked_equals_batch_framing(spark, chunk_size):
    seqs = [list(range(100, 140)), list(range(7)), [1] * 16]
    tok = _mkdf(spark, seqs)
    chunks = stream.chunk_table(tok, chunk_size)
    got = sorted(
        (r.doc_id, r.frame_id, tuple(r.frame_tokens))
        for r in stream.chunked_frame_features(chunks, SPEC).collect()
    )
    exp = sorted(
        (r.doc_id, r.frame_id, tuple(r.frame_tokens))
        for r in framing.frame_table(tok, SPEC).collect()
    )
    assert got == exp


def test_stateful_streaming_carries_state(spark, tmp_path):
    """Real Structured Streaming run: two micro-batches of chunk files;
    state must carry the buffer across them."""
    spec = FrameSpec(frame_len=4, hop=2)
    src = tmp_path / "chunks"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(path, rows):
        spark.createDataFrame(rows, stream.CHUNK_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)

    # batch 1: first 6 tokens; batch 2: next 4
    write_batch(str(src / "b1"), [("d", 0, [0, 1, 2, 3]), ("d", 1, [4, 5])])

    chunks = (
        spark.readStream.schema(stream.CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    frames = stream.stateful_frames(chunks, spec)
    q = (
        frames.writeStream.format("memory")
        .queryName("frames_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch(str(src / "b2"), [("d", 2, [6, 7]), ("d", 3, [8, 9])])
        q.processAllAvailable()
        got = sorted(
            (r.frame_id, tuple(r.frame_tokens))
            for r in spark.sql("select * from frames_out").collect()
        )
    finally:
        q.stop()
    # all full frames over [0..9]: state crossed the micro-batch boundary
    assert got == [
        (0, (0, 1, 2, 3)),
        (1, (2, 3, 4, 5)),
        (2, (4, 5, 6, 7)),
        (3, (6, 7, 8, 9)),
    ]


@pytest.mark.slow
def test_stream_extract_with_restart(spark, tmp_path):
    """Full streaming pipeline across a STOP/RESTART boundary: the
    checkpoint resumes both the source offset and the buffer state; the
    final dataset equals batch featurization of the full sequences."""
    spec = FrameSpec(frame_len=4, hop=2)
    src = tmp_path / "in"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    def write_batch(name, rows):
        spark.createDataFrame(rows, stream.CHUNK_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    toks = list(range(200, 214))  # 14 tokens
    write_batch("b1", [("d", 0, toks[:6])])

    def start():
        chunks = (
            spark.readStream.schema(stream.CHUNK_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        return stream.stream_feature_extract(chunks, out, ckpt, spec)

    q = start()
    q.processAllAvailable()
    q.stop()  # simulated shutdown mid-stream

    write_batch("b2", [("d", 1, toks[6:])])
    q = start()  # restart from checkpoint
    q.processAllAvailable()
    q.stop()

    got = {
        r.frame_id: (list(r.frame_tokens), list(r.features))
        for r in spark.read.parquet(out).collect()
    }
    # streaming never flushes the ragged tail (it cannot know the stream
    # ended) — expect exactly the full frames of the batch grid
    from audio_feature_extraction_spark.operators import framing
    from audio_feature_extraction_spark.core.schemas import TOKEN_SEQUENCES

    batch = spark.createDataFrame(
        [("d", toks, len(toks), "web")], schema=TOKEN_SEQUENCES
    )
    exp = {
        r.frame_id: (list(r.frame_tokens), list(r.features))
        for r in framing.frame_features_sql(batch, spec).collect()
        if len(r.frame_tokens) == spec.frame_len
    }
    assert got == exp
    assert len(got) > 2  # frames from both sides of the restart


def test_stream_trigger_compiles_nothing_when_warm(spark, tmp_path):
    """A warm trigger of the stateful stream generates no new classes:
    the state encoder, the frame kernel's plan and the sink all hit the
    codegen cache. A state schema with an array field makes Spark
    generate a fresh state encoder, and so compile, on every trigger."""
    spec = FrameSpec(frame_len=4, hop=2)
    src = tmp_path / "in"
    src.mkdir()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    chunks = (
        spark.readStream.schema(stream.CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = stream.stream_feature_extract(
        chunks, str(tmp_path / "out"), str(tmp_path / "ck"), spec
    )
    per_trigger = []
    try:
        for i in range(5):
            # docs carried from the previous trigger and one new doc
            rows = [(f"d{j}", i, list(range(10 * i, 10 * i + 5)))
                    for j in range(i + 1)]
            spark.createDataFrame(rows, stream.CHUNK_SCHEMA).coalesce(
                1
            ).write.parquet(str(src / f"b{i}"))
            before = codegen.METRIC_COMPILATION_TIME().getCount()
            q.processAllAvailable()
            per_trigger.append(
                codegen.METRIC_COMPILATION_TIME().getCount() - before
            )
    finally:
        q.stop()
    # the first two triggers warm up (the second is the first to read state)
    assert per_trigger[2:] == [0, 0, 0], per_trigger


@pytest.mark.slow
def test_stream_latency_listener(spark, tmp_path):
    """≙ LatencyMonitor (design.md:2005-2061): per-micro-batch trigger
    durations are recorded against the budget by a real listener."""
    spec = FrameSpec(frame_len=4, hop=2)
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [("d", 0, [1, 2, 3, 4, 5, 6])], stream.CHUNK_SCHEMA
    ).coalesce(1).write.parquet(str(src / "b1"))
    chunks = (
        spark.readStream.schema(stream.CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q, listener = stream.stream_feature_extract(
        chunks, str(tmp_path / "o"), str(tmp_path / "c"), spec,
        latency_budget_ms=100.0,
    )
    try:
        q.processAllAvailable()
        # listener events arrive asynchronously — wait briefly
        import time as _t

        for _ in range(40):
            if any(s.total > 0 for s in listener.stats.values()):
                break
            _t.sleep(0.25)
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    recorded = [s for s in listener.stats.values() if s.total > 0]
    assert recorded, "no micro-batch latency recorded"
    rep = recorded[0].report()
    assert rep["n"] >= 1 and rep["window_max_ms"] > 0
    assert rep["budget_ms"] == 100.0


def test_session_window_matches_sessionize(spark):
    """Native session_window (streaming twin) agrees with the cumsum
    sessionize on session boundaries and per-session counts."""
    import datetime as dt

    from audio_feature_extraction_spark.core.schemas import EVENTS
    from audio_feature_extraction_spark.operators import sessionize as sz

    T0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, T0 + dt.timedelta(minutes=m), 1, "click", 1.0, None)
        for i, m in enumerate([0, 10, 50, 55, 200])
    ]
    rows = [(i + 1, r[1], r[2], r[3], r[4], r[5]) for i, r in enumerate(rows)]
    rows.append((6, T0, 2, "click", 1.0, None))
    ev = spark.createDataFrame(rows, schema=EVENTS)

    batch_sessions = {
        (r.user_id, r.session_id): r.n_events
        for r in sz.session_summary(ev, 1800.0).collect()
    }
    # session_window also runs in batch mode (no watermark needed)
    from pyspark.sql import functions as F

    sw = (
        ev.groupBy("user_id", F.session_window("ts", "1800 seconds"))
        .agg(F.count("*").alias("n_events"))
        .collect()
    )
    native = sorted((r.user_id, r.n_events) for r in sw)
    cumsum = sorted((uid, n) for (uid, _), n in batch_sessions.items())
    assert native == cumsum  # same sessions, same sizes


def test_latency_stats():
    from audio_feature_extraction_spark.plans.metrics import LatencyStats

    s = LatencyStats(window=3, budget_ms=100.0)
    for ms in (50, 150, 60, 70, 80):
        s.record(ms)
    rep = s.report()
    assert rep["n"] == 5
    assert rep["violations"] == 1
    assert rep["window_max_ms"] == 80  # window holds last 3 only
    assert abs(rep["window_avg_ms"] - 70.0) < 1e-9


def test_media_features_deterministic(spark):
    media = binary.synthetic_media(spark, 9)
    out1 = {
        r.media_id: tuple(r.features)
        for r in binary.extract_media_features(media, dim=8).collect()
    }
    out2 = {
        r.media_id: tuple(r.features)
        for r in binary.extract_media_features(media, dim=8).collect()
    }
    assert out1 == out2
    assert all(len(v) == 8 for v in out1.values())
    assert len(out1) == 9


def test_media_decode_stub_raises_without_codec(spark):
    # image raises NotImplementedError (no codec libs); audio with
    # non-WAV bytes fails loudly in the real RIFF parser
    media = binary.synthetic_media(spark, 3)
    with pytest.raises(Exception, match="NotImplementedError|codec|RIFF"):
        binary.extract_media_features(media, decode_stub=False).collect()


def test_video_frame_sampling(spark):
    media = binary.synthetic_media(spark, 9)
    out = binary.sample_video_frames(media, every_n=2).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    # videos have n_frames=6, sampled every 2 -> idx 0,2,4
    assert all(sorted(v) == [0, 2, 4] for v in by_media.values())
    assert all(len(r.frame_payload) > 0 for r in out)


# ---------------------------------------------------------------------------
# real WAV decode path (pure-numpy codec behind the multimodal seam)
# ---------------------------------------------------------------------------

def _sine(n=480, sr=16000):
    t = np.arange(n, dtype=np.float64) / sr
    return 0.5 * np.sin(2 * np.pi * 440.0 * t)


def test_wav_pcm16_roundtrip():
    from audio_feature_extraction_spark.multimodal import wav

    sig = _sine()
    payload = wav.encode_pcm16(sig, 16000)
    dec, sr = wav.decode_wav(payload)
    assert sr == 16000 and len(dec) == len(sig)
    # 16-bit quantization: exact to within half an LSB
    assert np.abs(dec - sig).max() <= 0.5 / 32768.0 + 1e-12


def test_wav_formats_and_mixdown():
    from audio_feature_extraction_spark.multimodal import wav

    # stereo float32: mixdown = channel mean
    sr = 8000
    left = np.array([0.5, -0.5, 0.25], dtype=np.float32)
    right = np.array([0.0, 0.5, 0.75], dtype=np.float32)
    inter = np.empty(6, dtype="<f4"); inter[0::2] = left; inter[1::2] = right
    data = inter.tobytes()
    fmt = (3).to_bytes(2, "little") + (2).to_bytes(2, "little") + \
        sr.to_bytes(4, "little") + (sr * 8).to_bytes(4, "little") + \
        (8).to_bytes(2, "little") + (32).to_bytes(2, "little")
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt + \
        b"data" + len(data).to_bytes(4, "little") + data
    payload = b"RIFF" + len(body).to_bytes(4, "little") + body
    dec, got_sr = wav.decode_wav(payload)
    assert got_sr == sr
    np.testing.assert_allclose(dec, (left.astype(np.float64) + right) / 2.0)
    # 8-bit unsigned PCM: 128 -> 0.0
    fmt8 = (1).to_bytes(2, "little") + (1).to_bytes(2, "little") + \
        sr.to_bytes(4, "little") + sr.to_bytes(4, "little") + \
        (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
    d8 = bytes([128, 255, 0])
    body8 = b"WAVE" + b"fmt " + len(fmt8).to_bytes(4, "little") + fmt8 + \
        b"data" + len(d8).to_bytes(4, "little") + d8
    dec8, _ = wav.decode_wav(b"RIFF" + len(body8).to_bytes(4, "little") + body8)
    np.testing.assert_allclose(dec8, [0.0, 127 / 128.0, -1.0])


def test_wav_rejects_non_wav():
    from audio_feature_extraction_spark.multimodal import wav

    with pytest.raises(ValueError):
        wav.decode_wav(b"\x00" * 64)


def test_extract_media_features_real_audio(spark):
    """decode_stub=False decodes real WAV payloads end-to-end through the
    Arrow-batched plumbing (VERDICT r01 missing #2)."""
    from audio_feature_extraction_spark.multimodal import wav
    from audio_feature_extraction_spark.multimodal.binary import (
        MEDIA_SCHEMA,
        _signal_features,
        extract_media_features,
    )

    sig = _sine()
    payload = wav.encode_pcm16(sig, 16000)
    meta = {"width": None, "height": None, "sample_rate": 16000,
            "n_frames": None, "codec": "pcm16"}
    media = spark.createDataFrame(
        [("m0", "audio", payload, meta)], schema=MEDIA_SCHEMA
    )
    (row,) = extract_media_features(media, dim=8, decode_stub=False).collect()
    dec, _ = wav.decode_wav(payload)
    np.testing.assert_allclose(
        np.array(row.features), _signal_features(dec, 8), rtol=0, atol=0
    )
    assert row.n_bytes == len(payload)


def test_extract_media_features_real_video_mjpeg_and_seam(spark):
    """Video decodes FOR REAL in the executor kernel for the MJPEG-AVI
    profile; inter-coded payloads degrade to per-row errors at the
    documented seam (never a job failure)."""
    import numpy as np

    from audio_feature_extraction_spark.multimodal import avi as A
    from audio_feature_extraction_spark.multimodal import jpeg as J
    from audio_feature_extraction_spark.multimodal.binary import (
        MEDIA_SCHEMA,
        extract_media_features,
    )

    h, w = 16, 16
    frames = []
    for f in range(4):
        img = ((np.arange(h)[:, None] * 3 + np.arange(w)[None, :] * 5
                + f * 11) % 256).astype(np.uint8)
        frames.append(J.encode_jpeg(img, quality=2))
    mjpeg = A.build_mjpeg_avi(frames, w, h, fps=4)
    meta = {"width": w, "height": h, "sample_rate": None,
            "n_frames": 4, "codec": "mjpg"}
    media = spark.createDataFrame(
        [("m_mjpeg", "video", mjpeg, meta),
         ("m_h264", "video", b"\x00\x00\x01garbage", meta)],
        schema=MEDIA_SCHEMA,
    )
    out = {
        r.media_id: r
        for r in extract_media_features(
            media, dim=4, decode_stub=False, on_error="skip"
        ).collect()
    }
    assert out["m_mjpeg"].error is None
    assert len(out["m_mjpeg"].features) == 4
    assert out["m_h264"].features is None
    assert out["m_h264"].error is not None


@pytest.mark.slow
def test_state_ttl_flushes_idle_doc(spark, tmp_path):
    """T5 state-reset lifecycle: a doc idle past flush_timeout_seconds has
    its buffered tail flushed as final short frames and its state dropped.

    NOTE: with ProcessingTimeTimeout Spark keeps scheduling timeout-sweep
    micro-batches, so processAllAvailable() never settles — the test polls
    the memory sink instead (a paced processingTime trigger bounds the
    sweep rate, as a production deployment would)."""
    import time as _t

    spec = FrameSpec(frame_len=4, hop=2)
    src = tmp_path / "chunks"
    src.mkdir()

    def write_batch(path, rows):
        spark.createDataFrame(rows, stream.CHUNK_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)

    def poll(pred, deadline=90.0):
        t0 = _t.time()
        while _t.time() - t0 < deadline:
            rows = {
                (r.doc_id, r.frame_id, tuple(r.frame_tokens))
                for r in spark.sql("select * from ttl_out").collect()
            }
            if pred(rows):
                return rows
            _t.sleep(0.5)
        raise AssertionError(f"poll deadline: {rows}")

    # doc 'd': 6 tokens -> frames 0,1 emitted, tail [4, 5] buffered
    write_batch(str(src / "b1"), [("d", 0, [0, 1, 2, 3, 4, 5])])
    chunks = (
        spark.readStream.schema(stream.CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    frames = stream.stateful_frames(chunks, spec, flush_timeout_seconds=1.0)
    q = (
        frames.writeStream.format("memory")
        .queryName("ttl_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        poll(lambda rows: ("d", 1, (2, 3, 4, 5)) in rows)
        # idle past the TTL: the sweep flushes the tail as frame 2
        got = poll(lambda rows: ("d", 2, (4, 5)) in rows)
    finally:
        q.stop()
    assert ("d", 0, (0, 1, 2, 3)) in got
    assert ("d", 1, (2, 3, 4, 5)) in got
    assert ("d", 2, (4, 5)) in got


def test_extract_media_skip_and_log_recovery(spark):
    """design.md §9.2 recovery: a corrupt payload among good ones yields
    an error row (null features, reason recorded) while the rest decode —
    the job survives (on_error='skip')."""
    from audio_feature_extraction_spark.multimodal import wav
    from audio_feature_extraction_spark.multimodal.binary import (
        MEDIA_SCHEMA,
        extract_media_features,
    )

    good = wav.encode_pcm16(_sine(64), 8000)
    meta = {"width": None, "height": None, "sample_rate": 8000,
            "n_frames": None, "codec": "pcm16"}
    media = spark.createDataFrame(
        [
            ("ok", "audio", good, meta),
            ("bad", "audio", b"\x00garbage", meta),
            ("img", "image", b"\x89PNG", meta),
        ],
        schema=MEDIA_SCHEMA,
    )
    rows = {
        r.media_id: r
        for r in extract_media_features(
            media, dim=4, decode_stub=False, on_error="skip"
        ).collect()
    }
    assert rows["ok"].error is None and len(rows["ok"].features) == 4
    assert rows["bad"].features is None and "LoadError" in rows["bad"].error
    assert rows["img"].features is None and "LoadError" in rows["img"].error
    # raise mode still fails fast on the same input
    with pytest.raises(Exception, match="LoadError|RIFF|NotImplementedError"):
        extract_media_features(media, dim=4, decode_stub=False).collect()


def test_error_hierarchy():
    """≙ design.md:2349-2377 §9.1: one base, typed subclasses, ValueError
    compatibility for existing callers."""
    from audio_feature_extraction_spark.core import errors
    from audio_feature_extraction_spark.core.config import FrameSpec
    from audio_feature_extraction_spark.multimodal import wav

    with pytest.raises(errors.InvalidConfigError):
        FrameSpec(frame_len=0)
    with pytest.raises(errors.LoadError):
        wav.decode_wav(b"nope")
    for exc in (errors.LoadError, errors.FeatureExtractionError,
                errors.InvalidConfigError):
        assert issubclass(exc, errors.EngineError)
        assert issubclass(exc, ValueError)


def test_bmp_roundtrip_and_png_filters():
    """BMP encode/decode round-trips exactly; PNG decodes every filter
    type (rows hand-filtered per the spec inverse)."""
    import struct
    import zlib

    from audio_feature_extraction_spark.multimodal import image as img

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(5, 4, 3)).astype(np.uint8)
    np.testing.assert_array_equal(img.decode_bmp(img.encode_bmp(rgb)), rgb)
    np.testing.assert_array_equal(img.decode_png(img.encode_png(rgb)), rgb)

    # craft a PNG using filters 0..4, one per row
    h, w, nch = rgb.shape[0], rgb.shape[1], 3
    stride = w * nch
    flat = rgb.reshape(h, stride).astype(np.int32)
    raw = b""
    prev = np.zeros(stride, dtype=np.int32)
    for y, ft in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        filt = np.empty(stride, dtype=np.int32)
        for x in range(stride):
            a = cur[x - nch] if x >= nch else 0
            b = prev[x]
            c = prev[x - nch] if x >= nch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (cur[x] - pred) & 0xFF
        raw += bytes([ft]) + filt.astype(np.uint8).tobytes()
        prev = cur

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    np.testing.assert_array_equal(img.decode_png(payload), rgb)


def test_image_decode_rejects_unknown():
    from audio_feature_extraction_spark.core.errors import LoadError
    from audio_feature_extraction_spark.multimodal import image as img

    with pytest.raises(LoadError):
        img.decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")


def test_extract_media_features_real_image(spark):
    """Real PNG payloads decode end-to-end through the Arrow plumbing."""
    from audio_feature_extraction_spark.multimodal import image as img
    from audio_feature_extraction_spark.multimodal.binary import (
        MEDIA_SCHEMA,
        _signal_features,
        extract_media_features,
    )

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, size=(8, 8, 3)).astype(np.uint8)
    payload = img.encode_png(rgb)
    meta = {"width": 8, "height": 8, "sample_rate": None,
            "n_frames": None, "codec": "png"}
    media = spark.createDataFrame(
        [("p0", "image", payload, meta)], schema=MEDIA_SCHEMA
    )
    (row,) = extract_media_features(media, dim=4, decode_stub=False).collect()
    exp = _signal_features(img.decode_image(payload).ravel(), 4)
    np.testing.assert_allclose(np.array(row.features), exp, rtol=0, atol=0)


# ---------------------------------------------------------------------------
# FLAC codec (multimodal/flac.py)
# ---------------------------------------------------------------------------

def test_flac_roundtrip_all_subframe_types():
    """decode(encode(x)) is bit-exact for every subframe type the
    decoder supports: verbatim, constant, fixed 1/2 (rice and escaped
    partitions), order-1 LPC."""
    import numpy as np

    from audio_feature_extraction_spark.multimodal.flac import (
        decode_flac,
        encode_flac,
    )

    rng = np.random.default_rng(11)
    # smooth-ish signal so rice-coded residuals stay small
    x = np.round(
        3000 * np.sin(np.arange(9000) / 25.0)
        + rng.integers(-40, 40, size=9000)
    ).astype(np.int64)
    for mode, rp in [
        ("verbatim", 6),
        ("fixed1", 6),
        ("fixed2", 6),
        ("fixed2", None),   # escaped raw partition
        ("lpc1", None),
    ]:
        payload = encode_flac(x, 22050, subframe=mode, rice_param=rp)
        sig, sr = decode_flac(payload)
        back = np.round(sig * 32768).astype(np.int64)
        assert sr == 22050 and np.array_equal(back, x), mode

    const = np.full(5000, -321, dtype=np.int64)
    sig, sr = decode_flac(encode_flac(const, 8000, subframe="constant",
                                      block_size=1000))
    assert sr == 8000
    assert np.array_equal(np.round(sig * 32768).astype(np.int64), const)


def test_flac_mid_side_stereo_mixdown():
    """Hand-built mid/side frame: the decoder reconstructs L/R exactly
    and mixes down by channel mean (same convention as decode_wav)."""
    import numpy as np

    from audio_feature_extraction_spark.multimodal import flac as fl

    left = np.array([100, -200, 300, -400, 500, -600, 700, -800], np.int64)
    right = np.array([90, -180, 270, -360, 450, -540, 630, -720], np.int64)
    mid, side = (left + right) >> 1, left - right
    n = len(left)

    head = fl._BitWriter()
    head.write(int.from_bytes(b"fLaC", "big"), 32)
    head.write(0x80, 8); head.write(34, 24)
    head.write(n, 16); head.write(n, 16)
    head.write(0, 24); head.write(0, 24)
    head.write(16000, 20)
    head.write(1, 3)          # channels - 1 = 1 (stereo)
    head.write(15, 5)         # bps - 1
    head.write(n, 36)
    for _ in range(16):
        head.write(0, 8)

    w = fl._BitWriter()
    w.write(0x3FFE, 14); w.write(0, 1); w.write(0, 1)
    w.write(7, 4)             # 16-bit blocksize at end of header
    w.write(0, 4)             # sample rate from STREAMINFO
    w.write(10, 4)            # mid/side
    w.write(4, 3); w.write(0, 1)
    w.write(0, 8)             # frame number 0
    w.write(n - 1, 16)
    w.align()
    w.write(fl._crc8(bytes(w.buf)), 8)
    for vals, bits in ((mid, 16), (side, 17)):
        w.write(0, 1)         # padding
        w.write(1, 6)         # VERBATIM
        w.write(0, 1)         # no wasted bits
        for v in vals:
            w.write(int(v), bits)
    w.align()
    w.write(fl._crc16(bytes(w.buf)), 16)
    payload = head.bytes() + w.bytes()

    sig, sr = fl.decode_flac(payload)
    assert sr == 16000
    expect = (left + right) / 2.0 / 32768.0
    assert np.allclose(sig, expect, atol=0, rtol=0)


def test_flac_corrupt_payloads_raise_loaderror():
    import numpy as np
    import pytest

    from audio_feature_extraction_spark.core.errors import LoadError
    from audio_feature_extraction_spark.multimodal.flac import (
        decode_flac,
        encode_flac,
    )

    with pytest.raises(LoadError):
        decode_flac(b"NOTF" + b"\x00" * 60)
    good = bytearray(encode_flac(np.arange(100, dtype=np.int64), 8000))
    good[-3] ^= 0xFF          # flip a bit inside the last frame body
    with pytest.raises(LoadError):
        decode_flac(bytes(good))


def test_extract_media_features_real_flac(spark):
    """FLAC payloads flow through the real-decode seam end-to-end."""
    import numpy as np

    from audio_feature_extraction_spark.multimodal import binary as mm
    from audio_feature_extraction_spark.multimodal.flac import encode_flac

    x = np.round(8000 * np.sin(np.arange(4000) / 16.0)).astype(np.int64)
    rows = [("fa", "audio", bytearray(encode_flac(x, 16000)),
             (None, None, 16000, None, "flac"))]
    df = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    out = mm.extract_media_features(df, dim=8, decode_stub=False).collect()
    assert len(out) == 1 and len(out[0].features) == 8
    assert max(out[0].features) > 0.0


# ---------------------------------------------------------------------------
# streaming point-in-time serving (streaming/pit.py)
# ---------------------------------------------------------------------------

def test_stream_pit_serve_matches_batch_asof(spark, tmp_path):
    """In-order history replayed through a real two-trigger streaming
    query serves every probe exactly like the batch as-of join."""
    import datetime as dt

    from audio_feature_extraction_spark.operators import asof
    from audio_feature_extraction_spark.streaming import pit

    t0 = dt.datetime(2026, 1, 1)

    def ev(eid, minutes, user, etype, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype, value)

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double")
    batch1 = [
        ev(0, 0, 1, "click", 1.0),
        ev(1, 5, 1, "view", None),       # probe -> 1.0
        ev(2, 6, 2, "view", None),       # probe, no state -> null
        ev(3, 8, 1, "click", None),      # transparent null state
        ev(4, 9, 1, "view", None),       # probe -> still 1.0
    ]
    batch2 = [
        ev(5, 10, 1, "click", 7.0),
        ev(6, 11, 1, "view", None),      # probe -> 7.0 (state crossed batch)
        ev(7, 12, 2, "click", 3.0),
        ev(8, 400, 2, "view", None),     # probe -> TTL-expired below
    ]
    src = tmp_path / "ev"
    src.mkdir()
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))

    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    tagged = pit.tag_pit_stream(
        events, "event_type = 'view'", "event_type = 'click'"
    )
    served = pit.stream_pit_serve(tagged, max_staleness_seconds=3600.0)
    q = (
        served.writeStream.format("memory")
        .queryName("pit_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
            str(src / "b2")
        )
        q.processAllAvailable()
        got = {
            r.event_id: (r.asof_value, r.asof_ts)
            for r in spark.sql("select * from pit_out").collect()
        }
    finally:
        q.stop()

    all_events = spark.createDataFrame(batch1 + batch2, schema)
    expect = {
        r.event_id: (r.asof_value, r.asof_ts)
        for r in asof.asof_join(
            all_events.where("event_type = 'view'"),
            all_events.where("event_type = 'click'"),
            max_staleness_seconds=3600.0,
        ).collect()
    }
    assert got == expect and len(got) == 5
    assert got[1] == (1.0, t0)               # served across the null state
    assert got[2][0] is None                 # probe before any state
    assert got[6][0] == 7.0                  # state carried across triggers
    assert got[8][0] is None                 # TTL expired


def test_stream_pit_late_probe_not_served_future_state(spark, tmp_path):
    """ADVICE r03: a probe arriving in a LATER micro-batch than a
    newer-timestamped state must never be served that future state —
    temporal leakage relative to the batch as-of join this operator
    twins. With the two-deep carry it is served the PREV-slot state
    when that one is genuinely earlier (here: the batch join's exact
    answer), and null when even prev is in its future."""
    import datetime as dt

    from audio_feature_extraction_spark.streaming import pit

    t0 = dt.datetime(2026, 1, 1)

    def ev(eid, minutes, user, etype, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype, value)

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double")
    batch1 = [
        ev(0, 10, 1, "click", 1.0),
        ev(1, 20, 1, "click", 9.0),      # carry: last ts=20, prev ts=10
    ]
    batch2 = [
        ev(2, 15, 1, "view", None),      # LATE probe: prev (ts=10) serves
        ev(4, 5, 1, "view", None),       # LATE probe before prev too: null
        ev(3, 25, 1, "view", None),      # in-order probe -> 9.0
    ]
    src = tmp_path / "ev"
    src.mkdir()
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    tagged = pit.tag_pit_stream(
        events, "event_type = 'view'", "event_type = 'click'"
    )
    served = pit.stream_pit_serve(tagged, max_staleness_seconds=3600.0)
    q = (
        served.writeStream.format("memory")
        .queryName("pit_late_probe")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
            str(src / "b2")
        )
        q.processAllAvailable()
        got = {
            r.event_id: (r.asof_value, r.asof_ts)
            for r in spark.sql("select * from pit_late_probe").collect()
        }
    finally:
        q.stop()
    # late probe: the prev-slot state (the batch join's answer), NEVER
    # the future 9.0@20
    assert got[2] == (1.0, t0 + dt.timedelta(minutes=10))
    assert got[4] == (None, None)  # older than every known state: null
    assert got[3] == (9.0, t0 + dt.timedelta(minutes=20))


def test_flac_left_side_and_right_side_stereo():
    """Hand-built left/side and right/side frames reconstruct L/R
    exactly (side channel carries bps+1 bits)."""
    import numpy as np

    from audio_feature_extraction_spark.multimodal import flac as fl

    left = np.array([1000, -2000, 3000, -4000], np.int64)
    right = np.array([900, -1800, 2700, -3600], np.int64)
    n = len(left)

    def build(chan_code, ch0, ch0_bits, ch1, ch1_bits):
        head = fl._BitWriter()
        head.write(int.from_bytes(b"fLaC", "big"), 32)
        head.write(0x80, 8); head.write(34, 24)
        head.write(n, 16); head.write(n, 16)
        head.write(0, 24); head.write(0, 24)
        head.write(8000, 20)
        head.write(1, 3)
        head.write(15, 5)
        head.write(n, 36)
        for _ in range(16):
            head.write(0, 8)
        w = fl._BitWriter()
        w.write(0x3FFE, 14); w.write(0, 1); w.write(0, 1)
        w.write(7, 4); w.write(0, 4)
        w.write(chan_code, 4)
        w.write(4, 3); w.write(0, 1)
        w.write(0, 8)
        w.write(n - 1, 16)
        w.align()
        w.write(fl._crc8(bytes(w.buf)), 8)
        for vals, bits in ((ch0, ch0_bits), (ch1, ch1_bits)):
            w.write(0, 1); w.write(1, 6); w.write(0, 1)
            for v in vals:
                w.write(int(v), bits)
        w.align()
        w.write(fl._crc16(bytes(w.buf)), 16)
        return head.bytes() + w.bytes()

    expect = (left + right) / 2.0 / 32768.0
    side = left - right
    # chan 8 = left/side: channels are (left @16, side @17)
    sig, _ = fl.decode_flac(build(8, left, 16, side, 17))
    assert np.array_equal(sig, expect)
    # chan 9 = right/side: channels are (side @17, right @16)
    sig, _ = fl.decode_flac(build(9, side, 17, right, 16))
    assert np.array_equal(sig, expect)


def test_stream_pit_serve_multi_matches_batch(spark, tmp_path):
    """Multi-source online serving == batch asof_join_multi over an
    in-order two-trigger replay."""
    import datetime as dt

    from audio_feature_extraction_spark.operators import asof
    from audio_feature_extraction_spark.streaming import pit

    t0 = dt.datetime(2026, 1, 1)

    def ev(eid, minutes, user, etype, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype, value)

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double")
    batch1 = [
        ev(0, 0, 1, "click", 1.0),
        ev(1, 2, 1, "purchase", 5.0),
        ev(2, 5, 1, "view", None),
        ev(3, 6, 2, "view", None),
    ]
    batch2 = [
        ev(4, 10, 1, "click", 2.0),
        ev(5, 11, 1, "view", None),
        ev(6, 12, 2, "purchase", 9.0),
        ev(7, 13, 2, "view", None),
    ]
    src = tmp_path / "ev"
    src.mkdir()
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    tagged = pit.tag_pit_stream_multi(
        events,
        "event_type = 'view'",
        {"click": "event_type = 'click'", "purchase": "event_type = 'purchase'"},
    )
    served = pit.stream_pit_serve_multi(tagged, ["click", "purchase"])
    q = (
        served.writeStream.format("memory")
        .queryName("pit_multi_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
            str(src / "b2")
        )
        q.processAllAvailable()
        got = {
            r.event_id: (r.asof_click, r.asof_click_ts,
                         r.asof_purchase, r.asof_purchase_ts)
            for r in spark.sql("select * from pit_multi_out").collect()
        }
    finally:
        q.stop()

    all_events = spark.createDataFrame(batch1 + batch2, schema)
    expect = {
        r.event_id: (r.asof_click, r.asof_click_ts,
                     r.asof_purchase, r.asof_purchase_ts)
        for r in asof.asof_join_multi(
            all_events.where("event_type = 'view'"),
            {
                "click": all_events.where("event_type = 'click'"),
                "purchase": all_events.where("event_type = 'purchase'"),
            },
        ).collect()
    }
    assert got == expect and len(got) == 4
    assert got[5][0] == 2.0 and got[5][2] == 5.0  # state crossed triggers
    assert got[3] == (None, None, None, None)


def test_flac_wasted_bits_and_many_frames():
    """Wasted-bits subframes shift back correctly, and the UTF-8 frame
    number survives past 127 frames (2-byte encoding)."""
    import numpy as np

    from audio_feature_extraction_spark.multimodal import flac as fl

    # --- wasted bits: hand-build one frame whose samples are all even;
    # store them >>1 with wasted=1 and expect exact reconstruction
    vals = np.array([2, -4, 6, -8, 10, -12], np.int64)
    n = len(vals)
    head = fl._BitWriter()
    head.write(int.from_bytes(b"fLaC", "big"), 32)
    head.write(0x80, 8); head.write(34, 24)
    head.write(n, 16); head.write(n, 16)
    head.write(0, 24); head.write(0, 24)
    head.write(8000, 20); head.write(0, 3); head.write(15, 5)
    head.write(n, 36)
    for _ in range(16):
        head.write(0, 8)
    w = fl._BitWriter()
    w.write(0x3FFE, 14); w.write(0, 1); w.write(0, 1)
    w.write(7, 4); w.write(0, 4); w.write(0, 4); w.write(4, 3); w.write(0, 1)
    w.write(0, 8); w.write(n - 1, 16)
    w.align(); w.write(fl._crc8(bytes(w.buf)), 8)
    w.write(0, 1)          # subframe padding
    w.write(1, 6)          # VERBATIM
    w.write(1, 1)          # wasted-bits flag
    w.write(1, 1)          # unary 0 -> wasted = 1
    for v in vals >> 1:    # stored at bps - wasted = 15 bits
        w.write(int(v), 15)
    w.align(); w.write(fl._crc16(bytes(w.buf)), 16)
    sig, _ = fl.decode_flac(head.bytes() + w.bytes())
    assert np.array_equal(np.round(sig * 32768).astype(np.int64), vals)

    # --- >127 frames: frame numbers need the 2-byte UTF-8 form
    x = np.arange(140 * 8, dtype=np.int64) % 1000
    sig, _ = fl.decode_flac(fl.encode_flac(x, 8000, block_size=8))
    assert np.array_equal(np.round(sig * 32768).astype(np.int64), x)


def test_flac_multi_partition_residuals():
    """partition_order > 0: 2^order rice partitions per block (the first
    short by the predictor order) decode exactly — mixed rice and
    escaped layouts."""
    import numpy as np

    from audio_feature_extraction_spark.multimodal.flac import (
        decode_flac,
        encode_flac,
    )

    x = np.round(2000 * np.sin(np.arange(2048) / 20.0)).astype(np.int64)
    for rp, po in [(5, 2), (None, 3), (6, 4)]:
        payload = encode_flac(
            x, 16000, subframe="fixed2", rice_param=rp,
            block_size=512, partition_order=po,
        )
        sig, sr = decode_flac(payload)
        assert sr == 16000
        assert np.array_equal(np.round(sig * 32768).astype(np.int64), x), (rp, po)


def test_stream_exact_dedup_matches_batch(spark, tmp_path):
    """A corpus replayed in doc_id order through a real two-trigger
    streaming query admits exactly the batch exact_dedup survivor set:
    cross-batch duplicates are dropped by the carried state, and a
    never-before-seen text in batch 2 is admitted."""
    from audio_feature_extraction_spark.operators import dedup as batch_dedup
    from audio_feature_extraction_spark.streaming import dedup as sdedup

    schema = "doc_id string, text string"
    batch1 = [
        ("d00", "alpha beta"),
        ("d01", "gamma delta"),
        ("d02", "alpha beta"),       # dup of d00, same batch
    ]
    batch2 = [
        ("d03", "alpha beta"),       # dup of d00, across batches
        ("d04", "epsilon zeta"),     # new text
        ("d05", "gamma delta"),      # dup of d01, across batches
        ("d06", "epsilon zeta"),     # dup of d04, same batch
    ]
    src = tmp_path / "docs"
    src.mkdir()
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "b1")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        sdedup.stream_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
            str(src / "b2")
        )
        q.processAllAvailable()
        got = {
            r.doc_id: r.keeper_doc_id
            for r in spark.sql("select * from dedup_out").collect()
        }
    finally:
        q.stop()

    assert got == {"d00": "d00", "d01": "d01", "d04": "d04"}

    # replay-in-order equivalence with the batch pass
    batch = {
        r.doc_id
        for r in batch_dedup.exact_dedup(
            spark.createDataFrame(batch1 + batch2, schema)
        ).collect()
    }
    assert set(got) == batch


def test_stream_exact_dedup_state_survives_restart(spark, tmp_path):
    """The dedup state store is durable: a NEW query started from the
    same checkpoint still drops duplicates of docs admitted before the
    restart (exactly-once admission across query lifetimes)."""
    from audio_feature_extraction_spark.streaming import dedup as sdedup

    schema = "doc_id string, text string"
    src = tmp_path / "docs"
    src.mkdir()
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def start():
        # file sink: the only built-in sink that supports checkpoint
        # recovery (the memory sink refuses to restart)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        return (
            sdedup.stream_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )

    spark.createDataFrame(
        [("d0", "alpha"), ("d1", "beta")], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # new query, same checkpoint: d2 duplicates pre-restart d0 -> drop
    spark.createDataFrame(
        [("d2", "alpha"), ("d3", "gamma")], schema
    ).coalesce(1).write.parquet(str(src / "b2"))
    q = start()
    try:
        q.processAllAvailable()
        got = {r.doc_id for r in spark.read.parquet(out).collect()}
    finally:
        q.stop()

    assert got == {"d0", "d1", "d3"}  # d2 dropped by pre-restart state


def test_stream_exact_dedup_group_split_across_arrow_chunks(spark, tmp_path):
    """applyInPandasWithState may hand one hash group to the kernel as
    SEVERAL pandas chunks (arrow maxRecordsPerBatch); the keeper must
    still be the micro-batch's GLOBAL min doc_id, not the first
    chunk's local min (ADVICE r04)."""
    from audio_feature_extraction_spark.streaming import dedup as sdedup

    schema = "doc_id string, text string"
    # one group of 6 duplicates, fed in DESCENDING id order so any
    # per-chunk winner is wrong unless chunks are combined first
    rows = [(f"d{i}", "same text") for i in (9, 8, 7, 6, 5, 3)]
    src = tmp_path / "docs"
    src.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        q = (
            sdedup.stream_exact_dedup(stream)
            .writeStream.format("memory")
            .queryName("dedup_chunks_out")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql("select * from dedup_chunks_out").collect()
        finally:
            q.stop()
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    assert [(r.doc_id, r.keeper_doc_id) for r in got] == [("d3", "d3")]


def test_stream_pit_serve_strict_matches_batch(spark, tmp_path):
    """strict=True online: at an equal-ts boundary the probe is served
    the PREV-slot state (the latest strictly earlier), exactly like the
    batch strict as-of join on an in-order replay."""
    import datetime as dt

    from audio_feature_extraction_spark.operators import asof
    from audio_feature_extraction_spark.streaming import pit

    t0 = dt.datetime(2026, 1, 1)

    def ev(eid, minutes, user, etype, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype, value)

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double")
    batch1 = [
        ev(0, 0, 1, "click", 1.0),
        ev(1, 10, 1, "click", 5.0),
        ev(2, 10, 1, "view", None),   # equal-ts probe -> strict serves 1.0
        ev(3, 10, 1, "click", 9.0),   # equal-ts, higher seq: carry tie-break
    ]
    batch2 = [
        ev(4, 10, 1, "view", None),   # equal-ts probe, cross-batch -> 1.0
        ev(5, 11, 1, "view", None),   # later probe -> 9.0 (max-seq at ts 10)
        ev(6, 0, 2, "view", None),    # no state -> null
    ]
    src = tmp_path / "ev"
    src.mkdir()
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    tagged = pit.tag_pit_stream(
        events, "event_type = 'view'", "event_type = 'click'"
    )
    served = pit.stream_pit_serve(tagged, strict=True)
    q = (
        served.writeStream.format("memory")
        .queryName("pit_strict_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
            str(src / "b2")
        )
        q.processAllAvailable()
        got = {
            r.event_id: (r.asof_value, r.asof_ts)
            for r in spark.sql("select * from pit_strict_out").collect()
        }
    finally:
        q.stop()

    all_events = spark.createDataFrame(batch1 + batch2, schema)
    expect = {
        r.event_id: (r.asof_value, r.asof_ts)
        for r in asof.asof_join(
            all_events.where("event_type = 'view'"),
            all_events.where("event_type = 'click'"),
            strict=True,
        ).collect()
    }
    assert got == expect and len(got) == 4
    assert got[2] == (1.0, t0)
    assert got[4] == (1.0, t0)
    assert got[5] == (9.0, t0 + dt.timedelta(minutes=10))
    assert got[6] == (None, None)


def test_stream_pit_serve_multi_strict_matches_batch(spark, tmp_path):
    """Multi-source strict mode online: per-source (last, prev) carries
    serve the strictly-earlier state at equal-ts boundaries, matching
    the batch asof_join_multi(strict=True) on an in-order replay."""
    import datetime as dt

    from audio_feature_extraction_spark.operators import asof
    from audio_feature_extraction_spark.streaming import pit

    t0 = dt.datetime(2026, 1, 1)

    def ev(eid, minutes, user, etype, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype, value)

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double")
    batch1 = [
        ev(0, 0, 1, "click", 1.0),
        ev(1, 10, 1, "click", 5.0),
        ev(2, 3, 1, "purchase", 7.0),
        ev(3, 10, 1, "view", None),   # strict: click -> 1.0, purchase -> 7.0
    ]
    batch2 = [
        ev(4, 12, 1, "view", None),   # click -> 5.0, purchase -> 7.0
    ]
    src = tmp_path / "ev"
    src.mkdir()
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    tagged = pit.tag_pit_stream_multi(
        events,
        "event_type = 'view'",
        {"click": "event_type = 'click'",
         "purchase": "event_type = 'purchase'"},
    )
    served = pit.stream_pit_serve_multi(
        tagged, ["click", "purchase"], strict=True
    )
    q = (
        served.writeStream.format("memory")
        .queryName("pit_multi_strict")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
            str(src / "b2")
        )
        q.processAllAvailable()
        got = {
            r.event_id: (r.asof_click, r.asof_click_ts,
                         r.asof_purchase, r.asof_purchase_ts)
            for r in spark.sql("select * from pit_multi_strict").collect()
        }
    finally:
        q.stop()

    all_events = spark.createDataFrame(batch1 + batch2, schema)
    expect = {
        r.event_id: (r.asof_click, r.asof_click_ts,
                     r.asof_purchase, r.asof_purchase_ts)
        for r in asof.asof_join_multi(
            all_events.where("event_type = 'view'"),
            {"click": all_events.where("event_type = 'click'"),
             "purchase": all_events.where("event_type = 'purchase'")},
            strict=True,
        ).collect()
    }
    assert got == expect and len(got) == 2
    assert got[3] == (1.0, t0, 7.0, t0 + dt.timedelta(minutes=3))
    assert got[4][0] == 5.0


def test_nb_expr_score_streams_with_trained_model(spark, tmp_path):
    """The trained NB model compiles into a scalar expression and scores
    a real two-trigger document stream; the streamed rows match the
    batch explode-path scores row-for-row (nonempty docs)."""
    from audio_feature_extraction_spark.operators import textstats
    from audio_feature_extraction_spark.sources.tokens import (
        load_token_sequences,
    )

    ts = load_token_sequences(spark, "/root/testdata/sf0.001").select(
        "doc_id", "tokens", "n_tok"
    )
    wtab, pri = textstats.nb_train(
        load_token_sequences(spark, "/root/testdata/sf0.001")
    )
    weights, prior = textstats.nb_model_literals(wtab, pri)
    assert len(weights) == textstats.NB_BUCKETS

    # batch: expression path == explode path on every nonempty doc
    expr_rows = {
        r.doc_id: (r.weak_label, r.nb_score_micro, r.predicted)
        for r in textstats.nb_expr_score(ts, weights, prior).collect()
    }
    explode_rows = {
        r.doc_id: (r.weak_label, r.nb_score_micro, r.predicted)
        for r in textstats.nb_quality(
            load_token_sequences(spark, "/root/testdata/sf0.001")
        ).collect()
    }
    for d, row in explode_rows.items():
        assert expr_rows[d] == row

    # stream: two file triggers through the same expression
    src = tmp_path / "docs"
    src.mkdir()
    half1 = ts.where("doc_id < 'doc_3'")
    half2 = ts.where("doc_id >= 'doc_3'")
    half1.coalesce(1).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema(ts.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        textstats.nb_expr_score(stream, weights, prior)
        .writeStream.format("memory")
        .queryName("nb_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("select count(*) c from nb_stream_out").collect()[0].c
        half2.coalesce(1).write.parquet(str(src / "b2"))
        q.processAllAvailable()
        got = {
            r.doc_id: (r.weak_label, r.nb_score_micro, r.predicted)
            for r in spark.sql("select * from nb_stream_out").collect()
        }
    finally:
        q.stop()
    assert 0 < n1 < len(got)                 # genuinely two triggers
    assert got == expr_rows
