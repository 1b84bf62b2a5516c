"""Streaming stateful framing, serving, dedup and scoring."""

from __future__ import annotations

import pytest

from audio_feature_extraction_spark.core.config import FrameSpec
from audio_feature_extraction_spark.core.schemas import TOKEN_SEQUENCES
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


def test_local_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """The session's streaming checkpoint manager is Spark's
    FileSystem-based one, and it still refuses a no-overwrite commit
    onto an existing file: the guarantee the offsets and commits logs
    rest on."""
    from py4j.protocol import Py4JJavaError

    from audio_feature_extraction_spark.core.session import (
        CHECKPOINT_FILE_MANAGER,
    )

    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri()), conf
    )
    assert manager.getClass().getName() == CHECKPOINT_FILE_MANAGER

    target = jvm.org.apache.hadoop.fs.Path((tmp_path / "0").as_uri())
    first = manager.createAtomic(target, False)
    first.write(1)
    first.close()
    second = manager.createAtomic(target, False)
    second.write(2)
    with pytest.raises(Py4JJavaError, match="FAILED_RENAME_PATH"):
        second.close()
    assert (tmp_path / "0").read_bytes() == bytes([1])


def test_stream_sink_batch_dirs_carry_no_success_marker(spark, tmp_path):
    """The query's commit log, not a ``_SUCCESS`` file, commits each
    ``batch_id=N`` directory of the stream sink."""
    import os

    src = tmp_path / "in"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    spark.createDataFrame(
        [("d", 0, list(range(10)))], stream.CHUNK_SCHEMA
    ).coalesce(1).write.parquet(str(src / "b1"))
    chunks = spark.readStream.schema(stream.CHUNK_SCHEMA).parquet(str(src / "*"))
    q = stream.stream_feature_extract(chunks, out, ckpt, FrameSpec(4, 2))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert os.listdir(out) == ["batch_id=0"]
    files = os.listdir(os.path.join(out, "batch_id=0"))
    assert any(f.endswith(".parquet") for f in files)
    assert "_SUCCESS" not in files
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))


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
        events, "event_type = 'view'", {"value": "event_type = 'click'"}
    )
    served = pit.stream_pit_serve(
        tagged, ["value"], max_staleness_seconds=3600.0
    )
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
            r.event_id: (r.asof_value, r.asof_value_ts)
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
        events, "event_type = 'view'", {"value": "event_type = 'click'"}
    )
    served = pit.stream_pit_serve(
        tagged, ["value"], max_staleness_seconds=3600.0
    )
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
            r.event_id: (r.asof_value, r.asof_value_ts)
            for r in spark.sql("select * from pit_late_probe").collect()
        }
    finally:
        q.stop()
    # late probe: the prev-slot state (the batch join's answer), NEVER
    # the future 9.0@20
    assert got[2] == (1.0, t0 + dt.timedelta(minutes=10))
    assert got[4] == (None, None)  # older than every known state: null
    assert got[3] == (9.0, t0 + dt.timedelta(minutes=20))


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
    tagged = pit.tag_pit_stream(
        events,
        "event_type = 'view'",
        {"click": "event_type = 'click'", "purchase": "event_type = 'purchase'"},
    )
    served = pit.stream_pit_serve(tagged, ["click", "purchase"])
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
        events, "event_type = 'view'", {"value": "event_type = 'click'"}
    )
    served = pit.stream_pit_serve(tagged, ["value"], strict=True)
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
            r.event_id: (r.asof_value, r.asof_value_ts)
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
    tagged = pit.tag_pit_stream(
        events,
        "event_type = 'view'",
        {"click": "event_type = 'click'",
         "purchase": "event_type = 'purchase'"},
    )
    served = pit.stream_pit_serve(
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


def test_nb_expr_score_null_elements_match_nb_score(spark):
    """A NULL token element adds nothing to the compiled fold, as the
    explode path's join drops its bucket: ``[3, NULL, 5, 9]`` scores
    exactly like :func:`nb_score`, and ``[NULL]`` scores the bare prior,
    like ``[]``."""
    from audio_feature_extraction_spark.operators import textstats

    rows = [
        (f"doc_{i}", [(i * 7 + k) % (3 + i % 5) for k in range(12)], 12)
        for i in range(30)
    ]
    rows += [
        ("doc_901", [3, None, 5, 9], 4),
        ("doc_902", [None], 1),
        ("doc_903", [], 0),
    ]
    ts = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int"
    )
    wtab, pri = textstats.nb_train(ts)
    weights, prior = textstats.nb_model_literals(wtab, pri)
    cols = ("weak_label", "nb_score_micro", "predicted")
    got = {
        r.doc_id: tuple(r[c] for c in cols)
        for r in textstats.nb_expr_score(ts, weights, prior).collect()
    }
    want = {
        r.doc_id: tuple(r[c] for c in cols)
        for r in textstats.nb_score(ts, wtab, pri).collect()
    }
    assert got["doc_901"] == want["doc_901"]
    assert got["doc_901"][1] is not None
    assert got["doc_902"][1] == got["doc_903"][1] == prior
    assert got["doc_902"][2] == got["doc_903"][2] == int(prior > 0)
