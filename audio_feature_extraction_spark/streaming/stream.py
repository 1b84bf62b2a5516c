"""Structured Streaming formulation of the chunked pipeline.

≙ StreamPipelineExecutor / StreamBuffer (design.md:1811-2002): chunks
arrive per doc; a stateful buffer appends them, emits a frame whenever
``frame_len`` tokens are buffered, then slides by ``hop``; leftover tokens
carry across micro-batches (the overlap state, design.md:1959-1982).

Spark mapping:

* StreamBuffer.append / is_ready / get_frame -> ``applyInPandasWithState``
  per doc_id: state = (position offset, carried tail tokens, next frame id)
* late/over-size policy (T9; reference logs-and-truncates,
  design.md:1914-1917) -> ``withWatermark`` drops late chunks
* LatencyMonitor (design.md:2005-2061) -> StreamingQueryListener /
  per-batch timing via foreachBatch

Equivalence invariant (tested): feeding chunks through the stateful
stream produces exactly the batch frame grid of the concatenated
sequence — the causal-carry analog of the reference's
batch-vs-streaming consistency.

The same kernel also runs in *batch-incremental* mode
(``chunked_frame_features``) where "already received" is an as-of cutoff
— the contract-bearing path per SURVEY §3.2.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from audio_feature_extraction_spark.core.config import DEFAULT_FRAME, FrameSpec

CHUNK_SCHEMA = "doc_id string, chunk_id int, chunk_tokens array<int>"
FRAME_OUT_SCHEMA = "doc_id string, frame_id int, frame_tokens array<int>"
# The carried tail is stored as little-endian int32 bytes, not as
# array<int>: Spark builds the state encoder afresh each micro-batch, and
# an array field's MapObjects lambda variable gets a new id every time,
# so each trigger missed the codegen cache and compiled one class.
STATE_SCHEMA = "pos long, tail binary, next_frame long"


def _emit_frames(
    buffered: list[int], pos0: int, next_frame: int, spec: FrameSpec, flush: bool
) -> tuple[list[tuple[int, list[int]]], int, list[int], int]:
    """Core StreamBuffer recurrence (design.md:1929-1953): emit every
    frame whose window is complete (or, on flush, any started frame),
    slide by hop. ``pos0`` is the absolute position of buffered[0].

    Returns (frames, new_pos0, new_tail, new_next_frame).
    """
    frames: list[tuple[int, list[int]]] = []
    l, h = spec.frame_len, spec.hop
    end = pos0 + len(buffered)
    while True:
        start = next_frame * h
        have_full = start + l <= end
        have_partial = flush and start < end
        if not (have_full or have_partial):
            break
        lo, hi = start - pos0, min(start + l, end) - pos0
        frames.append((next_frame, buffered[lo:hi]))
        next_frame += 1
    # retain from the earliest position the next frame needs: next start
    keep_from = end if flush else min(max(next_frame * h, pos0), end)
    new_tail = buffered[keep_from - pos0 :]
    return frames, keep_from, new_tail, next_frame


def stateful_frames(
    chunks: DataFrame,
    spec: FrameSpec = DEFAULT_FRAME,
    flush_timeout_seconds: float | None = None,
) -> DataFrame:
    """Streaming (or batch) chunk table -> frame table with carried state.

    Works on a streaming DataFrame via applyInPandasWithState; chunks must
    arrive in chunk_id order per doc (enforce upstream with a watermark +
    sort within micro-batch; the reference makes the same in-order
    assumption for its chunk stream, design.md:1811-1846).

    ``flush_timeout_seconds`` is the T5 state-reset lifecycle
    (design.md:1959-1982): a doc idle for longer than the timeout has its
    buffered tail FLUSHED as final (possibly short) frames and its state
    dropped — without it, a stream that never ends pins every doc's tail
    in the state store forever. Timeouts fire on the next micro-batch
    after expiry (ProcessingTimeTimeout semantics). The growth is one
    state row per doc ever seen: a stream fed 40 new docs per trigger
    adds about 40 tails per trigger, and traced benchmark runs
    (``perfbench`` ``stream_chunks``, no timeout) read a median
    ``state_rows`` of 1,240 to 1,620 over their triggers. The default
    state store holds every row in memory, and each of its periodic
    snapshot files carries all of them.

    State layout: ``STATE_SCHEMA`` keeps the tail as int32 bytes, so a
    trigger compiles no new state encoder. Checkpoints written while the
    tail was ``array<int>`` are incompatible: Spark refuses to resume
    them with a state schema error.
    """
    from audio_feature_extraction_spark.operators.framing import require_causal

    require_causal(spec, "stateful_frames")
    l, h = spec.frame_len, spec.hop
    timeout_ms = (
        int(flush_timeout_seconds * 1000) if flush_timeout_seconds else None
    )

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        kspec = FrameSpec(frame_len=l, hop=h)
        if state.exists:
            pos, tail, next_frame = state.get
            tail = np.frombuffer(tail, "<i4").tolist()
        else:
            pos, tail, next_frame = 0, [], 0
        rows = []
        if timeout_ms is not None and state.hasTimedOut:
            # idle doc: flush the buffered tail as final short frames and
            # release the state (the stream treats the doc as ended)
            frames, _, _, _ = _emit_frames(tail, pos, next_frame, kspec, flush=True)
            state.remove()
            for fid, ft in frames:
                rows.append((key[0], fid, ft))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "frame_id", "frame_tokens"]
                )
            return
        for pdf in pdfs:
            pdf = pdf.sort_values("chunk_id")
            for toks in pdf["chunk_tokens"]:
                tail.extend(int(t) for t in toks)
        frames, pos, tail, next_frame = _emit_frames(
            tail, pos, next_frame, kspec, flush=False
        )
        state.update((pos, np.asarray(tail, "<i4").tobytes(), next_frame))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        for fid, ft in frames:
            rows.append((key[0], fid, ft))
        if rows:
            yield pd.DataFrame(rows, columns=["doc_id", "frame_id", "frame_tokens"])

    return chunks.groupBy("doc_id").applyInPandasWithState(
        fn,
        outputStructType=FRAME_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def chunked_frame_features(
    chunks: DataFrame, spec: FrameSpec = DEFAULT_FRAME
) -> DataFrame:
    """Batch-incremental twin: same emission semantics, expressed as a
    grouped reassembly + flush (used where the stream has ended; emits
    tail frames too, matching batch framing exactly)."""
    l, h = spec.frame_len, spec.hop

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        kspec = FrameSpec(frame_len=l, hop=h)
        pdf = pdf.sort_values("chunk_id")
        buf: list[int] = []
        for toks in pdf["chunk_tokens"]:
            buf.extend(int(t) for t in toks)
        frames, _, _, _ = _emit_frames(buf, 0, 0, kspec, flush=True)
        return pd.DataFrame(
            [(pdf["doc_id"].iloc[0], fid, ft) for fid, ft in frames],
            columns=["doc_id", "frame_id", "frame_tokens"],
        )

    return chunks.groupBy("doc_id").applyInPandas(fn, schema=FRAME_OUT_SCHEMA)


def chunk_table(tokseq: DataFrame, chunk_size: int) -> DataFrame:
    """Split token sequences into ordered chunks (test/bench helper —
    ≙ StreamLoader.read_chunk, design.md:2111-2114)."""
    return tokseq.select(
        "doc_id",
        F.expr(
            f"inline(transform(sequence(0, (n_tok - 1) div {chunk_size}), "
            f"c -> struct(cast(c as int) as chunk_id, "
            f"slice(tokens, c * {chunk_size} + 1, {chunk_size}) as chunk_tokens)))"
        ),
    )


def stream_feature_extract(
    chunks: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    spec: FrameSpec = DEFAULT_FRAME,
    latency_budget_ms: float | None = None,
    flush_timeout_seconds: float | None = None,
):
    """End-to-end streaming extraction (≙ StreamPipelineExecutor,
    design.md:1811-1846): stateful frame assembly -> per-micro-batch
    featurization -> append sink, with exactly-once progress via the
    checkpoint (restart resumes where the last trigger committed —
    T10 NFR-4.1 on the streaming side). Checkpoints from before the
    binary tail state (see :func:`stateful_frames`) do not resume.

    Without ``flush_timeout_seconds`` the state keeps every doc's tail
    for the life of the query: about 40 tails per trigger at 40 new
    docs a trigger, a median of 1,240 to 1,620 state rows over a traced
    benchmark run. Set the timeout for a stream whose docs end.
    """
    from audio_feature_extraction_spark.operators.framing import (
        featurize_frames_sql,
    )

    frames = stateful_frames(chunks, spec, flush_timeout_seconds)

    def sink(batch: DataFrame, batch_id: int) -> None:
        # idempotent commit: each micro-batch owns a batch_id directory
        # and overwrites it — a replayed batch (failure between write and
        # checkpoint commit) cannot duplicate rows (exactly-once sink).
        # The query's commit log records the batch, so the directory
        # needs no _SUCCESS marker.
        featurize_frames_sql(batch, spec).write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        ).parquet(f"{out_dir}/batch_id={batch_id}")

    listener = None
    if latency_budget_ms is not None:
        from audio_feature_extraction_spark.plans.metrics import (
            MicroBatchLatencyListener,
        )

        listener = MicroBatchLatencyListener(budget_ms=latency_budget_ms)
        chunks.sparkSession.streams.addListener(listener)

    query = (
        frames.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
    if listener is not None:
        return query, listener
    return query
