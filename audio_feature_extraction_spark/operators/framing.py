"""Frame/hop grid + per-frame feature vectors (the engine's flagship).

≙ reference STFT framing (design.md:522-592): frame ``f`` covers samples
``[f*hop, f*hop + n_fft)``; per-frame vectors of ``n_fft//2+1`` bins
(design.md:184-189); dB scaling ``20*log10(clamp(mag, amin))`` floored at
``max - top_db`` (design.md:615-623 defaults amin=1e-10, top_db=80).

Token reinterpretation: the "spectrum" of a frame is the hashed-bigram
histogram of width ``n_buckets = frame_len//2 + 1``; the "magnitude/phase"
channels are per-frame token stats (mean/std/min/max/distinct_ratio).

Two implementations with *bit-identical* output (tested):

* ``frame_features`` / ``frame_features_flat`` — the scale path: one
  whole-batch Arrow kernel per partition (``mapInArrow``): the token
  lists are read as flat values + offsets, then strided bincount
  histograms, integer prefix sums, a single int16 sort, and zero-copy
  Arrow list outputs.
  This is the UDTF shape (1 row in → n_frames rows out, SURVEY §2.10 X3).
  Narrow — no shuffle; parallelism = input splits.
* ``frame_features_sql`` / ``*_oracle_sql`` — pure-SQL formulations
  (Spark SQL and DuckDB) used as independent correctness oracles.

Float determinism: dB values are produced from a ``math.log10`` lookup
table over the (small-integer) counts, because glibc libm (Spark JVM ==
DuckDB == CPython math) differs from numpy's SIMD log10 by 1 ulp. Stats
are accumulated in exact int64 then divided once, so all engines agree
bitwise.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from audio_feature_extraction_spark.core.arrow_lists import (
    list_array,
    read_list,
    slice_bounds,
)
from audio_feature_extraction_spark.core.config import DEFAULT_FRAME, FrameSpec
from audio_feature_extraction_spark.core.schemas import FRAME_FEATURES


# ---------------------------------------------------------------------------
# pure-SQL frame grid (Catalyst path — no Python at all)
# ---------------------------------------------------------------------------

def frames_sql_fragment(spec: FrameSpec = DEFAULT_FRAME) -> str:
    """Spark-SQL generator expression: token row -> n_frames frame rows."""
    h, l = spec.hop, spec.frame_len
    return (
        f"inline(transform(sequence(0, (n_tok-1) div {h}), "
        f"f -> struct(cast(f as int) as frame_id, "
        f"slice(tokens, f*{h}+1, {l}) as frame_tokens)))"
    )


def frame_table(df: DataFrame, spec: FrameSpec = DEFAULT_FRAME) -> DataFrame:
    """Long-format frame table via pure DataFrame ops (no UDF).

    `.explain` shows Generate(inline) over a single project — narrow, no
    shuffle, whole-stage codegen end-to-end. ``spec.center=True`` switches
    to the centered grid (reflect-padded; batch-only).
    """
    frag = (
        centered_frames_sql_fragment(spec)
        if spec.center
        else frames_sql_fragment(spec)
    )
    return df.where(F.col("n_tok") > 0).select("doc_id", F.expr(frag))


def _centered_rc(i: str, n: str) -> str:
    """Reflect index ``i`` into [0, n) (torch 'reflect': no edge repeat),
    then clamp — the clamp only fires for sequences shorter than the pad,
    where torch would error; clamping keeps ultra-short docs usable."""
    refl = f"(CASE WHEN ({i}) < 0 THEN -({i}) WHEN ({i}) >= {n} THEN 2*{n} - 2 - ({i}) ELSE ({i}) END)"
    return f"least(greatest({refl}, 0), {n} - 1)"


def centered_frames_sql_fragment(spec: FrameSpec = DEFAULT_FRAME) -> str:
    """Centered frame grid (≙ torch.stft center=True, design.md:538-547):
    frame f covers positions [f*hop - frame_len//2, ...) reflected at the
    boundaries; n_frames = n_tok//hop + 1. BATCH-ONLY — reads lookahead."""
    h, l = spec.hop, spec.frame_len
    p = l // 2
    rc = _centered_rc(f"f*{h} - {p} + j", "n_tok")
    return (
        f"inline(transform(sequence(0, n_tok div {h}), "
        f"f -> struct(cast(f as int) as frame_id, "
        f"transform(sequence(0, {l - 1}), j -> "
        f"element_at(tokens, cast({rc} as int) + 1)) as frame_tokens)))"
    )


def centered_frames_oracle_sql(
    spec: FrameSpec = DEFAULT_FRAME, from_clause: str = "tokseq"
) -> str:
    h, l = spec.hop, spec.frame_len
    p = l // 2
    rc = _centered_rc(f"g.f*{h} - {p} + j", "t.n_tok")
    return (
        f"SELECT t.doc_id, CAST(g.f AS INTEGER) AS frame_id, "
        f"list_transform(range(0, {l}), j -> t.tokens[{rc} + 1]) AS frame_tokens "
        f"FROM {from_clause} t, unnest(range(0, (t.n_tok // {h}) + 1)) AS g(f) "
        f"WHERE t.n_tok > 0"
    )


def trailing_frames_sql_fragment(spec: FrameSpec = DEFAULT_FRAME) -> str:
    """W7 causal framing (≙ extract_streaming, design.md:594-609): frame
    f ENDS at position f*hop (inclusive) and looks back frame_len tokens —
    zero lookahead, the batch analog of `rowsBetween(-(L-1), 0)`.
    Early frames are short (only received tokens)."""
    h, l = spec.hop, spec.frame_len
    # frame f covers [max(0, f*h+1-l), f*h] in 1-based slice terms
    return (
        f"inline(transform(sequence(0, (n_tok-1) div {h}), "
        f"f -> struct(cast(f as int) as frame_id, "
        f"slice(tokens, greatest(f*{h}+2-{l}, 1), "
        f"f*{h}+1 - greatest(f*{h}+2-{l}, 1) + 1) as frame_tokens)))"
    )


def trailing_frame_table(df: DataFrame, spec: FrameSpec = DEFAULT_FRAME) -> DataFrame:
    require_causal(spec, "trailing_frame_table")
    return df.where(F.col("n_tok") > 0).select(
        "doc_id", F.expr(trailing_frames_sql_fragment(spec))
    )


def require_causal(spec: FrameSpec, where: str) -> None:
    """PIT/causal paths must refuse centered specs: a centered frame reads
    frame_len//2 positions of LOOKAHEAD — temporal leakage by design."""
    if spec.center:
        raise ValueError(
            f"{where} is a point-in-time (causal) path; FrameSpec(center=True) "
            f"reads future positions and is batch-only"
        )


def trailing_frames_oracle_sql(
    spec: FrameSpec = DEFAULT_FRAME, from_clause: str = "tokseq"
) -> str:
    h, l = spec.hop, spec.frame_len
    lo = f"greatest(g.f*{h}+2-{l}, 1)"
    return (
        f"SELECT t.doc_id, CAST(g.f AS INTEGER) AS frame_id, "
        f"t.tokens[{lo} : g.f*{h}+1] AS frame_tokens "
        f"FROM {from_clause} t, unnest(range(0, ((t.n_tok-1) // {h}) + 1)) AS g(f) "
        f"WHERE t.n_tok > 0"
    )


def triangle_weights(l: int) -> list[int]:
    """W2 window-weighting analog (design.md:537-547 hann taper): integer
    triangular weights — tapered like hann but exact in integer
    arithmetic, so weighted histograms stay cross-engine bit-identical."""
    return [min(i + 1, l - 1 - i) for i in range(l - 1)]


def weighted_counts_sql(spec: FrameSpec, ft: str, spark: bool) -> str:
    """Weighted bigram histogram: bigram at in-frame offset i contributes
    weight w[i] (triangle). Integer sums — exact."""
    nb, m = spec.n_buckets, spec.bigram_mult
    w = triangle_weights(spec.frame_len)
    warr = ("array(" if spark else "list_value(") + ", ".join(map(str, w)) + ")"
    if spark:
        return (
            f"transform(sequence(0, {nb - 1}), b -> aggregate("
            f"filter(sequence(1, size({ft})), i -> i < size({ft}) and "
            f"(element_at({ft}, cast(i as int))*{m} + element_at({ft}, cast(i+1 as int))) % {nb} = b), "
            f"0L, (acc, i) -> acc + element_at({warr}, cast(i as int))))"
        )
    return (
        f"list_transform(range(0, {nb}), b -> CAST(coalesce(list_sum(list_transform("
        f"list_filter(range(1, len({ft})), i -> ({ft}[i]*{m} + {ft}[i+1]) % {nb} = b), "
        f"i -> ({warr})[i])), 0) AS BIGINT))"
    )


def frame_features_weighted_sql(
    df: DataFrame, spec: FrameSpec = DEFAULT_FRAME
) -> DataFrame:
    """dB-scaled *weighted* histogram features (W2 tapered window)."""
    counts = weighted_counts_sql(spec, "frame_tokens", spark=True)
    return frame_table(df, spec).selectExpr(
        "doc_id",
        "frame_id",
        f"{_db_sql(spec, counts, spark=True)} as features",
    )


def frame_features_weighted_oracle_sql(
    spec: FrameSpec = DEFAULT_FRAME, frames_from: str = "frames"
) -> str:
    counts = weighted_counts_sql(spec, "frame_tokens", spark=False)
    return (
        f"SELECT doc_id, frame_id, {_db_sql(spec, counts, spark=False)} AS features "
        f"FROM {frames_from}"
    )


def dataset_summary(features: DataFrame) -> DataFrame:
    """A6 dataset-level invariants (≙ common-params attrs,
    design.md:1398-1407): one row of counts + consistency checks."""
    return features.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_frames"),
        F.countDistinct(F.size("features")).alias("n_feature_widths"),
        F.min(F.size("features")).alias("feature_width"),
        F.max("frame_id").alias("max_frame_id"),
    )


def frames_oracle_sql(spec: FrameSpec = DEFAULT_FRAME, from_clause: str = "tokseq") -> str:
    """DuckDB SQL producing the identical frame table (lateral unnest)."""
    h, l = spec.hop, spec.frame_len
    return (
        f"SELECT t.doc_id, CAST(g.f AS INTEGER) AS frame_id, "
        f"t.tokens[g.f*{h}+1 : g.f*{h}+{l}] AS frame_tokens "
        f"FROM {from_clause} t, unnest(range(0, ((t.n_tok-1) // {h}) + 1)) AS g(f) "
        f"WHERE t.n_tok > 0"
    )


# ---------------------------------------------------------------------------
# vectorized Arrow kernel (the scale path)
# ---------------------------------------------------------------------------

def _db_table(spec: FrameSpec, max_count: int) -> np.ndarray:
    """Lookup table count -> dB using libm log10 (cross-engine exact)."""
    return np.array(
        [20.0 * math.log10(max(c, spec.amin)) for c in range(max_count + 1)],
        dtype=np.float64,
    )


def featurize_batch(
    doc_ids: pa.Array,
    values: np.ndarray,
    offsets: np.ndarray,
    spec: FrameSpec,
    compact: bool = False,
) -> pa.RecordBatch:
    """Whole-batch vectorized kernel: doc ``i`` of ``doc_ids`` holds the
    int32 tokens ``values[offsets[i]:offsets[i + 1]]``, and ALL documents
    are processed in one numpy pass (no per-doc Python loop).

    Correctness of the concatenation trick: frame [s, e) of a doc only
    touches bigrams (i, i+1) for i in [s, e-1), and e never exceeds the
    doc end — so doc-boundary-crossing bigrams in the global array are
    never referenced and no masking is needed. Token prefix sums likewise
    only ever difference within-doc ranges.
    """
    h, l, nb = spec.hop, spec.frame_len, spec.n_buckets
    t32 = np.asarray(values[offsets[0] : offsets[-1]], dtype=np.int32)
    lens = np.diff(offsets)
    keep = lens > 0
    doc_ids = doc_ids.filter(pa.array(keep))
    lens = lens[keep]

    if spec.center:
        # centered grid = reflect-pad each doc (left l//2, right l-l//2),
        # then run the STANDARD grid over the padded docs: frame f of
        # the padded doc covers exactly [f*h - l//2, ...) of the original.
        # Same clamped reflection as the SQL fragments; n_frames = n//h+1.
        p = l // 2
        padded = lens + l
        n_rep = np.repeat(lens, padded)
        idx = (
            np.arange(padded.sum(), dtype=np.int64)
            - np.repeat(np.cumsum(padded) - padded, padded)
            - p
        )
        # branches EXCLUSIVE on the original index, exactly like the
        # SQL CASE in _centered_rc (a sequential flip-then-reflect
        # would diverge for docs shorter than the pad)
        r = np.where(idx < 0, -idx, np.where(idx >= n_rep, 2 * n_rep - 2 - idx, idx))
        t32 = t32[np.repeat(np.cumsum(lens) - lens, padded) + np.clip(r, 0, n_rep - 1)]
        nf_doc = lens // h + 1
        lens = padded  # padded lengths drive the offsets below
    else:
        nf_doc = (lens - 1) // h + 1

    n = len(t32)
    # narrowest dtype for the sort-heavy path (vocab 32768 fits int16)
    tnarrow = t32.astype(np.int16) if t32.max(initial=0) < 32768 else t32
    doc_off = np.concatenate([[0], np.cumsum(lens)])
    frame_off = np.concatenate([[0], np.cumsum(nf_doc)])
    total = int(frame_off[-1])
    frame_doc = np.repeat(np.arange(len(lens)), nf_doc)
    fid = np.arange(total, dtype=np.int64) - frame_off[frame_doc]
    starts = doc_off[frame_doc] + fid * h
    ends = np.minimum(starts + l, doc_off[frame_doc] + lens[frame_doc])
    full = ends - starts == l

    # bigram-bucket counts: full frames via one flat bincount over strided
    # windows (low memory traffic); ragged tails individually
    counts = np.zeros((total, nb), dtype=np.int32)
    if n >= 2:
        bh = ((t32[:-1].astype(np.int64) * spec.bigram_mult + t32[1:]) % nb)
        if full.any() and len(bh) >= l - 1:
            sw = np.lib.stride_tricks.sliding_window_view(bh, l - 1)
            sf = starts[full]
            rows = np.repeat(np.arange(len(sf), dtype=np.int64), l - 1)
            flat = rows * nb + sw[sf].ravel()
            counts[full] = np.bincount(flat, minlength=len(sf) * nb).reshape(
                len(sf), nb
            )
        for f in np.nonzero(~full)[0]:
            seg = bh[starts[f] : max(ends[f] - 1, starts[f])]
            counts[f] = np.bincount(seg, minlength=nb)

    dbt = _db_table(spec, int(counts.max(initial=0)))
    db = dbt[counts]
    floor = dbt[counts.max(axis=1)] - spec.top_db
    db = np.maximum(db, floor[:, None])

    # zero-copy Arrow list columns: building 2×total per-row Python
    # objects (token slices + feature rows) dominates otherwise
    head = [
        doc_ids.take(pa.array(frame_doc)),
        pa.array(fid.astype(np.int32)),
    ]
    if compact:
        # training-export shape: float32 features only (cast parity with
        # Spark/DuckDB FLOAT verified), no tokens/stats — ~4x fewer
        # output bytes, and the sort/stat passes are skipped entirely
        return pa.RecordBatch.from_arrays(
            head + [list_array(db.astype(np.float32))],
            names=FRAME_FEATURES_COMPACT.names,
        )

    t64 = t32.astype(np.int64)
    cs1 = np.concatenate([[0], np.cumsum(t64)])
    cs2 = np.concatenate([[0], np.cumsum(t64 * t64)])
    flens = (ends - starts).astype(np.float64)
    s1 = (cs1[ends] - cs1[starts]).astype(np.float64)
    s2 = (cs2[ends] - cs2[starts]).astype(np.float64)
    mean = s1 / flens
    std = np.sqrt(np.maximum(s2 / flens - mean * mean, 0.0))

    # one sort of the narrow windows yields min, max, AND distinct count
    mn = np.empty(total, dtype=np.int64)
    mx = np.empty(total, dtype=np.int64)
    nd = np.empty(total, dtype=np.int64)
    if full.any() and n >= l:
        w = np.lib.stride_tricks.sliding_window_view(tnarrow, l)[starts[full]]
        sw = np.sort(w, axis=1)
        mn[full] = sw[:, 0]
        mx[full] = sw[:, -1]
        nd[full] = (np.diff(sw, axis=1) != 0).sum(axis=1) + 1
    for f in np.nonzero(~full)[0]:
        seg = tnarrow[starts[f] : ends[f]]
        mn[f] = seg.min()
        mx[f] = seg.max()
        nd[f] = len(np.unique(seg))
    flens_i = (ends - starts).astype(np.int64)
    offs = np.concatenate([[0], np.cumsum(flens_i)])
    intra = np.arange(offs[-1], dtype=np.int64) - np.repeat(offs[:-1], flens_i)
    gather = np.repeat(starts, flens_i) + intra
    tok_list = pa.ListArray.from_arrays(
        pa.array(offs, type=pa.int32()), pa.array(t32[gather])
    )
    return pa.RecordBatch.from_arrays(
        head
        + [
            tok_list,
            list_array(db),
            pa.array(mean),
            pa.array(std),
            pa.array(mn.astype(np.int32)),
            pa.array(mx.astype(np.int32)),
            pa.array(nd / flens),
        ],
        names=FRAME_FEATURES_FLAT.names,
    )


FRAME_FEATURES_FLAT = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("frame_id", T.IntegerType(), False),
        T.StructField("frame_tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("features", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("stat_mean", T.DoubleType(), False),
        T.StructField("stat_std", T.DoubleType(), False),
        T.StructField("stat_min", T.IntegerType(), False),
        T.StructField("stat_max", T.IntegerType(), False),
        T.StructField("stat_distinct_ratio", T.DoubleType(), False),
    ]
)

FRAME_FEATURES_COMPACT = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("frame_id", T.IntegerType(), False),
        T.StructField("features", T.ArrayType(T.FloatType(), False), False),
    ]
)


def _frame_kernel(df: DataFrame, spec: FrameSpec, compact: bool) -> DataFrame:
    """One narrow ``mapInArrow`` stage running :func:`featurize_batch`
    over each Arrow batch, in slices of about ``MAX_TOKENS_PER_SLICE``
    tokens so the histogram working set stays bounded.

    A NULL ``tokens`` row yields no frames, like an empty one. A NULL
    token element raises ``ValueError`` naming the doc: the SQL twins do
    not agree on it (Spark's ``aggregate`` gives a NULL mean, DuckDB's
    ``list_sum`` skips the NULL), so the kernel invents no third answer.
    """
    l, h, c = spec.frame_len, spec.hop, spec.center  # close over plain values

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        kspec = FrameSpec(frame_len=l, hop=h, center=c)
        for batch in batches:
            tok = read_list(batch, "tokens", np.int32)
            if not tok.valid.all():
                row = np.searchsorted(tok.offsets, np.argmin(tok.valid), side="right") - 1
                raise ValueError(
                    f"frame features: doc_id {batch.column('doc_id')[row]} "
                    f"has a NULL token element"
                )
            ids = batch.column("doc_id")
            for lo, hi in slice_bounds(tok.offsets):
                out = featurize_batch(
                    ids[lo:hi], tok.values, tok.offsets[lo : hi + 1], kspec, compact
                )
                if out.num_rows:
                    yield out

    schema = FRAME_FEATURES_COMPACT if compact else FRAME_FEATURES_FLAT
    return df.select("doc_id", "tokens").mapInArrow(run, schema=schema)


def frame_features_compact(df: DataFrame, spec: FrameSpec = DEFAULT_FRAME) -> DataFrame:
    """Compact float32 feature export (no tokens/stats) — the shape a
    training pipeline ships to a feature store at 100 TB: ~4x fewer
    output bytes than the full table, bit-exact vs the oracle after the
    double->float cast (IEEE round-to-nearest in all engines)."""
    return _frame_kernel(df, spec, compact=True)


def frame_features_flat(df: DataFrame, spec: FrameSpec = DEFAULT_FRAME) -> DataFrame:
    """Frame-grid feature extraction, flat-stats schema (the hot path).

    ≙ SpectrogramExtractor.extract batched on GPU (design.md:557-592,
    2255-2256) — the "batch kernel" is one numpy pass per Arrow batch.
    Narrow ``mapInArrow`` stage: no shuffle, parallelism = input splits;
    NULL handling as in :func:`_frame_kernel`.
    """
    return _frame_kernel(df, spec, compact=False)


def frame_features(df: DataFrame, spec: FrameSpec = DEFAULT_FRAME) -> DataFrame:
    """Struct-stats view over the flat kernel (schema of FRAME_FEATURES)."""
    flat = frame_features_flat(df, spec)
    return flat.select(
        "doc_id",
        "frame_id",
        "frame_tokens",
        "features",
        F.struct(
            F.col("stat_mean").alias("mean"),
            F.col("stat_std").alias("std"),
            F.col("stat_min").alias("min"),
            F.col("stat_max").alias("max"),
            F.col("stat_distinct_ratio").alias("distinct_ratio"),
        ).alias("stats"),
    )


# ---------------------------------------------------------------------------
# SQL formulations of the same features (independent oracles)
# ---------------------------------------------------------------------------

def _counts_sql(spec: FrameSpec, ft: str, spark: bool) -> str:
    """Bigram-bucket count vector, Spark-SQL or DuckDB dialect."""
    nb, m = spec.n_buckets, spec.bigram_mult
    if spark:
        return (
            f"transform(sequence(0, {nb - 1}), b -> bigint(size(filter("
            f"sequence(1, size({ft})), "
            f"i -> i < size({ft}) and (element_at({ft}, cast(i as int))*{m} "
            f"+ element_at({ft}, cast(i+1 as int))) % {nb} = b))))"
        )
    return (
        f"list_transform(range(0, {nb}), b -> CAST(len(list_filter("
        f"range(1, len({ft})), "
        f"i -> ({ft}[i]*{m} + {ft}[i+1]) % {nb} = b)) AS BIGINT))"
    )


def _db_sql(spec: FrameSpec, counts: str, spark: bool) -> str:
    """dB-scale a count vector: 20*log10(clamp) floored at max - top_db."""
    amin, td = spec.amin, spec.top_db
    mx = f"array_max({counts})" if spark else f"list_max({counts})"
    fn = "transform" if spark else "list_transform"
    return (
        f"{fn}({counts}, c -> greatest(20*log10(greatest(c, {amin})), "
        f"20*log10(greatest({mx}, {amin})) - {td}))"
    )


def stats_sql_fields(ft: str, spark: bool) -> dict[str, str]:
    """Per-frame stats as exact-arithmetic SQL (int sums, one division)."""
    if spark:
        s1 = f"aggregate({ft}, 0L, (a, x) -> a + x)"
        s2 = f"aggregate({ft}, 0L, (a, x) -> a + bigint(x)*x)"
        n = f"size({ft})"
        nd = f"size(array_distinct({ft}))"
        mn, mx = f"array_min({ft})", f"array_max({ft})"
    else:
        s1 = f"list_sum(list_transform({ft}, x -> CAST(x AS BIGINT)))"
        s2 = f"list_sum(list_transform({ft}, x -> CAST(x AS BIGINT)*x))"
        n = f"len({ft})"
        nd = f"len(list_distinct({ft}))"
        mn, mx = f"list_min({ft})", f"list_max({ft})"
    mean = f"(CAST({s1} AS DOUBLE) / {n})"
    var = f"(CAST({s2} AS DOUBLE) / {n} - {mean} * {mean})"
    return {
        "mean": mean,
        "std": f"sqrt(greatest({var}, 0.0))",
        "min": f"CAST({mn} AS INTEGER)",
        "max": f"CAST({mx} AS INTEGER)",
        "distinct_ratio": f"(CAST({nd} AS DOUBLE) / {n})",
    }


def featurize_frames_sql(frames: DataFrame, spec: FrameSpec = DEFAULT_FRAME) -> DataFrame:
    """Featurize an existing frame table (pure SQL) — used by the batch
    oracle twin AND the streaming foreachBatch sink (frames arrive from
    the stateful buffer, features computed per micro-batch)."""
    ft = "frame_tokens"
    counts = _counts_sql(spec, ft, spark=True)
    st = stats_sql_fields(ft, spark=True)
    stats = ", ".join(f"{v} as {k}" for k, v in st.items())
    return frames.selectExpr(
        "doc_id",
        "frame_id",
        "frame_tokens",
        f"{_db_sql(spec, counts, spark=True)} as features",
        f"struct({stats}) as stats",
    )


def frame_features_sql(df: DataFrame, spec: FrameSpec = DEFAULT_FRAME) -> DataFrame:
    """Pure-Spark-SQL formulation (no Python) — oracle twin of
    ``frame_features``; also the fallback path if Arrow is unavailable."""
    return featurize_frames_sql(frame_table(df, spec), spec)


def frame_features_oracle_sql(
    spec: FrameSpec = DEFAULT_FRAME, frames_from: str = "frames"
) -> str:
    """DuckDB SELECT over a ``frames`` CTE producing identical features."""
    ft = "frame_tokens"
    counts = _counts_sql(spec, ft, spark=False)
    st = stats_sql_fields(ft, spark=False)
    stats = ", ".join(f"{v} AS {k}" for k, v in st.items())
    return (
        f"SELECT doc_id, frame_id, frame_tokens, "
        f"{_db_sql(spec, counts, spark=False)} AS features, "
        f"struct_pack(mean := {st['mean']}, std := {st['std']}, "
        f"min := {st['min']}, max := {st['max']}, "
        f"distinct_ratio := {st['distinct_ratio']}) AS stats "
        f"FROM {frames_from}"
    )
