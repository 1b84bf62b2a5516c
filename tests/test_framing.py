"""Frame/hop grid + feature kernel vs the pure-Python oracle.

Mirrors the reference's test strategy (design.md:2260-2345): known-pattern
goldens (≙ sine-wave golden 2266-2278), exact round-trip (≙ SNR>30dB
2280-2294, exact here per input_hint), edge lengths (FIXTURES §1).
"""

from __future__ import annotations

import numpy as np
import pytest

from audio_feature_extraction_spark.core.config import FrameSpec
from audio_feature_extraction_spark.core.schemas import TOKEN_SEQUENCES
from audio_feature_extraction_spark.operators import framing, inverse

from tests import oracle

SPEC = FrameSpec(frame_len=16, hop=8)


def _mkdf(spark, seqs):
    rows = [
        (f"doc_{i}", toks, len(toks), "web") for i, toks in enumerate(seqs)
    ]
    return spark.createDataFrame(rows, schema=TOKEN_SEQUENCES)


@pytest.fixture(scope="module")
def edge_seqs():
    rng = np.random.RandomState(42)
    return [
        list(range(100, 100 + 40)),              # non-multiple of hop
        [7] * 16,                                 # exactly one frame, constant
        [1, 2, 3],                                # n_tok < frame_len
        [5],                                      # single token
        rng.randint(0, 32768, size=257).tolist(), # long, odd length
        [0, 32767] * 20,                          # extreme values
    ]


def test_frame_spec_validation():
    with pytest.raises(ValueError):
        FrameSpec(frame_len=8, hop=16)  # hop > frame_len (design.md:203-204)
    with pytest.raises(ValueError):
        FrameSpec(frame_len=0, hop=1)
    assert FrameSpec(frame_len=16, hop=8).n_buckets == 9
    assert SPEC.n_frames(0) == 0
    assert SPEC.n_frames(1) == 1
    assert SPEC.n_frames(16) == 2  # starts at 0 and 8
    assert SPEC.n_frames(17) == 3


def test_frame_grid_matches_oracle(spark, edge_seqs):
    df = _mkdf(spark, edge_seqs)
    got = {
        (r.doc_id, r.frame_id): list(r.frame_tokens)
        for r in framing.frame_table(df, SPEC).collect()
    }
    for i, toks in enumerate(edge_seqs):
        exp = oracle.frames(toks, SPEC.frame_len, SPEC.hop)
        assert SPEC.n_frames(len(toks)) == len(exp)
        for fid, fr in enumerate(exp):
            assert got[(f"doc_{i}", fid)] == fr
    assert len(got) == sum(SPEC.n_frames(len(s)) for s in edge_seqs)


@pytest.mark.parametrize("impl", ["udf", "sql"])
def test_features_match_oracle(spark, edge_seqs, impl):
    df = _mkdf(spark, edge_seqs)
    fn = framing.frame_features if impl == "udf" else framing.frame_features_sql
    rows = fn(df, SPEC).collect()
    by_key = {(r.doc_id, r.frame_id): r for r in rows}
    for i, toks in enumerate(edge_seqs):
        for exp in oracle.frame_features(toks, SPEC.frame_len, SPEC.hop):
            r = by_key[(f"doc_{i}", exp["frame_id"])]
            assert list(r.frame_tokens) == exp["frame_tokens"]
            np.testing.assert_allclose(list(r.features), exp["features"], rtol=1e-12)
            st = r.stats.asDict()
            for k, v in exp["stats"].items():
                np.testing.assert_allclose(st[k], v, rtol=1e-12)


def test_udf_and_sql_paths_identical(spark, edge_seqs):
    df = _mkdf(spark, edge_seqs)
    a = sorted(
        framing.frame_features(df, SPEC).collect(),
        key=lambda r: (r.doc_id, r.frame_id),
    )
    b = sorted(
        framing.frame_features_sql(df, SPEC).collect(),
        key=lambda r: (r.doc_id, r.frame_id),
    )
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra.doc_id == rb.doc_id and ra.frame_id == rb.frame_id
        assert list(ra.frame_tokens) == list(rb.frame_tokens)
        assert list(ra.features) == list(rb.features)  # bit-identical
        assert ra.stats == rb.stats


@pytest.mark.parametrize(
    "spec",
    [FrameSpec(16, 8), FrameSpec(16, 16), FrameSpec(16, 4), FrameSpec(5, 3)],
)
def test_roundtrip_exact(spark, edge_seqs, spec):
    """Exact token-array equality through frame -> reconstruct
    (input_hint invariant; ≙ SC-13 SNR>30dB)."""
    df = _mkdf(spark, edge_seqs)
    frames = framing.frame_table(df, spec)
    checked = inverse.roundtrip_check(df, frames, spec).collect()
    assert len(checked) == len(edge_seqs)
    assert all(r.ok for r in checked)
    # raw-array comparison (roundtrip_check itself compares hashes)
    rec = {r.doc_id: list(r.tokens) for r in inverse.reconstruct(frames, spec).collect()}
    for i, toks in enumerate(edge_seqs):
        if toks:
            assert rec[f"doc_{i}"] == toks


def test_roundtrip_oracle_agrees(edge_seqs):
    for toks in edge_seqs:
        frs = oracle.frames(toks, SPEC.frame_len, SPEC.hop)
        assert oracle.reconstruct(frs, SPEC.frame_len, SPEC.hop) == toks


def test_empty_doc_produces_no_frames(spark):
    df = _mkdf(spark, [[]])
    assert framing.frame_table(df, SPEC).count() == 0
    assert framing.frame_features(df, SPEC).count() == 0


def test_feature_vector_shape(spark, edge_seqs):
    """n_buckets = frame_len//2+1, the bin-count invariant
    (design.md:184-189)."""
    df = _mkdf(spark, edge_seqs)
    rows = framing.frame_features(df, SPEC).collect()
    assert all(len(r.features) == SPEC.n_buckets for r in rows)


CSPEC = FrameSpec(frame_len=16, hop=8, center=True)


def _np_centered_frames(toks, spec):
    """Numpy oracle: reflect (no edge repeat) with clamp, torch.stft-style."""
    n, l, h, p = len(toks), spec.frame_len, spec.hop, spec.frame_len // 2
    out = []
    for f in range(n // h + 1):
        frame = []
        for j in range(l):
            i = f * h - p + j
            r = -i if i < 0 else (2 * n - 2 - i if i >= n else i)
            frame.append(toks[min(max(r, 0), n - 1)])
        out.append((f, frame))
    return out


def test_centered_grid_matches_numpy_oracle(spark, edge_seqs):
    df = _mkdf(spark, edge_seqs)
    got = {
        (r.doc_id, r.frame_id): list(r.frame_tokens)
        for r in framing.frame_table(df, CSPEC).collect()
    }
    for i, toks in enumerate(edge_seqs):
        exp = _np_centered_frames(toks, CSPEC)
        assert all(got[(f"doc_{i}", f)] == fr for f, fr in exp), i
        assert len([k for k in got if k[0] == f"doc_{i}"]) == len(exp)


def test_centered_kernel_equals_sql_features(spark, edge_seqs):
    """Arrow kernel over the centered grid == featurize over the centered
    SQL frame table, bit-identical (same contract as the standard grid)."""
    df = _mkdf(spark, edge_seqs)
    kern = framing.frame_features_flat(df, CSPEC).collect()
    sql = framing.featurize_frames_sql(
        framing.frame_table(df, CSPEC), CSPEC
    ).collect()
    key = lambda r: (r.doc_id, r.frame_id)  # noqa: E731
    ks, ss = sorted(kern, key=key), sorted(sql, key=key)
    assert len(ks) == len(ss) > 0
    for a, b in zip(ks, ss):
        assert key(a) == key(b)
        assert list(a.frame_tokens) == list(b.frame_tokens)
        assert list(a.features) == list(b.features)


def test_kernels_null_tokens_row_yields_no_frames(spark, edge_seqs):
    """A NULL ``tokens`` row yields no frames, as in the SQL twin, and
    the other docs' frames are unchanged (it used to raise TypeError)."""
    rows = [(f"doc_{i}", t, len(t), "web") for i, t in enumerate(edge_seqs)]
    df = spark.createDataFrame(
        rows + [("doc_null", None, 0, "web")],
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    )
    key = lambda r: (r.doc_id, r.frame_id)  # noqa: E731
    kern = sorted(framing.frame_features_flat(df, SPEC).collect(), key=key)
    sql = sorted(framing.frame_features_sql(df, SPEC).collect(), key=key)
    assert [key(r) for r in kern] == [key(r) for r in sql]
    assert [list(r.features) for r in kern] == [list(r.features) for r in sql]
    assert framing.frame_features_compact(df, SPEC).count() == len(kern)


def test_kernels_null_token_element_raises_naming_doc(spark):
    """The SQL twins disagree on a NULL token element (Spark's
    ``aggregate`` gives a NULL mean, DuckDB's ``list_sum`` skips it), so
    the kernels raise instead of inventing a third answer."""
    df = spark.createDataFrame(
        [("doc_ok", [1, 2, 3], 3, "web"), ("doc_bad", [1, None, 3], 3, "web")],
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    )
    for kernel in (framing.frame_features_flat, framing.frame_features_compact):
        with pytest.raises(Exception, match="ValueError.*doc_id doc_bad"):
            kernel(df, SPEC).collect()


def test_centered_refused_by_pit_paths(spark, edge_seqs):
    from audio_feature_extraction_spark.operators import inverse
    from audio_feature_extraction_spark.streaming import stream

    df = _mkdf(spark, edge_seqs)
    with pytest.raises(ValueError, match="point-in-time"):
        framing.trailing_frame_table(df, CSPEC)
    with pytest.raises(ValueError, match="point-in-time"):
        stream.stateful_frames(df, CSPEC)
    with pytest.raises(ValueError, match="invertible"):
        inverse.reconstruct(framing.frame_table(df, CSPEC), CSPEC)


def test_centered_composes_with_weighted_and_descriptors(spark, edge_seqs):
    """Weighted features and descriptors route through frame_table, so the
    centered grid composes without special cases."""
    from audio_feature_extraction_spark.operators import spectral

    df = _mkdf(spark, edge_seqs)
    w = framing.frame_features_weighted_sql(df, CSPEC)
    grid = {(r.doc_id, r.frame_id) for r in framing.frame_table(df, CSPEC).collect()}
    assert {(r.doc_id, r.frame_id) for r in w.collect()} == grid
    d = spectral.frame_descriptors(framing.frame_table(df, CSPEC), CSPEC)
    assert {(r.doc_id, r.frame_id) for r in d.collect()} == grid


# ---------------------------------------------------------------------------
# lossy-space iterative refinement (Griffin-Lim analog, VERDICT r03 #5)
# ---------------------------------------------------------------------------

def _gl_oracle(tokens, L, h, bits, n_iter, momentum=0.0):
    """Independent per-doc reference: plain-python alternating
    projections over the quantized-multiset feature space."""
    step = 1 << bits
    # truncated-tail grid (same as frame_table: a frame for every
    # start < len, tail frames shorter)
    starts = list(range(0, len(tokens), h))
    tg = [sorted((int(t) // step) * step for t in tokens[s:s + L])
          for s in starts]
    n = len(tokens)

    def overlap_avg(frames):
        acc, cnt = [0.0] * n, [0] * n
        for s, fr in zip(starts, frames):
            for j, v in enumerate(fr):
                acc[s + j] += v
                cnt[s + j] += 1
        return [a / max(c, 1) for a, c in zip(acc, cnt)]

    x = overlap_avg([[float(v) for v in t] for t in tg])
    errs, y_prev = [], None
    for _ in range(n_iter):
        e = 0.0
        frames = [x[s:s + L] for s in starts]
        for fr, t in zip(frames, tg):
            q = sorted((int(v // 1) // step) * step for v in fr)
            e += sum(abs(a - b) for a, b in zip(q, t))
        errs.append(e)
        newframes = []
        for fr, t in zip(frames, tg):
            order = sorted(range(len(fr)), key=lambda j: (fr[j], j))
            nf = [0.0] * len(fr)
            for rank, j in enumerate(order):
                nf[j] = float(t[rank])
            newframes.append(nf)
        y = overlap_avg(newframes)
        x = ([yi + momentum * (yi - pi) for yi, pi in zip(y, y_prev)]
             if momentum and y_prev is not None else y)
        y_prev = y
    return errs, x


def test_lossy_refine_monotone_convergence_vs_numpy_oracle(spark):
    """Quantized-multiset GL: error decreases monotonically to a nonzero
    fixed point, and Spark's kernel matches the independent oracle
    per-iteration and on the final estimate."""
    rng = np.random.default_rng(7)
    docs = {f"doc_{i}": rng.integers(0, 1000, size=100).tolist()
            for i in range(4)}
    spec = FrameSpec(frame_len=16, hop=8)
    ts = spark.createDataFrame(
        [(d, t, len(t), "s") for d, t in docs.items()], TOKEN_SEQUENCES
    )
    frames = framing.frame_table(ts, spec)
    targets = inverse.lossy_frame_targets(frames, bits=3)
    conv = inverse.lossy_refine(targets, spec, bits=3, n_iter=8)
    got = {}
    for r in conv.collect():
        got.setdefault(r.doc_id, {})[r.iter] = r.err
    est = {r.doc_id: list(r.est)
           for r in inverse.lossy_refine(
               targets, spec, bits=3, n_iter=8, emit="estimate").collect()}
    for d, toks in docs.items():
        errs = [got[d][i] for i in range(8)]
        # strictly lossy: starts imperfect, monotone non-increasing,
        # genuinely iterative (first step improves), nonzero floor
        assert errs[0] > 0
        assert all(a >= b - 1e-9 for a, b in zip(errs, errs[1:]))
        assert errs[1] < errs[0]
        exp_errs, exp_x = _gl_oracle(toks, 16, 8, 3, 8)
        np.testing.assert_allclose(errs, exp_errs, rtol=1e-12)
        np.testing.assert_allclose(est[d], exp_x, rtol=1e-12)


def test_lossy_refine_momentum_matches_oracle_and_converges(spark):
    """Fast-GL momentum extrapolation: same oracle agreement; the final
    error must not exceed the plain variant's first error."""
    rng = np.random.default_rng(11)
    toks = rng.integers(0, 512, size=80).tolist()
    spec = FrameSpec(frame_len=16, hop=8)
    ts = spark.createDataFrame([("d0", toks, len(toks), "s")], TOKEN_SEQUENCES)
    targets = inverse.lossy_frame_targets(framing.frame_table(ts, spec))
    conv = inverse.lossy_refine(targets, spec, n_iter=10, momentum=0.9)
    errs = [r.err for r in conv.orderBy("iter").collect()]
    exp_errs, _ = _gl_oracle(toks, 16, 8, 3, 10, momentum=0.9)
    np.testing.assert_allclose(errs, exp_errs, rtol=1e-12)
    assert errs[-1] < errs[0]
