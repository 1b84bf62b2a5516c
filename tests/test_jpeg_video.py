"""Baseline JPEG codec.

Layers: DCT/Huffman/bitstream identities, marker round trips, full
image round trips (4:4:4, 4:2:0, grayscale), restart intervals and the
progressive seam. JPEG header probing is tested in
test_multimodal_probe.py.
"""

from __future__ import annotations

import numpy as np
import pytest

from audio_feature_extraction_spark.core.errors import LoadError
from audio_feature_extraction_spark.multimodal import jpeg as J


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = ((a.astype(float) - b.astype(float)) ** 2).mean()
    return float(10 * np.log10(255 ** 2 / max(mse, 1e-12)))


def _test_rgb(h=40, w=56, seed=1):
    rng = np.random.default_rng(seed)
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    img = (xx * 3 + yy * 2 + rng.integers(0, 12, (h, w))).astype(np.float64)
    return np.stack(
        [img % 256, (img * 1.3) % 256, (255 - img) % 256], axis=2
    ).astype(np.uint8)


# ---------------------------------------------------------------------------
# identities
# ---------------------------------------------------------------------------


def test_dct_orthonormal():
    rng = np.random.default_rng(2)
    b = rng.standard_normal((8, 8))
    assert np.abs(J.idct2(J.dct2(b)) - b).max() < 1e-12
    # Parseval
    assert abs((J.dct2(b) ** 2).sum() - (b ** 2).sum()) < 1e-9


def test_zigzag_is_a_permutation():
    assert sorted(J.ZIGZAG.tolist()) == list(range(64))
    # the classic start of the zig-zag walk
    assert J.ZIGZAG[:6].tolist() == [0, 1, 8, 16, 9, 2]


def test_dht_canonical_roundtrip():
    lengths = {0: 2, 1: 3, 2: 3, 3: 3, 0xF0: 4, 0x11: 4, 0x21: 5, 0x31: 5}
    bits, huffval = J.lengths_to_dht(lengths)
    enc, dec = J.build_huffman(bits, huffval)
    # canonical order: increasing (length, symbol); prefix-free
    codes = sorted(enc.values())
    for i, (c1, l1) in enumerate(codes):
        for c2, l2 in codes[i + 1 :]:
            assert l1 > l2 or (c2 >> (l2 - l1)) != c1
    assert {dec[v] for v in dec} == set(lengths)


def test_extend_is_t81():
    for v in (-255, -17, -1, 0, 1, 17, 255):
        t = J._category(v)
        raw = v if v >= 0 else v + (1 << t) - 1
        assert J._extend(raw, t) == v


def test_byte_stuffing_roundtrip():
    bw = J.JBitWriter()
    # force an 0xFF byte in the stream
    bw.write(0xFF, 8)
    bw.write(0xAB, 8)
    data = bw.tobytes()
    assert b"\xff\x00" in data
    br = J.JBitReader(data, 0)
    assert br.read(8) == 0xFF and br.read(8) == 0xAB


# ---------------------------------------------------------------------------
# image round trips
# ---------------------------------------------------------------------------


def test_roundtrip_444():
    rgb = _test_rgb()
    out = J.decode_jpeg(J.encode_jpeg(rgb, quality=2))
    assert out.shape == rgb.shape
    assert _psnr(out, rgb) > 30.0


def test_roundtrip_420_subsampled():
    rgb = _test_rgb()
    blob = J.encode_jpeg(rgb, quality=2, subsample=True)
    out = J.decode_jpeg(blob)
    assert out.shape == rgb.shape
    # chroma is quarter-res; luma should still be close
    lum_in = rgb.astype(float).mean(axis=2)
    lum_out = out.astype(float).mean(axis=2)
    assert _psnr(lum_out, lum_in) > 22.0
    assert len(blob) < len(J.encode_jpeg(rgb, quality=2))


def test_roundtrip_grayscale_and_quality_knob():
    rgb = _test_rgb()
    g = rgb[:, :, 0]
    p = [
        _psnr(J.decode_jpeg(J.encode_jpeg(g, quality=q))[:, :, 0], g)
        for q in (1, 4, 16)
    ]
    assert p[0] > p[1] > p[2]
    assert p[0] > 38.0


def test_odd_dimensions_pad_and_crop():
    rgb = _test_rgb(h=19, w=13)
    out = J.decode_jpeg(J.encode_jpeg(rgb, quality=2))
    assert out.shape == (19, 13, 3)


def test_progressive_is_explicit_seam():
    blob = bytearray(J.encode_jpeg(_test_rgb(), quality=2))
    idx = blob.find(b"\xff\xc0")
    blob[idx + 1] = 0xC2  # relabel SOF0 -> SOF2 (progressive)
    with pytest.raises(LoadError, match="progressive"):
        J.decode_jpeg(bytes(blob))


def test_restart_intervals_roundtrip():
    """DRI + RSTn markers: byte-aligned restarts with DC predictor
    resets decode identically to the unrestarted stream."""
    rng = np.random.default_rng(4)
    rgb = rng.integers(0, 255, (48, 64, 3)).astype(np.uint8)
    base = J.decode_jpeg(J.encode_jpeg(rgb, quality=2))
    blob = J.encode_jpeg(rgb, quality=2, restart_interval=3)
    n_rst = sum(
        1 for i in range(len(blob) - 1)
        if blob[i] == 0xFF and 0xD0 <= blob[i + 1] <= 0xD7
    )
    assert n_rst > 5
    assert np.array_equal(J.decode_jpeg(blob), base)
