"""Baseline JPEG (ITU-T T.81 / ISO 10918-1) codec — pure numpy/python.

No engine module calls it; ``cli probe`` reads the JPEG SOFn frame
header itself (multimodal/probe.py).

Spec-faithful structure: the marker stream (SOI / APP / DQT / SOF0 /
DHT / SOS / RSTn / EOI), 8-bit quantization tables in zig-zag order,
DHT's BITS/HUFFVAL canonical Huffman definition (codes assigned by
increasing length then value order — T.81 Annex C), the entropy-coded
segment with byte stuffing (0xFF 0x00), DC prediction per component
with difference categories, AC run-length RRRRSSSS coding with EOB and
ZRL, restart-interval DC resets, dequantize -> inverse zig-zag -> 8x8
IDCT -> +128 level shift, and YCbCr (BT.601 full-range, the JFIF
convention) with 4:4:4 or 4:2:0 chroma.

Engine-canonical rather than spec-tabulated (the repo ships no Annex K
lookup tables): the quantization matrix is an analytic ramp
q[u, v] = clamp(round(quality * (1 + u + v)), 1, 255) and the Huffman
code-length profiles come from the engine's deterministic weight rules
— the DHT encoding, code assignment, and entropy layout are exactly
T.81's, so streams interoperate structurally (a third-party decoder
reads our DQT/DHT and vice versa; only the default-table *choices*
differ). Progressive (SOF2), arithmetic coding, and 12-bit precision
raise explicit errors — the documented seams.
"""

from __future__ import annotations

import numpy as np

from audio_feature_extraction_spark.core.errors import LoadError

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])

# 8x8 DCT-II basis (orthonormal): IDCT is the transpose
_C = np.array([
    [np.sqrt(1 / 8)] * 8
] + [
    [np.sqrt(2 / 8) * np.cos((2 * x + 1) * u * np.pi / 16) for x in range(8)]
    for u in range(1, 8)
])


def idct2(block: np.ndarray) -> np.ndarray:
    return _C.T @ block @ _C


def dct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def quant_matrix(quality: int) -> np.ndarray:
    """Engine-canonical analytic quantization ramp (higher-frequency
    coefficients quantize coarser); quality 1 = near-lossless."""
    u, v = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    return np.clip(np.round(quality * (1.0 + u + v)), 1, 255).astype(np.int64)


# ---------------------------------------------------------------------------
# Canonical Huffman per T.81 Annex C: BITS (count per length 1..16) +
# HUFFVAL (symbols in code order) <-> (symbol -> (code, len)) maps
# ---------------------------------------------------------------------------


def build_huffman(bits: list[int], huffval: list[int]):
    if len(bits) != 16 or sum(bits) != len(huffval):
        raise LoadError("malformed DHT BITS/HUFFVAL")
    enc: dict[int, tuple[int, int]] = {}
    dec: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            if code >= (1 << ln):
                raise LoadError("over-subscribed DHT code lengths")
            sym = huffval[k]
            enc[sym] = (code, ln)
            dec[(code, ln)] = sym
            code += 1
            k += 1
        code <<= 1
    return enc, dec


def lengths_to_dht(lengths: dict[int, int]) -> tuple[list[int], list[int]]:
    """symbol -> code length mapping to (BITS, HUFFVAL) with canonical
    (length, symbol) ordering."""
    bits = [0] * 16
    huffval = []
    for sym in sorted(lengths, key=lambda s: (lengths[s], s)):
        ln = lengths[sym]
        if not 1 <= ln <= 16:
            raise LoadError(f"huffman length {ln} out of DHT range")
        bits[ln - 1] += 1
        huffval.append(sym)
    return bits, huffval


def _huffman_lengths(weights: dict[int, int], cap: int = 16) -> dict[int, int]:
    """Deterministic Huffman lengths over integer weights (ties by
    symbol), flattened to the DHT 16-bit cap by minimal lengthening."""
    import heapq

    syms = sorted(weights)
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(w, s, (s,)) for s, w in sorted(weights.items())]
    heapq.heapify(heap)
    lengths = {s: 0 for s in syms}
    counter = max(syms) + 1
    while len(heap) > 1:
        w1, _, s1 = heapq.heappop(heap)
        w2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            lengths[s] += 1
        heapq.heappush(heap, (w1 + w2, counter, s1 + s2))
        counter += 1
    # cap at 16 (JPEG limit): push any deeper symbol up to 16 and
    # re-balance by extending the shallowest until Kraft <= 1
    for s in lengths:
        lengths[s] = min(lengths[s], cap)
    while sum(2.0 ** -l for l in lengths.values()) > 1.0:
        s = min((s for s in lengths if lengths[s] < cap),
                key=lambda s: (lengths[s], s))
        lengths[s] += 1
    return lengths


# ---------------------------------------------------------------------------
# Bit I/O over the entropy-coded segment (MSB-first, 0xFF byte stuffing)
# ---------------------------------------------------------------------------


class JBitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def tobytes(self) -> bytes:
        bits = self.bits + [1] * ((8 - len(self.bits) % 8) % 8)  # 1-padding
        raw = bytearray()
        for i in range(0, len(bits), 8):
            byte = 0
            for b in bits[i : i + 8]:
                byte = (byte << 1) | b
            raw.append(byte)
            if byte == 0xFF:
                raw.append(0x00)  # byte stuffing
        return bytes(raw)


class JBitReader:
    """Reads the entropy segment, unstuffing 0xFF 0x00."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.byte_pos = start
        self.bit_pos = 0
        self.cur = None

    def _next_byte(self) -> int:
        if self.byte_pos >= len(self.data):
            raise LoadError("entropy segment truncated")
        b = self.data[self.byte_pos]
        self.byte_pos += 1
        if b == 0xFF:
            if self.byte_pos >= len(self.data):
                raise LoadError("dangling 0xFF in entropy segment")
            nxt = self.data[self.byte_pos]
            if nxt == 0x00:
                self.byte_pos += 1
            else:
                raise LoadError(f"unexpected marker 0xFF{nxt:02X} mid-scan")
        return b

    def read_bit(self) -> int:
        if self.cur is None or self.bit_pos == 8:
            self.cur = self._next_byte()
            self.bit_pos = 0
        bit = (self.cur >> (7 - self.bit_pos)) & 1
        self.bit_pos += 1
        return bit

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_huff(self, dec: dict[tuple[int, int], int]) -> int:
        c, n = 0, 0
        while n <= 16:
            c = (c << 1) | self.read_bit()
            n += 1
            s = dec.get((c, n))
            if s is not None:
                return s
        raise LoadError("invalid huffman code in scan")


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map a t-bit magnitude to the signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JPEG -> (H, W, 3) uint8 RGB (grayscale replicated)."""
    b = bytes(payload)
    if b[:2] != b"\xff\xd8":
        raise LoadError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise LoadError(f"marker sync lost at byte {pos}")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = int.from_bytes(b[pos + 2 : pos + 4], "big")
        seg = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 15
                if pq != 0:
                    raise LoadError("16-bit quant tables unsupported")
                table = np.frombuffer(
                    seg[off + 1 : off + 65], dtype=np.uint8
                ).astype(np.int64)
                qt[tq] = table
                off += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec = seg[0]
            if prec != 8:
                raise LoadError("only 8-bit precision supported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid = seg[6 + c * 3]
                hv = seg[7 + c * 3]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15,
                     "tq": seg[8 + c * 3]}
                )
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC9, 0xCA):
            raise LoadError(
                "only baseline sequential DCT (SOF0) is supported — "
                "progressive/arithmetic JPEG is the documented seam"
            )
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 15
                bits = list(seg[off + 1 : off + 17])
                n = sum(bits)
                huffval = list(seg[off + 17 : off + 17 + n])
                _, dec = build_huffman(bits, huffval)
                (huff_dc if tc == 0 else huff_ac)[th] = dec
                off += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise LoadError("SOS before SOF0")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs = seg[1 + c * 2]
                tdta = seg[2 + c * 2]
                comp = next(x for x in frame["comps"] if x["id"] == cs)
                scan.append(
                    {"comp": comp, "dc": tdta >> 4, "ac": tdta & 15}
                )
            data_start = pos + 2 + seglen
            return _decode_scan(
                b, data_start, frame, scan, qt, huff_dc, huff_ac,
                restart_interval,
            )
        pos += 2 + seglen
    raise LoadError("no SOS scan found")


def _decode_scan(
    b, start, frame, scan, qt, huff_dc, huff_ac, restart_interval
):
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = {}
    for c in frame["comps"]:
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes[c["id"]] = np.zeros((ph, pw))
    br = JBitReader(b, start)
    pred = {s["comp"]["id"]: 0 for s in scan}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                _sync_restart(br)
                pred = {k: 0 for k in pred}
            for s in scan:
                c = s["comp"]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = _decode_block(
                            br, huff_dc[s["dc"]], huff_ac[s["ac"]],
                            qt[c["tq"]], pred, c["id"],
                        )
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = blk
            mcu_count += 1
    comps = frame["comps"]
    if len(comps) == 1:
        g = np.clip(planes[comps[0]["id"]][:h, :w] + 128, 0, 255)
        return np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)
    # upsample chroma to luma grid
    luma = comps[0]
    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])
    y, cb, cr = (pl + (128 if i == 0 else 0) for i, pl in enumerate(out_planes))
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    return np.clip(np.stack([r, g, bl], axis=2), 0, 255).astype(np.uint8)


def _sync_restart(br: JBitReader) -> None:
    # discard padding bits; expect an RSTn marker
    br.cur = None
    b = br.data
    p = br.byte_pos
    if p + 1 < len(b) and b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7:
        br.byte_pos = p + 2
    else:
        raise LoadError("missing RSTn at restart interval")


def _decode_block(br, dc_dec, ac_dec, qtab, pred, cid) -> np.ndarray:
    zz = np.zeros(64, dtype=np.int64)
    t = br.read_huff(dc_dec)
    diff = _extend(br.read(t), t) if t else 0
    pred[cid] += diff
    zz[0] = pred[cid]
    k = 1
    while k < 64:
        rs = br.read_huff(ac_dec)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:
                k += 16      # ZRL
                continue
            break            # EOB
        k += r
        if k > 63:
            raise LoadError("AC run overruns the block")
        zz[k] = _extend(br.read(s), s)
        k += 1
    dq = zz * qtab
    block = np.zeros(64)
    block[ZIGZAG] = dq
    return idct2(block.reshape(8, 8))


# ---------------------------------------------------------------------------
# Encoder (fixture generator)
# ---------------------------------------------------------------------------


def _encode_block(bw, blk, qtab, dc_enc, ac_enc, pred, cid) -> None:
    coef = dct2(blk)
    zz = np.round(coef.reshape(64)[ZIGZAG] / qtab).astype(np.int64)
    diff = int(zz[0]) - pred[cid]
    pred[cid] = int(zz[0])
    t = _category(diff)
    c, n = dc_enc[t]
    bw.write(c, n)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, n = ac_enc[0xF0]  # ZRL
            bw.write(c, n)
            run -= 16
        s = _category(v)
        c, n = ac_enc[(run << 4) | s]
        bw.write(c, n)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        c, n = ac_enc[0x00]  # EOB
        bw.write(c, n)


def _engine_tables():
    """Deterministic engine Huffman profiles: DC categories 0..11
    weighted toward small diffs; AC RRRRSSSS symbols weighted toward
    short runs / small sizes, EOB cheapest."""
    dc_w = {t: 1 << max(0, 12 - t) for t in range(12)}
    ac_w = {0x00: 1 << 16, 0xF0: 1 << 6}
    for r in range(16):
        for s in range(1, 11):
            ac_w[(r << 4) | s] = 1 << max(0, 14 - r - s)
    return _huffman_lengths(dc_w), _huffman_lengths(ac_w)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def encode_jpeg(
    rgb: np.ndarray, quality: int = 2, subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Deterministic baseline JPEG fixture encoder: (H, W, 3) uint8 (or
    (H, W) grayscale) -> a T.81 stream decodable by :func:`decode_jpeg`
    and structurally by any baseline decoder.  ``subsample`` switches
    chroma from 4:4:4 to 4:2:0; ``restart_interval`` emits a DRI
    segment and RSTn markers every N MCUs (DC predictors reset)."""
    rgb = np.asarray(rgb)
    gray = rgb.ndim == 2
    h, w = rgb.shape[:2]
    # DQT stores the table in zig-zag order; qtab_zz[i] applies to
    # zig-zag coefficient i (quant_matrix is in (u, v) raster layout)
    qtab_zz = quant_matrix(quality).reshape(64)[ZIGZAG]
    dc_len, ac_len = _engine_tables()
    dc_bits, dc_val = lengths_to_dht(dc_len)
    ac_bits, ac_val = lengths_to_dht(ac_len)
    dc_enc, _ = build_huffman(dc_bits, dc_val)
    ac_enc, _ = build_huffman(ac_bits, ac_val)

    if gray:
        comps = [{"id": 1, "h": 1, "v": 1}]
        planes = {1: rgb.astype(np.float64) - 128.0}
    else:
        r = rgb[:, :, 0].astype(np.float64)
        g = rgb[:, :, 1].astype(np.float64)
        bl = rgb[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * bl - 128.0
        cb = -0.168736 * r - 0.331264 * g + 0.5 * bl
        cr = 0.5 * r - 0.418688 * g - 0.081312 * bl
        if subsample:
            comps = [{"id": 1, "h": 2, "v": 2},
                     {"id": 2, "h": 1, "v": 1},
                     {"id": 3, "h": 1, "v": 1}]
            cb = cb[::2, ::2]
            cr = cr[::2, ::2]
        else:
            comps = [{"id": 1, "h": 1, "v": 1},
                     {"id": 2, "h": 1, "v": 1},
                     {"id": 3, "h": 1, "v": 1}]
        planes = {1: y, 2: cb, 3: cr}

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # pad planes to whole blocks (edge replicate)
    for c in comps:
        p = planes[c["id"]]
        ph, pw = mcuy * 8 * c["v"], mcux * 8 * c["h"]
        pad_y, pad_x = ph - p.shape[0], pw - p.shape[1]
        planes[c["id"]] = np.pad(p, ((0, pad_y), (0, pad_x)), mode="edge")

    bw = JBitWriter()
    scan_bytes = bytearray()
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                scan_bytes += bw.tobytes()      # byte-align (1-padded)
                scan_bytes += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                bw = JBitWriter()
                pred = {k: 0 for k in pred}
            for c in comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        blk = planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8]
                        _encode_block(
                            bw, blk, qtab_zz, dc_enc, ac_enc, pred, c["id"]
                        )
            mcu_count += 1
    scan_bytes += bw.tobytes()

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(int(v) for v in qtab_zz))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([len(comps)])
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], 0])
    out += _seg(0xC0, sof)
    out += _seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_val))
    out += _seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_val))
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([len(comps)])
    for c in comps:
        sos += bytes([c["id"], 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)
    out += bytes(scan_bytes)
    out += b"\xff\xd9"
    return bytes(out)
