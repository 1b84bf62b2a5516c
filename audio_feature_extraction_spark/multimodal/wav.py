"""Pure-numpy RIFF/WAVE codec (≙ AudioFileLoader, design.md:451-475;
FR-1.1 requirements.md:18 lists WAV among the supported formats).

No external codec libraries: WAV/PCM is a trivial container. Supported:
PCM 8/16/24/32-bit int, IEEE float32/64, WAVE_FORMAT_EXTENSIBLE
wrappers, any channel count (mixdown = channel mean, matching the
reference's mono conversion). No engine module calls it; ``cli probe``
reads WAV headers itself (multimodal/probe.py).

``encode_pcm16`` is the inverse (mono int16 writer) — used by the
round-trip tests.
"""

from __future__ import annotations

import numpy as np

from audio_feature_extraction_spark.core.errors import LoadError


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes -> (mono float64 signal in [-1, 1], sample_rate).

    Multi-channel input is mixed down by per-frame channel mean
    (float64), mirroring the reference loader's mono conversion.
    """
    b = payload
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise LoadError("not a RIFF/WAVE payload")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or len(fmt) < 16 or data is None:
        raise LoadError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = max(int.from_bytes(fmt[2:4], "little"), 1)
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format == 0xFFFE and len(fmt) >= 26:  # WAVE_FORMAT_EXTENSIBLE
        audio_format = int.from_bytes(fmt[24:26], "little")

    if audio_format == 1:  # integer PCM
        if bits == 8:  # 8-bit WAV is unsigned by convention
            x = (np.frombuffer(data, np.uint8).astype(np.float64) - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(data, "<i2").astype(np.float64) / 32768.0
        elif bits == 24:
            raw = np.frombuffer(data, np.uint8)
            raw = raw[: len(raw) - len(raw) % 3].reshape(-1, 3).astype(np.int32)
            vals = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
            vals = np.where(vals >= 1 << 23, vals - (1 << 24), vals)
            x = vals.astype(np.float64) / float(1 << 23)
        elif bits == 32:
            x = np.frombuffer(data, "<i4").astype(np.float64) / 2147483648.0
        else:
            raise LoadError(f"unsupported PCM bit depth {bits}")
    elif audio_format == 3 and bits == 32:  # IEEE float
        x = np.frombuffer(data, "<f4").astype(np.float64)
    elif audio_format == 3 and bits == 64:
        x = np.frombuffer(data, "<f8").astype(np.float64)
    else:
        raise LoadError(f"unsupported WAV format code {audio_format}/{bits}")

    if n_channels > 1:
        x = x[: len(x) - len(x) % n_channels].reshape(-1, n_channels).mean(axis=1)
    return x, sample_rate


def encode_pcm16(signal: np.ndarray, sample_rate: int) -> bytes:
    """Mono float signal in [-1, 1] -> 16-bit PCM RIFF/WAVE bytes."""
    # scale by 32768 (the decoder's divisor) so decode(encode(x)) is within
    # half an LSB of x; +1.0 saturates at 32767
    pcm = np.round(np.asarray(signal, dtype=np.float64) * 32768.0)
    pcm = np.clip(pcm, -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    fmt = (
        (1).to_bytes(2, "little")            # PCM
        + (1).to_bytes(2, "little")          # mono
        + int(sample_rate).to_bytes(4, "little")
        + int(sample_rate * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")          # block align
        + (16).to_bytes(2, "little")         # bits
    )
    chunks = (
        b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    return b"RIFF" + len(chunks).to_bytes(4, "little") + chunks
