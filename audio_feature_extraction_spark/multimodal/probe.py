"""Container sniffing + real metadata extraction over binary columns.

``probe_payload`` recognizes WAV, FLAC, MP3, OGG (Vorbis/Opus),
MP4/ISO-BMFF, AVI, Matroska/WebM, PNG, BMP and JPEG from magic bytes
and parses header metadata only, decoding no samples or pixels: WAV
fmt chunk, FLAC STREAMINFO, the MP3 frame walk (multimodal/mpeg.py),
the Ogg page walk (multimodal/ogg.py), the ISO-BMFF box walk
(multimodal/mp4.py), the AVI RIFF hdrl walk (multimodal/avi.py), the
EBML element walk (multimodal/mkv.py), PNG IHDR, BMP info header, JPEG
SOFn frame header.

``probe_media_metadata`` lifts it to a DataFrame operator: an
Arrow-batched narrow map over the payload scan (probe-where-the-
bytes-live; only fixed-width metadata leaves the executor) — the
100 TB-safe shape for corpus intake triage: route by container, drop
corrupt payloads, bucket by duration/resolution. ≙ the probe half of
the reference's AudioFileLoader (design.md:451-475); the engine's
input is pre-tokenized sequences, so it has no decode half.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from audio_feature_extraction_spark.core.errors import LoadError


class ProbeError(LoadError):
    pass


def _probe_wav(b: bytes) -> dict:
    if len(b) < 12 or b[8:12] != b"WAVE":
        raise ProbeError("not a WAVE file")
    pos, fmt, data_len = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if cid == b"fmt " and pos + 8 + 16 <= len(b):
            fmt = struct.unpack("<HHIIHH", b[pos + 8 : pos + 24])
        elif cid == b"data":
            data_len = size
        pos += 8 + size + (size & 1)
    if fmt is None:
        raise ProbeError("missing fmt chunk")
    _audio_fmt, channels, rate, _bps, block_align, bits = fmt
    out = {
        "container": "wav",
        "codec": "pcm" if _audio_fmt == 1 else f"wave_fmt_{_audio_fmt}",
        "channels": channels,
        "sample_rate": rate,
    }
    if data_len is not None and block_align:
        n = data_len // block_align
        out["n_frames"] = n
        out["duration_s"] = n / rate if rate else None
    return out


def _probe_flac(b: bytes) -> dict:
    # STREAMINFO is mandatory and first (RFC 9639 §8.2)
    if len(b) < 4 + 4 + 34:
        raise ProbeError("truncated flac header")
    if (b[4] & 0x7F) != 0:
        raise ProbeError("first metadata block is not STREAMINFO")
    si = b[8 : 8 + 34]
    sample_rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
    channels = ((si[12] >> 1) & 0x7) + 1
    total = ((si[13] & 0x0F) << 32) | int.from_bytes(si[14:18], "big")
    return {
        "container": "flac",
        "codec": "flac",
        "channels": channels,
        "sample_rate": sample_rate,
        "n_frames": total,
        "duration_s": total / sample_rate if sample_rate else None,
    }


def _probe_png(b: bytes) -> dict:
    if len(b) < 24 or b[12:16] != b"IHDR":
        raise ProbeError("missing IHDR")
    w, h = struct.unpack(">II", b[16:24])
    return {"container": "png", "codec": "png", "width": w, "height": h}


def _probe_bmp(b: bytes) -> dict:
    if len(b) < 26:
        raise ProbeError("truncated bmp header")
    header_size = int.from_bytes(b[14:18], "little")
    if header_size >= 40:
        w = int.from_bytes(b[18:22], "little", signed=True)
        h = int.from_bytes(b[22:26], "little", signed=True)
    else:  # BITMAPCOREHEADER
        w = int.from_bytes(b[18:20], "little")
        h = int.from_bytes(b[20:22], "little")
    return {"container": "bmp", "codec": "bmp", "width": w, "height": abs(h)}


def _probe_jpeg(b: bytes) -> dict:
    """Walk the marker stream to the frame header (any SOFn) for
    dimensions + component count; baseline vs progressive is reported
    in the codec string."""
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ProbeError(f"jpeg marker sync lost at byte {pos}")
        marker = b[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            pos += 2
            continue
        seglen = int.from_bytes(b[pos + 2 : pos + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            seg = b[pos + 4 : pos + 2 + seglen]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            kind = {0xC0: "baseline", 0xC1: "extended", 0xC2: "progressive"}
            return {
                "container": "jpeg",
                "codec": f"jpeg_{kind.get(marker, f'sof{marker - 0xC0}')}",
                "width": w,
                "height": h,
                "channels": seg[5],
            }
        pos += 2 + seglen
    raise ProbeError("jpeg frame header (SOFn) not found")


def probe_payload(payload: bytes) -> dict:
    """Sniff the container from magic bytes and parse its metadata.
    Raises a ``core.errors.LoadError`` subclass (ProbeError or the
    walker's own error) on unrecognized or corrupt payloads — callers
    in skip mode record and continue."""
    b = bytes(payload)
    if b[:4] == b"RIFF":
        if b[8:12] == b"AVI ":
            from audio_feature_extraction_spark.multimodal.avi import parse_avi

            info = parse_avi(b)
            audio = next(
                (s for s in info.streams if s.kind == "audio"), None
            )
            return {
                "container": "avi",
                "codec": info.video_codec or info.audio_codec,
                "channels": audio.channels if audio else None,
                "sample_rate": audio.sample_rate if audio else None,
                "width": info.width,
                "height": info.height,
                "n_frames": info.n_frames,
                "duration_s": info.duration_s,
            }
        return _probe_wav(b)
    if b[:4] == b"\x1aE\xdf\xa3":
        from audio_feature_extraction_spark.multimodal.mkv import parse_mkv

        info = parse_mkv(b)
        video = next((t for t in info.tracks if t.kind == "video"), None)
        audio = next((t for t in info.tracks if t.kind == "audio"), None)
        return {
            "container": "webm" if info.doc_type == "webm" else "mkv",
            "codec": info.video_codec or info.audio_codec,
            "channels": audio.channels if audio else None,
            "sample_rate": audio.sample_rate if audio else None,
            "width": video.width if video else None,
            "height": video.height if video else None,
            "duration_s": info.duration_s,
        }
    if b[:4] == b"fLaC":
        return _probe_flac(b)
    if b[:4] == b"OggS":
        from audio_feature_extraction_spark.multimodal.ogg import parse_ogg

        info = parse_ogg(b)
        return {
            "container": "ogg",
            "codec": info.codec,
            "channels": info.channels,
            "sample_rate": info.sample_rate,
            "n_frames": info.n_pages,
            "duration_s": info.duration_s,
        }
    if len(b) >= 12 and b[4:8] == b"ftyp":
        from audio_feature_extraction_spark.multimodal.mp4 import parse_mp4

        info = parse_mp4(b)
        video = next((t for t in info.tracks if t.kind == "video"), None)
        audio = next((t for t in info.tracks if t.kind == "audio"), None)
        return {
            "container": "mp4",
            "codec": info.video_codec or info.audio_codec,
            # audio track timescale is the sample rate by convention
            "sample_rate": audio.timescale if audio else None,
            "width": info.width,
            "height": info.height,
            "n_frames": video.n_samples if video else None,
            "duration_s": info.duration_s,
        }
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return _probe_png(b)
    if b[:2] == b"BM":
        return _probe_bmp(b)
    if b[:2] == b"\xff\xd8":
        return _probe_jpeg(b)
    if b[:3] == b"ID3" or (
        len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0
    ):
        from audio_feature_extraction_spark.multimodal.mpeg import parse_mp3

        info = parse_mp3(b)
        return {
            "container": "mp3",
            "codec": f"mpeg{info.mpeg_version}_layer{info.layer}",
            "channels": info.channels,
            "sample_rate": info.sample_rate,
            "n_frames": info.n_frames,
            "duration_s": info.duration_s,
            "bit_rate_kbps": info.avg_bitrate_kbps,
            "vbr": info.vbr,
        }
    raise ProbeError(f"unrecognized container (magic {b[:4]!r})")


PROBE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("container", T.StringType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("bit_rate_kbps", T.DoubleType(), True),
        T.StructField("vbr", T.BooleanType(), True),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

_PROBE_FIELDS = (
    "container", "codec", "channels", "sample_rate", "width", "height",
    "n_frames", "duration_s", "bit_rate_kbps", "vbr",
)


def probe_media_metadata(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    on_error: str = "skip",
) -> DataFrame:
    """binary payload -> one metadata row per payload (Arrow-batched).
    ``on_error="skip"`` (default — at corpus scale some payloads WILL be
    bad) emits null metadata + the error string; ``"raise"`` fails the
    task on the first corrupt payload."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be raise|skip, got {on_error!r}")
    skip = on_error == "skip"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload)
                try:
                    meta, err = probe_payload(b), None
                except Exception as e:  # noqa: BLE001 — per-row recovery
                    if not skip:
                        raise
                    meta, err = {}, f"{type(e).__name__}: {e}"
                rows.append(
                    (mid, *(meta.get(f) for f in _PROBE_FIELDS), len(b), err)
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["media_id", *_PROBE_FIELDS, "n_bytes", "error"]
                )

    return media.select(
        media[id_col].alias(id_col), media[payload_col].alias(payload_col)
    ).mapInPandas(run, schema=PROBE_SCHEMA)
