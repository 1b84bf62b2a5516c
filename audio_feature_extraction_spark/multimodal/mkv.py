"""Matroska / WebM container parsing — pure python, public spec.

Real EBML element walk (RFC 8794 variable-length ids/sizes) over the
Matroska document structure: EBML header DocType ("matroska" /
"webm"), Segment -> Info (TimestampScale, Duration) and Segment ->
Tracks -> TrackEntry (TrackType, CodecID, Video PixelWidth/Height,
Audio SamplingFrequency/Channels). Completes the video-container set
next to MP4/ISO-BMFF (multimodal/mp4.py) and AVI (multimodal/avi.py).
Headers only: no sample is decoded.

≙ the reference's media-loader boundary (design.md:451-475): bytes in,
typed metadata out, corrupt payloads raise for per-row skip recovery.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from audio_feature_extraction_spark.core.errors import LoadError


class MkvError(LoadError):
    pass


# element ids (with the EBML marker bit, as they appear on the wire)
_EBML = 0x1A45DFA3
_DOCTYPE = 0x4282
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_VIDEO = 0xE0
_PIXEL_WIDTH = 0xB0
_PIXEL_HEIGHT = 0xBA
_AUDIO = 0xE1
_SAMPLING_FREQ = 0xB5
_CHANNELS = 0x9F

_UNKNOWN_SIZE = -1


@dataclass(frozen=True)
class MkvTrack:
    kind: str               # "video" | "audio" | f"type_{n}"
    codec: str | None       # CodecID, e.g. "V_VP9", "A_OPUS"
    width: int | None
    height: int | None
    sample_rate: int | None
    channels: int | None


@dataclass(frozen=True)
class MkvInfo:
    doc_type: str            # "matroska" | "webm"
    timestamp_scale_ns: int
    duration_s: float | None
    n_tracks: int
    tracks: tuple[MkvTrack, ...] = field(default_factory=tuple)

    @property
    def video_codec(self) -> str | None:
        for t in self.tracks:
            if t.kind == "video":
                return t.codec
        return None

    @property
    def audio_codec(self) -> str | None:
        for t in self.tracks:
            if t.kind == "audio":
                return t.codec
        return None


def _read_vint(b: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """Read one EBML variable-length integer at ``pos``; returns
    (value, next_pos). Ids keep the length-marker bit, sizes strip it;
    an all-ones size payload means "unknown size"."""
    if pos >= len(b):
        raise MkvError("vint past end of buffer")
    first = b[pos]
    if first == 0:
        raise MkvError(f"invalid vint lead byte 0x00 at {pos}")
    length = 9 - first.bit_length()  # leading zeros + 1
    if pos + length > len(b):
        raise MkvError(f"truncated {length}-byte vint at {pos}")
    raw = int.from_bytes(b[pos : pos + length], "big")
    if keep_marker:
        return raw, pos + length
    value = raw & ~(1 << (length * 7))
    if value == (1 << (length * 7)) - 1:  # all value bits set
        return _UNKNOWN_SIZE, pos + length
    return value, pos + length


def _elements(b: bytes, start: int, end: int):
    """Yield (element_id, body_start, body_end) over an EBML run; an
    unknown-size element extends to the enclosing end."""
    pos = start
    while pos < end:
        eid, pos = _read_vint(b, pos, keep_marker=True)
        size, pos = _read_vint(b, pos, keep_marker=False)
        body_end = end if size == _UNKNOWN_SIZE else pos + size
        if body_end > end:
            raise MkvError(
                f"element 0x{eid:x} at {pos} overruns its parent "
                f"({size} bytes declared)"
            )
        yield eid, pos, body_end
        pos = body_end


def _uint(b: bytes, s: int, e: int) -> int:
    if e - s > 8:
        raise MkvError(f"uint element wider than 8 bytes ({e - s})")
    return int.from_bytes(b[s:e], "big")


def _float(b: bytes, s: int, e: int) -> float:
    n = e - s
    if n == 4:
        return struct.unpack(">f", b[s:e])[0]
    if n == 8:
        return struct.unpack(">d", b[s:e])[0]
    if n == 0:
        return 0.0
    raise MkvError(f"float element must be 0/4/8 bytes, got {n}")


def _parse_track(b: bytes, start: int, end: int) -> MkvTrack:
    kind = "?"
    codec = None
    width = height = rate = channels = None
    for eid, s, e in _elements(b, start, end):
        if eid == _TRACK_TYPE:
            t = _uint(b, s, e)
            kind = {1: "video", 2: "audio"}.get(t, f"type_{t}")
        elif eid == _CODEC_ID:
            codec = b[s:e].decode("ascii", "replace").rstrip("\x00")
        elif eid == _VIDEO:
            for eid2, s2, e2 in _elements(b, s, e):
                if eid2 == _PIXEL_WIDTH:
                    width = _uint(b, s2, e2)
                elif eid2 == _PIXEL_HEIGHT:
                    height = _uint(b, s2, e2)
        elif eid == _AUDIO:
            for eid2, s2, e2 in _elements(b, s, e):
                if eid2 == _SAMPLING_FREQ:
                    rate = int(_float(b, s2, e2))
                elif eid2 == _CHANNELS:
                    channels = _uint(b, s2, e2)
    return MkvTrack(
        kind=kind, codec=codec, width=width, height=height,
        sample_rate=rate, channels=channels,
    )


def parse_mkv(payload: bytes) -> MkvInfo:
    """Parse a Matroska/WebM stream. Raises :class:`MkvError` on
    structural corruption (callers in skip mode record and continue)."""
    b = bytes(payload)
    doc_type = "matroska"
    scale_ns = 1_000_000  # Matroska default TimestampScale
    duration_ticks: float | None = None
    tracks: list[MkvTrack] = []
    saw_header = saw_segment = False
    for eid, s, e in _elements(b, 0, len(b)):
        if eid == _EBML:
            saw_header = True
            for eid2, s2, e2 in _elements(b, s, e):
                if eid2 == _DOCTYPE:
                    doc_type = (
                        b[s2:e2].decode("ascii", "replace").rstrip("\x00")
                    )
        elif eid == _SEGMENT:
            saw_segment = True
            for eid2, s2, e2 in _elements(b, s, e):
                if eid2 == _INFO:
                    for eid3, s3, e3 in _elements(b, s2, e2):
                        if eid3 == _TIMESTAMP_SCALE:
                            scale_ns = _uint(b, s3, e3)
                        elif eid3 == _DURATION:
                            duration_ticks = _float(b, s3, e3)
                elif eid2 == _TRACKS:
                    for eid3, s3, e3 in _elements(b, s2, e2):
                        if eid3 == _TRACK_ENTRY:
                            tracks.append(_parse_track(b, s3, e3))
    if not saw_header:
        raise MkvError("missing EBML header")
    if not saw_segment:
        raise MkvError("missing Segment element")
    duration_s = (
        duration_ticks * scale_ns / 1e9
        if duration_ticks is not None
        else None
    )
    return MkvInfo(
        doc_type=doc_type,
        timestamp_scale_ns=scale_ns,
        duration_s=duration_s,
        n_tracks=len(tracks),
        tracks=tuple(tracks),
    )
