"""AVI (RIFF form) container parsing — pure python, public spec.

Real chunk walk over the Microsoft AVI RIFF form ("RIFF…AVI " with a
LIST 'hdrl' carrying the MainAVIHeader 'avih' plus one LIST 'strl' per
stream with 'strh'/'strf'): frame geometry, frame count, per-stream
fourcc codec, video fps from dwRate/dwScale, audio sample rate /
channels from the WAVEFORMATEX 'strf'. The video analog of the WAV
RIFF walk (multimodal/probe._probe_wav shares the outer chunk
grammar). Headers only: no frame is decoded.

≙ the reference's media-loader boundary (design.md:451-475): bytes in,
typed metadata out, corrupt payloads raise for per-row skip recovery.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from audio_feature_extraction_spark.core.errors import LoadError


class AviError(LoadError):
    pass


@dataclass(frozen=True)
class AviStream:
    kind: str              # "video" | "audio" | fccType fourcc
    codec: str | None      # fccHandler (video) / format tag (audio)
    n_frames: int | None   # strh dwLength (in stream units)
    fps: float | None      # video: dwRate / dwScale
    sample_rate: int | None
    channels: int | None
    width: int | None
    height: int | None


@dataclass(frozen=True)
class AviInfo:
    width: int | None
    height: int | None
    n_frames: int | None     # avih dwTotalFrames
    duration_s: float | None  # dwTotalFrames * dwMicroSecPerFrame
    n_streams: int
    streams: tuple[AviStream, ...] = field(default_factory=tuple)

    @property
    def video_codec(self) -> str | None:
        for s in self.streams:
            if s.kind == "video":
                return s.codec
        return None

    @property
    def audio_codec(self) -> str | None:
        for s in self.streams:
            if s.kind == "audio":
                return s.codec
        return None


def _chunks(b: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end, list_type|None) over a RIFF
    chunk run; validates declared sizes against the buffer."""
    pos = start
    while pos + 8 <= end:
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = pos + 8
        if body + size > end:
            raise AviError(
                f"chunk {cid!r} at {pos} overruns buffer "
                f"({size} bytes declared, {end - body} available)"
            )
        if cid == b"LIST":
            if size < 4:
                raise AviError("LIST chunk shorter than its type tag")
            yield cid, body + 4, body + size, b[body : body + 4]
        else:
            yield cid, body, body + size, None
        pos = body + size + (size & 1)  # chunks are word-aligned


def _fourcc(raw: bytes) -> str | None:
    s = raw.rstrip(b"\x00 ").decode("ascii", "replace")
    return s.lower() or None


def _parse_strl(b: bytes, start: int, end: int) -> AviStream:
    kind = codec = None
    n_frames = fps = None
    rate = channels = width = height = None
    strf_span = None
    for cid, s, e, _lt in _chunks(b, start, end):
        if cid == b"strh":
            if e - s < 48:
                raise AviError("strh too short")
            fcc_type = b[s : s + 4]
            kind = {b"vids": "video", b"auds": "audio"}.get(
                fcc_type, _fourcc(fcc_type) or "?"
            )
            codec = _fourcc(b[s + 4 : s + 8])
            scale, drate = struct.unpack("<II", b[s + 20 : s + 28])
            (n_frames,) = struct.unpack("<I", b[s + 32 : s + 36])
            if kind == "video" and scale:
                fps = drate / scale
        elif cid == b"strf":
            strf_span = (s, e)
    if kind is None:
        raise AviError("strl without strh")
    if strf_span is not None:
        s, e = strf_span
        if kind == "audio" and e - s >= 8:
            # WAVEFORMATEX: wFormatTag, nChannels, nSamplesPerSec
            tag, channels, rate = struct.unpack("<HHI", b[s : s + 8])
            if codec in (None, "?", ""):
                codec = f"wave_fmt_{tag}"
        elif kind == "video" and e - s >= 16:
            # BITMAPINFOHEADER: biSize, biWidth, biHeight, ..., biCompression
            width = int.from_bytes(b[s + 4 : s + 8], "little", signed=True)
            height = abs(
                int.from_bytes(b[s + 8 : s + 12], "little", signed=True)
            )
            if not codec and e - s >= 20:
                codec = _fourcc(b[s + 16 : s + 20])
    return AviStream(
        kind=kind, codec=codec, n_frames=n_frames, fps=fps,
        sample_rate=rate, channels=channels, width=width, height=height,
    )


def parse_avi(payload: bytes) -> AviInfo:
    """Parse an AVI RIFF form. Raises :class:`AviError` on structural
    corruption (callers in skip mode record and continue)."""
    b = bytes(payload)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise AviError("not an AVI RIFF form")
    riff_size = int.from_bytes(b[4:8], "little")
    end = min(len(b), 8 + riff_size)
    main = None
    streams: list[AviStream] = []
    for cid, s, e, lt in _chunks(b, 12, end):
        if cid == b"LIST" and lt == b"hdrl":
            for cid2, s2, e2, lt2 in _chunks(b, s, e):
                if cid2 == b"avih":
                    if e2 - s2 < 40:
                        raise AviError("avih too short")
                    main = struct.unpack("<10I", b[s2 : s2 + 40])
                elif cid2 == b"LIST" and lt2 == b"strl":
                    streams.append(_parse_strl(b, s2, e2))
    if main is None:
        raise AviError("missing avih main header")
    us_per_frame, _mbps, _pad, _flags, total, _init, n_streams = main[:7]
    width, height = main[8], main[9]
    if len(streams) != n_streams:
        raise AviError(
            f"avih declares {n_streams} streams, found {len(streams)}"
        )
    return AviInfo(
        width=width or None,
        height=height or None,
        n_frames=total or None,
        duration_s=(total * us_per_frame / 1e6)
        if total and us_per_frame
        else None,
        n_streams=n_streams,
        streams=tuple(streams),
    )

