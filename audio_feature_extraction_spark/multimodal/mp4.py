"""MP4 / ISO-BMFF container parsing — pure python, public spec.

Real box walk over ISO/IEC 14496-12 files (MP4, M4A, MOV-brand
ISO-BMFF): validates the nested size+fourcc box structure, reads the
movie header (mvhd timescale/duration, both versions), every track's
tkhd/mdhd/hdlr/stsd (track kind, per-track timescale/duration/language,
sample-entry codec fourcc, visual width/height, sample counts from
stsz/stco presence), and reports a container summary. This is the
video analog of the MP3/Ogg walks (multimodal/mpeg.py, ogg.py).
Headers only: no sample is decoded.

≙ the reference's media-loader boundary (design.md:451-475): bytes in,
typed metadata out, corrupt payloads raise for per-row skip recovery.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from audio_feature_extraction_spark.core.errors import LoadError


class Mp4Error(LoadError):
    pass


_CONTAINERS = {
    b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"udta",
    b"mvex", b"moof", b"traf",
}


@dataclass(frozen=True)
class Mp4Track:
    track_id: int
    kind: str              # "video" | "audio" | handler fourcc
    codec: str | None      # first stsd sample-entry fourcc
    timescale: int
    duration_s: float | None
    language: str | None
    width: int | None      # visual sample entry, pixels
    height: int | None
    n_samples: int | None  # stsz sample_count


@dataclass(frozen=True)
class Mp4Info:
    major_brand: str
    timescale: int
    duration_s: float | None
    n_tracks: int
    tracks: tuple[Mp4Track, ...] = field(default_factory=tuple)

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

    @property
    def width(self) -> int | None:
        for t in self.tracks:
            if t.kind == "video" and t.width:
                return t.width
        return None

    @property
    def height(self) -> int | None:
        for t in self.tracks:
            if t.kind == "video" and t.height:
                return t.height
        return None


def _u(b: bytes, off: int, n: int) -> int:
    if off + n > len(b):
        raise Mp4Error(f"truncated read at byte {off}")
    return int.from_bytes(b[off : off + n], "big")


def _boxes(b: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in [start, end).
    Handles 64-bit largesize and size==0 (extends to `end`)."""
    pos = start
    while pos + 8 <= end:
        size = _u(b, pos, 4)
        fourcc = b[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            size = _u(b, pos + 8, 8)
            body = pos + 16
            if size < 16:
                raise Mp4Error(f"bad largesize {size} at byte {pos}")
        elif size == 0:
            size = end - pos
        elif size < 8:
            raise Mp4Error(f"bad box size {size} at byte {pos}")
        if pos + size > end:
            raise Mp4Error(
                f"box {fourcc!r} at byte {pos} overruns container "
                f"({pos + size} > {end})"
            )
        yield fourcc, body, pos + size
        pos += size
    if pos != end:
        raise Mp4Error(f"{end - pos} trailing bytes after last box")


def _find(b: bytes, start: int, end: int, fourcc: bytes):
    for fc, s, e in _boxes(b, start, end):
        if fc == fourcc:
            return s, e
    return None


def _parse_mvhd(b: bytes, s: int) -> tuple[int, float | None]:
    version = b[s]
    if version == 1:
        timescale = _u(b, s + 20, 4)
        duration = _u(b, s + 24, 8)
    else:
        timescale = _u(b, s + 12, 4)
        duration = _u(b, s + 16, 4)
        if duration == 0xFFFFFFFF:
            return timescale, None
    return timescale, (duration / timescale if timescale else None)


def _parse_mdhd(b: bytes, s: int) -> tuple[int, float | None, str | None]:
    version = b[s]
    if version == 1:
        timescale = _u(b, s + 20, 4)
        duration = _u(b, s + 24, 8)
        lang_off = s + 32
    else:
        timescale = _u(b, s + 12, 4)
        duration = _u(b, s + 16, 4)
        lang_off = s + 20
    packed = _u(b, lang_off, 2)
    lang = "".join(
        chr(((packed >> shift) & 0x1F) + 0x60) for shift in (10, 5, 0)
    )
    if lang == "```":  # all-zero packed language = unset
        lang = None
    dur = duration / timescale if timescale else None
    return timescale, dur, lang


def _parse_trak(b: bytes, s: int, e: int) -> Mp4Track:
    tkhd = _find(b, s, e, b"tkhd")
    if tkhd is None:
        raise Mp4Error("trak without tkhd")
    ts_, _te = tkhd
    version = b[ts_]
    track_id = _u(b, ts_ + (4 + 16 if version == 1 else 4 + 8), 4)
    # visual width/height: last 8 bytes of tkhd, 16.16 fixed point
    t_w = _u(b, _te - 8, 4) >> 16
    t_h = _u(b, _te - 4, 4) >> 16

    mdia = _find(b, s, e, b"mdia")
    if mdia is None:
        raise Mp4Error("trak without mdia")
    ms, me = mdia
    mdhd = _find(b, ms, me, b"mdhd")
    if mdhd is None:
        raise Mp4Error("mdia without mdhd")
    timescale, duration_s, lang = _parse_mdhd(b, mdhd[0])
    hdlr = _find(b, ms, me, b"hdlr")
    kind = "unknown"
    if hdlr is not None:
        handler = b[hdlr[0] + 8 : hdlr[0] + 12]
        kind = {b"vide": "video", b"soun": "audio"}.get(
            handler, handler.decode("ascii", "replace")
        )

    codec = None
    width = height = None
    n_samples = None
    minf = _find(b, ms, me, b"minf")
    if minf is not None:
        stbl = _find(b, minf[0], minf[1], b"stbl")
        if stbl is not None:
            stsd = _find(b, stbl[0], stbl[1], b"stsd")
            if stsd is not None and _u(b, stsd[0] + 4, 4) >= 1:
                # first sample entry: size(4) + fourcc(4)
                entry = stsd[0] + 8
                codec = b[entry + 4 : entry + 8].decode("ascii", "replace")
                if kind == "video" and entry + 36 <= stsd[1]:
                    # VisualSampleEntry: 8 hdr + 6 reserved + 2 dref +
                    # 16 predefined -> width(2) height(2)
                    width = _u(b, entry + 32, 2)
                    height = _u(b, entry + 34, 2)
            stsz = _find(b, stbl[0], stbl[1], b"stsz")
            if stsz is not None:
                n_samples = _u(b, stsz[0] + 8, 4)
    if width is None and kind == "video" and t_w:
        width, height = t_w, t_h
    return Mp4Track(
        track_id=track_id,
        kind=kind,
        codec=codec,
        timescale=timescale,
        duration_s=duration_s,
        language=lang,
        width=width,
        height=height,
        n_samples=n_samples,
    )


def parse_mp4(payload: bytes) -> Mp4Info:
    """Walk every top-level box of an ISO-BMFF payload and summarize.

    Requires a leading ``ftyp`` (the ISO-BMFF magic: size + 'ftyp' at
    offset 4) and a ``moov``; raises :class:`Mp4Error` on structural
    corruption (overrunning boxes, truncated headers, missing mandatory
    children) — callers in skip mode record and continue.
    """
    b = bytes(payload)
    if len(b) < 12 or b[4:8] != b"ftyp":
        raise Mp4Error("not an ISO-BMFF file (no leading ftyp)")
    major_brand = b[8:12].decode("ascii", "replace")
    moov = None
    for fc, s, e in _boxes(b, 0, len(b)):
        if fc == b"moov":
            moov = (s, e)
    if moov is None:
        raise Mp4Error("no moov box (streaming-only fragment?)")
    mvhd = _find(b, moov[0], moov[1], b"mvhd")
    if mvhd is None:
        raise Mp4Error("moov without mvhd")
    timescale, duration_s = _parse_mvhd(b, mvhd[0])
    tracks = tuple(
        _parse_trak(b, s, e)
        for fc, s, e in _boxes(b, moov[0], moov[1])
        if fc == b"trak"
    )
    return Mp4Info(
        major_brand=major_brand,
        timescale=timescale,
        duration_s=duration_s,
        n_tracks=len(tracks),
        tracks=tracks,
    )
