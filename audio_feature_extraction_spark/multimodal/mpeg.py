"""MPEG audio (MP3) container parsing — pure python, public spec.

Real frame-header walk over MPEG-1/2/2.5 Layer I/II/III streams
(ISO/IEC 11172-3 §2.4.1.3 header layout, the public frame-length
formulae, and the de-facto Xing/Info VBR tag): skips ID3v2/ID3v1 tags,
validates every frame header, resyncs across junk, and reports sample
rate, channel mode, frame count, duration and average bitrate. Headers
only: no sample is decoded; `cli probe` reads MP3 metadata from this
walk.

≙ the reference's format list WAV/FLAC/MP3/OGG (design.md:451-475;
requirements.md:18).
"""

from __future__ import annotations

from dataclasses import dataclass

from audio_feature_extraction_spark.core.errors import LoadError


class Mp3Error(LoadError):
    pass


_SAMPLE_RATES = {
    3: (44100, 48000, 32000),  # MPEG-1
    2: (22050, 24000, 16000),  # MPEG-2
    0: (11025, 12000, 8000),   # MPEG-2.5
}

# kbps by (version-group, layer) — version-group: 1 = MPEG-1, 2 = MPEG-2/2.5
_BITRATES = {
    (1, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}

_CHANNEL_MODES = ("stereo", "joint_stereo", "dual_channel", "mono")


@dataclass(frozen=True)
class Mp3FrameHeader:
    version_bits: int       # 3=MPEG-1, 2=MPEG-2, 0=MPEG-2.5
    layer: int              # 1, 2, 3
    protected: bool         # CRC-16 follows the header
    bitrate_kbps: int
    sample_rate: int
    padding: int
    channel_mode: str
    frame_bytes: int
    samples_per_frame: int


@dataclass(frozen=True)
class Mp3Info:
    sample_rate: int
    channels: int
    channel_mode: str
    layer: int
    mpeg_version: str       # "1" | "2" | "2.5"
    n_frames: int
    duration_s: float
    avg_bitrate_kbps: float
    vbr: bool
    xing_frames: int | None  # declared by a Xing/Info tag, if present
    n_resyncs: int
    id3v2_bytes: int
    id3v1: bool


def parse_frame_header(
    b: bytes, off: int = 0, end: int | None = None
) -> Mp3FrameHeader | None:
    """Decode 4 header bytes at ``off``; None if not a valid frame sync.
    ``end`` bounds the readable region (exclusive) — pass it when the
    buffer has a trailing ID3v1 tag so a sync byte within the last 3
    bytes of audio cannot borrow tag bytes to form a bogus header."""
    if end is None:
        end = len(b)
    if off + 4 > end:
        return None
    h = int.from_bytes(b[off : off + 4], "big")
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    version_bits = (h >> 19) & 0x3
    layer_bits = (h >> 17) & 0x3
    if version_bits == 1 or layer_bits == 0:
        return None  # reserved
    layer = 4 - layer_bits
    protected = ((h >> 16) & 0x1) == 0
    bitrate_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 0x3
    if bitrate_idx in (0, 15) or sr_idx == 3:
        return None  # free-format and invalid are not walkable
    vgroup = 1 if version_bits == 3 else 2
    kbps = _BITRATES[(vgroup, layer)][bitrate_idx]
    sr = _SAMPLE_RATES[version_bits][sr_idx]
    padding = (h >> 9) & 0x1
    mode = _CHANNEL_MODES[(h >> 6) & 0x3]
    if layer == 1:
        frame_bytes = (12 * kbps * 1000 // sr + padding) * 4
        spf = 384
    elif layer == 2:
        frame_bytes = 144 * kbps * 1000 // sr + padding
        spf = 1152
    else:  # Layer III
        if vgroup == 1:
            frame_bytes = 144 * kbps * 1000 // sr + padding
            spf = 1152
        else:
            frame_bytes = 72 * kbps * 1000 // sr + padding
            spf = 576
    return Mp3FrameHeader(
        version_bits, layer, protected, kbps, sr, padding, mode,
        frame_bytes, spf,
    )


def _id3v2_size(b: bytes) -> int:
    """Bytes occupied by a leading ID3v2 tag (0 if absent). Size field is
    4 synchsafe (7-bit) bytes, excludes the 10-byte header; a footer adds
    another 10 when flag bit 4 is set."""
    if len(b) < 10 or b[:3] != b"ID3":
        return 0
    size = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
    footer = 10 if b[5] & 0x10 else 0
    return 10 + size + footer


def _xing_offset(hdr: Mp3FrameHeader) -> int:
    """Offset of a Xing/Info tag from frame start: 4 header bytes + the
    Layer III side-info block (whose size depends on version x mode)."""
    mono = hdr.channel_mode == "mono"
    if hdr.version_bits == 3:  # MPEG-1
        return 4 + (17 if mono else 32)
    return 4 + (9 if mono else 17)


def _parse_xing(
    b: bytes, frame_off: int, hdr: Mp3FrameHeader
) -> tuple[str | None, int | None]:
    """(tag, declared frame count) from a Xing/Info tag in this frame.
    "Xing" marks a VBR stream, "Info" a CBR one (LAME convention)."""
    p = frame_off + _xing_offset(hdr)
    if p + 8 > len(b) or b[p : p + 4] not in (b"Xing", b"Info"):
        return None, None
    tag = b[p : p + 4].decode("ascii")
    flags = int.from_bytes(b[p + 4 : p + 8], "big")
    if flags & 0x1:  # frames field present
        return tag, int.from_bytes(b[p + 8 : p + 12], "big")
    return tag, None


def parse_mp3(payload: bytes, max_resyncs: int = 64) -> Mp3Info:
    """Walk every frame of an MP3 payload and summarize the stream.

    Robustness: junk between frames triggers a forward sync scan (the
    behavior decoders use for streams cut mid-frame), bounded by
    ``max_resyncs``. A trailing ID3v1 block (128 bytes, "TAG") and a
    leading ID3v2 tag are recognized and excluded from the walk.
    """
    if not isinstance(payload, (bytes, bytearray)):
        payload = bytes(payload)
    b = bytes(payload)
    id3v2 = _id3v2_size(b)
    end = len(b)
    id3v1 = end >= 128 and b[end - 128 : end - 125] == b"TAG"
    if id3v1:
        end -= 128

    pos = id3v2
    n_frames = 0
    n_resyncs = 0
    first: Mp3FrameHeader | None = None
    xing_tag: str | None = None
    xing_frames: int | None = None
    bitrates: set[int] = set()
    total_samples = 0
    weighted_kbps = 0.0

    while pos + 4 <= end:
        hdr = parse_frame_header(b, pos, end)
        if hdr is None:
            n_resyncs += 1
            if n_resyncs > max_resyncs:
                raise Mp3Error(
                    f"lost sync at byte {pos} ({max_resyncs} resyncs exceeded)"
                )
            nxt = b.find(b"\xff", pos + 1, end)
            while nxt != -1 and parse_frame_header(b, nxt, end) is None:
                nxt = b.find(b"\xff", nxt + 1, end)
            if nxt == -1:
                break
            pos = nxt
            continue
        if first is None:
            first = hdr
            xing_tag, xing_frames = _parse_xing(b, pos, hdr)
        n_frames += 1
        bitrates.add(hdr.bitrate_kbps)
        total_samples += hdr.samples_per_frame
        weighted_kbps += hdr.bitrate_kbps * hdr.samples_per_frame
        pos += hdr.frame_bytes

    if first is None or n_frames == 0:
        raise Mp3Error("no MPEG audio frame found")

    duration = total_samples / first.sample_rate
    version = {3: "1", 2: "2", 0: "2.5"}[first.version_bits]
    return Mp3Info(
        sample_rate=first.sample_rate,
        channels=1 if first.channel_mode == "mono" else 2,
        channel_mode=first.channel_mode,
        layer=first.layer,
        mpeg_version=version,
        n_frames=n_frames,
        duration_s=duration,
        avg_bitrate_kbps=weighted_kbps / total_samples if total_samples else 0.0,
        vbr=len(bitrates) > 1 or xing_tag == "Xing",
        xing_frames=xing_frames,
        n_resyncs=n_resyncs,
        id3v2_bytes=id3v2,
        id3v1=id3v1,
    )
