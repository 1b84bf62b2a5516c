"""Ogg container parsing (RFC 3533) + Vorbis/Opus stream headers.

Real page walk — capture pattern, lacing table, granule positions, and
the page CRC (polynomial 0x04C11DB7, unreflected, init/xorout 0,
computed with the CRC field zeroed) — plus the Vorbis identification
header (\\x01vorbis: channels, sample rate) and OpusHead (channels,
pre-skip; Opus granules always tick at 48 kHz). Duration comes from the
last page's granule position, which both codecs define as the absolute
PCM sample count. Headers only: no packet is decoded.

≙ the reference's format list WAV/FLAC/MP3/OGG (design.md:451-475).
"""

from __future__ import annotations

from dataclasses import dataclass

from audio_feature_extraction_spark.core.errors import LoadError


class OggError(LoadError):
    pass


def _crc_table() -> list[int]:
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000 else r << 1) & 0xFFFFFFFF
        table.append(r)
    return table


_CRC = _crc_table()


def ogg_crc(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC[((crc >> 24) & 0xFF) ^ byte]
    return crc


@dataclass(frozen=True)
class OggPage:
    offset: int
    header_type: int        # bit0 continued, bit1 BOS, bit2 EOS
    granule: int
    serial: int
    seq: int
    body: bytes
    n_segments: int


@dataclass(frozen=True)
class OggInfo:
    codec: str              # "vorbis" | "opus" | "unknown"
    channels: int | None
    sample_rate: int | None  # Vorbis: from id header; Opus: 48000 granule clock
    pre_skip: int           # Opus only (samples to drop), 0 otherwise
    n_pages: int
    last_granule: int
    duration_s: float | None
    serials: tuple[int, ...]


def parse_pages(payload: bytes, verify_crc: bool = True) -> list[OggPage]:
    """Walk every page; raises OggError on a bad capture pattern mid-
    stream, a non-zero version, or (when ``verify_crc``) a CRC mismatch."""
    b = bytes(payload)
    pages: list[OggPage] = []
    pos = 0
    while pos < len(b):
        if b[pos : pos + 4] != b"OggS":
            raise OggError(f"bad capture pattern at byte {pos}")
        if pos + 27 > len(b):
            raise OggError("truncated page header")
        if b[pos + 4] != 0:
            raise OggError(f"unsupported ogg version {b[pos + 4]}")
        header_type = b[pos + 5]
        granule = int.from_bytes(b[pos + 6 : pos + 14], "little", signed=True)
        serial = int.from_bytes(b[pos + 14 : pos + 18], "little")
        seq = int.from_bytes(b[pos + 18 : pos + 22], "little")
        crc = int.from_bytes(b[pos + 22 : pos + 26], "little")
        n_segs = b[pos + 26]
        lacing_end = pos + 27 + n_segs
        if lacing_end > len(b):
            raise OggError("truncated lacing table")
        body_len = sum(b[pos + 27 : lacing_end])
        page_end = lacing_end + body_len
        if page_end > len(b):
            raise OggError("truncated page body")
        if verify_crc:
            zeroed = (
                b[pos : pos + 22] + b"\x00\x00\x00\x00" + b[pos + 26 : page_end]
            )
            actual = ogg_crc(zeroed)
            if actual != crc:
                raise OggError(
                    f"page crc mismatch at byte {pos}: "
                    f"stored {crc:#010x}, computed {actual:#010x}"
                )
        pages.append(
            OggPage(pos, header_type, granule, serial, seq,
                    b[lacing_end:page_end], n_segs)
        )
        pos = page_end
    if not pages:
        raise OggError("no ogg pages found")
    return pages


def parse_ogg(payload: bytes, verify_crc: bool = True) -> OggInfo:
    pages = parse_pages(payload, verify_crc=verify_crc)
    codec, channels, rate, pre_skip = "unknown", None, None, 0
    first = pages[0].body
    if first[:7] == b"\x01vorbis" and len(first) >= 30:
        codec = "vorbis"
        channels = first[11]
        rate = int.from_bytes(first[12:16], "little")
    elif first[:8] == b"OpusHead" and len(first) >= 19:
        codec = "opus"
        channels = first[9]
        pre_skip = int.from_bytes(first[10:12], "little")
        rate = 48000  # granule clock; the input-rate field is advisory
    last_granule = max(
        (p.granule for p in pages if p.granule >= 0), default=0
    )
    duration = None
    if rate:
        samples = last_granule - (pre_skip if codec == "opus" else 0)
        duration = max(samples, 0) / rate
    serials = tuple(dict.fromkeys(p.serial for p in pages))
    return OggInfo(
        codec=codec,
        channels=channels,
        sample_rate=rate,
        pre_skip=pre_skip,
        n_pages=len(pages),
        last_granule=last_granule,
        duration_s=duration,
        serials=serials,
    )
