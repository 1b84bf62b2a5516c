"""Container walks (MP3, Ogg, MP4, AVI, Matroska), the header probes
(WAV, FLAC, PNG, BMP, JPEG) and the probe_media_metadata operator.

Fixtures are built byte-by-byte from the public specs (ISO 11172-3
header layout, RFC 3533 page layout, RFC 9639 STREAMINFO, PNG IHDR, T.81
SOFn) — no codec library involved.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import pytest

from audio_feature_extraction_spark.multimodal.mpeg import (
    Mp3Error,
    parse_frame_header,
    parse_mp3,
)
from audio_feature_extraction_spark.multimodal.ogg import (
    OggError,
    ogg_crc,
    parse_ogg,
    parse_pages,
)
from audio_feature_extraction_spark.multimodal.probe import (
    ProbeError,
    probe_media_metadata,
    probe_payload,
)

# ---------------------------------------------------------------------------
# builders (spec-driven, test-only)
# ---------------------------------------------------------------------------

_BR_IDX_V1L3 = {32: 1, 40: 2, 48: 3, 56: 4, 64: 5, 80: 6, 96: 7, 112: 8,
                128: 9, 160: 10, 192: 11, 224: 12, 256: 13, 320: 14}
_BR_IDX_V2L3 = {8: 1, 16: 2, 24: 3, 32: 4, 40: 5, 48: 6, 56: 7, 64: 8,
                80: 9, 96: 10, 112: 11, 128: 12, 144: 13, 160: 14}


def _mp3_frame(
    kbps: int = 128,
    sr: int = 44100,
    padding: int = 0,
    mode: int = 0,          # 0=stereo .. 3=mono
    mpeg2: bool = False,
    fill: bytes = b"",
) -> bytes:
    if mpeg2:
        version, br_idx = 2, _BR_IDX_V2L3[kbps]
        sr_idx = {22050: 0, 24000: 1, 16000: 2}[sr]
        frame_len = 72 * kbps * 1000 // sr + padding
    else:
        version, br_idx = 3, _BR_IDX_V1L3[kbps]
        sr_idx = {44100: 0, 48000: 1, 32000: 2}[sr]
        frame_len = 144 * kbps * 1000 // sr + padding
    h = (0x7FF << 21) | (version << 19) | (1 << 17) | (1 << 16)  # L3, no CRC
    h |= (br_idx << 12) | (sr_idx << 10) | (padding << 9) | (mode << 6)
    head = h.to_bytes(4, "big")
    body = (fill * (frame_len // max(len(fill), 1) + 1))[: frame_len - 4] \
        if fill else bytes(frame_len - 4)
    return head + body


def _xing_frame(n_frames: int, tag: bytes = b"Xing") -> bytes:
    """A stereo MPEG-1 L3 frame carrying a Xing/Info tag with a frame
    count (side info offset 32 for MPEG-1 non-mono)."""
    frame = bytearray(_mp3_frame())
    p = 4 + 32
    frame[p : p + 4] = tag
    frame[p + 4 : p + 8] = (0x1).to_bytes(4, "big")       # FRAMES flag
    frame[p + 8 : p + 12] = n_frames.to_bytes(4, "big")
    return bytes(frame)


def _id3v2(payload_size: int = 200) -> bytes:
    size = bytes(
        [(payload_size >> 21) & 0x7F, (payload_size >> 14) & 0x7F,
         (payload_size >> 7) & 0x7F, payload_size & 0x7F]
    )
    return b"ID3\x04\x00\x00" + size + bytes(payload_size)


def _ogg_page(
    serial: int, seq: int, granule: int, body: bytes, header_type: int = 0
) -> bytes:
    segs = []
    n = len(body)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)
    head = bytearray()
    head += b"OggS\x00"
    head.append(header_type)
    head += granule.to_bytes(8, "little", signed=True)
    head += serial.to_bytes(4, "little")
    head += seq.to_bytes(4, "little")
    head += b"\x00\x00\x00\x00"          # crc placeholder
    head.append(len(segs))
    head += bytes(segs)
    page = bytes(head) + body
    crc = ogg_crc(page)
    return page[:22] + crc.to_bytes(4, "little") + page[26:]


def _vorbis_id(channels: int = 2, rate: int = 44100) -> bytes:
    return (
        b"\x01vorbis"
        + (0).to_bytes(4, "little")
        + bytes([channels])
        + rate.to_bytes(4, "little")
        + bytes(12)                      # bitrate max/nominal/min
        + b"\xb8"                        # blocksizes
        + b"\x01"                        # framing bit
    )


def _opus_head(channels: int = 1, pre_skip: int = 312) -> bytes:
    return (
        b"OpusHead\x01"
        + bytes([channels])
        + pre_skip.to_bytes(2, "little")
        + (48000).to_bytes(4, "little")
        + bytes(3)                       # gain + mapping family
    )


def _vorbis_stream(granules=(0, 11025, 44100), channels=2, rate=44100) -> bytes:
    serial = 777
    pages = [_ogg_page(serial, 0, granules[0], _vorbis_id(channels, rate),
                       header_type=2)]
    for i, g in enumerate(granules[1:], start=1):
        ht = 4 if i == len(granules) - 1 else 0
        pages.append(_ogg_page(serial, i, g, bytes([i]) * 50, header_type=ht))
    return b"".join(pages)


# ---------------------------------------------------------------------------
# MP3
# ---------------------------------------------------------------------------

def test_mp3_cbr_walk_counts_frames_and_duration():
    frames = [_mp3_frame(padding=i % 2) for i in range(10)]
    info = parse_mp3(b"".join(frames))
    assert info.n_frames == 10
    assert info.sample_rate == 44100
    assert info.channels == 2 and info.channel_mode == "stereo"
    assert info.layer == 3 and info.mpeg_version == "1"
    assert info.duration_s == pytest.approx(10 * 1152 / 44100)
    assert info.avg_bitrate_kbps == pytest.approx(128.0)
    assert not info.vbr and info.n_resyncs == 0


def test_mp3_frame_header_fields():
    hdr = parse_frame_header(_mp3_frame(kbps=192, sr=48000, mode=3))
    assert hdr.bitrate_kbps == 192
    assert hdr.sample_rate == 48000
    assert hdr.channel_mode == "mono"
    assert hdr.frame_bytes == 144 * 192000 // 48000
    assert hdr.samples_per_frame == 1152


def test_mp3_mpeg2_frame_geometry():
    info = parse_mp3(b"".join(_mp3_frame(kbps=64, sr=22050, mpeg2=True)
                              for _ in range(4)))
    assert info.mpeg_version == "2"
    assert info.sample_rate == 22050
    assert info.duration_s == pytest.approx(4 * 576 / 22050)


def test_mp3_vbr_stream_averages_bitrate():
    frames = [_mp3_frame(kbps=64), _mp3_frame(kbps=128), _mp3_frame(kbps=192)]
    info = parse_mp3(b"".join(frames))
    assert info.vbr
    assert info.avg_bitrate_kbps == pytest.approx((64 + 128 + 192) / 3)


def test_mp3_id3_tags_are_skipped():
    body = b"".join(_mp3_frame() for _ in range(3))
    payload = _id3v2(150) + body + b"TAG" + bytes(125)
    info = parse_mp3(payload)
    assert info.n_frames == 3
    assert info.id3v2_bytes == 160 and info.id3v1


def test_mp3_xing_tag_and_info_tag():
    vbr = parse_mp3(_xing_frame(4242, b"Xing") + _mp3_frame())
    assert vbr.xing_frames == 4242 and vbr.vbr
    cbr = parse_mp3(_xing_frame(7, b"Info") + _mp3_frame())
    assert cbr.xing_frames == 7 and not cbr.vbr


def test_mp3_resync_across_junk():
    payload = _mp3_frame() + b"\x00garbage\x01" + _mp3_frame() + _mp3_frame()
    info = parse_mp3(payload)
    assert info.n_frames == 3 and info.n_resyncs >= 1


def test_mp3_rejects_non_audio():
    with pytest.raises(Mp3Error):
        parse_mp3(b"\x00" * 256)
    with pytest.raises(Mp3Error):
        parse_mp3(_id3v2(20) + bytes(40))  # tag but no frames


# ---------------------------------------------------------------------------
# Ogg
# ---------------------------------------------------------------------------

def test_ogg_vorbis_pages_and_duration():
    info = parse_ogg(_vorbis_stream())
    assert info.codec == "vorbis"
    assert info.channels == 2 and info.sample_rate == 44100
    assert info.n_pages == 3
    assert info.last_granule == 44100
    assert info.duration_s == pytest.approx(1.0)
    assert info.serials == (777,)


def test_ogg_crc_is_verified():
    raw = bytearray(_vorbis_stream())
    raw[-1] ^= 0xFF                       # corrupt the last body byte
    with pytest.raises(OggError, match="crc mismatch"):
        parse_ogg(bytes(raw))
    info = parse_ogg(bytes(raw), verify_crc=False)
    assert info.n_pages == 3


def test_ogg_multi_segment_lacing():
    page = _ogg_page(1, 0, -1, bytes(600))
    pages = parse_pages(page)
    assert pages[0].n_segments == 3 and len(pages[0].body) == 600


def test_ogg_opus_preskip_subtracted():
    serial = 9
    pages = (
        _ogg_page(serial, 0, 0, _opus_head(pre_skip=312), header_type=2)
        + _ogg_page(serial, 1, 48000 + 312, bytes(20), header_type=4)
    )
    info = parse_ogg(pages)
    assert info.codec == "opus" and info.sample_rate == 48000
    assert info.duration_s == pytest.approx(1.0)


def test_ogg_rejects_garbage():
    with pytest.raises(OggError):
        parse_ogg(b"NotOggAtAll" + bytes(30))


# ---------------------------------------------------------------------------
# probe dispatch + the Spark operator
# ---------------------------------------------------------------------------

def _wav_pcm16(n_frames: int, rate: int) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(bytes(2 * n_frames))
    return buf.getvalue()


def _flac_header(n_frames: int, rate: int, channels: int = 1) -> bytes:
    """``fLaC`` + a last-block STREAMINFO (RFC 9639 §8.2): 16-bit
    samples, 4096-sample blocks, zero MD5; no audio frames follow."""
    packed = (rate << 44) | ((channels - 1) << 41) | (15 << 36) | n_frames
    info = (
        struct.pack(">HH", 4096, 4096) + bytes(6)   # block + frame sizes
        + packed.to_bytes(8, "big") + bytes(16)      # rate..total, MD5
    )
    return b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big") + info


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data)
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def _png_rgb(width: int, height: int) -> bytes:
    rows = b"".join(b"\x00" + bytes(3 * width) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 2,
                                          0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(rows))
        + _png_chunk(b"IEND", b"")
    )


def _bmp_rgb(width: int, height: int) -> bytes:
    """24-bit bottom-up BMP: file header + BITMAPINFOHEADER + rows
    padded to 4 bytes."""
    pixels = bytes(((3 * width + 3) // 4 * 4) * height)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(pixels), 2835, 2835, 0, 0)
    offset = 14 + len(info)
    return (
        b"BM" + struct.pack("<IHHI", offset + len(pixels), 0, 0, offset)
        + info + pixels
    )


def _jpeg_header(width: int, height: int, sof: int = 0xC0) -> bytes:
    """SOI, an APP0 segment the marker walk must skip, then an SOFn
    frame header with three components."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    comps = b"".join(bytes([cid, 0x11, 0]) for cid in (1, 2, 3))
    sof_seg = (
        bytes([0xFF, sof]) + struct.pack(">HBHHB", 8 + len(comps), 8,
                                         height, width, 3)
        + comps
    )
    return b"\xff\xd8" + app0 + sof_seg + b"\xff\xd9"


def _fixture_payloads() -> dict[str, bytes]:
    return {
        "wav": _wav_pcm16(1600, 16000),
        "flac": _flac_header(1600, 16000),
        "mp3": b"".join(_mp3_frame() for _ in range(5)),
        "ogg": _vorbis_stream(),
        "png": _png_rgb(4, 4),
        "bmp": _bmp_rgb(4, 4),
    }


def test_probe_payload_dispatch():
    got = {k: probe_payload(v) for k, v in _fixture_payloads().items()}
    assert got["wav"]["container"] == "wav"
    assert got["wav"]["sample_rate"] == 16000 and got["wav"]["channels"] == 1
    assert got["wav"]["n_frames"] == 1600
    assert got["flac"]["container"] == "flac"
    assert got["flac"]["sample_rate"] == 16000
    assert got["flac"]["n_frames"] == 1600
    assert got["mp3"]["codec"] == "mpeg1_layer3"
    assert got["mp3"]["n_frames"] == 5
    assert got["ogg"]["codec"] == "vorbis"
    assert got["png"] == {"container": "png", "codec": "png",
                          "width": 4, "height": 4}
    assert got["bmp"]["width"] == 4 and got["bmp"]["height"] == 4
    with pytest.raises(ProbeError):
        probe_payload(b"\x00\x01\x02\x03junk")


def test_probe_media_metadata_operator(spark):
    payloads = _fixture_payloads()
    rows = [(k, v) for k, v in payloads.items()]
    rows.append(("broken", b"\x00\x01notacontainer"))
    df = spark.createDataFrame(rows, "media_id string, payload binary")

    out = {r.media_id: r for r in probe_media_metadata(df).collect()}
    assert len(out) == 7
    assert out["mp3"].duration_s == pytest.approx(5 * 1152 / 44100)
    assert out["mp3"].bit_rate_kbps == pytest.approx(128.0)
    assert out["ogg"].duration_s == pytest.approx(1.0)
    assert out["wav"].error is None and out["wav"].n_bytes == len(payloads["wav"])
    assert out["png"].width == 4 and out["png"].sample_rate is None
    assert out["broken"].container is None
    assert "ProbeError" in out["broken"].error

    with pytest.raises(Exception):
        probe_media_metadata(df, on_error="raise").collect()



def test_probe_jpeg_frame_header():
    info = probe_payload(_jpeg_header(56, 40))
    assert info["container"] == "jpeg" and info["codec"] == "jpeg_baseline"
    assert (info["width"], info["height"]) == (56, 40)
    assert info["channels"] == 3
    assert probe_payload(_jpeg_header(56, 40, sof=0xC2))["codec"] == (
        "jpeg_progressive"
    )
    with pytest.raises(ProbeError, match="SOFn"):
        probe_payload(b"\xff\xd8\xff\xd9")


def test_error_hierarchy():
    """≙ design.md:2349-2377 §9.1: one base, typed subclasses, ValueError
    compatibility for existing callers; every walker error is a
    LoadError, so skip mode records it by its own class name."""
    from audio_feature_extraction_spark.core import errors
    from audio_feature_extraction_spark.core.config import FrameSpec
    from audio_feature_extraction_spark.multimodal.avi import AviError
    from audio_feature_extraction_spark.multimodal.mkv import MkvError
    from audio_feature_extraction_spark.multimodal.mp4 import Mp4Error

    with pytest.raises(errors.InvalidConfigError):
        FrameSpec(frame_len=0)
    with pytest.raises(errors.LoadError):
        probe_payload(b"nope")
    for exc in (errors.LoadError, errors.FeatureExtractionError,
                errors.InvalidConfigError):
        assert issubclass(exc, errors.EngineError)
        assert issubclass(exc, ValueError)
    for exc in (ProbeError, Mp3Error, OggError, Mp4Error, AviError, MkvError):
        assert issubclass(exc, errors.LoadError)

def _raw_header(version=3, layer_bits=1, br_idx=9, sr_idx=0,
                padding=0, mode=0, protection=1) -> bytes:
    h = (0x7FF << 21) | (version << 19) | (layer_bits << 17) | (protection << 16)
    h |= (br_idx << 12) | (sr_idx << 10) | (padding << 9) | (mode << 6)
    return h.to_bytes(4, "big")


def test_mp3_layer1_and_layer2_geometry():
    # Layer I (bits 11): slot-of-4 formula, 384 samples/frame
    h1 = parse_frame_header(_raw_header(layer_bits=3, br_idx=14, sr_idx=2))
    assert h1.layer == 1 and h1.samples_per_frame == 384
    assert h1.bitrate_kbps == 448 and h1.sample_rate == 32000
    assert h1.frame_bytes == (12 * 448000 // 32000) * 4
    p1 = parse_frame_header(_raw_header(layer_bits=3, br_idx=14, sr_idx=2,
                                        padding=1))
    assert p1.frame_bytes == h1.frame_bytes + 4  # L1 padding slot = 4 bytes

    # Layer II (bits 10): 144 formula, 1152 samples/frame
    h2 = parse_frame_header(_raw_header(layer_bits=2, br_idx=14, sr_idx=1))
    assert h2.layer == 2 and h2.samples_per_frame == 1152
    assert h2.bitrate_kbps == 384 and h2.sample_rate == 48000
    assert h2.frame_bytes == 144 * 384000 // 48000

    # the stream walk over whole Layer I and Layer II streams
    for raw in (_raw_header(layer_bits=3, br_idx=14, sr_idx=2, mode=1),
                _raw_header(layer_bits=2, br_idx=14, sr_idx=1, mode=1)):
        hdr = parse_frame_header(raw)
        info = parse_mp3((raw + bytes(hdr.frame_bytes - 4)) * 3)
        assert info.layer == hdr.layer and info.n_frames == 3
        assert info.sample_rate == hdr.sample_rate
        assert info.channel_mode == "joint_stereo"


def test_mp3_rejects_unwalkable_headers():
    assert parse_frame_header(_raw_header(br_idx=0)) is None      # free-format
    assert parse_frame_header(_raw_header(br_idx=15)) is None     # invalid
    assert parse_frame_header(_raw_header(sr_idx=3)) is None      # reserved sr
    assert parse_frame_header(_raw_header(version=1)) is None     # reserved ver
    assert parse_frame_header(_raw_header(layer_bits=0)) is None  # reserved layer
    assert parse_frame_header(b"\xfe\xfb\x90\x00") is None        # bad sync


def test_mp3_protected_frame_flag():
    hdr = parse_frame_header(_raw_header(protection=0))
    assert hdr.protected  # protection bit 0 => CRC-16 follows


def test_mp3_sync_in_tail_cannot_borrow_id3v1_bytes():
    """A 0xFF sync byte within the last 3 audio bytes before a trailing
    ID3v1 tag must NOT form a 'valid' frame by borrowing tag bytes:
    b"\\xff\\xfb\\x90" + "TAG..." decodes as a plausible MPEG-1 L3
    header if the walk validates against the full buffer (ADVICE r04)."""
    id3v1 = b"TAG" + bytes(125)
    payload = (
        _mp3_frame() + _mp3_frame()
        + b"\x00junk\x01"            # forces a resync scan
        + b"\xff\xfb\x90"            # sync 3 bytes before the tag
        + id3v1
    )
    info = parse_mp3(payload)
    assert info.n_frames == 2
    assert info.id3v1 is True
    expected = 2 * 1152 / 44100
    assert abs(info.duration_s - expected) < 1e-9


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF (multimodal/mp4.py)
# ---------------------------------------------------------------------------

def _box(fourcc: bytes, body: bytes, large: bool = False) -> bytes:
    if large:
        return (1).to_bytes(4, "big") + fourcc + (len(body) + 16).to_bytes(
            8, "big"
        ) + body
    return (len(body) + 8).to_bytes(4, "big") + fourcc + body


def _fullbox(fourcc: bytes, body: bytes, version: int = 0) -> bytes:
    return _box(fourcc, bytes([version, 0, 0, 0]) + body)


def _mvhd(timescale: int, duration: int) -> bytes:
    return _fullbox(
        b"mvhd",
        (0).to_bytes(4, "big") * 2
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + bytes(80),
    )


def _tkhd(track_id: int, w: int = 0, h: int = 0) -> bytes:
    body = (
        (0).to_bytes(4, "big") * 2
        + track_id.to_bytes(4, "big")
        + bytes(4)
        + (0).to_bytes(4, "big")    # duration
        + bytes(8 + 2 + 2 + 2 + 2 + 36)
        + (w << 16).to_bytes(4, "big")
        + (h << 16).to_bytes(4, "big")
    )
    return _fullbox(b"tkhd", body)


def _mdhd(timescale: int, duration: int, lang: str = "und") -> bytes:
    packed = 0
    for c in lang:
        packed = (packed << 5) | (ord(c) - 0x60)
    return _fullbox(
        b"mdhd",
        (0).to_bytes(4, "big") * 2
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + packed.to_bytes(2, "big")
        + bytes(2),
    )


def _hdlr(handler: bytes) -> bytes:
    return _fullbox(b"hdlr", bytes(4) + handler + bytes(12) + b"name\x00")


def _stsd_video(codec: bytes, w: int, h: int) -> bytes:
    entry = _box(
        codec,
        bytes(6) + (1).to_bytes(2, "big")     # reserved + dref idx
        + bytes(16)                            # predefined/reserved
        + w.to_bytes(2, "big") + h.to_bytes(2, "big")
        + bytes(46),                           # rest of VisualSampleEntry
    )
    return _fullbox(b"stsd", (1).to_bytes(4, "big") + entry)


def _stsd_audio(codec: bytes) -> bytes:
    entry = _box(codec, bytes(6) + (1).to_bytes(2, "big") + bytes(20))
    return _fullbox(b"stsd", (1).to_bytes(4, "big") + entry)


def _stsz(n: int) -> bytes:
    return _fullbox(b"stsz", (0).to_bytes(4, "big") + n.to_bytes(4, "big"))


def _trak(track_id, handler, mdhd_ts, mdhd_dur, stsd, n_samples,
          tk_w=0, tk_h=0, lang="und"):
    stbl = _box(b"stbl", stsd + _stsz(n_samples))
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", _mdhd(mdhd_ts, mdhd_dur, lang) + _hdlr(handler) + minf)
    return _box(b"trak", _tkhd(track_id, tk_w, tk_h) + mdia)


def _mp4_fixture() -> bytes:
    ftyp = _box(b"ftyp", b"isom" + (512).to_bytes(4, "big") + b"isomavc1")
    v = _trak(1, b"vide", 30000, 90000, _stsd_video(b"avc1", 640, 360), 90)
    a = _trak(2, b"soun", 48000, 144000, _stsd_audio(b"mp4a"), 140, lang="eng")
    moov = _box(b"moov", _mvhd(1000, 3000) + v + a)
    mdat = _box(b"mdat", b"\x00" * 64)
    return ftyp + moov + mdat


def test_mp4_box_walk_full_fixture():
    from audio_feature_extraction_spark.multimodal.mp4 import parse_mp4

    info = parse_mp4(_mp4_fixture())
    assert info.major_brand == "isom"
    assert info.timescale == 1000 and info.duration_s == 3.0
    assert info.n_tracks == 2
    assert info.video_codec == "avc1" and info.audio_codec == "mp4a"
    assert (info.width, info.height) == (640, 360)
    v, a = info.tracks
    assert v.kind == "video" and v.n_samples == 90
    assert v.duration_s == 3.0 and v.timescale == 30000
    assert a.kind == "audio" and a.timescale == 48000
    assert a.language == "eng" and a.duration_s == 3.0
    assert a.n_samples == 140


def test_mp4_largesize_and_corruption():
    from audio_feature_extraction_spark.multimodal.mp4 import (
        Mp4Error,
        parse_mp4,
    )

    # 64-bit largesize mdat parses
    ftyp = _box(b"ftyp", b"isom" + bytes(4))
    moov = _box(b"moov", _mvhd(600, 1200) + _trak(
        1, b"vide", 600, 1200, _stsd_video(b"av01", 8, 8), 2))
    big = _box(b"mdat", bytes(32), large=True)
    info = parse_mp4(ftyp + moov + big)
    assert info.duration_s == 2.0 and info.video_codec == "av01"

    # overrunning box size raises, truncation raises, non-mp4 raises
    blob = bytearray(ftyp + moov)
    blob[len(ftyp)] = 0xFF  # moov size becomes enormous
    with pytest.raises(Mp4Error, match="overruns"):
        parse_mp4(bytes(blob))
    with pytest.raises(Mp4Error):
        parse_mp4((ftyp + moov)[:-7])
    with pytest.raises(Mp4Error, match="ftyp"):
        parse_mp4(b"\x00" * 32)
    with pytest.raises(Mp4Error, match="moov"):
        parse_mp4(ftyp + _box(b"mdat", bytes(8)))


def test_probe_recognizes_mp4():
    from audio_feature_extraction_spark.multimodal.probe import probe_payload

    meta = probe_payload(_mp4_fixture())
    assert meta["container"] == "mp4"
    assert meta["codec"] == "avc1"
    assert meta["width"] == 640 and meta["height"] == 360
    assert meta["duration_s"] == 3.0
    assert meta["n_frames"] == 90
    assert meta["sample_rate"] == 48000


# ---------------------------------------------------------------------------
# AVI / RIFF form (multimodal/avi.py)
# ---------------------------------------------------------------------------

def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    return cid + len(body).to_bytes(4, "little") + body + (b"\x00" * (len(body) & 1))


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def _avih(us_per_frame, total, n_streams, w, h) -> bytes:
    import struct as _s

    return _riff_chunk(
        b"avih",
        _s.pack("<10I", us_per_frame, 0, 0, 0, total, 0, n_streams, 0, w, h),
    )


def _strh(fcc_type: bytes, handler: bytes, scale: int, rate: int, length: int) -> bytes:
    import struct as _s

    body = (
        fcc_type + handler + bytes(12)
        + _s.pack("<II", scale, rate) + bytes(4)
        + length.to_bytes(4, "little") + bytes(20)
    )
    return _riff_chunk(b"strh", body)


def _avi_fixture() -> bytes:
    import struct as _s

    vids = _riff_list(
        b"strl",
        _strh(b"vids", b"XVID", 1001, 30000, 900)
        + _riff_chunk(
            b"strf",
            # BITMAPINFOHEADER: biSize, biWidth, biHeight, planes, bpp, biCompression
            _s.pack("<IiiHH4s", 40, 640, -360, 1, 24, b"XVID") + bytes(20),
        ),
    )
    auds = _riff_list(
        b"strl",
        _strh(b"auds", bytes(4), 1, 48000, 48000 * 30)
        + _riff_chunk(b"strf", _s.pack("<HHI", 1, 2, 48000) + bytes(8)),
    )
    hdrl = _riff_list(b"hdrl", _avih(33367, 900, 2, 640, 360) + vids + auds)
    movi = _riff_list(b"movi", _riff_chunk(b"00dc", b"\x00" * 16))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_avi_full_fixture():
    from audio_feature_extraction_spark.multimodal.avi import parse_avi

    info = parse_avi(_avi_fixture())
    assert (info.width, info.height) == (640, 360)
    assert info.n_frames == 900 and info.n_streams == 2
    assert abs(info.duration_s - 900 * 33367 / 1e6) < 1e-9
    assert info.video_codec == "xvid"
    v, a = info.streams
    assert v.kind == "video" and abs(v.fps - 30000 / 1001) < 1e-9
    assert (v.width, v.height) == (640, 360)
    assert a.kind == "audio" and a.sample_rate == 48000 and a.channels == 2
    assert a.codec == "wave_fmt_1"


def test_avi_corruption_and_mismatch():
    from audio_feature_extraction_spark.multimodal.avi import AviError, parse_avi

    good = _avi_fixture()
    with pytest.raises(AviError, match="not an AVI"):
        parse_avi(b"RIFF\x04\x00\x00\x00WAVE")
    # declared chunk size overrunning the buffer raises
    blob = bytearray(good)
    blob[16] = 0xFF  # hdrl LIST size becomes enormous
    with pytest.raises(AviError, match="overruns"):
        parse_avi(bytes(blob))
    # avih stream count disagreeing with strl count raises
    import struct as _s

    hdrl = _riff_list(b"hdrl", _avih(1000, 10, 3, 8, 8))
    body = b"AVI " + hdrl
    with pytest.raises(AviError, match="streams"):
        parse_avi(b"RIFF" + len(body).to_bytes(4, "little") + body)
    with pytest.raises(AviError, match="avih"):
        body2 = b"AVI " + _riff_list(b"hdrl", _riff_chunk(b"JUNK", bytes(4)))
        parse_avi(b"RIFF" + len(body2).to_bytes(4, "little") + body2)


def test_probe_recognizes_avi_and_keeps_wav():
    from audio_feature_extraction_spark.multimodal.probe import probe_payload

    meta = probe_payload(_avi_fixture())
    assert meta["container"] == "avi"
    assert meta["codec"] == "xvid"
    assert meta["width"] == 640 and meta["height"] == 360
    assert meta["n_frames"] == 900
    assert meta["sample_rate"] == 48000 and meta["channels"] == 2


# ---------------------------------------------------------------------------
# Matroska / WebM (multimodal/mkv.py)
# ---------------------------------------------------------------------------

def _eid(eid: int) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big")


def _esize(n: int) -> bytes:
    length = 1
    while n >= (1 << (7 * length)) - 1:
        length += 1
    return (n | (1 << (7 * length))).to_bytes(length, "big")


def _elem(eid: int, body: bytes) -> bytes:
    return _eid(eid) + _esize(len(body)) + body


def _euint(eid: int, v: int) -> bytes:
    return _elem(eid, v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big"))


def _efloat(eid: int, v: float) -> bytes:
    import struct as _s

    return _elem(eid, _s.pack(">d", v))


def _mkv_fixture(doc_type: bytes = b"webm", unknown_segment_size: bool = False) -> bytes:
    header = _elem(0x1A45DFA3, _elem(0x4282, doc_type))
    info = _elem(
        0x1549A966,
        _euint(0x2AD7B1, 1_000_000) + _efloat(0x4489, 2500.0),
    )
    video_track = _elem(
        0xAE,
        _euint(0x83, 1)
        + _elem(0x86, b"V_VP9")
        + _elem(0xE0, _euint(0xB0, 1280) + _euint(0xBA, 720)),
    )
    audio_track = _elem(
        0xAE,
        _euint(0x83, 2)
        + _elem(0x86, b"A_OPUS")
        + _elem(0xE1, _efloat(0xB5, 48000.0) + _euint(0x9F, 2)),
    )
    tracks = _elem(0x1654AE6B, video_track + audio_track)
    seg_body = info + tracks
    if unknown_segment_size:
        return header + _eid(0x18538067) + b"\xff" + seg_body
    return header + _elem(0x18538067, seg_body)


def test_mkv_full_fixture():
    from audio_feature_extraction_spark.multimodal.mkv import parse_mkv

    info = parse_mkv(_mkv_fixture())
    assert info.doc_type == "webm"
    assert info.timestamp_scale_ns == 1_000_000
    assert abs(info.duration_s - 2.5) < 1e-9
    assert info.n_tracks == 2
    assert info.video_codec == "V_VP9" and info.audio_codec == "A_OPUS"
    v, a = info.tracks
    assert (v.width, v.height) == (1280, 720)
    assert a.sample_rate == 48000 and a.channels == 2


def test_mkv_unknown_size_segment_and_corruption():
    from audio_feature_extraction_spark.multimodal.mkv import MkvError, parse_mkv

    # unknown-size Segment (live-mux convention) extends to end of buffer
    info = parse_mkv(_mkv_fixture(unknown_segment_size=True))
    assert info.n_tracks == 2 and abs(info.duration_s - 2.5) < 1e-9

    good = _mkv_fixture(doc_type=b"matroska")
    assert parse_mkv(good).doc_type == "matroska"
    with pytest.raises(MkvError, match="EBML header"):
        parse_mkv(_elem(0x18538067, b""))
    with pytest.raises(MkvError, match="Segment"):
        parse_mkv(_elem(0x1A45DFA3, _elem(0x4282, b"webm")))
    with pytest.raises(MkvError, match="vint|truncated|overruns"):
        parse_mkv(good[:-3])
    with pytest.raises(MkvError, match="lead byte"):
        parse_mkv(b"\x00" + good)


def test_probe_recognizes_mkv_and_webm():
    from audio_feature_extraction_spark.multimodal.probe import probe_payload

    meta = probe_payload(_mkv_fixture())
    assert meta["container"] == "webm"
    assert meta["codec"] == "V_VP9"
    assert meta["width"] == 1280 and meta["height"] == 720
    assert meta["sample_rate"] == 48000 and meta["channels"] == 2
    assert abs(meta["duration_s"] - 2.5) < 1e-9
    meta2 = probe_payload(_mkv_fixture(doc_type=b"matroska"))
    assert meta2["container"] == "mkv"
