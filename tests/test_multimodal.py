from __future__ import annotations

import pytest

from vector_mcp_spark.multimodal.binary_ops import (
    MEDIA_SCHEMA,
    extract_features,
    sample_frames,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        ("img1", "image", b"\x89PNG-fake-bytes", ("image/png", 640, 480, None)),
        ("img2", "image", b"\xff\xd8JPEG-fake", ("image/jpeg", 800, 600, None)),
        ("vid1", "video", b"RIFF-fake-video", ("video/mp4", 1920, 1080, 3500)),
        ("aud1", "audio", b"ID3-fake-audio", ("audio/mpeg", None, None, 2000)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA).cache()


def test_feature_extraction_shape_and_determinism(media):
    got = {r.media_id: r.features for r in extract_features(media, dim=16).collect()}
    assert set(got) == {"img1", "img2", "vid1", "aud1"}
    assert all(len(v) == 16 for v in got.values())
    again = {r.media_id: r.features for r in extract_features(media, dim=16).collect()}
    assert got == again  # deterministic on bytes
    assert got["img1"] != got["img2"]  # different bytes → different features


def test_real_decoder_seam_raises(media):
    with pytest.raises(Exception, match="PIL|ffmpeg|librosa"):
        extract_features(media, deterministic_fake=False).collect()


def test_frame_sampling(media):
    got = sample_frames(media, every_ms=1000).collect()
    # vid1: duration 3500ms → frames at 0,1000,2000,3000
    assert [r.frame_ts_ms for r in sorted(got, key=lambda r: r.frame_idx)] == [0, 1000, 2000, 3000]
    assert all(r.media_id == "vid1" for r in got)
    assert len({bytes(r.frame) for r in got}) == 4  # distinct placeholder frames


def _real_png(w: int, h: int) -> bytes:
    """A fully valid PNG (correct CRCs, real zlib IDAT) built with stdlib."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x7f\x7f\x7f" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _real_jpeg(w: int, h: int) -> bytes:
    """Minimal JPEG: SOI + APP0 (so the parser must WALK segments) + SOF0."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x48\x00\x48\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">HBHH", 17, 8, h, w) + b"\x03\x01\x11\x00\x02\x11\x00\x03\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_parse_image_meta_real_headers(spark):
    import struct

    from vector_mcp_spark.multimodal.binary_ops import parse_image_meta

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    rows = [
        ("png", _real_png(7, 9)),
        ("jpg", _real_jpeg(640, 480)),
        ("gif", gif),
        ("junk", b"\x00\x01\x02 definitely not an image"),
        ("trunc", b"\x89PNG\r\n\x1a\n\x00\x00"),
        ("null", None),
    ]
    media = spark.createDataFrame(rows, "media_id string, data binary")
    got = {r.media_id: (r.mime, r.width, r.height) for r in parse_image_meta(media).collect()}
    assert got == {
        "png": ("image/png", 7, 9),
        "jpg": ("image/jpeg", 640, 480),
        "gif": ("image/gif", 320, 200),
    }


def _real_wav(channels: int, rate: int, n_samples: int) -> bytes:
    """A complete valid WAV with a LIST chunk BEFORE data (walk required)."""
    import struct

    body = b"\x00\x00" * channels * n_samples
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    lst = b"LIST" + struct.pack("<I", 4) + b"INFO"
    data = b"data" + struct.pack("<I", len(body)) + body
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt + lst + data
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def test_parse_audio_meta_real_wav(spark):
    from vector_mcp_spark.multimodal.binary_ops import parse_audio_meta

    rows = [
        ("mono8k", _real_wav(1, 8000, 4000)),     # 4000 samples @ 8k = 500 ms
        ("stereo44", _real_wav(2, 44100, 44100)),  # 1 s
        ("junk", b"RIFFxxxxNOPE"),
        ("null", None),
    ]
    media = spark.createDataFrame(rows, "media_id string, data binary")
    got = {
        r.media_id: (r.channels, r.sample_rate, r.duration_ms)
        for r in parse_audio_meta(media).collect()
    }
    assert got == {"mono8k": (1, 8000, 500), "stereo44": (2, 44100, 1000)}


def test_header_parsers_roundtrip_property(spark):
    """Synthesize → parse round-trip across the parameter space (hypothesis
    over dims/channels/rates): the parser must recover exactly what was
    planted, for every format."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from vector_mcp_spark.multimodal.binary_ops import _image_dims, _wav_meta

    @given(
        w=st.integers(min_value=1, max_value=2**20),
        h=st.integers(min_value=1, max_value=2**20),
        ch=st.integers(min_value=1, max_value=8),
        rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
        n=st.integers(min_value=0, max_value=100_000),
    )
    @settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
    def check(w, h, ch, rate, n):
        import struct

        assert _image_dims(_real_png(w, h) if w * h < 10_000 else
                           # skip body for big dims — header-only is enough
                           b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                           + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
                           ) == ("image/png", w, h)
        if w < 2**16 and h < 2**16:
            assert _image_dims(_real_jpeg(w, h)) == ("image/jpeg", w, h)
            gif = (b"GIF89a" + struct.pack("<HH", w, h))
            assert _image_dims(gif + b"\x00" * 4) == ("image/gif", w, h)
        wav = _real_wav(ch, rate, n)
        assert _wav_meta(wav) == (ch, rate, (len(b"\x00\x00") * ch * n) * 1000 // (rate * ch * 2))

    check()


def test_image_dims_jpeg_fill_bytes_and_sof_less():
    """Spec-legal 0xFF fill-byte padding before a marker must be skipped, and
    a JPEG whose scan starts (or that ends) before any SOF must return None
    instead of misparsing (ADVICE r4)."""
    import struct

    from vector_mcp_spark.multimodal.binary_ops import _image_dims

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x48\x00\x48\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">HBHH", 17, 8, 33, 44) + b"\x03\x01\x11\x00\x02\x11\x00\x03\x11\x00"
    # fill bytes between segments: 0xFF 0xFF 0xFF then the real marker
    padded = b"\xff\xd8" + app0 + b"\xff\xff" + sof0 + b"\xff\xd9"
    assert _image_dims(padded) == ("image/jpeg", 44, 33)
    # EOI straight after APP0 — no SOF anywhere: None, not a bogus-length walk
    assert _image_dims(b"\xff\xd8" + app0 + b"\xff\xd9") is None
    # SOS before any SOF (corrupt): stop, don't treat 0xDA as length-bearing SOF
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    assert _image_dims(b"\xff\xd8" + app0 + sos) is None


def _real_mp4(w: int, h: int, timescale: int, dur: int, mvhd_v1: bool = False) -> bytes:
    import struct

    matrix = bytes.fromhex(
        "000100000000000000000000000000000001000000000000000000000000000040000000"
    )
    ftyp = bytes.fromhex("000000106674797069736f6d00000000")
    if mvhd_v1:
        body = (b"\x01" + bytes(3) + bytes(16)
                + struct.pack(">IQ", timescale, dur)
                + bytes.fromhex("00010000") + bytes.fromhex("0100") + bytes(10)
                + matrix + bytes(24) + struct.pack(">I", 2))
    else:
        body = (bytes(4) + bytes(8) + struct.pack(">II", timescale, dur)
                + bytes.fromhex("00010000") + bytes.fromhex("0100") + bytes(10)
                + matrix + bytes(24) + struct.pack(">I", 2))
    mvhd = struct.pack(">I4s", 8 + len(body), b"mvhd") + body
    tb = (bytes(1) + b"\x00\x00\x07" + bytes(8) + struct.pack(">I", 1) + bytes(4)
          + struct.pack(">I", dur & 0xFFFFFFFF) + bytes(8) + bytes(8) + matrix
          + struct.pack(">II", w << 16, h << 16))
    tkhd = struct.pack(">I4s", 8 + len(tb), b"tkhd") + tb
    trak = struct.pack(">I4s", 8 + len(tkhd), b"trak") + tkhd
    moov = struct.pack(">I4s", 8 + len(mvhd) + len(trak), b"moov") + mvhd + trak
    return ftyp + moov


def test_mp4_meta_roundtrip_property():
    """Planted (w, h, timescale, duration) must be recovered exactly from
    both mvhd versions; garbage and truncations return None."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vector_mcp_spark.multimodal.binary_ops import _mp4_meta

    @given(
        w=st.integers(min_value=1, max_value=2**16 - 1),
        h=st.integers(min_value=1, max_value=2**16 - 1),
        ts=st.sampled_from([600, 1000, 90000]),
        dur=st.integers(min_value=0, max_value=2**31 - 1),
        v1=st.booleans(),
    )
    @settings(max_examples=200, deadline=None)
    def check(w, h, ts, dur, v1):
        b = _real_mp4(w, h, ts, dur, mvhd_v1=v1)
        assert _mp4_meta(b) == (w, h, dur * 1000 // ts)
        assert _mp4_meta(b[:20]) is None  # moov truncated away
        assert _mp4_meta(b"\x00" * 40) is None

    check()
    from vector_mcp_spark.multimodal.binary_ops import _mp4_meta as m
    assert m(b"RIFFxxxxWAVE") is None  # wrong container entirely
