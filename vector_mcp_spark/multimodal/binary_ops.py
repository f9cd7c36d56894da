"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

North-star extension — treat media as ``binary`` columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched Pandas UDFs over ``mapInPandas``. Header-level decode is
REAL — ``parse_image_meta`` reads PNG/JPEG/GIF dimensions straight from
the bytes with stdlib ``struct``. The pixel-level media libraries
(PIL/ffmpeg/librosa) are NOT in this container, so those kernels are
stubbed — ``deterministic_fake=True`` produces a seeded fake feature vector
(sha256 of the bytes) so the Spark-side plumbing (schema, batching,
partitioning) is fully real and testable; ``deterministic_fake=False``
raises ``NotImplementedError`` at the exact seam a real decoder would fill.

Scale notes: media bytes never hit the driver; each Arrow batch is decoded
executor-side; `spark.sql.files.maxPartitionBytes` bounds scan partitions;
feature extraction output (small vectors) is what shuffles, not the media.
"""

from __future__ import annotations

import base64
import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("data", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)


def _fake_seed_hex(data: bytes, tag: int) -> str:
    """Seed digest for the fake decoders, deliberately derived through a
    VARCHAR-friendly recipe — ``sha256(base64(data) + "|" + tag)`` — so ANSI
    SQL (DuckDB ``sha256(base64(blob) || '|' || tag)``) can replay it and
    the multimodal suite queries get full value oracles despite the decode
    stub. The fake is a placeholder; its derivation is arbitrary, so pick
    the one an oracle can check."""
    return hashlib.sha256(
        (base64.b64encode(data).decode("ascii") + "|" + str(tag)).encode("ascii")
    ).hexdigest()


def _fake_features(data: bytes, dim: int) -> list[float]:
    # one digest yields 16 dims (2-byte hex chunks); counter-extend beyond
    # that — the fake is a placeholder, so cheap beats fancy
    hexbuf = ""
    block = 0
    while len(hexbuf) < 4 * dim:
        hexbuf += _fake_seed_hex(data, block)
        block += 1
    return [int(hexbuf[4 * i : 4 * i + 4], 16) % 1000 / 1000.0 for i in range(dim)]


def extract_features(
    media: DataFrame, dim: int = 16, deterministic_fake: bool = True
) -> DataFrame:
    """Media → feature vector: (media_id, kind, features array<float>).

    Real decoders slot into ``_decode``; the fake is deterministic on the
    bytes so tests are reproducible.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not deterministic_fake:
                raise NotImplementedError("media decoding requires PIL/ffmpeg/librosa")
            feats = [_fake_features(bytes(b) if b is not None else b"", dim) for b in pdf["data"]]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": pdf["kind"], "features": feats}
            )

    return media.mapInPandas(_decode, schema="media_id string, kind string, features array<float>")


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def _image_dims(b: bytes) -> tuple[str, int, int] | None:
    """REAL header decode — pure stdlib, no media libs needed. Returns
    (mime, width, height) for PNG / JPEG / GIF bytes, None for anything
    else (including truncated headers). Only the header is touched; pixel
    decode stays behind the ``deterministic_fake`` seam."""
    import struct

    if len(b) >= 24 and b[:8] == _PNG_SIG and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return ("image/png", w, h)
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return ("image/gif", w, h)
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        # walk JFIF segments to the first start-of-frame marker
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                return None
            # spec-legal 0xFF fill bytes may pad before any marker byte
            while i + 1 < len(b) and b[i + 1] == 0xFF:
                i += 1
            if i + 4 > len(b):
                return None
            marker = b[i + 1]
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
                i += 2  # standalone markers carry no length
                continue
            if marker in (0xD9, 0xDA):
                return None  # EOI / start-of-scan: no SOF seen, stop the walk
            seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if marker in _JPEG_SOF:
                if i + 9 <= len(b):
                    h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                    return ("image/jpeg", w, h)
                return None
            i += 2 + seg_len
    return None


def parse_image_meta(media: DataFrame) -> DataFrame:
    """Image metadata extraction that actually decodes the binary header:
    (media_id, mime, width, height), one row per image whose header parses.
    Arrow-batched mapInPandas; bytes never leave the executor and only the
    small metadata tuple shuffles onward — exactly the access pattern a
    100 TB media catalog scan needs (combine with
    ``spark.sql.files.maxPartitionBytes`` to bound scan partitions)."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "mime": [], "width": [], "height": []}
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                parsed = _image_dims(bytes(data) if data is not None else b"")
                if parsed is None:
                    continue
                mime, w, h = parsed
                rows["media_id"].append(mid)
                rows["mime"].append(mime)
                rows["width"].append(w)
                rows["height"].append(h)
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        _parse, schema="media_id string, mime string, width int, height int"
    )


def _wav_meta(b: bytes) -> tuple[int, int, int] | None:
    """REAL RIFF/WAVE header walk — (channels, sample_rate, duration_ms) or
    None. Chunks are scanned generically (LIST/fact chunks before data are
    fine); duration derives from the declared data size and byte rate, both
    integer math so it is exactly reproducible."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    channels = rate = byte_rate = data_size = None
    i = 12
    while i + 8 <= len(b):
        tag = b[i : i + 4]
        size = struct.unpack("<I", b[i + 4 : i + 8])[0]
        if tag == b"fmt " and i + 24 <= len(b):
            _fmt, channels, rate, byte_rate = struct.unpack("<HHII", b[i + 8 : i + 20])
        elif tag == b"data":
            data_size = size
        if channels is not None and data_size is not None:
            break
        i += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if channels is None or data_size is None or not byte_rate:
        return None
    return (channels, rate, data_size * 1000 // byte_rate)


def parse_audio_meta(media: DataFrame) -> DataFrame:
    """Audio metadata from real WAV headers: (media_id, mime, channels,
    sample_rate, duration_ms). Same scale contract as ``parse_image_meta`` —
    Arrow batches executor-side, only the metadata tuple shuffles."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "media_id": [], "mime": [], "channels": [],
                "sample_rate": [], "duration_ms": [],
            }
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                parsed = _wav_meta(bytes(data) if data is not None else b"")
                if parsed is None:
                    continue
                ch, rate, dur = parsed
                rows["media_id"].append(mid)
                rows["mime"].append("audio/wav")
                rows["channels"].append(ch)
                rows["sample_rate"].append(rate)
                rows["duration_ms"].append(dur)
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        _parse,
        schema="media_id string, mime string, channels int, sample_rate int, duration_ms long",
    )


def _mp4_meta(b: bytes) -> tuple[int | None, int | None, int] | None:
    """REAL ISO-BMFF (MP4) header walk — pure stdlib. Returns (width,
    height, duration_ms) from the moov box's mvhd (timescale/duration) and
    the first trak's tkhd (16.16 fixed-point dims), or None for anything
    that is not a well-formed ftyp+moov prefix. Only box headers and the
    two leaf boxes are touched; sample data (mdat) is never read — the
    access pattern that lets a 100 TB video catalog scan stream metadata
    without decoding a frame."""
    import struct

    if len(b) < 12 or b[4:8] != b"ftyp":
        return None
    i = 0
    moov = None
    while i + 8 <= len(b):
        size, typ = struct.unpack(">I4s", b[i : i + 8])
        if size < 8:
            return None
        if typ == b"moov":
            moov = b[i + 8 : i + size]
            break
        i += size
    if moov is None:
        return None
    timescale = duration = width = height = None
    j = 0
    while j + 8 <= len(moov):
        size, typ = struct.unpack(">I4s", moov[j : j + 8])
        if size < 8:
            return None
        body = moov[j + 8 : j + size]
        if typ == b"mvhd" and len(body) >= 20:
            if body[0] == 0:
                timescale, duration = struct.unpack(">II", body[12:20])
            elif len(body) >= 32:  # version 1: 64-bit create/modify/duration
                (timescale,) = struct.unpack(">I", body[20:24])
                (duration,) = struct.unpack(">Q", body[24:32])
        elif typ == b"trak" and width is None:
            k = 0
            while k + 8 <= len(body):
                s2, t2 = struct.unpack(">I4s", body[k : k + 8])
                if s2 < 8:
                    return None
                if t2 == b"tkhd" and s2 >= 92 and body[k + 8] == 0:
                    tb = body[k + 8 : k + s2]
                    w_fx, h_fx = struct.unpack(">II", tb[76:84])
                    width, height = w_fx >> 16, h_fx >> 16
                k += s2
        j += size
    if not timescale or duration is None:
        return None
    return (width, height, duration * 1000 // timescale)


def parse_video_meta(media: DataFrame) -> DataFrame:
    """Video metadata from real MP4 headers: (media_id, mime, width,
    height, duration_ms). Same scale contract as ``parse_image_meta`` —
    Arrow batches executor-side, only the metadata tuple shuffles."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "media_id": [], "mime": [], "width": [],
                "height": [], "duration_ms": [],
            }
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                parsed = _mp4_meta(bytes(data) if data is not None else b"")
                if parsed is None:
                    continue
                w, h, dur = parsed
                rows["media_id"].append(mid)
                rows["mime"].append("video/mp4")
                rows["width"].append(w)
                rows["height"].append(h)
                rows["duration_ms"].append(dur)
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        _parse,
        schema="media_id string, mime string, width int, height int, duration_ms long",
    )


def sample_frames(media: DataFrame, every_ms: int = 1000, deterministic_fake: bool = True) -> DataFrame:
    """Video frame sampling seam: one row per sampled frame
    (media_id, frame_idx, frame_ts_ms, frame binary). Fake mode emits
    sha256-derived placeholder frames at the right timestamps."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not deterministic_fake:
                raise NotImplementedError("frame sampling requires ffmpeg")
            rows = {"media_id": [], "frame_idx": [], "frame_ts_ms": [], "frame": []}
            for mid, data, meta in zip(pdf["media_id"], pdf["data"], pdf["meta"]):
                duration = (meta or {}).get("duration_ms") or 0
                for idx, ts in enumerate(range(0, int(duration), every_ms)):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(idx)
                    rows["frame_ts_ms"].append(ts)
                    rows["frame"].append(bytes.fromhex(_fake_seed_hex(bytes(data or b""), ts)))
            yield pd.DataFrame(rows)

    return media.where(F.col("kind") == "video").mapInPandas(
        _sample, schema="media_id string, frame_idx int, frame_ts_ms long, frame binary"
    )
