"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side plumbing — schemas, Arrow batch shapes, ``map_arrow``
signatures, partition behavior — is real and tested. The actual media
decode (the reference's analogue is pdf2image+cv2+Tesseract,
llm_aided_ocr.py:404-426) requires native libs absent from this container,
so decoders are injectable; the default raises ``NotImplementedError`` and
a deterministic fake decoder ships for tests.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Callable, List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.util import map_arrow

MEDIA_META_SCHEMA = (
    "url string, media_type string, n_bytes long, content_sha256 string"
)

ImageDecoder = Callable[[bytes], Tuple[int, int, int]]
"""bytes -> (width, height, channels)."""

FrameSampler = Callable[[bytes, int], List[bytes]]
"""(video_bytes, n_frames) -> frame blobs."""


def _no_decoder(blob: bytes):
    raise NotImplementedError(
        "media decode needs image/audio libs not present in this container; "
        "inject a decoder (tests use deterministic_fake_decoder)."
    )


def deterministic_fake_decoder(blob: bytes) -> Tuple[int, int, int]:
    """Deterministic stand-in: derives (w, h, c) from the content hash —
    stable across runs/partitions, no native deps."""
    h = hashlib.sha256(blob or b"").digest()
    w, hgt = struct.unpack(">HH", h[:4])
    return (w % 1920 + 1, hgt % 1080 + 1, 3)


def media_metadata(df: DataFrame, media_col: str = "media", media_type: str = "image") -> DataFrame:
    """Typed metadata over an opaque binary column — fully native
    (length + sha2), no Python."""
    return df.select(
        "url",
        F.lit(media_type).alias("media_type"),
        F.coalesce(F.length(F.col(media_col)), F.lit(0)).cast("long").alias("n_bytes"),
        F.sha2(F.coalesce(F.col(media_col), F.lit(b"")), 256).alias("content_sha256"),
    )


def parse_image_header(blob: bytes) -> Tuple[str, Optional[int], Optional[int]]:
    """``(format, width, height)`` from raw image bytes — a REAL parser,
    pure stdlib, no native libs: PNG (IHDR big-endian), GIF87a/89a
    (logical screen, little-endian), BMP (BITMAPINFOHEADER), JPEG (the
    marker walk to the first SOF0/1/2/...; skips APPn/COM/DQT/DHT and
    tolerates padding FFs), WEBP (RIFF container: VP8X canvas, VP8
    keyframe, VP8L). Unknown/truncated/corrupt bytes yield
    ``('unknown', None, None)`` — malformed media is data, not an error."""
    b = blob or b""
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
            w, h = struct.unpack(">II", b[16:24])
            return ("png", w, h)
        if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            return ("gif", w, h)
        if b[:2] == b"BM" and len(b) >= 26:
            w, h = struct.unpack("<ii", b[18:26])
            return ("bmp", w, abs(h))  # negative height = top-down rows
        if b[:4] == b"RIFF" and b[8:12] == b"WEBP" and len(b) >= 30:
            chunk = b[12:16]
            if chunk == b"VP8X":
                w = int.from_bytes(b[24:27], "little") + 1
                h = int.from_bytes(b[27:30], "little") + 1
                return ("webp", w, h)
            if chunk == b"VP8L" and b[20:21] == b"\x2f":
                bits = int.from_bytes(b[21:25], "little")
                return ("webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
            if chunk == b"VP8 ":
                w, h = struct.unpack("<HH", b[26:30])
                return ("webp", w & 0x3FFF, h & 0x3FFF)
            return ("webp", None, None)
        if b[:2] == b"\xff\xd8":
            i = 2
            while i + 9 < len(b):
                if b[i] != 0xFF:
                    break
                while i < len(b) and b[i] == 0xFF:  # padding FFs are legal
                    i += 1
                if i >= len(b):
                    break
                marker = b[i]
                i += 1
                if marker == 0xD9:  # EOI before any SOF
                    break
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    continue  # no-payload markers
                if i + 2 > len(b):
                    break
                seg_len = struct.unpack(">H", b[i:i + 2])[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    if i + 7 > len(b):
                        break
                    h, w = struct.unpack(">HH", b[i + 3:i + 7])
                    return ("jpeg", w, h)
                i += seg_len
            return ("jpeg", None, None)
    except Exception:
        return ("unknown", None, None)
    return ("unknown", None, None)


def image_header_info(
    df: DataFrame, media_col: str = "media", id_col: str = "url"
) -> DataFrame:
    """``(id, format, width, height)`` — :func:`parse_image_header` over
    the binary column in one Arrow pass. Narrow per-row compute, no
    shuffle; the blob never leaves its partition and only the four small
    output columns survive the stage — at 100 TB of media this is
    scan-bound, exactly like the text statistics family."""
    cols = df.select(F.col(id_col).alias("id"), media_col)

    def _parse(blobs):
        return zip(*(parse_image_header(b or b"") for b in blobs))

    id_type = dict(cols.dtypes)["id"]
    return map_arrow(
        cols, _parse, f"id {id_type}, format string, width int, height int",
        keep=("id",),
    )


def decode_image_features(
    df: DataFrame,
    media_col: str = "media",
    decoder: ImageDecoder = _no_decoder,
) -> DataFrame:
    """``(url, media)`` → ``(url, width, height, channels, aspect)`` via an
    Arrow-batched decode. Batch size is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of large
    blobs cannot blow executor memory."""
    cols = df.select("url", media_col)

    def _decode(blobs):
        ws, hs, cs = zip(*(decoder(b or b"") for b in blobs))
        # float division: x/0 is ±inf; 0/0 is NaN, which map_arrow writes as NULL
        with np.errstate(divide="ignore", invalid="ignore"):
            aspect = np.asarray(ws, dtype=float) / np.asarray(hs, dtype=float)
        return ws, hs, cs, aspect

    return map_arrow(
        cols, _decode,
        "url string, width int, height int, channels int, aspect double",
        keep=("url",),
    )


def resize_plan(
    df: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """Resize planning over decoded dims — pure native arithmetic (scale
    factors, letterbox padding). The pixel work would live in the same
    decode UDF; the plan columns are what downstream sharding needs."""
    scale = F.least(
        F.lit(target_w) / F.col("width"), F.lit(target_h) / F.col("height")
    )
    new_w = F.round(F.col("width") * scale).cast("int")
    new_h = F.round(F.col("height") * scale).cast("int")
    return df.select(
        "url", "width", "height",
        scale.alias("scale"),
        new_w.alias("out_w"),
        new_h.alias("out_h"),
        ((F.lit(target_w) - new_w) / 2).cast("int").alias("pad_x"),
        ((F.lit(target_h) - new_h) / 2).cast("int").alias("pad_y"),
    )


def deterministic_fake_frame_sampler(blob: bytes, n_frames: int) -> List[bytes]:
    """Stand-in frame sampler: n deterministic 16-byte 'frames' derived
    from the content hash."""
    h = hashlib.sha256(blob or b"").digest()
    return [hashlib.sha256(h + bytes([i])).digest()[:16] for i in range(n_frames)]


def sample_video_frames(
    df: DataFrame,
    n_frames: int = 4,
    media_col: str = "media",
    sampler: FrameSampler = deterministic_fake_frame_sampler,
) -> DataFrame:
    """``(url, media)`` → exploded ``(url, frame_ix, frame binary)`` — the
    video analogue of the PDF page explosion (extract.extract_pdf_pages)."""
    cols = df.select("url", media_col)

    def _sample(urls, blobs):
        rows = [
            (url, i, frame)
            for url, blob in zip(urls, blobs)
            for i, frame in enumerate(sampler(blob or b"", n_frames))
        ]
        return zip(*rows) if rows else ([],) * 3

    return map_arrow(cols, _sample, "url string, frame_ix int, frame binary")


def embed_media_stub(
    df: DataFrame, dim: int = 16, media_col: str = "media"
) -> DataFrame:
    """Deterministic pseudo-embedding from content bytes (hash-seeded
    uniform vector) — the feature-extraction slot a real encoder would
    fill; keeps the downstream ANN operators (operators.similarity)
    exercisable end-to-end."""
    cols = df.select("url", media_col)

    def _embed(blobs):
        # one state per batch, reseeded per row: building a RandomState
        # costs far more than seeding one, and the draws are the same
        rs = np.random.RandomState()
        out = []
        for b in blobs:
            rs.seed(int.from_bytes(hashlib.sha256(b or b"").digest()[:4], "big"))
            out.append(rs.uniform(-1, 1, dim))
        return (out,)

    return map_arrow(
        cols, _embed, "url string, embedding array<double>", keep=("url",)
    )
