"""Multimodal column operators: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side plumbing — schemas, Arrow batches, partitioning — is
real and tested: every operator is a row function run through the
engine's one Arrow row kernel (``rowmap.map_rows``).  The codec step
itself is a clearly-marked deterministic stand-in (no image/audio
libraries are assumed; a deployment swaps `_decode_stub` for
PIL/libsndfile/pyav behind the same row interface, loading any model
in the kernel's per-task setup).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F, types as T

from .rowmap import map_rows

MEDIA_META = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sha256", T.StringType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _decode_stub(payload: bytes) -> tuple[str, int, int]:
    """Deterministic stand-in for a real decoder.

    A real implementation would sniff magic bytes and decode headers;
    libraries are unavailable here, so dimensions are derived from the
    content hash (stable, collision-checked in tests).  Raises on empty
    payloads the way a decoder raises on truncated files.
    """
    if not payload:
        raise ValueError("empty media payload")
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    fmt = ["png", "jpeg", "webp"][digest[2] % 3]
    return fmt, width, height


def media_metadata(df: DataFrame, id_col: str = "media_id", bin_col: str = "data") -> DataFrame:
    """Decode/inspect pass: binary -> typed metadata rows."""

    def meta(mid, payload):
        raw = payload or b""
        try:
            fmt, w, h = _decode_stub(raw)
        except ValueError:
            fmt, w, h = None, None, None
        yield {
            "media_id": mid,
            "n_bytes": len(raw),
            "format": fmt,
            "width": w,
            "height": h,
            "sha256": hashlib.sha256(raw).hexdigest() if raw else None,
        }

    return map_rows(df.select(id_col, bin_col), MEDIA_META, lambda: meta)


def frame_sample(
    df: DataFrame, every_n: int = 2, id_col: str = "media_id", bin_col: str = "data"
) -> DataFrame:
    """Frame-sampling shape: 1 media row -> N frame rows (stand-in:
    fixed-size byte slices; a real impl yields decoded video frames)."""
    frame_bytes = 256

    def frames(mid, payload):
        raw = payload or b""
        sliced = [raw[i: i + frame_bytes] for i in range(0, len(raw), frame_bytes)]
        for fno, fr in enumerate(sliced[::every_n]):
            yield {"media_id": mid, "frame_no": fno, "frame": fr}

    return map_rows(df.select(id_col, bin_col), FRAME_SCHEMA, lambda: frames)


RENDER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("image", T.BinaryType()),
        T.StructField("ink_ratio", T.DoubleType()),
    ]
)


def render_pages(
    pages: DataFrame, scale: float = 2.0, max_px: int = 320
) -> DataFrame:
    """S3 page-image render scan (reference structured_extract.py
    --render-scale 2.0 via fitz page.get_pixmap): rasterize each page's
    text-block boxes into an SPM raster at ``scale`` (clamped to
    ``max_px`` on the long edge so test rasters stay small).  Real
    rasterization math (numpy box fills, y-flip from PDF coords), no
    image libraries; downstream classifiers (photo_likeness,
    feature_extract) consume the same SPM payloads.  Pages without
    geometry (HTML single-page docs, page_w == 0) render null."""
    import numpy as np

    from ..functions.raster import encode_spm

    def render(url, page_no, page_w, page_h, blocks):
        pw, ph = float(page_w or 0), float(page_h or 0)
        if pw <= 0 or ph <= 0:
            yield {"url": url, "page_no": page_no, "width": None,
                   "height": None, "image": None, "ink_ratio": None}
            return
        s = min(scale, max_px / max(pw, ph))
        w, h = max(1, int(pw * s)), max(1, int(ph * s))
        px = np.full((h, w, 3), 255, dtype=np.uint8)
        ink = 0
        for blk in blocks or []:
            bb = blk["bbox"] if blk is not None else None
            if bb is None:
                continue
            x0 = max(0, int(bb["left"] * s))
            x1 = min(w, int(np.ceil(bb["right"] * s)))
            # PDF y-up -> raster y-down
            y0 = max(0, int((ph - bb["top"]) * s))
            y1 = min(h, int(np.ceil((ph - bb["bottom"]) * s)))
            if x1 > x0 and y1 > y0:
                px[y0:y1, x0:x1] = 40
                ink += (x1 - x0) * (y1 - y0)
        yield {"url": url, "page_no": page_no, "width": w, "height": h,
               "image": encode_spm(px), "ink_ratio": round(ink / float(w * h), 6)}

    return map_rows(pages.select("url", "page_no", "page_w", "page_h", "blocks"),
                    RENDER_SCHEMA, lambda: render)


PHOTO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("color_ratio", T.DoubleType()),
        T.StructField("sat_mean", T.DoubleType()),
        T.StructField("photo_like", T.BooleanType(), False),
    ]
)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def resize_images(
    df: DataFrame, size: int = 64, id_col: str = "media_id", bin_col: str = "data"
) -> DataFrame:
    """Resize pass over SPM raster payloads (nearest-neighbour, numpy,
    Arrow batches) — the same downsample the photo classifier uses
    (figure_ocr.py:131 ``img.resize((64, 64))``).  Undecodable payloads
    -> null output row (decoder-raises contract)."""
    from ..functions.raster import _resize_nearest, decode_spm, encode_spm

    def resize(mid, payload):
        try:
            px = _resize_nearest(decode_spm(payload or b""), size)
            yield {"media_id": mid, "width": size, "height": size,
                   "data": encode_spm(px)}
        except ValueError:
            yield {"media_id": mid, "width": None, "height": None, "data": None}

    return map_rows(df.select(id_col, bin_col), RESIZE_SCHEMA, lambda: resize)


def photo_likeness(df: DataFrame, id_col: str = "media_id", bin_col: str = "data") -> DataFrame:
    """F4 photo-likeness classifier (reference is_photo_like,
    figure_ocr.py:127-138): 64x64 color-count ratio > 0.28 AND mean
    saturation > 55, computed over SPM raster payloads (numpy, Arrow
    batches).  Undecodable payloads -> photo_like = false with null
    metrics (the reference's OSError guard)."""
    from ..functions.raster import (
        COLOR_RATIO_THRESHOLD,
        SAT_MEAN_THRESHOLD,
        decode_spm,
        photo_metrics,
    )

    def classify(mid, payload):
        try:
            cr, sm = photo_metrics(decode_spm(payload or b""))
            like = cr > COLOR_RATIO_THRESHOLD and sm > SAT_MEAN_THRESHOLD
            yield {"media_id": mid, "color_ratio": cr, "sat_mean": sm,
                   "photo_like": like}
        except ValueError:
            yield {"media_id": mid, "color_ratio": None, "sat_mean": None,
                   "photo_like": False}

    return map_rows(df.select(id_col, bin_col), PHOTO_SCHEMA, lambda: classify)


def textless_figure_filter(
    figures: DataFrame, photo: DataFrame, id_col: str = "media_id",
    text_col: str = "description",
) -> DataFrame:
    """F5 textless-figure gate (figure_ocr.py:24-25, 254-259): a figure
    is SKIPPED when its OCR/description text has fewer than
    FIGURE_TEXT_MIN_TOKENS tokens of [0-9A-Za-z가-힣] AND the image is
    photo-like.  Pure Catalyst token gate + an equi-join on the
    classifier output; returns figures + has_text/photo_like/skip."""
    from ..functions.raster import TEXT_TOKEN_PATTERN

    has_text = (
        F.length(
            F.regexp_extract(F.coalesce(F.col(text_col), F.lit("")),
                             TEXT_TOKEN_PATTERN, 0)
        )
        > 0
    )
    j = figures.join(photo.select(id_col, "photo_like"), id_col, "left")
    return j.select(
        "*",
        has_text.alias("has_text"),
    ).withColumn(
        "skip",
        ~F.col("has_text") & F.coalesce(F.col("photo_like"), F.lit(False)),
    )


def feature_extract(df: DataFrame, dim: int = 16, id_col: str = "media_id",
                    bin_col: str = "data") -> DataFrame:
    """Feature-extraction shape (stand-in: hash-derived unit vector;
    real impl: CNN/CLIP embedding behind the same Arrow batches)."""
    import numpy as np

    def feature(mid, payload):
        digest = hashlib.sha256(payload or b"").digest()
        v = np.frombuffer((digest * ((dim * 4) // len(digest) + 1))[: dim * 4],
                          dtype=np.uint8).astype(np.float32)
        v = v.reshape(dim, 4).sum(axis=1)
        norm = float(np.linalg.norm(v)) or 1.0
        yield {"media_id": mid, "feature": (v / norm).tolist()}

    return map_rows(df.select(id_col, bin_col), FEATURE_SCHEMA, lambda: feature)
