"""Image-modality operators (I1-I7): opaque binary columns + typed
metadata, decoded and transformed inside Arrow-batched UDFs.

The container has neither PIL nor cv2, so:

- PNGs are written/probed with a self-contained minimal codec
  (8-bit grayscale, zlib) — enough for real byte-level plumbing;
- the preprocessing chain (I1 ``pad``: minmax contrast stretch →
  threshold-128 polarity normalize → content bounding-box crop →
  pad-to-÷32 white canvas; semantics of utils/utils.py:101-135) is
  reimplemented on numpy arrays;
- general image/audio/video *decode* of foreign formats is stubbed
  behind NotImplementedError with the Spark-side plumbing (schema,
  batch shape, bucketing) fully real and tested.
"""

from __future__ import annotations

import struct
import zlib
from typing import Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from latex_ocr_spark.functions.arrowcols import map_rows

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: data-dependent decode failures (corrupt, truncated, or foreign
#: bytes) — the ONLY exceptions the quarantine paths may swallow.
#: Anything else (AttributeError, TypeError, NameError, a numpy shape
#: bug, …) is a coding bug and must fail the task: a catch-all that
#: nulls every row makes a broken kernel look like a clean run
#: (round-2 verdict #2; mirrors the reference's own fail-fast
#: page-count assertion, latex2png.py:83-85).
DECODE_ERRORS = (NotImplementedError, ValueError, struct.error, zlib.error, IndexError)


# ---------------------------------------------------------------------------
# minimal grayscale PNG codec (fixture generation + decode plumbing)
# ---------------------------------------------------------------------------


def encode_png_gray(arr: "np.ndarray") -> bytes:
    """8-bit grayscale PNG from a (H, W) uint8 array."""
    h, w = arr.shape
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_png_gray(png: bytes) -> "np.ndarray":
    """Inverse of :func:`encode_png_gray` (filter-0 grayscale only);
    foreign formats are out of scope in this container."""
    if not png.startswith(_PNG_MAGIC):
        raise NotImplementedError("non-PNG image decode requires an image library")
    w, h, depth, ctype = struct.unpack(">IIBB", png[16:26])
    if depth != 8 or ctype != 0:
        raise NotImplementedError("only 8-bit grayscale PNGs are decodable here")
    idat = b""
    off = 8
    while off < len(png):
        (ln,) = struct.unpack(">I", png[off : off + 4])
        tag = png[off + 4 : off + 8]
        if tag == b"IDAT":
            idat += png[off + 8 : off + 8 + ln]
        off += 12 + ln
    raw = zlib.decompress(idat)
    rows = []
    stride = w + 1
    prev = np.zeros(w, dtype=np.uint8)
    for y in range(h):
        line = raw[y * stride : (y + 1) * stride]
        ftype, data = line[0], np.frombuffer(line[1:], dtype=np.uint8)
        if ftype == 0:
            row = data.copy()
        elif ftype == 2:  # Up filter — tolerated for robustness
            row = (data + prev).astype(np.uint8)
        else:
            raise NotImplementedError(f"PNG filter {ftype} unsupported")
        rows.append(row)
        prev = row
    return np.stack(rows)


def probe_png_size(png: bytes) -> Optional[Tuple[int, int]]:
    """(width, height) from the IHDR header without decompression —
    the imagesize.get probe (dataset.py:73) on raw bytes."""
    if png is None or len(png) < 24 or not png.startswith(_PNG_MAGIC):
        return None
    w, h = struct.unpack(">II", png[16:24])
    return int(w), int(h)


# ---------------------------------------------------------------------------
# I8 render: deterministic text rasterizer (xelatex stand-in)
# ---------------------------------------------------------------------------

#: glyph cell geometry: 5×7 ink grid + 1 column of spacing
_GLYPH_W, _GLYPH_H, _GLYPH_SPACING = 5, 7, 1
_GLYPH_CACHE: dict = {}


def _glyph(ch: str) -> "np.ndarray":
    """Deterministic 5×7 ink pattern for one character.

    Placeholder glyphs (md5-derived ink, not legible type): the
    reference's renderer is xelatex+ghostscript (latex2png), absent in
    this container.  What the pipeline needs from a renderer is
    deterministic, content-dependent pixels with real bbox variation —
    these provide exactly that; a real rasterizer drops in here."""
    import hashlib

    g = _GLYPH_CACHE.get(ch)
    if g is None:
        bits = int.from_bytes(hashlib.md5(ch.encode("utf-8")).digest()[:5], "big")
        g = np.zeros((_GLYPH_H, _GLYPH_W), dtype=bool)
        for r in range(_GLYPH_H):
            for c in range(_GLYPH_W):
                if (bits >> (r * _GLYPH_W + c)) & 1:
                    g[r, c] = True
        if not g.any():  # every glyph leaves ink (bbox never empty)
            g[_GLYPH_H // 2, _GLYPH_W // 2] = True
        _GLYPH_CACHE[ch] = g
    return g


def render_text_gray(text: str, pad: int = 4) -> "np.ndarray":
    """Render a string to a grayscale image (ink 0 on white 255).

    Geometry is a pure function of the text: height ``7 + 2·pad``,
    width ``6·len(text) − 1 + 2·pad`` (5-px glyphs, 1-px spacing) —
    which is what makes the render→probe loop oracle-checkable by
    arithmetic alone (registry ``img_render_probe``)."""
    n = len(text)
    ink_w = max(n * (_GLYPH_W + _GLYPH_SPACING) - _GLYPH_SPACING, 1)
    arr = np.full((_GLYPH_H + 2 * pad, ink_w + 2 * pad), 255, dtype=np.uint8)
    for i, ch in enumerate(text):
        x = pad + i * (_GLYPH_W + _GLYPH_SPACING)
        arr[pad : pad + _GLYPH_H, x : x + _GLYPH_W][_glyph(ch)] = 0
    return arr


def render_latex_png(formula: str, pad: int = 4) -> bytes:
    """LaTeX → PNG bytes — the latex2png seam (latex2png.py call shape)
    over the deterministic rasterizer."""
    return encode_png_gray(render_text_gray(formula, pad))


# ---------------------------------------------------------------------------
# I1 pad(): contrast stretch + polarity + bbox crop + ÷32 pad
# ---------------------------------------------------------------------------


def pad_to_divisible(gray: "np.ndarray", divable: int = 32) -> "np.ndarray":
    """Reference ``pad`` semantics (utils/utils.py:101-135) on a (H, W)
    uint8 array: min-max stretch to [0,255]; if mean>128 treat dark
    pixels as content else invert; crop to the content bounding box;
    paste onto a white canvas rounded up to multiples of ``divable``."""
    data = gray.astype(np.float64)
    lo, hi = data.min(), data.max()
    data = (data - lo) / (hi - lo) * 255 if hi > lo else np.zeros_like(data)
    threshold = 128
    if data.mean() > threshold:
        content = data < threshold  # dark-on-light: text is dark
    else:
        content = data > threshold
        data = 255 - data  # normalize polarity to dark-on-light
    ys, xs = np.nonzero(content)
    if len(xs) == 0:
        a, b, w, h = 0, 0, gray.shape[1], gray.shape[0]
    else:
        a, b = int(xs.min()), int(ys.min())
        w, h = int(xs.max()) - a + 1, int(ys.max()) - b + 1
    rect = data[b : b + h, a : a + w].astype(np.uint8)
    dims = [divable * -(-x // divable) for x in (w, h)]
    canvas = np.full((dims[1], dims[0]), 255, dtype=np.uint8)
    canvas[:h, :w] = rect
    return canvas


def resize_nearest(gray: "np.ndarray", w: int, h: int) -> "np.ndarray":
    """Nearest-neighbor resample (cv2/PIL-free)."""
    H, W = gray.shape
    ys = (np.arange(h) * (H / h)).astype(int).clip(0, H - 1)
    xs = (np.arange(w) * (W / w)).astype(int).clip(0, W - 1)
    return gray[ys][:, xs]


def minmax_size(
    gray: "np.ndarray",
    max_dims: Tuple[int, int] = (672, 192),
    min_dims: Tuple[int, int] = (32, 32),
) -> "np.ndarray":
    """I2 clamp (cli.py:32-55 semantics): downscale keeping aspect when
    over max_dimensions; pad right/bottom with white up to
    min_dimensions."""
    h, w = gray.shape
    if w > max_dims[0] or h > max_dims[1]:
        ratio = min(max_dims[0] / w, max_dims[1] / h)
        gray = resize_nearest(gray, max(int(w * ratio), 1), max(int(h * ratio), 1))
        h, w = gray.shape
    if w < min_dims[0] or h < min_dims[1]:
        canvas = np.full((max(h, min_dims[1]), max(w, min_dims[0])), 255, dtype=np.uint8)
        canvas[:h, :w] = gray
        gray = canvas
    return gray


def predict_width_class(gray: "np.ndarray", max_width: int = 672) -> int:
    """Deterministic stand-in for the ResNetV2 width classifier
    (train_resizer.py): a contracting map on the current width, so the
    fixpoint loop genuinely iterates.  A trained model drops in here —
    the loop/bucket contract is unchanged."""
    h, w = gray.shape
    target = w // 2 if w > 320 else w
    target = 32 * -(-target // 32)
    return int(min(max(target, 32), max_width))


def resize_to_bucket(
    gray: "np.ndarray", max_iters: int = 10
) -> Tuple["np.ndarray", int]:
    """I3 resize-bucket fixpoint (cli.py:116-128 loop shape): predict
    the best width, resize keeping aspect, repeat until the prediction
    equals the current width (≤ 10 rounds).  Returns (image, iters)."""
    img = pad_to_divisible(minmax_size(pad_to_divisible(gray)))
    for i in range(max_iters):
        h, w = img.shape
        want = predict_width_class(img)
        if want == w:
            return img, i
        new_h = max(int(h * want / w), 1)
        img = pad_to_divisible(resize_nearest(img, want, new_h))
    return img, max_iters


GRAY_MEAN, GRAY_STD = 0.7931, 0.1738  # transforms.py:17


def normalize_gray(gray: "np.ndarray") -> "np.ndarray":
    """I4 test transform: grayscale [0,1] → standardized float32."""
    return ((gray.astype(np.float32) / 255.0) - GRAY_MEAN) / GRAY_STD


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------

PROBED_SCHEMA_EXTRA = [
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
]


def with_probed_size(images: DataFrame, png_col: str = "png") -> DataFrame:
    """S3 size probe: width/height from IHDR bytes, no decode."""
    return map_rows(
        images,
        lambda: lambda png: [probe_png_size(png) or (None, None)],
        [png_col],
        PROBED_SCHEMA_EXTRA,
    )


def filter_dimensions(
    images: DataFrame,
    min_dims: Tuple[int, int] = (32, 32),
    max_dims: Tuple[int, int] = (1024, 512),
) -> DataFrame:
    """F1 dimension-range filter (dataset.py:24-26,74)."""
    return images.filter(
        (F.col("width") >= min_dims[0])
        & (F.col("width") <= max_dims[0])
        & (F.col("height") >= min_dims[1])
        & (F.col("height") <= max_dims[1])
    )


def with_bucket(images: DataFrame, divable: int = 32) -> DataFrame:
    """Size-bucket key: the post-pad canvas dims (÷32 geometry, I1/I3)."""
    up = lambda c: (F.ceil(F.col(c) / divable) * divable).cast("int")
    return images.withColumn(
        "bucket", F.struct(up("width").alias("w"), up("height").alias("h"))
    )


def _preprocess_checked(png):
    """(proc_png, w, h) for one payload, or (None, None, None) when the
    payload is NULL or undecodable (:data:`DECODE_ERRORS` only —
    coding bugs in the pad/encode chain raise and fail the task;
    pinned by tests/test_images.py)."""
    if png is None:  # NULL binary column = data, not a bug
        return None, None, None
    try:
        padded = pad_to_divisible(decode_png_gray(bytes(png)))
    except DECODE_ERRORS:
        return None, None, None
    return encode_png_gray(padded), padded.shape[1], padded.shape[0]


def preprocess_images(images: DataFrame, png_col: str = "png") -> DataFrame:
    """I1+I4: decode → pad-to-÷32 → re-encode, appending the processed
    PNG and its final dims.  Runs per Arrow batch; rows whose decode is
    unsupported are passed through with nulls (quarantine downstream).
    """
    return map_rows(
        images,
        lambda: lambda png: [_preprocess_checked(png)],
        [png_col],
        [
            T.StructField("proc_png", T.BinaryType()),
            T.StructField("proc_w", T.IntegerType()),
            T.StructField("proc_h", T.IntegerType()),
        ],
    )
