"""Image-path operators: PNG codec, IHDR probe, pad()/bbox semantics,
dimension filter, bucket assignment (SURVEY.md §2.7, FIXTURES.md §3)."""

import numpy as np
import pandas as pd
import pytest

from latex_ocr_spark.operators.images import (
    decode_png_gray,
    encode_png_gray,
    filter_dimensions,
    normalize_gray,
    pad_to_divisible,
    preprocess_images,
    probe_png_size,
    with_bucket,
    with_probed_size,
)

SIZES = [(32, 32), (64, 32), (128, 64), (320, 96), (672, 192), (2000, 1200), (16, 16)]


def synth_image(w: int, h: int, seed: int) -> np.ndarray:
    """White canvas with a deterministic black rectangle."""
    arr = np.full((h, w), 255, dtype=np.uint8)
    x0, y0 = (seed * 7) % max(w // 2, 1), (seed * 5) % max(h // 2, 1)
    arr[y0 : y0 + max(h // 4, 1), x0 : x0 + max(w // 4, 1)] = 0
    return arr


def test_png_codec_roundtrip():
    for i, (w, h) in enumerate(SIZES):
        img = synth_image(w, h, i)
        png = encode_png_gray(img)
        assert probe_png_size(png) == (w, h)
        assert np.array_equal(decode_png_gray(png), img)
    assert probe_png_size(b"notapng") is None


def test_pad_semantics():
    # dark-on-light 50x30 content box → canvas padded up to /32
    img = np.full((30, 50), 255, dtype=np.uint8)
    img[10:20, 5:45] = 0
    out = pad_to_divisible(img)
    assert out.shape == (32, 64)  # bbox 40x10 → ceil/32 → 64x32
    assert out[0, 0] == 0  # content moved to origin
    assert out[-1, -1] == 255  # padding is white
    # light-on-dark input gets polarity-normalized (inverted)
    inv = 255 - img
    out2 = pad_to_divisible(inv)
    assert out2.shape == (32, 64)
    # blank image: no content → full-size canvas
    blank = np.full((40, 40), 200, dtype=np.uint8)
    assert pad_to_divisible(blank).shape == (64, 64)


def test_normalize_gray():
    g = np.array([[0, 255]], dtype=np.uint8)
    n = normalize_gray(g)
    assert n.dtype == np.float32
    assert n[0, 0] == pytest.approx((0 - 0.7931) / 0.1738, rel=1e-5)
    assert n[0, 1] == pytest.approx((1 - 0.7931) / 0.1738, rel=1e-5)


def test_minmax_size_clamp():
    from latex_ocr_spark.operators.images import minmax_size

    big = synth_image(2000, 1200, 1)
    clamped = minmax_size(big)
    assert clamped.shape[1] <= 672 and clamped.shape[0] <= 192
    # aspect preserved within nearest-neighbor rounding
    assert abs(clamped.shape[1] / clamped.shape[0] - 2000 / 1200) < 0.1
    tiny = synth_image(16, 16, 2)
    padded = minmax_size(tiny)
    assert padded.shape == (32, 32)
    assert padded[-1, -1] == 255  # white pad


def test_resize_bucket_fixpoint():
    from latex_ocr_spark.operators.images import resize_to_bucket

    for w, h, seed in [(672, 192, 1), (640, 128, 2), (64, 32, 3), (320, 96, 4)]:
        img, iters = resize_to_bucket(synth_image(w, h, seed))
        assert iters < 10, "fixpoint loop failed to converge"
        assert img.shape[1] % 32 == 0 and img.shape[0] % 32 == 0
        assert 32 <= img.shape[1] <= 672
        # converged: the predictor agrees with the final width
        from latex_ocr_spark.operators.images import predict_width_class

        assert predict_width_class(img) == img.shape[1]


def test_spark_image_pipeline(spark):
    rows = [
        (i, encode_png_gray(synth_image(w, h, i))) for i, (w, h) in enumerate(SIZES)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["eq_id", "png"]))
    probed = with_probed_size(df)
    got = {r.eq_id: (r.width, r.height) for r in probed.collect()}
    assert got == {i: s for i, s in enumerate(SIZES)}

    kept = filter_dimensions(probed)
    ids = sorted(r.eq_id for r in kept.collect())
    assert ids == [0, 1, 2, 3, 4]  # (2000,1200) and (16,16) dropped

    bucketed = with_bucket(kept)
    buckets = {r.eq_id: (r.bucket.w, r.bucket.h) for r in bucketed.collect()}
    assert buckets[0] == (32, 32) and buckets[4] == (672, 192)

    proc = preprocess_images(kept).collect()
    for r in proc:
        assert r.proc_w % 32 == 0 and r.proc_h % 32 == 0
        assert r.proc_png is not None


def test_render_text_gray_geometry_and_determinism():
    from latex_ocr_spark.operators.images import (
        decode_png_gray,
        render_latex_png,
        render_text_gray,
    )

    arr = render_text_gray("x_{1}+2", pad=4)
    assert arr.shape == (7 + 8, 6 * 7 - 1 + 8)  # 7 chars
    assert (arr == 0).any() and (arr == 255).any()  # ink on white
    # deterministic: identical bytes run-to-run, distinct per content
    assert render_latex_png("a+b") == render_latex_png("a+b")
    assert render_latex_png("a+b") != render_latex_png("a+c")
    # round-trips through the codec
    back = decode_png_gray(render_latex_png("E=mc^2"))
    assert back.shape[0] == 15
    # empty text still renders a valid (blank) image
    assert render_text_gray("").shape == (15, 9)


def test_quarantine_swallows_only_decode_errors(monkeypatch):
    """Round-2 verdict #2: corrupt/foreign bytes quarantine, but an
    injected coding bug in the pad/encode chain must RAISE — a
    catch-all that nulls every row makes a broken kernel look like a
    clean run."""
    import numpy as np
    import pytest

    from latex_ocr_spark.operators import images as I

    # data-dependent failures → (None, None, None)
    for corrupt in (
        b"",                                  # empty
        b"not a png at all",                  # wrong magic
        I._PNG_MAGIC + b"\x00\x01",           # truncated header (struct.error)
        I.encode_png_gray(np.zeros((4, 4), dtype=np.uint8))[:40],  # truncated mid-IDAT (zlib.error)
    ):
        assert I._preprocess_checked(corrupt) == (None, None, None), corrupt[:16]

    # an injected bug (e.g. an API typo inside the kernel) must raise
    def buggy_pad(arr, divable=32):
        return arr.reshap(1, -1)  # AttributeError: no such numpy method

    monkeypatch.setattr(I, "pad_to_divisible", buggy_pad)
    good = I.encode_png_gray(np.full((8, 8), 200, dtype=np.uint8))
    with pytest.raises(AttributeError):
        I._preprocess_checked(good)
