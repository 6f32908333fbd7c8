"""The ``map_rows``/``mapInArrow`` operators equal the ``mapInPandas``
operators they replaced (``tests/prechange_pandas_ops.py``): the same
rows and the same schema, over NULL, empty and non-BMP strings, empty
and corrupt binaries, empty inputs and naive timestamps.

The old operators load pandas into the shared test session's workers;
``test_worker_imports.py`` checks the new ones in a fresh session.
"""

import io
import os
import struct
import tarfile
import zlib

import prechange_pandas_ops as old
import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.operators import evalmetrics, images, inference, multimodal, symbolic
from latex_ocr_spark.operators.images import encode_png_gray, render_latex_png
from latex_ocr_spark.operators.tokenize import with_tokens
from latex_ocr_spark.plans import registry
from latex_ocr_spark.sources import archives, tables

STRINGS = [
    None,
    "",
    "   ",
    "x^2",
    "\\frac{a}{b} + \\sqrt{2}",
    "😀 a𝔸b",
    "é + α_{1}",
    "\\int_0^1 f",
    "operatorname*{sin}(t)",
    "\\newcommand{\\a(}{x} $\\a($",
    "a_{12}b \\cdot \\left( y \\right)^{3}",
]


def _png(w, h):
    import numpy as np

    arr = np.full((h, w), 255, dtype=np.uint8)
    arr[: h // 2, : w // 3] = 0
    return encode_png_gray(arr)


def _bad_idat():
    png = bytearray(_png(8, 8))
    at = png.index(b"IDAT") + 4
    png[at : at + 6] = b"\xff" * 6  # zlib stream no longer decodes
    return bytes(png)


BINARIES = [
    None,
    b"",
    b"not a png",
    _png(40, 20),
    _png(1, 1),
    _png(64, 33)[:30],  # truncated after the header
    _bad_idat(),
    b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", 7, 9),
    render_latex_png("😀"),
]


def _same(spark_old, spark_new, nonempty=True):
    assert spark_new.schema == spark_old.schema
    rows_old = sorted(map(tuple, spark_old.collect()), key=repr)
    rows_new = sorted(map(tuple, spark_new.collect()), key=repr)
    assert rows_new == rows_old
    assert bool(rows_old) == nonempty


def _strings(spark, col="latex_norm"):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(STRINGS)], f"span_id long, {col} string"
    ).repartition(3)


def _images(spark):
    return spark.createDataFrame(
        [(i, b) for i, b in enumerate(BINARIES)], "doc_id long, png binary"
    ).repartition(3)


@pytest.mark.parametrize("op", ["with_probed_size", "preprocess_images"])
def test_image_operators(spark, op):
    df = _images(spark)
    _same(getattr(old, op)(df), getattr(images, op)(df))
    _same(getattr(old, op)(df.limit(0)), getattr(images, op)(df.limit(0)), nonempty=False)


@pytest.mark.parametrize("full", [True, False])
def test_with_sympy(spark, full):
    df = _strings(spark)
    _same(
        old.with_sympy(df, use_full_parser=full),
        symbolic.with_sympy(df, use_full_parser=full),
    )
    _same(old.with_sympy(df.limit(0)), symbolic.with_sympy(df.limit(0)), nonempty=False)


def test_score_pairs(spark):
    pairs = spark.createDataFrame(
        [(i, p, t) for i, p in enumerate(STRINGS) for t in STRINGS[i % 4 :: 4]],
        "pair_id long, pred string, truth string",
    ).repartition(3)
    _same(old.score_pairs(pairs), evalmetrics.score_pairs(pairs))
    _same(
        old.score_pairs(pairs.limit(0)), evalmetrics.score_pairs(pairs.limit(0)), nonempty=False
    )


def _media(spark):
    meta = (32, 32, None, None, None)
    video = (640, 360, 8000, None, 5)
    rows = [(i, "image", "image/png", b, meta) for i, b in enumerate(BINARIES)]
    rows += [
        (100, "audio", "audio/wav", b"RIFF", (None, None, 3000, 16000, None)),
        (101, "video", "video/mp4", b"ftyp", video),
        (102, "video", None, None, video),
        (103, "image", "image/jpeg", b"\xff\xd8", meta),
        (104, "video", "video/😀", b"", (None, None, 2000, None, 3)),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA).repartition(3)


def test_extract_media_features(spark):
    media = _media(spark)
    for dim in (8, 3):
        _same(
            old.extract_media_features(media, dim),
            multimodal.extract_media_features(media, dim),
        )
    _same(
        old.extract_media_features(media.limit(0)),
        multimodal.extract_media_features(media.limit(0)),
        nonempty=False,
    )


def test_fetch_frames(spark):
    media = _media(spark)
    plan = multimodal.frame_sample_plan(media, every_ms=1000)
    _same(old.fetch_frames(media, plan), multimodal.fetch_frames(media, plan))
    _same(
        old.fetch_frames(media, plan.limit(0)),
        multimodal.fetch_frames(media, plan.limit(0)),
        nonempty=False,
    )


def test_infer_spans(spark):
    spans = spark.createDataFrame(
        [(f"c{i % 3}", i, s) for i, s in enumerate(STRINGS * 3)],
        "conv_id string, turn_idx int, latex_norm string",
    )
    toked = with_tokens(spans)
    _same(
        old.infer_spans(toked, num_partitions=4, salt_buckets=8),
        inference.infer_spans(toked, num_partitions=4, salt_buckets=8),
    )
    _same(old.infer_spans(toked), inference.infer_spans(toked))
    _same(
        old.infer_spans(toked.limit(0)), inference.infer_spans(toked.limit(0)), nonempty=False
    )


def _targz(members):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def test_read_tex_archives(spark, tmp_path):
    from latex_ocr_spark.datagen.tarballs import write_fixture_tarballs

    d = str(tmp_path)
    write_fixture_tarballs(d)
    extra = {
        "empty.tar.gz": b"",
        "corrupt.tgz": zlib.compress(b"x" * 100),
        "truncated.tar.gz": _targz({"a.tex": b"$x$" * 500})[:60],
        "nonbmp.tar": _targz({"b.tex": "😀 $a𝔸b$ é".encode(), "c.tex": b"\xff\xfe"}),
        "plain.tgz": "\\newcommand{\\x}{y} $\\x$ 😀".encode(),
        "latin1.tar.gz": "é".encode("latin-1"),
    }
    for name, data in extra.items():
        with open(os.path.join(d, name), "wb") as fh:
            fh.write(data)
    _same(old.read_tex_archives(spark, d), archives.read_tex_archives(spark, d))


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_synth_transcripts(spark, zone):
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, zone)
    try:
        _same(old.synth_transcripts(spark, 25, 3), tables.synth_transcripts(spark, 25, 3))
        _same(old.synth_transcripts(spark, 0), tables.synth_transcripts(spark, 0), nonempty=False)
    finally:
        spark.conf.set(key, prev)


def test_registry_frames(spark):
    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    _same(old.img_probe_bucket_images(docs), registry._block_pngs(docs, 7, 4))

    ids = spark.range(40).repartition(4)
    _same(
        old.img_preprocess_images(ids),
        registry._block_pngs(ids.select(F.col("id").alias("doc_id")), 5, 3),
    )

    formulas = spark.createDataFrame(
        [(i, s) for i, s in enumerate(STRINGS) if s is not None],
        "doc_id long, formula string",
    )
    _same(old.img_render_probe_rendered(formulas), registry._rendered_pngs(formulas))

    media_ids = spark.range(30).repartition(3)
    _same(old.media_features_media(media_ids), registry._media_frame(media_ids))
    _same(
        old.media_features_media(media_ids.limit(0)),
        registry._media_frame(media_ids.limit(0)),
        nonempty=False,
    )


def test_corpus_formulas(spark):
    raw = spark.createDataFrame(
        [(s,) for s in STRINGS[1:] + ["\\frac{", "}{", "\\begin{array}"]], "raw_match string"
    ).repartition(3)
    _same(old.corpus_build_corpus(raw), registry._katex_formulas(raw))
    _same(
        old.corpus_build_corpus(raw.limit(0)), registry._katex_formulas(raw.limit(0)),
        nonempty=False,
    )
