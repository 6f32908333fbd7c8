"""S1/S2/J1: text-corpus scan with line ids, binaryFile image scan with
filename keys, and the dataset-build join — the reference's
Im2LatexDataset semantics end-to-end."""

import os
import shutil
import tempfile

import numpy as np
import pytest

from latex_ocr_spark.operators.images import encode_png_gray
from latex_ocr_spark.sources.images import (
    build_image_dataset,
    read_equation_corpus,
    read_image_dir,
)

SIZES = [(32, 32), (64, 32), (128, 64), (320, 96), (672, 192), (2000, 1200), (16, 16)]
N = 21


@pytest.fixture
def dataset_dir():
    d = tempfile.mkdtemp(prefix="imgds_")
    eqs = [f"x_{{{i}}} + y^{{{i}}} = {i}" for i in range(N)]
    with open(os.path.join(d, "equations.txt"), "w") as f:
        f.write("\n".join(eqs))
    img_dir = os.path.join(d, "images")
    os.makedirs(img_dir)
    for i in range(N):
        w, h = SIZES[i % len(SIZES)]
        arr = np.full((h, w), 255, dtype=np.uint8)
        arr[: h // 3 or 1, : w // 3 or 1] = 0
        with open(os.path.join(img_dir, "%07d.png" % i), "wb") as f:
            f.write(encode_png_gray(arr))
    yield d, eqs
    shutil.rmtree(d, ignore_errors=True)


def test_corpus_line_ids(spark, dataset_dir):
    d, eqs = dataset_dir
    corpus = read_equation_corpus(spark, os.path.join(d, "equations.txt"))
    got = {r.eq_id: r.latex for r in corpus.collect()}
    assert got == dict(enumerate(eqs))


def test_dataset_build_join(spark, dataset_dir):
    d, eqs = dataset_dir
    corpus = read_equation_corpus(spark, os.path.join(d, "equations.txt"))
    images = read_image_dir(spark, os.path.join(d, "images"))
    assert images.count() == N

    ds = build_image_dataset(images, corpus)
    rows = {r.eq_id: r for r in ds.collect()}
    # ids whose size falls outside (32,32)..(1024,512) are filtered
    legal = {
        i for i in range(N)
        if 32 <= SIZES[i % len(SIZES)][0] <= 1024
        and 32 <= SIZES[i % len(SIZES)][1] <= 512
    }
    assert set(rows) == legal
    for i, r in rows.items():
        assert r.latex == eqs[i]  # image %07d.png ↔ equation line i
        w, h = SIZES[i % len(SIZES)]
        assert (r.width, r.height) == (w, h)
        assert r.bucket.w % 32 == 0 and r.bucket.h % 32 == 0
