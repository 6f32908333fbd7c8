"""No Python worker of the library's operators imports pandas.

With pyarrow 16 the first ``pa.array``/``pa.scalar`` on Python objects
imports pandas into the process, ~35 MB per Spark Python worker.  The
library's mapInArrow kernels, ``map_rows`` operators and SQL Arrow
UDFs build their outputs from buffers instead
(``functions/arrowcols.py``); this pins that.

The check runs in a fresh ``local[2]`` session in a subprocess: the
shared test session's workers are reused across tests, and any earlier
``mapInPandas`` has already loaded pandas into them.  A Spark-free
``ast`` check keeps pandas and the pandas UDF entry points out of the
library, except the one stateful stream that needs
``applyInPandasWithState``.
"""

import ast
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PANDAS_ALLOWED = {os.path.join("latex_ocr_spark", "streaming", "stateful.py")}

_SCRIPT = textwrap.dedent(
    r"""
    import sys

    from pyspark.sql import functions as F

    from latex_ocr_spark.functions.sqlapi import register_sql_functions
    from latex_ocr_spark.operators.dedup import simhash64
    from latex_ocr_spark.operators.extract import extract_spans
    from latex_ocr_spark.operators.packing import pack_sequences
    from latex_ocr_spark.operators.tokenize import with_detokenized, with_tokens
    from latex_ocr_spark.plans.curate import curate_corpus
    from latex_ocr_spark.session import get_spark

    spark = get_spark("worker-imports", cores=2, shuffle_partitions=2)

    turns = spark.range(0, 400, 1, 4).selectExpr(
        "concat('c', id % 40) AS conv_id",
        "CAST(id AS INT) AS turn_idx",
        "concat('so $x^', id, '$ and é \\( \\frac{a}{b} \\) ok') AS text",
    )
    spans = extract_spans(turns)
    assert spans.count() == 400

    # 100 groups of two near copies (jaccard 5/6), disjoint across
    # groups, so the funnel's union-find builds 100 clusters
    docs = spark.range(0, 200, 1, 4).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(array('a', 'b', 'c', 'd', 'e'), "
        "x -> concat(x, id % 100)), IF(id >= 100, 'extra', NULL)) AS text",
    )
    res = curate_corpus(docs, near_dup_method="lsh")
    assert ("near_dup_clusters", 200, 100) in res.funnel, res.funnel
    assert simhash64(docs).count() == 200

    toks = with_tokens(spans.select("conv_id", "turn_idx", "span_idx", "latex_norm"))
    assert with_detokenized(toks).filter(F.col("decoded").isNull()).count() == 0
    packed = pack_sequences(
        toks.withColumn("n_tokens", F.size("tokens")).withColumn(
            "doc_id", F.concat_ws(":", "conv_id", "turn_idx", "span_idx")
        ),
        budget=64,
        num_partitions=2,
    )
    assert packed.filter(F.col("pack_id").isNull()).count() == 0

    from latex_ocr_spark.datagen.tarballs import write_fixture_tarballs
    from latex_ocr_spark.operators.evalmetrics import score_pairs
    from latex_ocr_spark.operators.images import (
        encode_png_gray, preprocess_images, render_latex_png, with_probed_size,
    )
    from latex_ocr_spark.operators.inference import infer_spans
    from latex_ocr_spark.operators.multimodal import (
        MEDIA_SCHEMA, extract_media_features, fetch_frames, frame_sample_plan,
    )
    from latex_ocr_spark.operators.symbolic import with_sympy
    from latex_ocr_spark.sources.archives import read_tex_archives
    from latex_ocr_spark.sources.tables import synth_transcripts

    import tempfile

    import numpy as np

    pngs = [render_latex_png("x^2"), encode_png_gray(np.full((9, 40), 200, np.uint8)), b"", None]
    images = spark.createDataFrame(list(enumerate(pngs)), "doc_id long, png binary")
    assert with_probed_size(images).filter("width IS NOT NULL").count() == 2
    assert preprocess_images(images).filter("proc_png IS NOT NULL").count() == 2
    sym = with_sympy(spans.limit(40), use_full_parser=False)
    assert sym.filter("sympy_str IS NOT NULL").count() > 0
    pred = infer_spans(toks, num_partitions=2, salt_buckets=4)
    scored = score_pairs(pred.selectExpr("pred_latex AS pred", "latex_norm AS truth"))
    assert scored.filter("exact_match = 1").count() == 400
    media = spark.createDataFrame(
        [(0, "image", "image/png", pngs[0], (32, 32, None, None, None)),
         (1, "video", "video/mp4", b"ftyp", (640, 360, 8000, None, 20))],
        MEDIA_SCHEMA,
    )
    assert extract_media_features(media).filter("decode_error IS NULL").count() == 1
    assert fetch_frames(media, frame_sample_plan(media)).count() > 0
    tar_dir = tempfile.mkdtemp()
    write_fixture_tarballs(tar_dir)
    assert read_tex_archives(spark, tar_dir).count() > 0
    assert synth_transcripts(spark, 20, 2).count() > 20

    register_sql_functions(spark)
    turns.createOrReplaceTempView("worker_imports_turns")
    assert spark.sql(
        "SELECT bpe_encode(latex_post_process(m)) AS ids FROM worker_imports_turns "
        "LATERAL VIEW explode(extract_math_normalized(text)) AS m"
    ).filter("size(ids) > 2").count() == 400

    def probe(batches):
        import os
        from array import array

        import pyarrow as pa

        from latex_ocr_spark.functions.arrowcols import ints

        for _ in batches:
            pass
        yield pa.RecordBatch.from_arrays(
            [ints(array("q", [os.getpid()])), ints(array("i", ["pandas" in sys.modules]))],
            names=["pid", "pandas"],
        )

    rows = spark.range(0, 64, 1, 16).mapInArrow(probe, "pid long, pandas int").collect()
    print("WORKERS", sorted({(r.pid, r.pandas) for r in rows}))
    assert not any(r.pandas for r in rows), "a Python worker imported pandas"
    spark.stop()
    """
)


def test_python_workers_stay_pandas_free():
    env = dict(os.environ, PYTHONPATH=REPO)
    env.pop("SPARK_GRAFT_MASTER", None)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    assert "WORKERS" in proc.stdout


def _pandas_uses(path):
    """(line, what) of each pandas import and pandas UDF entry point."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        else:
            continue
        for name in names:
            if name.split(".")[0] == "pandas" or name == "mapInPandas" or (
                name.startswith("applyInPandas")
            ):
                yield node.lineno, name


def test_only_the_stateful_stream_uses_pandas():
    found = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, "latex_ocr_spark")):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                uses = list(_pandas_uses(path))
                if uses:
                    found[os.path.relpath(path, REPO)] = uses
    assert set(found) == PANDAS_ALLOWED, found
