"""No Python worker on the extract/prepare paths imports pandas.

With pyarrow 16 the first ``pa.array``/``pa.scalar`` on Python objects
imports pandas into the process, ~35 MB per Spark Python worker.  The
library's mapInArrow kernels and SQL Arrow UDFs build their outputs
from buffers instead (``functions/arrowcols.py``); this pins that.

The check runs in a fresh ``local[2]`` session in a subprocess: the
shared test session's workers are reused across tests, and any earlier
``mapInPandas`` has already loaded pandas into them.
"""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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
