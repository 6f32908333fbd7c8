"""SQL-facing function registration.

Makes the engine's kernels callable from ``spark.sql`` so SQL-first
users can run extraction without the DataFrame API:

    SELECT conv_id, turn_idx, posexplode(extract_math(text))
    FROM transcripts

All functions are Arrow UDFs (never row-at-a-time) whose outputs are
built from buffers (:mod:`latex_ocr_spark.functions.arrowcols`), so the
Python workers never import pandas; the heavy per-row logic stays in
the parity-tested textkernel.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf


def _span_lists(texts: pa.Array, field: str) -> pa.Array:
    from latex_ocr_spark.functions.arrowcols import string_lists
    from latex_ocr_spark.textkernel.pipeline import extract_turn

    return string_lists(
        [[getattr(s, field) for s in extract_turn(t)] if t is not None else []
         for t in texts.to_pylist()]
    )


def _map_strings(fn, formulas: pa.Array) -> pa.Array:
    from latex_ocr_spark.functions.arrowcols import strings

    return strings([fn(s) if s is not None else None for s in formulas.to_pylist()])


@arrow_udf(T.ArrayType(T.StringType()))
def _extract_math(texts: pa.Array) -> pa.Array:
    return _span_lists(texts, "raw_match")


@arrow_udf(T.ArrayType(T.StringType()))
def _extract_math_normalized(texts: pa.Array) -> pa.Array:
    return _span_lists(texts, "latex_norm")


@arrow_udf(T.StringType())
def _post_process(formulas: pa.Array) -> pa.Array:
    from latex_ocr_spark.textkernel.normalize import post_process

    return _map_strings(post_process, formulas)


@arrow_udf(T.StringType())
def _katex_normalize(formulas: pa.Array) -> pa.Array:
    from latex_ocr_spark.textkernel.normalize import normalize_formula_katex

    return _map_strings(normalize_formula_katex, formulas)


def _make_bpe_encode(spark: SparkSession):
    """Build the bpe_encode UDF with the tokenizer spec *broadcast* —
    reading resources/tokenizer.json from executor-local disk would
    break on a real cluster where executors import the package from
    the --py-files zip (same policy as operators/tokenize.py)."""
    from latex_ocr_spark.textkernel.bpe import DEFAULT_TOKENIZER_PATH

    with open(DEFAULT_TOKENIZER_PATH, "rb") as fh:  # driver-side read
        spec = fh.read()
    bc = spark.sparkContext.broadcast(spec)

    @arrow_udf(T.ArrayType(T.IntegerType()))
    def _bpe_encode(formulas: pa.Array) -> pa.Array:
        from latex_ocr_spark.operators.tokenize import _encode_column, _rebuild

        return _encode_column(_rebuild(bc), formulas)

    return _bpe_encode


def register_sql_functions(spark: SparkSession) -> None:
    """Install the engine's functions into the session's SQL namespace."""
    spark.udf.register("extract_math", _extract_math)
    spark.udf.register("extract_math_normalized", _extract_math_normalized)
    spark.udf.register("latex_post_process", _post_process)
    spark.udf.register("latex_katex_normalize", _katex_normalize)
    spark.udf.register("bpe_encode", _make_bpe_encode(spark))
