"""Tokenizer operators: BPE encode/decode columns with a broadcast vocab.

The tokenizer state (vocab + merges, ~100 KB) is broadcast once per
job (M6 'broadcast BPE tokenizer vocab'); executors rebuild the
tokenizer object lazily from the broadcast payload, never from disk.

Both column operators run inside ``mapInArrow``: every input column
passes through as the same Arrow array, and only the text (or id)
column is read into Python.  Encoded ids go straight into one flat
``array('i')`` per batch, 4 bytes per id, which the Arrow list column
wraps without a copy; its null mask is the text column's own
``is_null()``.  Decoding runs behind
:func:`latex_ocr_spark.functions.arrowcols.map_rows`, which builds the
strings from buffers — no ``pa.array`` on Python objects, which would
load pandas into the worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _broadcast_tokenizer(df: DataFrame):
    from latex_ocr_spark.textkernel.bpe import DEFAULT_TOKENIZER_PATH

    with open(DEFAULT_TOKENIZER_PATH, "rb") as f:
        spec = f.read()
    return df.sparkSession.sparkContext.broadcast(spec)


def _rebuild(bc):
    """Executor-side: materialize a tokenizer from broadcast bytes once
    per worker (module-level memo keyed by broadcast id)."""
    import hashlib
    import json

    from latex_ocr_spark.textkernel import bpe

    cache = getattr(bpe, "_BC_CACHE", None)
    if cache is None:
        cache = bpe._BC_CACHE = {}
    key = hashlib.md5(bc.value).hexdigest()
    if key not in cache:
        cache[key] = bpe.BpeTokenizer(spec=json.loads(bc.value))
    return cache[key]


def _encode_column(tk, col):
    """``list<int32>`` BPE ids of a string column, null where it is null."""
    from array import array

    import pyarrow as pa

    from latex_ocr_spark.functions.arrowcols import ints

    values, offsets = array("i"), array("i", [0])
    for s in col.to_pylist():
        if s is not None:
            values.extend(tk.encode(s))
        offsets.append(len(values))
    # zero-copy: both Arrow buffers wrap the array('i') memory
    return pa.ListArray.from_arrays(ints(offsets), ints(values), mask=col.is_null())


def _append_column(rb, name: str, arr):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        rb.columns + [arr], names=rb.schema.names + [name]
    )


def with_tokens(
    df: DataFrame, text_col: str = "latex_norm", out_col: str = "tokens"
) -> DataFrame:
    """Append ``array<int>`` BPE ids ([BOS] … [EOS]) for ``text_col``."""
    bc = _broadcast_tokenizer(df)

    schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.ArrayType(T.IntegerType()))]
    )

    def run(batches):
        tk = _rebuild(bc)
        for rb in batches:
            yield _append_column(rb, out_col, _encode_column(tk, rb.column(text_col)))

    return df.mapInArrow(run, schema=schema)


def with_detokenized(
    df: DataFrame, tokens_col: str = "tokens", out_col: str = "decoded"
) -> DataFrame:
    """Append the decoded string for an id-array column (token2str
    semantics, utils/utils.py:94-98)."""
    from latex_ocr_spark.functions.arrowcols import map_rows

    bc = _broadcast_tokenizer(df)

    def make_row():
        tk = _rebuild(bc)
        return lambda ids: [(tk.decode(ids) if ids is not None else None,)]

    return map_rows(df, make_row, [tokens_col], [T.StructField(out_col, T.StringType())])


def filter_max_seq_len(df: DataFrame, tokens_col: str = "tokens", max_len: int = 512) -> DataFrame:
    """F6 max-seq-len gate (dataset.py:129-130)."""
    return df.filter(F.size(F.col(tokens_col)) <= max_len)
