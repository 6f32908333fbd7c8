"""Batched inference stage (M1-M6) with a deterministic stand-in model.

The real pix2tex model is a ViT encoder + autoregressive Transformer
decoder (vit.py:44-73, transformer.py:12-52).  This container has no
torch and no trained weights (the reference downloads them at runtime,
cli.py:81-92), so the stage ships a *deterministic stand-in* behind the
exact interface a real model drops into:

- rows are salted-repartitioned on (hash(conv_id), bucket) so every
  Arrow batch is shape-uniform (the reference's size-bucket batching,
  dataset.py:70-79 — this is where shape uniformity buys vectorized
  tensor work, unlike the regex stage);
- inside ``mapInArrow`` each batch is padded to a dense (B, L) int
  matrix (PAD=0, dataset.py:31-33/prepare_data:148-150), "decoded"
  greedily, and detokenized with the broadcast vocab;
- the stand-in decoder is the identity over token ids — the strongest
  determinism choice (README.md:31 warns real sampling varies run to
  run; SURVEY.md §4 resolves decode determinism by argmax/identity).

Swapping in real weights = replacing ``_decode_batch`` with a torch
forward pass; nothing about the plan, batching, or schema changes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from latex_ocr_spark.operators.extract import shape_uniform_repartition
from latex_ocr_spark.operators.tokenize import _append_column, _broadcast_tokenizer, _rebuild

PAD_ID = 0


def with_token_bucket(df: DataFrame, tokens_col: str = "tokens", width: int = 16) -> DataFrame:
    """Bucket = token length rounded up to a multiple of ``width`` —
    the text-modality analog of the (w, h) pixel bucket."""
    return df.withColumn(
        "bucket", (F.ceil(F.size(F.col(tokens_col)) / width) * width).cast("int")
    )


def infer_spans(
    spans_with_tokens: DataFrame,
    tokens_col: str = "tokens",
    num_partitions: int | None = None,
    salt_buckets: int | None = None,
    decoder=None,
) -> DataFrame:
    """Append ``pred_latex`` via the batched decode.

    ``decoder``: the real-model seam — a picklable callable
    ``(B, L) int64 ndarray -> (B, L) int64 ndarray`` shipped to
    executors inside the mapInArrow closure (a module global would
    NOT survive the python-worker boundary).  A torch-backed decoder
    closes over its (small) state dict; None runs the deterministic
    stand-in (and raises NotImplementedError if torch is importable
    but unwired — the honest container gate).  Tested in
    tests/test_inference_eval.py: a numpy fake proves the plumbing
    everywhere, and the torch-conditional test exercises a real tiny
    module wherever torch exists."""
    df = shape_uniform_repartition(
        with_token_bucket(spans_with_tokens, tokens_col),
        num_partitions=num_partitions,
        salt_buckets=salt_buckets,
        bucket="bucket",
    )
    bc = _broadcast_tokenizer(df)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("pred_latex", T.StringType())]
    )

    def run(batches):
        from latex_ocr_spark.functions.arrowcols import strings

        tk = _rebuild(bc)
        for rb in batches:
            ids_list = [x or [] for x in rb.column(tokens_col).to_pylist()]
            # dense (B, L) pad — cheap because the batch is bucket-uniform,
            # so L ≈ every row's length
            L = max((len(x) for x in ids_list), default=1) or 1
            batch = np.full((len(ids_list), L), PAD_ID, dtype=np.int64)
            for i, ids in enumerate(ids_list):
                batch[i, : len(ids)] = ids
            decoded = _decode_batch(batch, decoder) if ids_list else batch
            yield _append_column(rb, "pred_latex", strings([tk.decode(r) for r in decoded]))

    return df.mapInArrow(run, schema=schema)


EOS_ID = 2


def _decode_batch(batch: "np.ndarray", decoder=None) -> "np.ndarray":
    """Stand-in for model.generate (models/utils.py:34-37) that keeps
    the *loop shape* of the reference's autoregressive sampler
    (transformer.py:12-52): one token emitted per step, rows that have
    produced EOS are frozen (the eos barrier, :43-44), the loop ends
    when every row has finished or max length is reached.

    The stand-in "logits" make greedy argmax reproduce the input ids —
    the strongest determinism choice (SURVEY.md §4: argmax instead of
    temperature sampling).  Swapping in real weights replaces only the
    next-token function; the batching/masking contract is identical.
    """
    if decoder is not None:
        out = np.asarray(decoder(batch), dtype=np.int64)
        if out.shape != batch.shape:
            raise ValueError(
                f"decoder output shape {out.shape} != input {batch.shape} — "
                "the (B, L) contract is what a real model drops into"
            )
        return out
    try:  # pragma: no cover — real-model path, absent in this container
        import torch  # noqa: F401

        raise NotImplementedError(
            "real ViT+AR decode requires trained weights; pass decoder= "
            "(see tests/test_inference_eval.py's torch-conditional test)"
        )
    except ImportError:
        pass
    B, L = batch.shape
    out = np.full((B, L), PAD_ID, dtype=np.int64)
    finished = np.zeros(B, dtype=bool)
    for t in range(L):
        next_tok = batch[:, t]  # deterministic stand-in next-token fn
        out[:, t] = np.where(finished, PAD_ID, next_tok)
        finished |= next_tok == EOS_ID
        if finished.all():
            break
    return out
