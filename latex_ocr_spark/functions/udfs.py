"""Arrow-batched UDF bodies (mapInArrow iterators / pandas UDFs).

Each function here is the vectorization island for one reference
subsystem (SURVEY.md §1.4): per-row pure-Python kernels looped inside
an Arrow batch — never row-at-a-time ``F.udf``.
"""

from __future__ import annotations

import pandas as pd

#: span_idx used to flag a turn whose macro expansion failed; such rows
#: carry no latex and are split into the quarantine/metrics output.
FAILED_TURN_SPAN_IDX = -1

_EXTRACT_COLS = ["conv_id", "turn_idx", "span_idx", "raw_match", "latex_norm"]


def extract_spans_arrow(batches):
    """mapInArrow body: (conv_id, turn_idx, text) → extracted spans.

    Emits one row per (turn, span); a failed turn emits a single
    sentinel row with span_idx = -1 so failure accounting survives the
    shuffle without a second pass over the text.  Rows cross the Python
    boundary as raw Arrow batches: ``to_pylist()`` converts each input
    column to plain Python in one C call and the output builds straight
    into Arrow arrays — no pandas Series construction or per-element
    numpy→Python boxing on either side (guide §4.2: the per-row work is
    the regex kernel; everything around it should be batch-vectorized).
    """
    import pyarrow as pa

    from latex_ocr_spark.textkernel.pipeline import extract_turn_checked

    for rb in batches:
        conv_col = rb.column("conv_id").to_pylist()
        turn_col = rb.column("turn_idx").to_pylist()
        text_col = rb.column("text").to_pylist()
        conv_ids, turn_idxs, span_idxs, raws, norms = [], [], [], [], []
        for conv_id, turn_idx, text in zip(conv_col, turn_col, text_col):
            spans, failed = extract_turn_checked(text if text is not None else "")
            if failed:
                conv_ids.append(conv_id)
                turn_idxs.append(turn_idx)
                span_idxs.append(FAILED_TURN_SPAN_IDX)
                raws.append("")
                norms.append("")
                continue
            for span in spans:
                conv_ids.append(conv_id)
                turn_idxs.append(turn_idx)
                span_idxs.append(span.span_idx)
                raws.append(span.raw_match)
                norms.append(span.latex_norm)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(conv_ids, type=pa.string()),
                pa.array(turn_idxs, type=pa.int32()),
                pa.array(span_idxs, type=pa.int32()),
                pa.array(raws, type=pa.string()),
                pa.array(norms, type=pa.string()),
            ],
            names=_EXTRACT_COLS,
        )


def post_process_series(s: pd.Series) -> pd.Series:
    """pandas UDF body for the standalone normalizer column."""
    from latex_ocr_spark.textkernel.normalize import post_process

    return s.map(lambda x: post_process(x) if x is not None else None)


def normalize_formula_series(s: pd.Series) -> pd.Series:
    """pandas UDF body for corpus normalization (None = gated out)."""
    from latex_ocr_spark.textkernel.normalize import normalize_formula

    return s.map(lambda x: normalize_formula(x) if x is not None else None)
