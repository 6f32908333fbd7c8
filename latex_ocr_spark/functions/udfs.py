"""mapInArrow bodies of the extraction path.

Each function here is the vectorization island for one reference
subsystem (SURVEY.md §1.4): per-row pure-Python kernels looped inside
an Arrow batch — never row-at-a-time ``F.udf``.

Rule for every Python-worker body in the library: no ``pa.array`` or
``pa.scalar`` on Python objects.  With pyarrow 16 the first such call
in a process imports pandas, ~35 MB per worker that no kernel uses;
outputs are built by :mod:`latex_ocr_spark.functions.arrowcols` from
buffers, or are ``take``/``cast`` of the input columns.
"""

from __future__ import annotations

#: span_idx used to flag a turn whose macro expansion failed; such rows
#: carry no latex and are split into the quarantine/metrics output.
FAILED_TURN_SPAN_IDX = -1

_EXTRACT_COLS = ["conv_id", "turn_idx", "span_idx", "raw_match", "latex_norm"]


def extract_spans_arrow(batches):
    """mapInArrow body: (conv_id, turn_idx, text) → extracted spans.

    Emits one row per (turn, span); a failed turn emits a single
    sentinel row with span_idx = -1 so failure accounting survives the
    shuffle without a second pass over the text.  Only ``text`` is read
    into Python: ``conv_id``/``turn_idx`` leave as a ``take`` of the
    input columns at each output row's source row (cast to the output
    schema's string/int32 — a frame built from pandas sends ``long``
    turn indices), and ``span_idx``/``raw_match``/``latex_norm`` are
    built from buffers (:mod:`~latex_ocr_spark.functions.arrowcols`).
    """
    from array import array

    import pyarrow as pa

    from latex_ocr_spark.functions.arrowcols import ints, strings
    from latex_ocr_spark.textkernel.pipeline import extract_turn_checked

    for rb in batches:
        rows, span_idxs, raws, norms = array("i"), array("i"), [], []
        for row_i, text in enumerate(rb.column("text").to_pylist()):
            spans, failed = extract_turn_checked(text if text is not None else "")
            if failed:
                rows.append(row_i)
                span_idxs.append(FAILED_TURN_SPAN_IDX)
                raws.append("")
                norms.append("")
                continue
            for span in spans:
                rows.append(row_i)
                span_idxs.append(span.span_idx)
                raws.append(span.raw_match)
                norms.append(span.latex_norm)
        src = ints(rows)
        yield pa.RecordBatch.from_arrays(
            [
                rb.column("conv_id").take(src).cast(pa.string()),
                rb.column("turn_idx").take(src).cast(pa.int32()),
                ints(span_idxs),
                strings(raws),
                strings(norms),
            ],
            names=_EXTRACT_COLS,
        )
