"""Single-core, Spark-free probes of the Python kernels.

Each probe times the kernel's public function over a seeded sample in
this process, so its figure is free of scheduling, serialization and
JVM effects.  ``udfs.arrow_overhead_frac`` compares the mapInArrow body
over Arrow batches with the bare per-turn loop over the same texts: the
difference is the cost of crossing the Arrow boundary.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from perfbench import gen

KERNEL_TURNS = 20_000
BPE_DOCS = 1_500
ARROW_BATCH_ROWS = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch
REPEATS = 2
#: the stages of ``pipeline.extract_turn_checked`` whose shares are reported
_STAGES = ("expand_macros", "find_math", "post_process")


def _seconds(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _turn_sample(seed: int) -> list:
    from latex_ocr_spark.datagen.transcripts import conv_length, make_turn

    rows, conv = [], gen.conv_offset(seed, 900, 4_000)
    while len(rows) < KERNEL_TURNS:
        rows.extend(make_turn(conv, t) for t in range(conv_length(conv)))
        conv += 1
    return rows[:KERNEL_TURNS]


@contextmanager
def _stage_timers(module, names):
    """Wrap each named function of ``module``'s namespace in a timer for
    the duration of the block; yields name -> accumulated seconds."""
    clock = time.perf_counter
    acc = dict.fromkeys(names, 0.0)
    orig = {n: getattr(module, n) for n in names}

    def timed(name, fn):
        def wrapper(*args, **kwargs):
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                acc[name] += clock() - t0
        return wrapper

    for n in names:
        setattr(module, n, timed(n, orig[n]))
    try:
        yield acc
    finally:
        for n, fn in orig.items():
            setattr(module, n, fn)


def probe(seed: int) -> dict:
    import pyarrow as pa

    from latex_ocr_spark.functions.udfs import extract_spans_arrow
    from latex_ocr_spark.textkernel import pipeline
    from latex_ocr_spark.textkernel.bpe import default_tokenizer
    from latex_ocr_spark.textkernel.pipeline import extract_turn_checked

    rows = _turn_sample(seed)
    texts = [r[3] for r in rows]
    batches = [
        pa.RecordBatch.from_pydict({
            "conv_id": [r[0] for r in rows[i:i + ARROW_BATCH_ROWS]],
            "turn_idx": pa.array([r[1] for r in rows[i:i + ARROW_BATCH_ROWS]], pa.int32()),
            "text": [r[3] for r in rows[i:i + ARROW_BATCH_ROWS]],
        })
        for i in range(0, len(rows), ARROW_BATCH_ROWS)
    ]

    def bare_loop():
        for text in texts:
            extract_turn_checked(text)

    def arrow_loop():
        for out in extract_spans_arrow(iter(batches)):
            out.num_rows

    # alternate the two forms and keep each one's best, so warm-up and
    # frequency drift land on neither side
    bare = arrow = float("inf")
    for _ in range(REPEATS):
        bare = min(bare, _seconds(bare_loop))
        arrow = min(arrow, _seconds(arrow_loop))
    # stage shares: the same loop once more, with the stages that
    # extract_turn_checked calls timed where it looks them up, over that
    # loop's own wall (which includes the timers' small cost)
    with _stage_timers(pipeline, _STAGES) as stages:
        staged = _seconds(bare_loop)

    docs = gen.make_corpus(seed, 901, BPE_DOCS, 0.0, 0.0, 0.0).texts
    tok = default_tokenizer()
    bpe = _seconds(lambda: [tok.encode(d) for d in docs])

    return {
        "textkernel.extract_turns_per_core_s": len(texts) / bare,
        "textkernel.demacro_share": stages["expand_macros"] / staged,
        "textkernel.mathfind_share": stages["find_math"] / staged,
        "textkernel.normalize_share": stages["post_process"] / staged,
        "textkernel.bpe_docs_per_core_s": len(docs) / bpe,
        "udfs.arrow_overhead_frac": (arrow - bare) / arrow,
    }
