"""Custom stateful operator: per-conversation running totals persist in
the state store across separate availableNow catch-up runs."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.sources.tables import synth_transcripts
from latex_ocr_spark.streaming.stateful import start_conversation_stats_stream
from latex_ocr_spark.textkernel.pipeline import extract_turn


@pytest.fixture
def dirs():
    d = tempfile.mkdtemp(prefix="stateful_")
    yield f"{d}/in", f"{d}/out", f"{d}/ckpt"
    shutil.rmtree(d, ignore_errors=True)


def _latest_stats(spark, out):
    df = spark.read.parquet(out)
    # update mode appends refreshed totals; the max per conv is latest
    return {
        r.conv_id: (r.n_turns, r.n_spans, r.max_turn_idx)
        for r in df.groupBy("conv_id")
        .agg(
            F.max("n_turns").alias("n_turns"),
            F.max("n_spans").alias("n_spans"),
            F.max("max_turn_idx").alias("max_turn_idx"),
        )
        .collect()
    }


def test_state_accumulates_across_runs(spark, dirs):
    inp, out, ckpt = dirs
    t = synth_transcripts(spark, 12)

    first = t.filter(F.col("turn_idx") < 2)
    rest = t.filter(F.col("turn_idx") >= 2)
    first.write.mode("append").parquet(inp)
    q = start_conversation_stats_stream(spark, inp, out, ckpt)
    q.awaitTermination(180)
    stats1 = _latest_stats(spark, out)
    assert all(v[0] == 2 for v in stats1.values())  # every conv has 2 turns

    rest.write.mode("append").parquet(inp)
    q = start_conversation_stats_stream(spark, inp, out, ckpt)
    q.awaitTermination(180)
    stats2 = _latest_stats(spark, out)

    # totals equal a batch recomputation over ALL turns: proof the
    # first run's state was restored, not recomputed from scratch
    expected = {}
    for conv_id, turn_idx, _role, text, _tool, _ts in (
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts) for r in t.collect()
    ):
        n_turns, n_spans, max_turn = expected.get(conv_id, (0, 0, -1))
        expected[conv_id] = (
            n_turns + 1,
            n_spans + len(extract_turn(text)),
            max(max_turn, turn_idx),
        )
    assert stats2 == expected
