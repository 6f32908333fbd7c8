"""Streaming decontamination == batch decontamination over the same
files, with checkpointed incremental catch-up: the ingestion-time guard
reuses the oracle-checked batch operator per micro-batch."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.operators.dedup import decontaminate
from latex_ocr_spark.streaming.decontaminate import start_decontamination_stream
from latex_ocr_spark.streaming.sinks import read_stream_output


@pytest.fixture
def dirs():
    d = tempfile.mkdtemp(prefix="stream_decon_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark, lo, hi):
    # every 10th doc is an exact copy of eval doc -1's text
    return spark.range(lo, hi).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 10 = 0 THEN 'alpha beta gamma delta epsilon zeta eta theta' "
        "ELSE concat('tok', id, ' tk', id*3, ' tq', id*7, ' tz', id*11) END AS text",
    )


def _evalset(spark):
    return spark.createDataFrame(
        [(-1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )


def test_streaming_decontamination_matches_batch_and_resumes(spark, dirs):
    inp, rep, cln, ckpt = f"{dirs}/in", f"{dirs}/rep", f"{dirs}/cln", f"{dirs}/ckpt"
    evalset = _evalset(spark)

    first = _docs(spark, 0, 50)
    first.write.mode("append").parquet(inp)
    q = start_decontamination_stream(spark, inp, evalset, rep, cln, ckpt)
    q.awaitTermination(120)

    b_report, b_clean = decontaminate(first, evalset, threshold=0.5, ngram=3)
    got_rep = sorted(map(tuple, read_stream_output(spark, rep).collect()))
    got_cln = sorted(r.doc_id for r in read_stream_output(spark, cln).collect())
    assert got_rep == sorted(map(tuple, b_report.collect()))
    assert got_cln == sorted(r.doc_id for r in b_clean.collect())
    assert len(got_rep) == 5  # docs 0,10,20,30,40 flagged
    from latex_ocr_spark import cachepool

    cachepool.release()

    # catch-up: only the new files are processed; results accumulate
    second = _docs(spark, 50, 80)
    second.write.mode("append").parquet(inp)
    q = start_decontamination_stream(spark, inp, evalset, rep, cln, ckpt)
    q.awaitTermination(120)
    got_rep2 = read_stream_output(spark, rep).count()
    got_cln2 = sorted(r.doc_id for r in read_stream_output(spark, cln).collect())
    assert got_rep2 == 8  # + docs 50,60,70
    assert len(got_cln2) == 80 - 8 and len(set(got_cln2)) == len(got_cln2)
    cachepool.release()


def test_replayed_batch_never_duplicates_idempotent_output(spark, dirs):
    """The at-least-once fix: a batch that crashes AFTER its sink
    writes (before the checkpoint commit) is replayed on restart.
    With the idempotent batch_id-partitioned dynamic overwrite, the
    replay REPLACES the batch's own output — zero duplicate rows."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    evalset = _evalset(spark)
    docs = _docs(spark, 0, 30)

    inp, rep, cln, ckpt = (f"{dirs}/i_in", f"{dirs}/i_rep",
                           f"{dirs}/i_cln", f"{dirs}/i_ckpt")
    docs.write.mode("append").parquet(inp)
    q = start_decontamination_stream(
        spark, inp, evalset, rep, cln, ckpt, _fail_batches={0}
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(120)
    # the writes landed before the crash…
    assert read_stream_output(spark, cln).count() == 27
    # …and the replay on restart replaces, never appends
    q = start_decontamination_stream(spark, inp, evalset, rep, cln, ckpt)
    q.awaitTermination(120)
    cleaned = [r.doc_id for r in read_stream_output(spark, cln).collect()]
    assert len(cleaned) == 27 and len(set(cleaned)) == 27  # 0,10,20 dropped
    assert read_stream_output(spark, rep).count() == 3


def _land(df, inp, staging):
    """Write ``df`` as one parquet file under ``staging``, then rename
    that file into ``inp``: a running trigger sees all of it or none."""
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    (part,) = [f for f in os.listdir(staging) if f.startswith("part-")]
    os.makedirs(inp, exist_ok=True)
    os.rename(os.path.join(staging, part), os.path.join(inp, part))


def _one_query_over_two_batches(spark, dirs, evalset):
    """Run one decontamination query over two micro-batches (files
    landing between them); returns the report and cleaned rows and the
    number of batches written."""
    inp, rep, cln, ckpt = (f"{dirs}/in", f"{dirs}/rep", f"{dirs}/cln",
                           f"{dirs}/ckpt")
    _land(_docs(spark, 0, 30), inp, f"{dirs}/staging")
    q = start_decontamination_stream(
        spark, inp, evalset, rep, cln, ckpt, available_now=False
    )
    try:
        q.processAllAvailable()
        _land(_docs(spark, 30, 50), inp, f"{dirs}/staging")
        q.processAllAvailable()
    finally:
        q.stop()
    n_batches = sum(d.startswith("batch_id=") for d in os.listdir(cln))
    return (
        sorted(map(tuple, read_stream_output(spark, rep).collect())),
        sorted(r.doc_id for r in read_stream_output(spark, cln).collect()),
    ), n_batches


def test_eval_set_is_profiled_once_per_query(spark, dirs, monkeypatch):
    """The static eval set is profiled once when the query starts, not
    once per micro-batch: over two batches the profile kernel is built
    three times (the eval set, then each batch's documents)."""
    from latex_ocr_spark import cachepool
    from latex_ocr_spark.operators import dedup as D

    built, real = [], D._profile_kernel

    def counting(*a, **kw):
        built.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(D, "_profile_kernel", counting)
    (report, cleaned), n_batches = _one_query_over_two_batches(
        spark, dirs, _evalset(spark)
    )
    assert n_batches == 2
    assert len(built) == n_batches + 1, built
    assert [r[0] for r in report] == [0, 10, 20, 30, 40]
    assert len(cleaned) == 45
    cachepool.release()


def test_stream_over_the_size_gate_broadcasts_nothing(
    spark, dirs, monkeypatch, hinted_broadcasts
):
    """Over the size gate (patched to 0) no micro-batch broadcast-hints
    the eval side, the candidates or the contaminated ids, and the
    report and cleaned rows equal the hinted query's."""
    from latex_ocr_spark import cachepool
    from latex_ocr_spark.operators import dedup as D

    def run(tag):
        out = _one_query_over_two_batches(spark, f"{dirs}/{tag}", _evalset(spark))
        cachepool.release()
        return out

    hinted, n_hinted = hinted_broadcasts(lambda: run("hinted"))
    monkeypatch.setattr(D, "_BROADCAST_ROW_LIMIT", 0)
    unhinted, n_unhinted = hinted_broadcasts(lambda: run("unhinted"))
    assert len(hinted[0][0]) == 5 and hinted[1] == 2
    assert unhinted == hinted
    assert n_hinted > 0 and n_unhinted == 0, (n_hinted, n_unhinted)


def test_backlog_drains_in_batches_of_the_shared_file_bound(spark, dirs, monkeypatch):
    """The decontamination stream reads at most
    ``streaming.MAX_FILES_PER_TRIGGER`` files per micro-batch: with the
    bound patched to 1, three landed files drain in three batches in one
    ``availableNow`` run, and the report and cleaned rows equal those of
    the run that takes all three in one batch."""
    from latex_ocr_spark import cachepool, streaming

    def run(tag):
        d = f"{dirs}/{tag}"
        for lo in (0, 20, 40):
            _land(_docs(spark, lo, lo + 20), f"{d}/in", f"{d}/staging")
        q = start_decontamination_stream(
            spark, f"{d}/in", _evalset(spark), f"{d}/rep", f"{d}/cln", f"{d}/ckpt"
        )
        q.awaitTermination(120)
        cachepool.release()
        n_batches = sum(b.startswith("batch_id=") for b in os.listdir(f"{d}/cln"))
        return (
            sorted(map(tuple, read_stream_output(spark, f"{d}/rep").collect())),
            sorted(r.doc_id for r in read_stream_output(spark, f"{d}/cln").collect()),
        ), n_batches

    whole, n_whole = run("whole")
    monkeypatch.setattr(streaming, "MAX_FILES_PER_TRIGGER", 1)
    bounded, n_bounded = run("bounded")
    assert (n_whole, n_bounded) == (1, 3)
    assert [r[0] for r in whole[0]] == [0, 10, 20, 30, 40, 50]
    assert len(whole[1]) == 54
    assert bounded == whole


def test_stream_restarts_after_a_query_with_no_contaminated_document(spark, dirs):
    """A query whose only batch flags no document commits no report
    file; the next query must start over the empty report sink, and
    both queries together must equal ``decontaminate`` over both
    chunks."""
    from latex_ocr_spark import cachepool

    inp, rep, cln, ckpt = f"{dirs}/in", f"{dirs}/rep", f"{dirs}/cln", f"{dirs}/ckpt"
    evalset = _evalset(spark)
    first, second = _docs(spark, 1, 10), _docs(spark, 10, 30)  # 1..9: clean

    first.write.mode("append").parquet(inp)
    start_decontamination_stream(spark, inp, evalset, rep, cln, ckpt).awaitTermination(120)
    cachepool.release()
    second.write.mode("append").parquet(inp)
    start_decontamination_stream(spark, inp, evalset, rep, cln, ckpt).awaitTermination(120)
    cachepool.release()

    b_report, b_clean = decontaminate(
        first.unionByName(second), evalset, threshold=0.5, ngram=3
    )
    assert sorted(map(tuple, read_stream_output(spark, rep).collect())) == sorted(
        map(tuple, b_report.collect())
    )
    assert sorted(r.doc_id for r in read_stream_output(spark, cln).collect()) == sorted(
        r.doc_id for r in b_clean.collect()
    )
    assert b_report.count() == 2  # docs 10 and 20
    cachepool.release()
