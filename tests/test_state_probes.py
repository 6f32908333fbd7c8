"""Durable state is probed with one filesystem check (``session.has_data``),
never with a Spark read that fails: a fresh lineage, sink, index or
input is a path without a visible file, and reading it is left to the
paths that hold data."""

import os

import pytest

from latex_ocr_spark import cachepool


def _touch(root, *parts):
    path = os.path.join(root, *parts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    open(path, "wb").close()


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_has_data_counts_only_visible_files(spark, tmp_path, scheme):
    from latex_ocr_spark.session import has_data

    root = str(tmp_path)

    def probe(*parts):
        return has_data(spark, scheme + os.path.join(root, *parts))

    assert not probe("missing")
    os.makedirs(os.path.join(root, "empty"))
    assert not probe("empty")

    for hidden in (("_lock",), ("_SUCCESS",), (".part-0.parquet.crc",),
                   ("_temporary", "0", "_temporary", "attempt_0", "part-0.parquet"),
                   ("batch_id=0", ".part-0.parquet.crc")):
        _touch(root, "t", *hidden)
    assert not probe("t")

    _touch(root, "t", "batch_id=0", "part-0.parquet")
    assert probe("t")
    assert probe("t", "batch_id=0")
    assert probe("t", "batch_id=0", "part-0.parquet")  # a file is its own data


@pytest.fixture
def failed_reads(monkeypatch):
    """Paths of every ``spark.read.parquet``/``.text`` call that raises
    ``AnalysisException`` while the test runs."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.readwriter import DataFrameReader

    failed = []
    for name in ("parquet", "text"):
        def read(self, *args, _read=getattr(DataFrameReader, name), **kw):
            try:
                return _read(self, *args, **kw)
            except AnalysisException:
                failed.append(args)
                raise

        monkeypatch.setattr(DataFrameReader, name, read)
    return failed


def test_fresh_runs_probe_state_without_a_failing_read(spark, tmp_path, failed_reads):
    """A fresh checkpoint funnel, a two-batch near-dedup drain and a
    resumable extract look for their lineage, sinks, index and _meta
    without one read that fails analysis (each such read logs an
    ``ExecutionListenerBus`` stack trace once an ``Observation`` has run)."""
    from latex_ocr_spark.operators.lineage import run_resumable_extract
    from latex_ocr_spark.plans.resumable import curate_corpus_resumable
    from latex_ocr_spark.sources.tables import synth_transcripts
    from latex_ocr_spark.streaming.near_dedup import start_near_dedup_stream
    from test_curate import _fixture
    from test_curate_resume import KW as FUNNEL_KW
    from test_curate_resume import _evalset
    from test_streaming_near_dedup import KW as STREAM_KW
    from test_streaming_near_dedup import _batch1, _batch2

    w = str(tmp_path)
    curate_corpus_resumable(spark, _fixture(spark), f"{w}/ckpt", _evalset(spark), **FUNNEL_KW)
    cachepool.release()

    for batch in (_batch1(spark), _batch2(spark)):
        batch.coalesce(1).write.mode("append").parquet(f"{w}/in")
    start_near_dedup_stream(
        spark, f"{w}/in", f"{w}/out", f"{w}/index", f"{w}/sckpt",
        max_files_per_trigger=1, **STREAM_KW,
    ).awaitTermination(180)
    cachepool.release()

    assert run_resumable_extract(
        spark, synth_transcripts(spark, 20), f"{w}/spans", f"{w}/lin", n_units=4
    ) == 4
    assert failed_reads == []
