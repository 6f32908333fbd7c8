"""Checkpoint-resume: kill after partial commit, re-run, assert the
final table equals a clean one-shot run and only missing units
re-executed (SURVEY.md §5 item 4)."""

import shutil
import sys
import tempfile

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tests")

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.operators.extract import extract_spans
from latex_ocr_spark.operators.lineage import (
    completed_units,
    pending_work,
    read_extracted,
    run_resumable_extract,
    with_work_key,
)
from latex_ocr_spark.sources.tables import synth_transcripts

N_CONVS = 60
N_UNITS = 8


@pytest.fixture
def dirs():
    d = tempfile.mkdtemp(prefix="lineage_test_")
    yield f"{d}/out", f"{d}/lineage"
    shutil.rmtree(d, ignore_errors=True)


def _spans_set(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.span_idx, r.raw_match, r.latex_norm)
        for r in df.collect()
    )


def test_two_stage_resume_equals_one_shot(spark, dirs):
    out, lin = dirs
    transcripts = synth_transcripts(spark, N_CONVS)

    # stage 1: run only units {0..3} by hiding the rest of the input
    keyed = with_work_key(transcripts, N_UNITS)
    first_half = keyed.filter(F.col("work_key") < 4).drop("work_key")
    n1 = run_resumable_extract(spark, first_half, out, lin, N_UNITS)
    assert 0 < n1 <= 4
    assert completed_units(spark, lin).count() == n1

    # stage 2: full input — only the missing units must run
    n2 = run_resumable_extract(spark, transcripts, out, lin, N_UNITS)
    assert n1 + n2 == N_UNITS
    assert pending_work(transcripts, spark, lin, N_UNITS).count() == 0

    # stage 3: idempotent no-op
    assert run_resumable_extract(spark, transcripts, out, lin, N_UNITS) == 0

    expected = _spans_set(extract_spans(transcripts.select("conv_id", "turn_idx", "text")))
    got = _spans_set(read_extracted(spark, out).drop("work_key"))
    assert got == expected


def test_random_staged_arrival_equals_one_shot(spark, dirs):
    """Property: any sequence of partial-input runs converges to the
    one-shot result once all data has arrived."""
    import random

    out, lin = dirs
    transcripts = synth_transcripts(spark, N_CONVS)
    keyed = with_work_key(transcripts, N_UNITS)

    rng = random.Random(7)
    units = list(range(N_UNITS))
    rng.shuffle(units)
    # reveal units in 3 random-size waves (cumulative prefixes)
    cut1, cut2 = sorted(rng.sample(range(1, N_UNITS), 2))
    waves = [units[:cut1], units[:cut2], units]
    for wave in waves:
        visible = keyed.filter(F.col("work_key").isin(wave)).drop("work_key")
        run_resumable_extract(spark, visible, out, lin, N_UNITS)

    expected = _spans_set(extract_spans(transcripts.select("conv_id", "turn_idx", "text")))
    got = _spans_set(read_extracted(spark, out).drop("work_key"))
    assert got == expected
    lineage = spark.read.parquet(lin)
    assert lineage.select("work_key").distinct().count() == N_UNITS


def test_crash_between_commits_recovers(spark, dirs):
    out, lin = dirs
    transcripts = synth_transcripts(spark, N_CONVS)

    with pytest.raises(RuntimeError, match="injected crash"):
        run_resumable_extract(
            spark, transcripts, out, lin, N_UNITS, fail_on_units={0}
        )
    # crash happened after output commit, before lineage: nothing is
    # marked done, so the re-run redoes everything — and must converge
    assert completed_units(spark, lin).count() == 0
    assert run_resumable_extract(spark, transcripts, out, lin, N_UNITS) == N_UNITS

    expected = _spans_set(extract_spans(transcripts.select("conv_id", "turn_idx", "text")))
    got = _spans_set(read_extracted(spark, out).drop("work_key"))
    assert got == expected

    lineage = spark.read.parquet(lin)
    assert lineage.count() == N_UNITS
    assert lineage.filter(F.col("n_spans") < 0).count() == 0


def test_extract_job_is_single_writer(spark, tmp_path):
    """Two concurrent resumable-extract runs on one lineage dir would
    compute the same pending set, race dynamic overwrites of the same
    work_key dirs, and append lineage rows describing each other's
    bytes — the lease makes the second fail loudly while the first
    holds it, and a crashed holder's flock auto-releases."""
    import pytest

    from latex_ocr_spark.lease import DirLease
    from latex_ocr_spark.operators.lineage import run_resumable_extract
    from latex_ocr_spark.sources.tables import synth_transcripts

    transcripts = synth_transcripts(spark, 20)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")

    held = DirLease(lin, role="extract job").acquire()
    with pytest.raises(RuntimeError, match="leased to a running extract job"):
        run_resumable_extract(spark, transcripts, out, lin, n_units=4)
    held.release()

    n = run_resumable_extract(spark, transcripts, out, lin, n_units=4)
    assert n == 4
    # released on completion: an immediate rerun is a clean no-op
    assert run_resumable_extract(spark, transcripts, out, lin, n_units=4) == 0


def test_unreadable_lineage_raises_instead_of_rerunning(spark, tmp_path):
    """Only a missing lineage dir (or one holding just the lease's lock
    file) means "no runs yet"; a corrupt file must fail the run, not
    silently re-extract every unit and append duplicate lineage rows."""
    import os

    transcripts = synth_transcripts(spark, 20)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    os.makedirs(lin)
    with open(os.path.join(lin, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")

    with pytest.raises(Exception):
        run_resumable_extract(spark, transcripts, out, lin, n_units=4)
    assert not os.path.exists(out)
