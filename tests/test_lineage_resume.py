"""Checkpoint-resume: kill after partial commit, re-run, assert the
final table equals a clean one-shot run and only missing units
re-executed (SURVEY.md §5 item 4)."""

import shutil
import tempfile

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


def _fixture_transcripts(spark, n_units):
    """Units of four kinds: unit 0 holds only failed turns, unit 1 only
    conversations without ``$``, ``\\`` or ``&``, the others mix spans,
    a failed turn, a no-math turn and a repeated span."""
    keyed = with_work_key(
        spark.createDataFrame([(f"c{i}",) for i in range(40)], "conv_id string"),
        n_units,
    )
    unit_of = {r.conv_id: r.work_key for r in keyed.collect()}
    assert set(unit_of.values()) == set(range(n_units))
    fail, plain = r"\newcommand{\a(}{x} $\a($", "plain words only"
    rows = []
    for conv, unit in sorted(unit_of.items()):
        if unit == 0:
            texts = [fail, fail]
        elif unit == 1:
            texts = [plain, "more plain words"]
        else:
            texts = [rf"we have $x^{unit}$ and $\frac{{a}}{{{conv}}}$", fail, plain, "$a$ $a$"]
        rows += [(conv, t, text) for t, text in enumerate(texts)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


def _expected_lineage(spark, transcripts, n_units):
    """The lineage metrics by their definitions, from separate spans and
    failed-turn frames: distinct turns with a span, spans, the XOR of
    span-row hashes, failed turns per unit; every input unit gets a
    row, zero-filled."""
    from latex_ocr_spark.operators.extract import extract_spans_with_failures

    spans, failed, _ = extract_spans_with_failures(transcripts)
    spans, failed = with_work_key(spans, n_units), with_work_key(failed, n_units)
    per_unit = spans.groupBy("work_key").agg(
        F.countDistinct("conv_id", "turn_idx").alias("n_turns"),
        F.count(F.lit(1)).alias("n_spans"),
        F.expr("bit_xor(xxhash64(concat_ws('\x01', conv_id, turn_idx, span_idx, "
               "raw_match, latex_norm)))").alias("checksum"),
    )
    n_failed = failed.groupBy("work_key").agg(F.count(F.lit(1)).alias("n_failed"))
    return (
        with_work_key(transcripts, n_units).select("work_key").distinct()
        .join(per_unit, "work_key", "left")
        .join(n_failed, "work_key", "left")
        .na.fill(0)
        .select("work_key", "n_turns", "n_spans", "checksum", "n_failed")
    )


def test_lineage_rows_equal_metric_definitions(spark, dirs):
    """One aggregation over the cached extraction frame gives the same
    rows as the metrics computed one by one, including a unit with only
    failed turns and a unit whose turns yield no span."""
    out, lin = dirs
    transcripts = _fixture_transcripts(spark, 4)
    assert run_resumable_extract(spark, transcripts, out, lin, 4) == 4

    lineage = spark.read.parquet(lin)
    assert lineage.schema.simpleString() == (
        "struct<work_key:int,n_turns:bigint,n_spans:bigint,checksum:bigint,"
        "n_failed:bigint,started:bigint,finished:bigint,attempt:int>"
    )
    got = {r.work_key: tuple(r) for r in lineage.drop("started", "finished").collect()}
    want = {r.work_key: (*r, 1) for r in _expected_lineage(spark, transcripts, 4).collect()}
    assert got == want
    assert got[0][1:4] == (0, 0, 0) and got[0][4] > 0  # failed turns only
    assert got[1][1:] == (0, 0, 0, 0, 1)  # no candidate turn
    assert all(got[u][3] != 0 and got[u][4] > 0 for u in (2, 3))


def test_output_has_one_data_file_per_unit(spark, dirs):
    import os

    out, lin = dirs
    run_resumable_extract(spark, synth_transcripts(spark, N_CONVS), out, lin, N_UNITS)
    unit_dirs = [d for d in os.listdir(out) if d.startswith("work_key=")]
    assert len(unit_dirs) == N_UNITS
    for d in unit_dirs:
        data = [f for f in os.listdir(os.path.join(out, d)) if not f.startswith((".", "_"))]
        assert len(data) == 1, (d, data)


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_resume_plans_stay_in_the_jvm(spark, dirs):
    """The "no runs yet" frame and the resume filter are JVM plans: no
    Python-RDD scan (which starts a second worker pool) and no anti-join."""
    out, lin = dirs
    transcripts = synth_transcripts(spark, 20)
    assert "ExistingRDD" not in _executed_plan(completed_units(spark, lin))
    for _ in range(2):  # before and after a run: no lineage yet, then all done
        plan = _executed_plan(pending_work(transcripts, spark, lin, 4))
        assert "ExistingRDD" not in plan and "LeftAnti" not in plan
        run_resumable_extract(spark, transcripts, out, lin, 4)
    assert pending_work(transcripts, spark, lin, 4).count() == 0


def test_one_row_writes_plan_no_python_rdd(spark, tmp_path, monkeypatch):
    """The near-dup index ``_meta``, the funnel file and the checkpoint
    lineage row are one-row frames built in the JVM: a Python-RDD scan
    would start a second worker pool for one row."""
    import json
    from types import SimpleNamespace

    from pyspark.sql.readwriter import DataFrameWriter

    from latex_ocr_spark import cachepool
    from latex_ocr_spark.plans.curate_cli import write_funnel
    from latex_ocr_spark.plans.resumable import _commit
    from latex_ocr_spark.streaming.near_dedup import start_near_dedup_stream

    plans = {}
    for method in ("text", "parquet"):
        orig = getattr(DataFrameWriter, method)

        def record(self, path, *a, _orig=orig, **kw):
            plans[path] = _executed_plan(self._df)
            return _orig(self, path, *a, **kw)

        monkeypatch.setattr(DataFrameWriter, method, record)

    d = str(tmp_path)
    spark.createDataFrame([(1, "na nb nc"), (2, "nd ne nf")], "doc_id long, text string") \
        .write.parquet(f"{d}/in")
    start_near_dedup_stream(
        spark, f"{d}/in", f"{d}/out", f"{d}/index", f"{d}/ckpt",
        threshold=0.5, ngram=1, num_hashes=8, band_size=2,
    ).awaitTermination(180)
    cachepool.release()
    funnel = [(s, 2, 2) for s in ("quality_gates", "split")]
    write_funnel(spark, SimpleNamespace(funnel=funnel), f"{d}/job")
    _commit(spark, f"{d}/lineage", "groups", "cfg", 2, {"k": 1}, 7)

    for path in (f"{d}/index/_meta", f"{d}/job/funnel", f"{d}/lineage"):
        assert "ExistingRDD" not in plans[path], plans[path]
    assert json.loads(spark.read.text(f"{d}/job/funnel").first()[0]) == {
        s: {"in": 2, "out": 2} for s, _, _ in funnel
    }
    row = spark.read.parquet(f"{d}/lineage").first()
    assert tuple(row) == ("groups", "cfg", 2, '{"k": 1}', 7, row.finished)
    assert spark.read.parquet(f"{d}/lineage").schema.simpleString() == (
        "struct<stage:string,config_hash:string,n_rows:bigint,meta:string,"
        "started:bigint,finished:bigint>"
    )
