"""End-to-end: the Spark extraction pipeline equals the pure-kernel
golden oracle row-for-row under stable ordering (FIXTURES.md §2)."""

from latex_ocr_spark.datagen.transcripts import gen_transcripts, golden_spans
from latex_ocr_spark.operators.extract import (
    extract_spans,
    extract_spans_with_failures,
    with_stable_order,
)
from latex_ocr_spark.sources.tables import synth_transcripts

N_CONVS = 120


def spark_rows(df):
    return [
        (r.conv_id, r.turn_idx, r.span_idx, r.raw_match, r.latex_norm)
        for r in df.collect()
    ]


def test_pipeline_matches_golden(spark):
    transcripts = synth_transcripts(spark, N_CONVS, parallelism=8)
    got = sorted(spark_rows(extract_spans(transcripts, repartition=8)))
    expected = [
        (g["conv_id"], g["turn_idx"], g["span_idx"], g["raw_match"], g["latex_norm"])
        for g in golden_spans(gen_transcripts(N_CONVS))
    ]
    assert got == sorted(expected)
    assert got == expected  # golden is already (conv, turn, span)-sorted
    assert len(got) > 200


def test_stable_order_deterministic_across_partitionings(spark):
    transcripts = synth_transcripts(spark, 50)
    a = extract_spans(transcripts, repartition=2, salt_buckets=4)
    b = extract_spans(transcripts, repartition=16, salt_buckets=128)
    rows_a = sorted(spark_rows(a))
    rows_b = sorted(spark_rows(b))
    assert rows_a == rows_b

    ordered = with_stable_order(b)
    per_conv = {}
    for r in ordered.collect():
        per_conv.setdefault(r.conv_id, []).append((r.conv_seq, r.turn_idx, r.span_idx))
    for conv, seqs in per_conv.items():
        seqs.sort()
        assert [s[0] for s in seqs] == list(range(1, len(seqs) + 1))
        assert seqs == sorted(seqs, key=lambda s: (s[1], s[2])), conv


def test_failed_turns_are_quarantined(spark):
    import pandas as pd

    rows = [
        ("c1", 0, "user", r"\newcommand{\a(}{x} $\a( + 1$", None, None),
        ("c1", 1, "user", r"fine $x+1$", None, None),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "text"]])
    spans, failed, _raw = extract_spans_with_failures(df, repartition=2)
    assert [(r.conv_id, r.turn_idx) for r in failed.collect()] == [("c1", 0)]
    assert [(r.raw_match) for r in spans.collect()] == ["x+1"]


def test_no_math_and_null_text_turns_yield_nothing(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        [("c", 0, "no math here"), ("c", 1, None), ("c", 2, "")],
        columns=["conv_id", "turn_idx", "text"],
    )
    df = spark.createDataFrame(pdf)
    assert extract_spans(df).count() == 0


def test_resumable_extract_full_pass_job_budget(spark, tmp_path):
    """A full ``run_resumable_extract`` pass over a parquet input runs
    at most seven Spark jobs here, counted from the status store as the
    benchmark's trace counts them (seven on the benchmark's input too,
    where the lineage join now broadcasts the per-unit metrics).  It
    ran eleven here (twelve there) while the pending units came from a
    ``distinct().collect()`` probe of the input and the lineage read
    inferred a schema; a new probe job on the pass shows up here."""
    from latex_ocr_spark.operators.lineage import run_resumable_extract
    from latex_ocr_spark.sources.tables import read_transcripts
    from perfbench.statusstore import StatusReader

    path = str(tmp_path / "in")
    synth_transcripts(spark, N_CONVS).write.parquet(path)
    reader = StatusReader(spark)
    mark = reader.marker()
    n = run_resumable_extract(spark, read_transcripts(spark, path),
                              str(tmp_path / "out"), str(tmp_path / "lin"), n_units=8)
    assert n == 8
    assert reader.since(mark)["jobs"] <= 7


def test_resumable_extract_leaves_the_overwrite_mode_conf_alone(spark, tmp_path, monkeypatch):
    """The output commit's dynamic partition overwrite is a per-write
    option: flipping the session-wide conf and restoring it would race
    any other query committing in the same session meanwhile."""
    from pyspark.sql.conf import RuntimeConfig

    from latex_ocr_spark.operators.lineage import run_resumable_extract

    touched = []
    set_conf = RuntimeConfig.set

    def record(self, key, value):
        touched.append(key)
        return set_conf(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", record)
    assert run_resumable_extract(spark, synth_transcripts(spark, 20),
                                 str(tmp_path / "out"), str(tmp_path / "lin"),
                                 n_units=4) == 4
    assert "spark.sql.sources.partitionOverwriteMode" not in touched
