"""The unified corpus reader: parquet / JSONL(.gz) / catalog through one
path-or-identifier seam, explicit JSON schema (no inference pass), the
PERMISSIVE malformed-line contract, and plan-time column validation."""

import gzip
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from latex_ocr_spark.paths import REPO_ROOT
from latex_ocr_spark.sources.documents import (
    is_jsonl_path,
    read_documents,
)

ROWS = [
    {"doc_id": 1, "text": "alpha beta gamma", "extra": "dropped"},
    {"doc_id": 2, "text": "delta epsilon"},
    {"doc_id": 3, "text": None},
]


@pytest.fixture
def tmpdir():
    d = tempfile.mkdtemp(prefix="docs_src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_is_jsonl_path_suffixes():
    assert is_jsonl_path("/data/shard-0001.jsonl")
    assert is_jsonl_path("/data/dump.ndjson")
    assert is_jsonl_path("s3a://bucket/crawl/part.jsonl.gz")
    # bare .json is deliberately NOT sniffed as line-delimited: the
    # common pretty-printed/array layout would PERMISSIVE-degrade to
    # all-NULL rows; pass source_format='jsonl' explicitly
    assert not is_jsonl_path("/data/x.json")
    assert not is_jsonl_path("/data/docs.parquet")
    assert not is_jsonl_path("lake.db.documents")
    # a bare relative shard name (cluster-FS file, absent on the
    # driver) still routes to the jsonl reader, not a table lookup
    assert is_jsonl_path("corpus.jsonl.gz")


def test_read_documents_jsonl_plain_and_gzip(spark, tmpdir):
    plain = os.path.join(tmpdir, "a.jsonl")
    with open(plain, "w") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")
    gz = os.path.join(tmpdir, "b.jsonl.gz")
    with gzip.open(gz, "wt") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")

    for src in (plain, gz):
        df = read_documents(spark, src)
        assert df.columns == ["doc_id", "text"]  # 'extra' pruned at parse
        got = {r.doc_id: r.text for r in df.collect()}
        assert got == {1: "alpha beta gamma", 2: "delta epsilon", 3: None}


def test_read_documents_jsonl_uses_explicit_schema_no_inference(spark, tmpdir):
    """The scale contract: the JSON relation carries OUR schema, so no
    inference pass runs (at corpus scale inference is a second full
    scan before the job starts).  An empty directory-less file still
    plans with the right schema — inference would have failed it."""
    p = os.path.join(tmpdir, "empty.jsonl")
    open(p, "w").close()
    df = read_documents(spark, p)
    assert [f.name for f in df.schema.fields] == ["doc_id", "text"]
    assert isinstance(df.schema["doc_id"].dataType, T.LongType)
    assert df.count() == 0


def test_read_documents_permissive_and_corrupt_record(spark, tmpdir):
    p = os.path.join(tmpdir, "bad.jsonl")
    with open(p, "w") as f:
        f.write(json.dumps(ROWS[0]) + "\n")
        f.write("{not json at all\n")
    # PERMISSIVE: malformed line survives as NULLs (quality gate later
    # drops it); with keep_corrupt_record the raw line is retained
    df = read_documents(spark, p, keep_corrupt_record=True)
    rows = df.collect()
    assert len(rows) == 2
    bad = [r for r in rows if r.doc_id is None]
    assert len(bad) == 1 and bad[0]._corrupt_record.startswith("{not json")
    # FAILFAST aborts instead
    with pytest.raises(Exception):
        read_documents(spark, p, mode="FAILFAST").collect()


def test_read_documents_string_ids_and_validation(spark, tmpdir):
    p = os.path.join(tmpdir, "sids.jsonl")
    with open(p, "w") as f:
        f.write(json.dumps({"doc_id": "doc-a", "text": "one two"}) + "\n")
    df = read_documents(spark, p, id_type=T.StringType())
    assert df.collect()[0].doc_id == "doc-a"

    # parquet path + catalog-style validation errors
    docs = read_documents(spark, "/root/testdata/sf0.001/documents.parquet")
    assert docs.columns == ["doc_id", "text"] and docs.count() == 500
    with pytest.raises(ValueError, match="lacks required columns"):
        read_documents(
            spark, "/root/testdata/sf0.001/region.parquet"
        )


def test_curate_job_accepts_jsonl_input(spark, tmpdir):
    """End-to-end: the production CLI curates a JSONL corpus."""
    import subprocess
    import sys as _sys

    p = os.path.join(tmpdir, "corpus.jsonl")
    with open(p, "w") as f:
        for i in range(30):
            f.write(json.dumps(
                {"doc_id": i, "text": f"ja{i} jb{i*3} jc{i*7} jd{i*11} je{i*13}"}
            ) + "\n")
    out = os.path.join(tmpdir, "out")
    r = subprocess.run(
        [_sys.executable, f"{REPO_ROOT}/jobs/curate_job.py",
         "--input", p, "--output", out, "--min-tokens", "3"],
        capture_output=True, text=True, timeout=280,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    funnel = json.loads(r.stdout.strip().splitlines()[-1])
    assert funnel["split"]["out"] == 30


def test_read_documents_format_override_for_shard_directories(spark, tmpdir):
    """A DIRECTORY of JSONL shards has no suffix to sniff — the
    explicit source_format override reads it correctly (auto-detect
    would have tried parquet and failed)."""
    shard_dir = os.path.join(tmpdir, "shards")
    os.makedirs(shard_dir)
    for s in range(3):
        with open(os.path.join(shard_dir, f"part-{s:04d}.txt"), "w") as f:
            for i in range(10):
                f.write(json.dumps(
                    {"doc_id": s * 100 + i, "text": f"sh{s} d{i}"}
                ) + "\n")
    df = read_documents(spark, shard_dir, source_format="jsonl")
    assert df.count() == 30
    assert df.columns == ["doc_id", "text"]

    with pytest.raises(ValueError, match="unknown source_format"):
        read_documents(spark, shard_dir, source_format="csv")


def test_curate_job_mixed_formats_and_string_ids(spark, tmpdir):
    """--input-format applies to --input only (a mixed-format run must
    not parse the eval parquet as JSON), and --string-ids makes a
    string-keyed JSONL corpus curate correctly instead of silently
    emptying under the long-typed PERMISSIVE schema."""
    import subprocess
    import sys as _sys

    shard_dir = os.path.join(tmpdir, "shards")
    os.makedirs(shard_dir)
    with open(os.path.join(shard_dir, "part-0000"), "w") as f:
        for i in range(20):
            f.write(json.dumps(
                {"doc_id": f"d-{i:03d}", "text": f"ma{i} mb{i*3} mc{i*7} md{i*11}"}
            ) + "\n")
        f.write(json.dumps(
            {"doc_id": "d-evl", "text": "alpha beta gamma delta epsilon"}
        ) + "\n")
    ev = os.path.join(tmpdir, "eval.parquet")
    spark.createDataFrame(
        [("e-0", "alpha beta gamma delta epsilon")], "doc_id string, text string"
    ).write.parquet(ev)

    out = os.path.join(tmpdir, "out")
    r = subprocess.run(
        [_sys.executable, f"{REPO_ROOT}/jobs/curate_job.py",
         "--input", shard_dir, "--input-format", "jsonl", "--string-ids",
         "--evalset", ev, "--output", out, "--min-tokens", "3"],
        capture_output=True, text=True, timeout=280,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    funnel = json.loads(r.stdout.strip().splitlines()[-1])
    assert funnel["decontaminate"] == {"in": 21, "out": 20}  # d-evl dropped
    assert funnel["split"]["out"] == 20
    assert "WARNING: 0 documents survived" not in r.stderr

    # without --string-ids the same corpus silently empties — the job
    # now says so loudly on stderr
    r2 = subprocess.run(
        [_sys.executable, f"{REPO_ROOT}/jobs/curate_job.py",
         "--input", shard_dir, "--input-format", "jsonl",
         "--output", os.path.join(tmpdir, "out2"), "--min-tokens", "3"],
        capture_output=True, text=True, timeout=280,
    )
    assert r2.returncode == 0
    assert "WARNING: 0 documents survived" in r2.stderr
