"""One-command training-prep pipeline (jobs/prepare_job.py): the
reference's full §3.2 chain (corpus acquisition arxiv.py:147-164 →
dataset tokenize/size-gate dataset.py:233-259) as one spark-submit —
curate → BPE tokenize → per-split pack → partitioned/bucketed write,
with funnel + pack_stats run artifacts."""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from latex_ocr_spark.paths import REPO_ROOT


def _corpus_jsonl(path, n=40):
    with open(path, "w") as f:
        for i in range(n):
            f.write(json.dumps(
                {"doc_id": i,
                 "text": f"pa{i} pb{i*3} pc{i*7} pd{i*11} pe{i*13} pf{i*17}"}
            ) + "\n")
    return path


def _run(args, timeout=300):
    return subprocess.run(
        [sys.executable, f"{REPO_ROOT}/jobs/prepare_job.py"] + args,
        capture_output=True, text=True, timeout=timeout,
    )


def test_prepare_cli_end_to_end(spark, tmpdir):
    corpus = _corpus_jsonl(os.path.join(tmpdir, "corpus.jsonl"))
    out = os.path.join(tmpdir, "out")
    r = _run(["--input", corpus, "--output", out, "--min-tokens", "3",
              "--near-dup-method", "jaccard", "--budget", "64",
              "--val-fraction", "0.25"])
    assert r.returncode == 0, r.stderr[-3000:]
    funnel = json.loads(r.stdout.strip().splitlines()[-1])
    assert funnel["split"]["out"] == 40  # all docs survive this corpus

    packed = spark.read.parquet(f"{out}/packed")
    rows = packed.collect()
    assert len(rows) == 40
    assert {"doc_id", "text", "tokens", "n_tokens", "pack_id",
            "pack_offset", "pack_error", "split"} <= set(packed.columns)
    # tokens really are BPE ids and n_tokens matches
    assert all(r.n_tokens == len(r.tokens) for r in rows)
    # no pack mixes splits; offsets contiguous within pack; budget held
    packs = {}
    for r in rows:
        assert r.pack_error is None
        packs.setdefault(r.pack_id, []).append(r)
    for members in packs.values():
        assert len({m.split for m in members}) == 1
        members.sort(key=lambda m: m.pack_offset)
        pos = 0
        for m in members:
            assert m.pack_offset == pos
            pos += m.n_tokens
        assert pos <= 64
    # both splits present (val_fraction .25 over 40 docs)
    assert {r.split for r in rows} == {"train", "val"}

    stats = spark.read.parquet(f"{out}/pack_stats")
    srows = {r.pack_id: r for r in stats.collect()}
    assert set(srows) == set(packs)
    for pid, members in packs.items():
        assert srows[pid].n_rows == len(members)
        assert srows[pid].used_tokens == sum(m.n_tokens for m in members)
        assert srows[pid].split == members[0].split
        assert 0 < srows[pid].fill_ratio <= 1.0

    # clusters + funnel artifacts landed
    assert spark.read.text(f"{out}/funnel").count() == 1


def test_prepare_cli_resumable_checkpoint(spark, tmpdir):
    """--checkpoint-dir routes curation through the resumable funnel;
    a second invocation reuses every committed stage and reproduces
    identical packed output."""
    corpus = _corpus_jsonl(os.path.join(tmpdir, "c2.jsonl"))
    out1 = os.path.join(tmpdir, "o1")
    out2 = os.path.join(tmpdir, "o2")
    ckpt = os.path.join(tmpdir, "ckpt")
    common = ["--input", corpus, "--min-tokens", "3",
              "--near-dup-method", "jaccard", "--budget", "64",
              "--checkpoint-dir", ckpt]
    r1 = _run(common + ["--output", out1])
    assert r1.returncode == 0, r1.stderr[-3000:]
    # lineage committed for every curation stage
    stages = {r.stage for r in spark.read.parquet(f"{ckpt}/_lineage").collect()}
    assert stages == {"groups", "pairs", "clusters", "documents"}

    r2 = _run(common + ["--output", out2])
    assert r2.returncode == 0, r2.stderr[-3000:]
    a = sorted(map(tuple, spark.read.parquet(f"{out1}/packed")
                   .select("doc_id", "split", "pack_id", "pack_offset").collect()))
    b = sorted(map(tuple, spark.read.parquet(f"{out2}/packed")
                   .select("doc_id", "split", "pack_id", "pack_offset").collect()))
    assert a == b
    assert json.loads(r1.stdout.strip().splitlines()[-1]) == json.loads(
        r2.stdout.strip().splitlines()[-1]
    )


def test_prepare_max_seq_len_gate(spark, tmpdir):
    """--max-seq-len drops long rows BEFORE packing (F6 gate,
    dataset.py:129-130 semantics) — the survivors all fit."""
    corpus = os.path.join(tmpdir, "c3.jsonl")
    with open(corpus, "w") as f:
        for i in range(10):
            f.write(json.dumps({"doc_id": i, "text": f"qa{i} qb{i} qc{i}"}) + "\n")
        f.write(json.dumps(
            {"doc_id": 99, "text": " ".join(f"w{j}" for j in range(300))}
        ) + "\n")
    out = os.path.join(tmpdir, "o3")
    r = _run(["--input", corpus, "--output", out, "--min-tokens", "2",
              "--near-dup-method", "jaccard", "--budget", "128",
              "--max-seq-len", "64"])
    assert r.returncode == 0, r.stderr[-3000:]
    packed = spark.read.parquet(f"{out}/packed")
    ids = {r.doc_id for r in packed.collect()}
    assert 99 not in ids and len(ids) == 10
    assert packed.filter(F.size("tokens") > 64).count() == 0
