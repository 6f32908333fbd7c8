"""Checkpoint-resume for the curation funnel (plans/resumable.py):

- a fresh resumable run must equal plans/curate.py's non-resumable
  funnel row-for-row AND count-for-count (the oracle-checked pipeline
  is the semantics contract; resumable mode only adds durability);
- a run killed in any stage's crash window (artifact written, lineage
  not yet committed) must resume to a byte-identical final table,
  re-executing ONLY unfinished stages;
- resuming under different knobs must refuse (config fingerprint).
"""

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark import cachepool
from latex_ocr_spark.plans.curate import curate_corpus
from latex_ocr_spark.plans.resumable import curate_corpus_resumable
from test_curate import _fixture

KW = dict(min_tokens=5, max_punct_ratio=0.3, dedup_threshold=0.5,
          near_dup_method="jaccard", ngram=1, val_fraction=0.3)


def _evalset(spark):
    return spark.createDataFrame(
        [(-1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )


def _table(df):
    return sorted(tuple(r) for r in df.select("doc_id", "text", "split").collect())


def test_fresh_resumable_run_matches_curate_corpus(spark, tmp_path):
    docs, evalset = _fixture(spark), _evalset(spark)
    baseline = curate_corpus(docs, evalset, **KW)
    cachepool.release()

    res = curate_corpus_resumable(
        spark, docs, str(tmp_path / "ckpt"), evalset, **KW
    )
    cachepool.release()
    assert res.funnel == baseline.funnel
    assert _table(res.documents) == _table(baseline.documents)
    assert sorted(map(tuple, res.clusters.collect())) == sorted(
        map(tuple, baseline.clusters.collect())
    )
    assert sorted(map(tuple, res.contamination_report.collect())) == sorted(
        map(tuple, baseline.contamination_report.collect())
    )


def test_fresh_resumable_without_evalset_matches(spark, tmp_path):
    docs = _fixture(spark)
    baseline = curate_corpus(docs, **KW)
    cachepool.release()
    res = curate_corpus_resumable(spark, docs, str(tmp_path / "ck2"), **KW)
    cachepool.release()
    assert res.funnel == baseline.funnel
    assert _table(res.documents) == _table(baseline.documents)


@pytest.mark.parametrize("crash_stage", ["groups", "pairs", "clusters",
                                         "report", "documents"])
def test_kill_and_resume_is_byte_identical(spark, tmp_path, crash_stage,
                                           monkeypatch):
    """Crash in each stage's artifact→lineage window, then resume: the
    final split table must equal an uninterrupted run's exactly, and
    stages committed before the crash must NOT re-execute."""
    docs, evalset = _fixture(spark), _evalset(spark)
    baseline = curate_corpus_resumable(
        spark, docs, str(tmp_path / "base"), evalset, **KW
    )
    cachepool.release()

    ckpt = str(tmp_path / f"crash_{crash_stage}")
    with pytest.raises(RuntimeError, match="injected crash"):
        curate_corpus_resumable(
            spark, docs, ckpt, evalset, _fail_after_write={crash_stage}, **KW
        )
    cachepool.release()

    # count stage-level recomputation on resume via the operators each
    # completed stage would have to re-enter
    from latex_ocr_spark.operators import dedup as D
    calls = []
    for name in ("exact_duplicates", "jaccard_pairs", "_components",
                 "decontaminate"):
        real = getattr(D, name)

        def counting(*a, __name=name, __real=real, **kw):
            calls.append(__name)
            return __real(*a, **kw)

        monkeypatch.setattr(D, name, counting)

    res = curate_corpus_resumable(spark, docs, ckpt, evalset, **KW)
    cachepool.release()
    assert res.funnel == baseline.funnel
    assert _table(res.documents) == _table(baseline.documents)

    # the crashed stage re-runs; everything committed before it never
    # does (the lineage row is the commit point)
    stage_op = {"groups": "exact_duplicates", "pairs": "jaccard_pairs",
                "clusters": "_components", "report": "decontaminate"}
    done_before = []
    for s in ("groups", "pairs", "clusters", "report"):
        if s == crash_stage:
            break
        done_before.append(stage_op[s])
    for op in done_before:
        assert op not in calls, (crash_stage, op, calls)
    if crash_stage in stage_op:
        assert stage_op[crash_stage] in calls, (crash_stage, calls)


def test_completed_run_is_a_cheap_no_op_and_rereads_artifacts(spark, tmp_path,
                                                              monkeypatch):
    docs = _fixture(spark)
    ckpt = str(tmp_path / "full")
    first = curate_corpus_resumable(spark, docs, ckpt, **KW)
    cachepool.release()

    from latex_ocr_spark.operators import dedup as D
    for name in ("exact_duplicates", "jaccard_pairs", "_components"):
        monkeypatch.setattr(
            D, name,
            lambda *a, __n=name, **kw: (_ for _ in ()).throw(
                AssertionError(f"{__n} re-executed on a completed checkpoint")
            ),
        )
    again = curate_corpus_resumable(spark, docs, ckpt, **KW)
    cachepool.release()
    assert again.funnel == first.funnel
    assert _table(again.documents) == _table(first.documents)


def test_config_change_refuses_stale_checkpoint(spark, tmp_path):
    docs = _fixture(spark)
    ckpt = str(tmp_path / "cfg")
    curate_corpus_resumable(spark, docs, ckpt, **KW)
    cachepool.release()
    changed = dict(KW, dedup_threshold=0.7)
    with pytest.raises(RuntimeError, match="different configuration"):
        curate_corpus_resumable(spark, docs, ckpt, **changed)
    cachepool.release()


def test_resumable_with_redact_and_sample_matches(spark, tmp_path):
    """The optional stages (redaction before any text-derived signal;
    deterministic post-decontamination down-sample) must flow through
    the resumable funnel identically to curate_corpus — including the
    funnel rows they add."""
    docs, evalset = _fixture(spark), _evalset(spark)
    kw = dict(KW, redact=True, sample_fraction=0.8)
    baseline = curate_corpus(docs, evalset, **kw)
    cachepool.release()
    res = curate_corpus_resumable(
        spark, docs, str(tmp_path / "rs"), evalset, **kw
    )
    cachepool.release()
    assert res.funnel == baseline.funnel
    assert [s for s, _i, _o in res.funnel] == [
        "redact", "quality_gates", "exact_dedup", "near_dup_clusters",
        "decontaminate", "sample", "split",
    ]
    assert _table(res.documents) == _table(baseline.documents)


def test_resumable_preserves_string_doc_ids(spark, tmp_path):
    """String-id corpora (round-4 first-class) must survive resumable
    mode too: every artifact stores the id at its own type, and the
    resumed run reads them back without a silent long cast."""
    rows = [(f"doc-{i:03d}", f"sa{i} sb{i*3} sc{i*7} sd{i*11} se{i*13}")
            for i in range(12)]
    rows.append(("doc-900", rows[0][1]))  # exact dup of doc-000
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    kw = dict(min_tokens=3, near_dup_method="jaccard", ngram=1,
              val_fraction=0.3)
    baseline = curate_corpus(docs, **kw)
    cachepool.release()

    ckpt = str(tmp_path / "sid")
    res = curate_corpus_resumable(spark, docs, ckpt, **kw)
    cachepool.release()
    assert res.funnel == baseline.funnel
    assert _table(res.documents) == _table(baseline.documents)
    assert dict(spark.read.parquet(f"{ckpt}/documents").dtypes)["doc_id"] == "string"

    # and a resume over the string-id checkpoint stays a no-op
    again = curate_corpus_resumable(spark, docs, ckpt, **kw)
    cachepool.release()
    assert _table(again.documents) == _table(baseline.documents)


def test_resumable_survives_degenerate_all_null_id_corpus(spark, tmp_path):
    """Round-5 review finding (reproduced): a corpus whose every id is
    NULL (the mis-typed-JSONL-schema accident) empties the spine at
    runtime, AQE skips observed branches, and Observation.get cannot
    convert the schema-less result — resumable mode must fall back to
    true counts like curate_corpus does, not crash."""
    docs = spark.createDataFrame(
        [(None, f"da{i} db{i*3} dc{i*7} dd{i*11} de{i*13}") for i in range(15)],
        "doc_id long, text string",
    )
    baseline = curate_corpus(docs, **KW)
    cachepool.release()
    res = curate_corpus_resumable(spark, docs, str(tmp_path / "deg"), **KW)
    cachepool.release()
    assert res.funnel == baseline.funnel
    assert res.funnel_dict()["quality_gates"] == (15, 0)
    assert res.documents.count() == 0


@pytest.mark.parametrize("with_evalset", [False, True],
                         ids=["no_evalset", "planted_evalset"])
def test_resumable_matches_curate_on_sf_documents(spark, tmp_path, sf_small,
                                                  with_evalset):
    """Beyond planted fixtures: on the driver-provided sf0.001
    documents table with the LSH default path, resumable == single-pass
    — funnel and final split table both.  With the planted eval set the
    checkpoint runner also hands the near-dup stage's LSH profile into
    decontamination."""
    from latex_ocr_spark.plans.registry import planted_evalset

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    evalset = planted_evalset(docs) if with_evalset else None
    kw = dict(min_tokens=3, near_dup_method="lsh", ngram=3, val_fraction=0.1)
    baseline = curate_corpus(docs, evalset, **kw)
    cachepool.release()
    res = curate_corpus_resumable(spark, docs, str(tmp_path / "sf"), evalset, **kw)
    cachepool.release()
    assert res.funnel == baseline.funnel
    assert _table(res.documents) == _table(baseline.documents)


def test_resumable_matches_curate_on_random_corpora(spark, tmp_path):
    """Randomized parity: over corpora with random dup/junk/
    contamination mixes, resumable mode must equal the single-pass
    funnel in both counts and final table — the fuzz analog of the
    planted-fixture equality tests."""
    import random

    rng = random.Random(23)
    eval_text = "alpha beta gamma delta epsilon zeta eta theta"
    evalset = spark.createDataFrame([(-1, eval_text)], "doc_id long, text string")
    for trial in range(2):
        rows = []
        for i in range(rng.randint(25, 50)):
            r = rng.random()
            if r < 0.15 and rows:
                rows.append((1000 + i, rows[rng.randrange(len(rows))][1]))
            elif r < 0.2 and rows:
                src = rows[rng.randrange(len(rows))][1]
                toks = src.split()
                toks[rng.randrange(len(toks))] = f"mut{i}"
                rows.append((1000 + i, " ".join(toks)))
            elif r < 0.25:
                rows.append((1000 + i, eval_text))
            elif r < 0.35:
                rows.append((1000 + i, f"x{i}"))
            else:
                rows.append(
                    (1000 + i,
                     f"w{i} a{i*3} b{i*5} c{i*7} d{i*11} e{i*13} f{i*17}")
                )
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(min_tokens=3, dedup_threshold=0.5,
                  near_dup_method="jaccard", ngram=1, val_fraction=0.4)
        baseline = curate_corpus(docs, evalset, **kw)
        cachepool.release()
        res = curate_corpus_resumable(
            spark, docs, str(tmp_path / f"fz{trial}"), evalset, **kw
        )
        cachepool.release()
        assert res.funnel == baseline.funnel, trial
        assert _table(res.documents) == _table(baseline.documents), trial


def test_checkpoint_lease_fences_second_writer(spark, tmp_path):
    """Two concurrent runs on one checkpoint dir would interleave
    artifact-then-lineage commits (run B's lineage row describing run
    A's artifact bytes) — the lease makes the second writer fail
    loudly while the first holds it, then succeed after release."""
    import json
    import subprocess
    import sys as _sys

    from latex_ocr_spark.plans.resumable import CheckpointLease

    docs = _fixture(spark)
    ckpt = str(tmp_path / "ckL")

    # a LIVE holder (this very process) fences out the funnel
    lease = CheckpointLease(ckpt).acquire()
    with pytest.raises(RuntimeError, match="leased to a running funnel"):
        curate_corpus_resumable(spark, docs, ckpt, **KW)
    # the refused attempt must not have scribbled any artifacts
    import os
    assert sorted(os.listdir(ckpt)) == ["_lock"]
    lease.release()
    assert not os.path.exists(f"{ckpt}/_lock")

    # released -> the same run goes through, and releases on completion
    res = curate_corpus_resumable(spark, docs, ckpt, **KW)
    assert res.funnel[-1][0] == "split"
    assert not os.path.exists(f"{ckpt}/_lock")
    cachepool.release()

    # a lock whose owner is verifiably dead (same host, pid gone) is
    # broken and the run proceeds — a SIGKILLed funnel must not fence
    # out its own resume forever
    p = subprocess.run([_sys.executable, "-c", "import os; print(os.getpid())"],
                       capture_output=True, text=True)
    dead_pid = int(p.stdout.strip())
    with open(f"{ckpt}/_lock", "w") as f:
        json.dump({"pid": dead_pid, "host": __import__("socket").gethostname(),
                   "started": 0}, f)
    again = curate_corpus_resumable(spark, docs, ckpt, **KW)
    assert again.funnel == res.funnel
    assert not os.path.exists(f"{ckpt}/_lock")
    cachepool.release()

    # an unverifiable holder (other host) is NEVER broken — even a
    # damaged lock without a role field still refuses
    with open(f"{ckpt}/_lock", "w") as f:
        json.dump({"pid": 1, "host": "some-other-executor", "started": 0}, f)
    with pytest.raises(RuntimeError, match="leased to a running"):
        curate_corpus_resumable(spark, docs, ckpt, **KW)


def test_lease_released_on_crash_allows_resume(spark, tmp_path):
    """The injected-crash path: a run that dies mid-funnel releases the
    lease on the way out (context manager), so the resume acquires it
    without manual intervention."""
    import os

    docs, evalset = _fixture(spark), _evalset(spark)
    ckpt = str(tmp_path / "ckC")
    with pytest.raises(RuntimeError, match="injected crash"):
        curate_corpus_resumable(
            spark, docs, ckpt, evalset, _fail_after_write={"pairs"}, **KW
        )
    cachepool.release()
    assert not os.path.exists(f"{ckpt}/_lock")
    res = curate_corpus_resumable(spark, docs, ckpt, evalset, **KW)
    assert res.funnel[-1][0] == "split"
    cachepool.release()


@pytest.mark.parametrize("runner", ["curate_corpus", "curate_corpus_resumable"])
@pytest.mark.parametrize("bad, match", [
    (dict(near_dup_method="bogus"), "near_dup_method"),
    (dict(near_dup_method="lsh", max_df=10), "max_df applies"),
    (dict(near_dup_method="jaccard", max_bucket_size=10), "max_bucket_size applies"),
])
def test_both_runners_refuse_mismatched_knobs(spark, tmp_path, runner, bad, match):
    """Knob validation is shared by the two runners: an unknown method
    or a blowup cap set for the other pair generator raises before any
    stage runs (and before the checkpoint runner writes anything)."""
    docs = _fixture(spark)
    ckpt = tmp_path / "bad"
    with pytest.raises(ValueError, match=match):
        if runner == "curate_corpus":
            curate_corpus(docs, **bad)
        else:
            curate_corpus_resumable(spark, docs, str(ckpt), **bad)
    assert not (ckpt / "_lineage").exists()


def test_config_fingerprint_is_pinned(spark, tmp_path):
    """Existing checkpoints are refused unless the fingerprint of their
    knobs is reproduced exactly, so renaming, re-typing or dropping a
    fingerprinted knob must fail here rather than strand every
    checkpoint with "different configuration" — both the hash function
    and the knob set the checkpoint runner feeds it are pinned."""
    from latex_ocr_spark.plans.resumable import _config_hash

    pinned = "d0e701210acf8fc071f22b2874edccba"
    knobs = dict(KW, num_hashes=8, band_size=2, max_bucket_size=None,
                 max_df=None, redact=False, sample_fraction=None,
                 seed="split-seed-1", id_col="doc_id", text_col="text",
                 has_evalset=True)
    assert _config_hash(knobs) == pinned

    ckpt = str(tmp_path / "fp")
    curate_corpus_resumable(spark, _fixture(spark), ckpt, _evalset(spark), **KW)
    cachepool.release()
    lineage = spark.read.parquet(f"{ckpt}/_lineage").collect()
    assert {r.config_hash for r in lineage} == {pinned}


def test_unreadable_lineage_raises_instead_of_rerunning(spark, tmp_path):
    """Only a missing lineage dir means "no stage committed yet"; a
    corrupt lineage file must fail the run, not silently re-run the
    funnel from the scan past the config-mismatch refusal."""
    ckpt = tmp_path / "garbage"
    (ckpt / "_lineage").mkdir(parents=True)
    (ckpt / "_lineage" / "part-0.parquet").write_bytes(b"not a parquet file")

    with pytest.raises(Exception):
        curate_corpus_resumable(spark, _fixture(spark), str(ckpt), **KW)
    cachepool.release()
    assert not (ckpt / "groups").exists()


@pytest.mark.parametrize("runner", ["in_memory", "checkpoint"])
def test_funnel_over_the_size_gates_matches_and_broadcasts_nothing(
    spark, tmp_path, monkeypatch, hinted_broadcasts, runner
):
    """Over both dedup size gates (patched to 0) neither runner
    broadcast-hints a frame derived from pairs or from the eval set,
    and the documents, funnel, clusters and contamination report equal
    the hinted run's."""
    from latex_ocr_spark.operators import dedup as D

    docs, evalset = _fixture(spark), _evalset(spark)
    kw = dict(KW, near_dup_method="lsh")

    def run(tag):
        if runner == "in_memory":
            res = curate_corpus(docs, evalset, **kw)
        else:
            res = curate_corpus_resumable(
                spark, docs, str(tmp_path / tag), evalset, **kw
            )
        out = (res.funnel, _table(res.documents),
               sorted(map(tuple, res.clusters.collect())),
               sorted(map(tuple, res.contamination_report.collect())))
        cachepool.release()
        return out

    hinted, n_hinted = hinted_broadcasts(lambda: run("hinted"))
    monkeypatch.setattr(D, "_BROADCAST_ROW_LIMIT", 0)
    monkeypatch.setattr(D, "_UNION_FIND_MAX_PAIRS", 0)
    unhinted, n_unhinted = hinted_broadcasts(lambda: run("unhinted"))
    counts = dict((s, o) for s, _i, o in hinted[0])
    assert counts["near_dup_clusters"] == 22 and counts["decontaminate"] == 21
    assert hinted[3] == [(400, -1, 1.0)]
    assert unhinted == hinted
    assert n_hinted > 0 and n_unhinted == 0, (n_hinted, n_unhinted)
