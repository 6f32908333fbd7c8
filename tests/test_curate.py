"""The composed curation funnel: every stage exercised by a planted
fixture, funnel counts exact, end state clean (no exact dups, no
near-dup pairs split-straddling, no contamination)."""

from pyspark.sql import functions as F

from latex_ocr_spark import cachepool
from latex_ocr_spark.plans.curate import curate_corpus


def _fixture(spark):
    rows = []
    # 20 healthy unique docs
    for i in range(20):
        rows.append((i, f"ua{i} ub{i*3} uc{i*7} ud{i*11} ue{i*13} uf{i*17}"))
    # 3 too-short docs (quality gate)
    for i in range(100, 103):
        rows.append((i, f"short{i} doc"))
    # 1 punctuation-soup doc (quality gate)
    rows.append((110, "a. b, c; d: e! f? g.., ..,, ;;;; !!!! ???? ....."))
    # 2 exact copies of doc 0 (exact dedup)
    rows.append((200, rows[0][1]))
    rows.append((201, rows[0][1]))
    # 2 near-dups of doc 1 (one token changed → high unigram jaccard)
    base1 = rows[1][1]
    rows.append((300, base1.replace("ub3", "vb3")))
    rows.append((301, base1.replace("uc7", "vc7")))
    # 1 doc contaminated with eval text
    rows.append((400, "alpha beta gamma delta epsilon zeta eta theta"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curation_funnel_end_to_end(spark):
    docs = _fixture(spark)
    evalset = spark.createDataFrame(
        [(-1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    res = curate_corpus(
        docs, evalset, min_tokens=5, max_punct_ratio=0.3,
        dedup_threshold=0.5, near_dup_method="jaccard", ngram=1,
        val_fraction=0.3,
    )
    f = res.funnel_dict()
    assert f["quality_gates"] == (29, 25)        # 3 short + 1 punct dropped
    assert f["exact_dedup"] == (25, 23)          # 200, 201 dropped
    assert f["near_dup_clusters"] == (23, 21)    # 300, 301 dropped (cluster canon = 1)
    assert f["decontaminate"] == (21, 20)        # 400 dropped
    assert f["split"] == (20, 20)

    out = res.documents.collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == list(range(20))
    assert {"train", "val"}.issuperset({r.split for r in out})

    rep = res.contamination_report.collect()
    assert [(r.corpus_id, r.eval_id) for r in rep] == [(400, -1)]

    cl = {r.id: r.cluster_id for r in res.clusters.collect()}
    assert cl[300] == 1 and cl[301] == 1 and cl[1] == 1
    # exact duplicates get cluster rows too (review finding: without
    # them a re-added exact copy could split-hash away from its
    # canonical); resolved through the canonical's near-cluster
    assert cl[200] == 0 and cl[201] == 0 and cl[0] == 0
    cachepool.release()


def test_curation_without_evalset_and_without_dups(spark):
    docs = spark.range(30).selectExpr(
        "id AS doc_id",
        "concat('qa', id, ' qb', id*3, ' qc', id*7, ' qd', id*11, ' qe', id*13) AS text",
    )
    res = curate_corpus(docs, min_tokens=3, val_fraction=0.2)
    f = res.funnel_dict()
    assert f["quality_gates"] == (30, 30)
    assert f["exact_dedup"] == (30, 30)
    assert f["near_dup_clusters"] == (30, 30)
    assert f["decontaminate"] == (30, 30)  # no eval set → pass-through
    assert res.contamination_report is None
    assert res.documents.count() == 30
    cachepool.release()


def test_curation_split_matches_cluster_safe_semantics(spark):
    """Re-adding a dropped near-dup later must land it on the SAME
    side as its cluster's surviving canonical — the split hashes by
    cluster id even for survivors."""
    from latex_ocr_spark.operators.textstats import cluster_safe_split

    docs = _fixture(spark)
    res = curate_corpus(docs, min_tokens=5, dedup_threshold=0.5,
                        near_dup_method="jaccard", ngram=1, val_fraction=0.5)
    split = {r.doc_id: r.split for r in res.documents.collect()}
    # doc 1 survived; 300/301 were dropped as its near-dups.  Assign
    # them through the same cluster table: must match doc 1's side.
    readded = spark.createDataFrame([(300,), (301,)], "doc_id long").selectExpr(
        "doc_id", "'x' AS text"
    )
    re_split = {
        r.doc_id: r.split
        for r in cluster_safe_split(
            readded, res.clusters, val_fraction=0.5
        ).collect()
    }
    assert re_split[300] == split[1] and re_split[301] == split[1]
    cachepool.release()


def test_split_by_near_clusters_equals_split_by_merged_table(spark):
    """The in-memory runner splits by the near-dup clusters, not the
    merged table: every survivor is its own canonical in both, so the
    split is row-for-row the one the merged table gives.  A ≡ B exact,
    A ≈ C near and C < A, so B resolves through A to C's cluster — and
    the merged table still holds the exact member B."""
    from latex_ocr_spark.operators.textstats import cluster_safe_split

    a = "ka kb kc kd ke kf kg kh"
    rows = [(i, f"ua{i} ub{i*3} uc{i*7} ud{i*11} ue{i*13} uf{i*17}")
            for i in range(20, 40)]
    rows += [(5, a.replace("kh", "zh")), (10, a), (11, a)]  # C, A, B
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = curate_corpus(docs, min_tokens=5, dedup_threshold=0.5,
                        near_dup_method="jaccard", ngram=1, val_fraction=0.5)
    got = sorted(tuple(r) for r in res.documents.collect())
    want = sorted(
        tuple(r)
        for r in cluster_safe_split(
            res.documents.drop("split"), res.clusters, val_fraction=0.5
        ).collect()
    )
    assert got == want
    assert {r[2] for r in got} == {"train", "val"}  # non-vacuous
    assert [r[0] for r in got if r[0] < 20] == [5]
    cl = {r.id: r.cluster_id for r in res.clusters.collect()}
    assert cl == {5: 5, 10: 5, 11: 5}
    cachepool.release()


def test_curation_optional_redact_and_sample_stages(spark):
    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('ra', id, ' rb', id*3, ' rc', id*7, ' rd', id*11, "
        "' re', id*13, ' mail', id, '@ex.com') AS text",
    )
    res = curate_corpus(
        docs, min_tokens=3, redact=True, sample_fraction=0.5, val_fraction=0.2
    )
    f = res.funnel_dict()
    assert f["redact"] == (200, 200)
    n_in, n_out = f["sample"]
    assert n_in == 200 and 70 <= n_out <= 130
    out = res.documents.collect()
    assert len(out) == n_out
    # redaction happened before hashing/splitting: no raw emails survive
    assert all("@ex.com" not in r.text for r in out)
    assert all("<EMAIL>" in r.text for r in out)
    from latex_ocr_spark import cachepool

    cachepool.release()


def test_curation_invariants_over_random_corpora(spark):
    """Bounded fuzz: over randomized small corpora (dup rates, junk
    docs, contamination), the funnel must preserve its invariants —
    monotone counts, no surviving exact-dup texts, no surviving
    contamination, near-dup pairs never straddling the split."""
    import random

    from latex_ocr_spark.operators.dedup import jaccard_pairs

    rng = random.Random(11)
    eval_text = "alpha beta gamma delta epsilon zeta eta theta"
    evalset = spark.createDataFrame(
        [(-1, eval_text)], "doc_id long, text string"
    )
    for trial in range(3):
        rows = []
        for i in range(rng.randint(20, 60)):
            r = rng.random()
            if r < 0.15 and rows:  # exact dup of an earlier doc
                rows.append((1000 + i, rows[rng.randrange(len(rows))][1]))
            elif r < 0.2 and rows:  # near-dup: one token mutated
                src = rows[rng.randrange(len(rows))][1]
                toks = src.split()
                toks[rng.randrange(len(toks))] = f"mut{i}"
                rows.append((1000 + i, " ".join(toks)))
            elif r < 0.25:         # contaminated
                rows.append((1000 + i, eval_text))
            elif r < 0.35:         # junk (too short)
                rows.append((1000 + i, f"x{i}"))
            else:
                rows.append(
                    (1000 + i,
                     f"w{i} a{i*3} b{i*5} c{i*7} d{i*11} e{i*13} f{i*17}")
                )
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        res = curate_corpus(docs, evalset, min_tokens=3, dedup_threshold=0.5,
                            near_dup_method="jaccard", ngram=1, val_fraction=0.4)
        # monotone funnel, stage outputs chain
        prev_out = None
        for stage, n_in, n_out in res.funnel:
            assert n_out <= n_in, (trial, stage)
            if prev_out is not None:
                assert n_in == prev_out, (trial, stage)
            prev_out = n_out
        out = res.documents.collect()
        assert len(out) == prev_out
        texts = [r.text for r in out]
        assert len(texts) == len(set(texts)), "exact dups survived"
        assert eval_text not in texts, "contamination survived"
        # no surviving near-dup pair straddles the split
        split = {r.doc_id: r.split for r in out}
        surv = res.documents.select("doc_id", "text")
        for p in jaccard_pairs(surv, threshold=0.5, ngram=1).collect():
            assert split[p.a_id] == split[p.b_id], (trial, p)
        cachepool.release()


def test_curation_lsh_method_catches_high_similarity_dups(spark):
    """The default (scale-path) LSH near-dup method through the full
    funnel.  Plants are HIGH-similarity (one token of sixteen changed,
    unigram jaccard ≈ 0.88) — LSH's recall is probabilistic and the
    0.7-jaccard plants the exact-method test uses can legitimately
    miss a band (that recall trade is the documented difference
    between the methods, pinned here by construction)."""
    rows = [
        (i, " ".join(f"tk{i}_{j}" for j in range(16))) for i in range(10)
    ]
    base = rows[1][1]
    rows.append((300, base.replace("tk1_3", "zz3", 1)))   # ≈0.88 jaccard
    rows.append((301, base.replace("tk1_5", "zz5", 1)))
    rows.append((200, rows[0][1]))                        # exact copy
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = curate_corpus(docs, min_tokens=5, dedup_threshold=0.5,
                        near_dup_method="lsh", ngram=1, val_fraction=0.3)
    assert sorted(r.doc_id for r in res.documents.collect()) == list(range(10))
    cl = {r.id: r.cluster_id for r in res.clusters.collect()}
    assert cl[300] == 1 and cl[301] == 1 and cl[200] == 0
    import pytest

    with pytest.raises(ValueError, match="near_dup_method"):
        curate_corpus(docs, near_dup_method="bogus")
    cachepool.release()


def test_curated_output_writes_bucketed_for_colocated_joins(spark):
    """Closing the loop with the storage layer: curated docs persisted
    bucketed on the id join exchange-free against any same-bucketed
    metadata table (the repeated-join layout from sources/bucketed.py)."""
    import shutil
    from urllib.parse import urlparse

    from latex_ocr_spark.sources.bucketed import colocated_join, write_bucketed

    for t in ("curated_docs_tbl", "doc_meta_tbl"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)

    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('ba', id, ' bb', id*3, ' bc', id*7, ' bd', id*11, ' be', id*13) AS text",
    )
    res = curate_corpus(docs, min_tokens=3, val_fraction=0.2)
    res.write_bucketed("curated_docs_tbl", num_buckets=8)

    meta = spark.range(200).selectExpr("id AS doc_id", "id % 5 AS shard")
    write_bucketed(meta, "doc_meta_tbl", key="doc_id", num_buckets=8)

    joined = colocated_join(spark, "curated_docs_tbl", "doc_meta_tbl", "doc_id")
    assert joined.count() == 200
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # bucket-co-located
    cachepool.release()


def test_funnel_explodes_corpus_shingles_exactly_once(spark, monkeypatch):
    """The round-4 single-pass guarantee: one funnel run builds corpus
    shingles ONCE (the near-dup stage's profile, survivor-filtered, is
    reused by decontamination).  The profile kernel (``dedup._profile``,
    behind ``minhash_signatures`` and the eval-side ``_eval_profile``)
    is built exactly twice — once for the corpus, once for the (small)
    eval set — and the corpus-sized build happens exactly once."""
    from latex_ocr_spark.operators import dedup as D
    from latex_ocr_spark.plans import curate as C

    calls = []
    real = D._profile

    def counting(docs, *args, **kwargs):
        calls.append(docs)
        return real(docs, *args, **kwargs)

    monkeypatch.setattr(D, "_profile", counting)
    docs = _fixture(spark)
    evalset = spark.createDataFrame(
        [(-1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    res = curate_corpus(
        docs, evalset, min_tokens=5, dedup_threshold=0.5,
        near_dup_method="jaccard", ngram=1, val_fraction=0.3,
    )
    assert res.funnel_dict()["decontaminate"] == (21, 20)  # stage still ran
    assert len(calls) == 2, f"expected corpus+eval shingling only, got {len(calls)}"
    sizes = sorted(df.count() for df in calls)
    assert sizes == [1, 23]  # eval set once, post-exact-dedup corpus once
    cachepool.release()


def test_funnel_persists_no_corpus_text_frames(spark):
    """Round-4 materialization contract: the funnel cachepool-tracks
    only the narrow reused frames (groups/pairs/clusters/report) and
    the shingle frame — never a corpus-wide text frame (at 100 TB those
    were up to 7 disk-spilled copies of the corpus)."""
    from latex_ocr_spark import cachepool as cp

    cp.release()
    docs = _fixture(spark)
    evalset = spark.createDataFrame(
        [(-1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    curate_corpus(docs, evalset, min_tokens=5, dedup_threshold=0.5,
                  near_dup_method="jaccard", ngram=1, val_fraction=0.3)
    tracked_cols = [set(df.columns) for df in cp._POOL]
    assert tracked_cols, "expected the narrow reused frames to be tracked"
    for cols in tracked_cols:
        assert "text" not in cols, f"corpus text frame persisted: {cols}"
    cp.release()


def test_funnel_forwards_recall_knobs_to_decontamination(spark, monkeypatch):
    """One similarity measure end-to-end: num_hashes/band_size/
    max_bucket_size raised on the funnel reach the decontamination
    stage too (they silently stayed at 8/2/None before round 4)."""
    from latex_ocr_spark.operators import dedup as D
    from latex_ocr_spark.plans import curate as C

    seen = {}
    real = D.decontaminate

    def capturing(corpus, evalset, **kw):
        seen.update(kw)
        return real(corpus, evalset, **kw)

    monkeypatch.setattr(C.D, "decontaminate", capturing)
    docs = _fixture(spark)
    evalset = spark.createDataFrame(
        [(-1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    curate_corpus(
        docs, evalset, min_tokens=5, near_dup_method="lsh",
        num_hashes=16, band_size=4, max_bucket_size=50, val_fraction=0.3,
    )
    assert seen["num_hashes"] == 16 and seen["band_size"] == 4
    assert seen["max_bucket_size"] == 50
    # the reused frames: the funnel hands its (survivor-filtered)
    # profile to decontamination as both the shingle-ARRAY frame and
    # the signature frame — r7's row-wise plan, for either method
    assert seen["_corpus_arrs"] is not None
    cachepool.release()


def test_funnel_handles_string_doc_ids_end_to_end(spark):
    """String ids are a first-class contract through EVERY stage (the
    pre-round-4 quality gate cast them to long → NULL → silently
    dropped the whole corpus via the semi-join)."""
    rows = [(f"doc-{i:03d}", f"sa{i} sb{i*3} sc{i*7} sd{i*11} se{i*13}")
            for i in range(12)]
    rows.append(("doc-dup", rows[0][1]))                      # exact dup
    rows.append(("doc-near", rows[1][1].replace("sb3", "xb3")))  # near dup
    rows.append(("doc-bad", "tiny"))                          # quality drop
    rows.append(("doc-evl", "alpha beta gamma delta epsilon zeta eta theta"))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    evalset = spark.createDataFrame(
        [("eval-0", "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id string, text string",
    )
    res = curate_corpus(docs, evalset, min_tokens=5, dedup_threshold=0.5,
                        near_dup_method="jaccard", ngram=1, val_fraction=0.3)
    f = res.funnel_dict()
    assert f["quality_gates"] == (16, 15)
    assert f["exact_dedup"] == (15, 14)
    assert f["near_dup_clusters"] == (14, 13)
    assert f["decontaminate"] == (13, 12)
    ids = sorted(r.doc_id for r in res.documents.collect())
    assert ids == sorted(r[0] for r in rows[:12])
    cl = {r.id: r.cluster_id for r in res.clusters.collect()}
    assert cl["doc-near"] == "doc-001" and cl["doc-dup"] == "doc-000"
    cachepool.release()


def test_funnel_deferred_mode_rides_the_callers_action(spark):
    """collect_funnel=False: funnel empty until the caller's own action
    runs, then resolve_funnel() returns the SAME counts as collected
    mode — zero dedicated funnel passes (the production job shape)."""
    docs = _fixture(spark)
    evalset = spark.createDataFrame(
        [(-1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    kw = dict(min_tokens=5, max_punct_ratio=0.3, dedup_threshold=0.5,
              near_dup_method="jaccard", ngram=1, val_fraction=0.3)
    collected = curate_corpus(docs, evalset, **kw).funnel
    cachepool.release()

    res = curate_corpus(docs, evalset, collect_funnel=False, **kw)
    assert res.funnel == []
    n = res.documents.count()          # the caller's action
    assert res.resolve_funnel() == collected
    assert res.funnel_dict()["split"] == (n, n)
    assert res.resolve_funnel() == res.funnel  # idempotent no-op
    cachepool.release()


def test_lsh_funnel_computes_signatures_exactly_once(spark, monkeypatch):
    """The LSH funnel pays the corpus signature groupBy ONCE: the
    near-dup stage's (tracked) signature frame, survivor-filtered, is
    reused by decontamination — exactly two profile-kernel builds
    (``dedup._profile``) per run (corpus + the small eval side)."""
    from latex_ocr_spark.operators import dedup as D

    calls = []
    real = D._profile

    def counting(docs, *args, **kwargs):
        calls.append(docs)
        return real(docs, *args, **kwargs)

    monkeypatch.setattr(D, "_profile", counting)
    rows = [(i, " ".join(f"mk{i}_{j}" for j in range(16))) for i in range(10)]
    rows.append((300, rows[1][1].replace("mk1_3", "zz3", 1)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    evalset = spark.createDataFrame(
        [(-1, rows[2][1])], "doc_id long, text string"
    )
    res = curate_corpus(docs, evalset, min_tokens=5, dedup_threshold=0.5,
                        near_dup_method="lsh", ngram=1, val_fraction=0.3)
    assert res.funnel_dict()["near_dup_clusters"][1] == 10  # 300 dropped
    assert res.funnel_dict()["decontaminate"][1] == 9       # doc 2 flagged
    assert len(calls) == 2, f"expected corpus+eval signature aggs, got {len(calls)}"
    cachepool.release()


def test_funnel_without_broadcast_hints_is_equivalent(spark, monkeypatch):
    """Over the broadcast gate (the web-scale high-dup-rate case: no
    forced broadcasts, AQE decides) the funnel must produce identical
    documents, funnel, and clusters — only join strategy may differ."""
    from latex_ocr_spark.operators import dedup as D

    docs = _fixture(spark)
    evalset = spark.createDataFrame(
        [(-1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    kw = dict(min_tokens=5, dedup_threshold=0.5, near_dup_method="jaccard",
              ngram=1, val_fraction=0.3)
    a = curate_corpus(docs, evalset, **kw)
    a_docs = sorted(map(tuple, a.documents.collect()))
    a_cl = sorted(map(tuple, a.clusters.collect()))
    cachepool.release()
    monkeypatch.setattr(D, "_BROADCAST_ROW_LIMIT", 0)
    b = curate_corpus(docs, evalset, **kw)
    assert b.funnel == a.funnel
    assert sorted(map(tuple, b.documents.collect())) == a_docs
    assert sorted(map(tuple, b.clusters.collect())) == a_cl
    cachepool.release()


def test_funnel_survives_runtime_empty_spine(spark):
    """A corpus whose every id is NULL empties the spine at the exact-
    dedup semi-join; AQE's empty-relation propagation then eliminates
    downstream CollectMetrics nodes and their observations complete
    with schema-less empty rows.  The funnel must report the zeros,
    not crash in Observation.get (both funnel modes)."""
    docs = spark.createDataFrame(
        [(None, f"na{i} nb{i*3} nc{i*7} nd{i*11}") for i in range(15)],
        "doc_id long, text string",
    )
    res = curate_corpus(docs, min_tokens=3, val_fraction=0.2)
    f = res.funnel_dict()
    # NULL-id rows are dropped EXPLICITLY at the quality gate (they
    # cannot be deduped/split; leaving them to the dedup join's
    # implicit null filter would also push below the observe nodes and
    # skew every upstream count)
    assert f["quality_gates"] == (15, 0)
    assert f["exact_dedup"] == (0, 0)
    assert f["split"] == (0, 0)
    cachepool.release()

    res2 = curate_corpus(docs, min_tokens=3, val_fraction=0.2,
                         collect_funnel=False)
    assert res2.documents.count() == 0
    f2 = {s: (i, o) for s, i, o in res2.resolve_funnel()}
    assert f2["quality_gates"] == (15, 0) and f2["split"] == (0, 0)
    cachepool.release()


def test_deferred_resolve_with_verify_cross_checks_final_count(spark):
    """resolve_funnel(verify=True) buys back collected mode's
    metrics-anomaly cross-check (one extra exact count pass): after a
    full resolving action it returns the same funnel as the free
    default, and the verifying count comes from the documents frame
    itself so a healthy run can never trip it."""
    docs = _fixture(spark)
    kw = dict(min_tokens=5, max_punct_ratio=0.3, dedup_threshold=0.5,
              near_dup_method="jaccard", ngram=1, val_fraction=0.3)

    res_free = curate_corpus(docs, collect_funnel=False, **kw)
    res_free.documents.write.format("noop").mode("overwrite").save()
    free = res_free.resolve_funnel()
    cachepool.release()

    res = curate_corpus(docs, collect_funnel=False, **kw)
    res.documents.write.format("noop").mode("overwrite").save()
    assert res.resolve_funnel(verify=True) == free
    cachepool.release()


def test_lsh_funnel_runs_within_its_job_budget(spark, tmp_path):
    """The in-memory LSH funnel plus a noop write of its documents runs
    at most 18 Spark jobs on this fixture, counted from the status store
    as the benchmark's trace counts them: 17 before its pair counts
    gated the broadcasts, and one more allowed for the candidate count.
    A new plan-probe job on the funnel's path shows up here."""
    from perfbench.statusstore import StatusReader

    path = str(tmp_path / "docs")
    _fixture(spark).write.parquet(path)
    reader = StatusReader(spark)
    mark = reader.marker()
    res = curate_corpus(spark.read.parquet(path), near_dup_method="lsh", ngram=1,
                        min_tokens=5, val_fraction=0.3, collect_funnel=False)
    res.documents.write.format("noop").mode("overwrite").save()
    funnel = dict((s, o) for s, _i, o in res.resolve_funnel())
    cachepool.release()
    assert funnel["split"] == 22
    assert reader.since(mark)["jobs"] <= 18
