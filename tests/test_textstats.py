"""Pins for the text-analysis operators whose registry slots were
consolidated in round 3: the merged queries must stay equal, column by
column, to the standalone operators they absorbed."""

from latex_ocr_spark.operators import textstats as TS


def _docs(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/documents.parquet")


def test_text_profile_matches_standalone_operators(spark, sf_small):
    """text_profile = token_counts ⊕ quality_scores ⊕ fingerprints as
    one projection; every column must match its source operator."""
    docs = _docs(spark, sf_small)
    prof = {r["id"]: r.asDict() for r in TS.text_profile(docs).collect()}

    for r in TS.token_counts(docs).collect():
        assert prof[r["id"]]["n_tokens"] == r["n_tokens"]
        assert prof[r["id"]]["n_chars_seen"] == r["n_chars_seen"]
    for r in TS.quality_scores(docs).collect():
        for col in ("mean_token_len", "stopword_ratio", "punct_ratio"):
            assert prof[r["id"]][col] == r[col], (r["id"], col)
    for r in TS.fingerprints(docs).collect():
        assert prof[r["id"]]["fingerprint"] == r["fingerprint"]


def test_text_profile_is_single_scan_no_shuffle(spark, sf_small):
    """The merge's reason to exist: one pruned scan, one codegen'd
    projection, zero exchanges (vs. three scans or a self-join)."""
    plan = (
        TS.text_profile(_docs(spark, sf_small))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1


def test_cluster_safe_split_never_straddles_near_dups(spark):
    """The leakage guard: every member of a duplicate cluster gets the
    SAME split; unclustered docs fall back to their own id (identical
    to deterministic_split for them)."""
    from pyspark.sql import functions as F

    from latex_ocr_spark.operators.dedup import duplicate_clusters, jaccard_pairs
    from latex_ocr_spark.operators.textstats import (
        cluster_safe_split,
        deterministic_split,
    )

    # 60 planted near-dup pairs + 80 singletons
    base = spark.range(60).selectExpr(
        "id AS doc_id",
        "concat('pz', id, ' qz', id, ' rz', id, ' sz', id) AS text",
    )
    copies = base.selectExpr("doc_id + 1000 AS doc_id", "text")
    singles = spark.range(80).selectExpr(
        "id + 5000 AS doc_id", "concat('solo', id, ' s', id*7, ' t', id*13) AS text"
    )
    docs = base.unionByName(copies).unionByName(singles)

    pairs = jaccard_pairs(docs, threshold=0.5, ngram=1)
    clusters = duplicate_clusters(pairs)
    out = cluster_safe_split(docs, clusters, val_fraction=0.3).collect()
    split = {r.doc_id: r.split for r in out}
    assert len(split) == 200
    for i in range(60):
        assert split[i] == split[i + 1000], f"pair {i} straddles the split"
    # both sides populated (0.3 over 140 cluster-units)
    assert {"train", "val"} == set(split.values())

    # unclustered docs match the plain per-doc split exactly
    plain = {
        r.doc_id: r.split
        for r in deterministic_split(singles, val_fraction=0.3).collect()
    }
    for d, s in plain.items():
        assert split[d] == s

    from latex_ocr_spark import cachepool

    cachepool.release()


def test_cluster_safe_split_is_subset_stable(spark):
    """The property per-epoch RNG splits lack, preserved by the
    cluster-unit hash: any subset of the corpus gets the same
    assignments as the full corpus (retries / incremental batches)."""
    from latex_ocr_spark import cachepool
    from latex_ocr_spark.operators.textstats import cluster_safe_split

    docs = spark.range(300).selectExpr("id AS doc_id", "concat('d', id) AS text")
    clusters = spark.createDataFrame(
        [(i, i - (i % 2)) for i in range(100)], "id long, cluster_id long"
    )  # docs 0..99 pair up (0,1)(2,3)…; 100.. unclustered
    full = {
        r.doc_id: r.split
        for r in cluster_safe_split(docs, clusters, val_fraction=0.25).collect()
    }
    subset = {
        r.doc_id: r.split
        for r in cluster_safe_split(
            docs.filter("doc_id % 3 = 0"), clusters, val_fraction=0.25
        ).collect()
    }
    assert subset and all(full[d] == s for d, s in subset.items())
    # paired docs agree in the full corpus
    for i in range(0, 100, 2):
        assert full[i] == full[i + 1]
    cachepool.release()


def test_deterministic_sample_global_and_stratified(spark):
    from latex_ocr_spark.operators.textstats import deterministic_sample

    docs = spark.range(2000).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' ELSE 'fr' END AS lang",
    )
    kept = deterministic_sample(docs, fraction=0.25)
    n = kept.count()
    assert 380 <= n <= 620  # ~500 expected, generous hash-variance band

    # subset-stability: sampling a subset keeps exactly the intersection
    sub = deterministic_sample(docs.filter("doc_id < 1000"), fraction=0.25)
    full_ids = {r.doc_id for r in kept.collect()}
    sub_ids = {r.doc_id for r in sub.collect()}
    assert sub_ids == {i for i in full_ids if i < 1000}

    # stratified: per-lang rates; absent stratum dropped entirely
    st = deterministic_sample(docs, by={"en": 1.0, "de": 0.5})
    got = {r.lang: 0 for r in st.collect()}
    for r in st.collect():
        got[r.lang] += 1
    assert got.get("fr", 0) == 0
    assert got["en"] == 667  # every en row kept
    assert 230 <= got["de"] <= 440

    import pytest

    with pytest.raises(ValueError):
        deterministic_sample(docs)
    with pytest.raises(ValueError):
        deterministic_sample(docs, fraction=0.5, by={"en": 1.0})


def test_redact_text_patterns_and_plan(spark):
    from latex_ocr_spark.operators.textstats import redact_text

    rows = [
        (0, "contact bob.smith+x@example.co.uk or visit https://a.io/p?q=1#f now"),
        (1, "card 4111111111111111 and phone +1-555-123-4567 ok"),
        (2, "plain text stays 42 intact"),
        (3, "call (212) 555-0198 or 555-0199 today"),
    ]
    df = redact_text(spark.createDataFrame(rows, "doc_id long, text string"))
    got = {r.doc_id: r.text_redacted for r in df.collect()}
    assert got[0] == "contact <EMAIL> or visit <URL> now"
    # the FULL number is redacted — no digit groups may leak around the
    # placeholder (the first pattern draft left '+1-' and '-4567' behind)
    assert got[1] == "card <LONGNUM> and phone <PHONE> ok"
    assert got[2] == "plain text stays 42 intact"
    assert got[3] == "call <PHONE> or <PHONE> today"

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # one projection, no shuffle


def test_quality_gate_matches_text_profile_thresholds(spark, sf_small):
    """quality_gate is the curation funnel's inline form of the
    profile-derived gate: same expressions (shared helpers), so the
    kept id set must equal filtering text_profile — and it must
    preserve string ids, the case the profile's old id cast nullified."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_small)
    via_profile = {
        r["id"]
        for r in TS.text_profile(docs)
        .filter((F.col("n_tokens") >= 5) & (F.col("punct_ratio") <= 0.3))
        .collect()
    }
    via_gate = {r["doc_id"] for r in TS.quality_gate(docs, 5, 0.3).collect()}
    assert via_gate == via_profile and via_gate

    # string ids survive every textstats operator untouched
    sdocs = spark.createDataFrame(
        [("doc-a", "one two three four five six"), ("doc-b", "x")],
        "doc_id string, text string",
    )
    assert {r["doc_id"] for r in TS.quality_gate(sdocs, 3, 0.3).collect()} == {"doc-a"}
    assert {r["id"] for r in TS.text_profile(sdocs).collect()} == {"doc-a", "doc-b"}
    assert {r["id"] for r in TS.lang_id(sdocs).collect()} == {"doc-a", "doc-b"}


def test_tf_idf_builds_lazily_and_counts_empty_docs_in_n(spark):
    """Round-5 verdict item: tf_idf must not pay a dedicated corpus
    scan for N.  Pin (a) construction launches NO action (the old
    ``docs.count()`` made every tf_idf call scan the corpus twice) and
    (b) N still counts zero-token documents — explode_outer keeps a
    NULL-token placeholder row per empty doc, so the N derived from
    the tf frame equals the old full-corpus count exactly."""
    import math

    import pyspark.sql
    import pytest

    docs = spark.createDataFrame(
        # the NULL-ID doc must be excluded CONSISTENTLY: from N (which
        # count_distinct skips anyway) and from the output rows — the
        # round-5 drift emitted its (id=NULL) tf rows while N ignored it
        [(0, "a a b"), (1, "b c"), (2, "   "), (3, None), (None, "b zz")],
        "doc_id long, text string",
    )

    real_count = pyspark.sql.DataFrame.count

    def forbidden(self):
        raise AssertionError("tf_idf construction ran a count() action")

    pyspark.sql.DataFrame.count = forbidden
    try:
        out = TS.tf_idf(docs)  # must be purely lazy
    finally:
        pyspark.sql.DataFrame.count = real_count

    rows = {(r["id"], r["tok"]): r for r in out.collect()}
    # N = 4 (two token-bearing docs + one whitespace-only + one NULL
    # text), not 2 — the idf denominator the old docs.count() produced
    assert rows[(0, "a")]["tf"] == 2 and rows[(0, "a")]["df"] == 1
    assert rows[(0, "a")]["tfidf"] == pytest.approx(
        round(2 * math.log(4 / 1), 4)
    )
    assert rows[(1, "c")]["tfidf"] == pytest.approx(round(math.log(4 / 1), 4))
    # shared token b: df=2 — the NULL-id doc's 'b' contributes neither
    # a row nor a df increment, and its unique token never appears
    assert rows[(0, "b")]["df"] == 2 == rows[(1, "b")]["df"]
    assert not any(tok == "zz" for _id, tok in rows)
    # placeholder rows / NULL-id rows never leak into the output
    assert all(tok is not None for _id, tok in rows)
    assert {i for i, _t in rows} == {0, 1}
    from latex_ocr_spark import cachepool

    cachepool.release()
