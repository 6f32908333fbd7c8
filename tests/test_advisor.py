"""Pre-flight survey + knob advisor (operators/advisor.py): the facts
are exact on a planted corpus, the sampled survey is subset-stable,
and the recommendations move in the documented directions."""

from latex_ocr_spark.operators.advisor import suggest_knobs, survey_corpus
from latex_ocr_spark.paths import REPO_ROOT


def _corpus(spark, n=200, dup_every=10, hot_token=True):
    rows = []
    for i in range(n):
        base = f"va{i} vb{i*3} vc{i*7} vd{i*11} ve{i*13}"
        if hot_token:
            base += " common"  # a stop-word-like shingle in EVERY doc
        rows.append((i, base))
    for i in range(0, n, dup_every):  # exact dups
        rows.append((1000 + i, rows[i][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_survey_facts_are_exact_on_planted_corpus(spark):
    docs = _corpus(spark)
    row = survey_corpus(docs).first()
    assert row["n_docs_sampled"] == 220
    assert row["n_distinct_texts"] == 200
    assert row["exact_dup_rate"] == round(1 - 200 / 220, 4)
    # every doc is 6 tokens ('common' included)
    assert row["token_percentiles"] == [6, 6, 6]
    # the planted hot shingle dominates df_max: 'common' appears in
    # every distinct text (200) plus dup copies share it too
    assert row["df_max"] == 220
    assert row["hottest_pair_fanin"] == 220 * 220
    assert row["df_percentiles"][0] <= 2  # median shingle is rare


def test_sampled_survey_is_deterministic_and_flagged(spark):
    docs = _corpus(spark)
    a = survey_corpus(docs, sample_fraction=0.5).first()
    b = survey_corpus(docs, sample_fraction=0.5).first()
    assert a == b  # md5-threshold sample: no RNG
    assert a["sample_fraction"] == 0.5
    assert 0 < a["n_docs_sampled"] < 220


def test_suggested_knobs_move_with_the_corpus(spark):
    clean = survey_corpus(_corpus(spark, dup_every=1000)).first()
    duppy = survey_corpus(_corpus(spark, dup_every=5)).first()

    k_clean, k_dup = suggest_knobs(clean), suggest_knobs(duppy)
    # dup-heavy corpus buys recall with more hashes
    assert k_clean["num_hashes"] == 8 and k_dup["num_hashes"] == 16
    # caps never drop below the floor, and both cap the planted hot
    # shingle's fan-in below df_max
    for k in (k_clean, k_dup):
        assert k["max_df"] >= 100
        assert k["max_df"] == k["max_bucket_size"]
        assert k["min_tokens"] == 5
    # a sampled survey rescales the df cap by 1/fraction
    sampled = survey_corpus(_corpus(spark), sample_fraction=0.5).first()
    full = survey_corpus(_corpus(spark)).first()
    assert suggest_knobs(sampled)["max_df"] >= suggest_knobs(full)["max_df"] * 0.5


def test_survey_caps_feed_the_dedup_guards(spark):
    """End-to-end: the advisor's cap actually bounds the planted hot
    shingle's blowup when fed into jaccard_pairs(max_df=...)."""
    from latex_ocr_spark import cachepool
    from latex_ocr_spark.operators.dedup import jaccard_pairs

    docs = _corpus(spark, n=60, dup_every=1000)
    row = survey_corpus(docs).first()
    knobs = suggest_knobs(row)
    # the 'common' shingle has df=60 > nothing (cap floor 100 keeps
    # it) — tighten to the hot shingle's df to prove the plumbing
    pairs_capped = jaccard_pairs(
        docs, threshold=0.3, ngram=1, max_df=min(knobs["max_df"], 10)
    ).count()
    cachepool.release()
    pairs_uncapped = jaccard_pairs(docs, threshold=0.3, ngram=1, max_df=1000).count()
    cachepool.release()
    assert pairs_capped <= pairs_uncapped


def test_auto_knobs_cli_end_to_end(tmp_path):
    """--auto-knobs: the job surveys its input, applies recommendations
    to knobs left at defaults, logs them, and completes."""
    import json
    import subprocess
    import sys as _sys

    out = str(tmp_path / "out")
    r = subprocess.run(
        [_sys.executable, f"{REPO_ROOT}/jobs/curate_job.py",
         "--synth", "40", "--output", out,
         "--near-dup-method", "jaccard", "--auto-knobs",
         # explicit non-default: must survive the advisor untouched
         "--min-tokens", "3"],
        capture_output=True, text=True, timeout=280,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    applied_line = [l for l in r.stderr.splitlines() if "auto_knobs" in l][-1]
    applied = json.loads(applied_line)["auto_knobs"]
    assert "max_df" in applied and applied["max_df"] >= 100
    assert "num_hashes" in applied
    assert "min_tokens" not in applied  # explicitly set -> not overridden
    funnel = json.loads(r.stdout.strip().splitlines()[-1])
    assert funnel["split"]["out"] == 40


def test_empty_survey_raises_clearly_and_auto_knobs_keeps_defaults(spark):
    """A survey that saw no shingles (empty input / all-whitespace
    texts / sample fraction selecting zero docs) must not surface as an
    opaque None[2] TypeError: suggest_knobs names the problem, and
    resolve_auto_knobs falls back to the parser defaults with a note
    instead of killing the job pre-flight."""
    import argparse

    import pytest

    from latex_ocr_spark.operators.advisor import resolve_auto_knobs

    empty = spark.createDataFrame([], "doc_id long, text string")
    blank = spark.createDataFrame([(1, "   "), (2, "")], "doc_id long, text string")
    for docs in (empty, blank):
        row = survey_corpus(docs).first()
        with pytest.raises(ValueError, match="survey saw no shingles"):
            suggest_knobs(row)

    ap = argparse.ArgumentParser()
    ap.add_argument("--min-tokens", type=int, default=5, dest="min_tokens")
    ap.add_argument("--num-hashes", type=int, default=8, dest="num_hashes")
    ap.add_argument("--band-size", type=int, default=2, dest="band_size")
    ap.add_argument("--dedup-threshold", type=float, default=0.5,
                    dest="dedup_threshold")
    ap.add_argument("--ngram", type=int, default=1)
    ap.add_argument("--max-df", type=int, dest="max_df")
    ap.add_argument("--max-bucket-size", type=int, dest="max_bucket_size")
    ap.add_argument("--near-dup-method", default="lsh", dest="near_dup_method")
    args = ap.parse_args([])
    applied = resolve_auto_knobs(empty, args, ap)
    assert "_note" in applied and "survey empty" in applied["_note"]
    # every knob untouched
    assert (args.min_tokens, args.num_hashes, args.band_size) == (5, 8, 2)
    assert args.max_bucket_size is None


def test_auto_knobs_surveys_the_jobs_ngram(spark, monkeypatch):
    """The advised caps bound the JOB's shingle space: unigram df
    overestimates n-gram df, so resolve_auto_knobs must survey at
    args.ngram, not survey_corpus's default."""
    import argparse

    from latex_ocr_spark.operators import advisor

    seen = {}
    real = advisor.survey_corpus

    def spy(docs, sample_fraction=None, ngram=1, **kw):
        seen["ngram"] = ngram
        return real(docs, sample_fraction=sample_fraction, ngram=ngram, **kw)

    monkeypatch.setattr(advisor, "survey_corpus", spy)

    ap = argparse.ArgumentParser()
    ap.add_argument("--min-tokens", type=int, default=5, dest="min_tokens")
    ap.add_argument("--num-hashes", type=int, default=8, dest="num_hashes")
    ap.add_argument("--band-size", type=int, default=2, dest="band_size")
    ap.add_argument("--dedup-threshold", type=float, default=0.5,
                    dest="dedup_threshold")
    ap.add_argument("--ngram", type=int, default=1)
    ap.add_argument("--max-df", type=int, dest="max_df")
    ap.add_argument("--max-bucket-size", type=int, dest="max_bucket_size")
    ap.add_argument("--near-dup-method", default="lsh", dest="near_dup_method")
    args = ap.parse_args(["--ngram", "3"])
    advisor.resolve_auto_knobs(_corpus(spark, n=30), args, ap)
    assert seen["ngram"] == 3


def test_derive_lsh_params_scurve_math():
    """The S-curve derivation: recall at the threshold meets the
    target, the selection prefers steeper curves (lower sub-threshold
    noise collisions), and impossible targets fail loudly."""
    import pytest

    from latex_ocr_spark.operators.advisor import (
        derive_lsh_params,
        lsh_collision_prob,
    )

    got = derive_lsh_params(0.5, target_recall=0.9)
    assert got["num_hashes"] == got["band_size"] * (
        got["num_hashes"] // got["band_size"]
    )
    assert got["expected_recall"] >= 0.9
    n_bands = got["num_hashes"] // got["band_size"]
    assert got["expected_recall"] == pytest.approx(
        lsh_collision_prob(0.5, got["band_size"], n_bands), abs=1e-3
    )
    # steeper than the single-hash-band grid that also meets recall:
    # r=1,b=4 has recall 0.9375 but collides 68% of s=0.25 noise pairs
    assert got["noise_collision"] < lsh_collision_prob(0.25, 1, 4)

    # a high threshold needs fewer hashes than a low one at equal recall
    hi = derive_lsh_params(0.9, target_recall=0.9)
    lo = derive_lsh_params(0.3, target_recall=0.9, max_hashes=128)
    assert hi["num_hashes"] <= lo["num_hashes"]

    with pytest.raises(ValueError, match="no .*grid"):
        derive_lsh_params(0.05, target_recall=0.99, max_hashes=8)
    with pytest.raises(ValueError, match="threshold"):
        derive_lsh_params(0.0)


def test_derived_knobs_hit_declared_recall_on_planted_corpus(spark):
    """--auto-knobs contract end-to-end: knobs derived for (threshold
    0.5, recall 0.9) must recover ≥ 90% of the exact-Jaccard pairs on
    a planted corpus whose near-dup pairs sit AT and above the
    threshold — the hardest similarity the verify step keeps."""
    from latex_ocr_spark import cachepool
    from latex_ocr_spark.operators.dedup import jaccard_pairs, lsh_verified_pairs

    rows = []
    # 40 bases with disjoint vocabularies; each base gets one partner
    # sharing 8..11 of its 12 tokens -> Jaccard 0.50/0.60/0.71/0.85
    for i in range(40):
        base = [f"t{i}_{j}" for j in range(12)]
        shared = 8 + (i % 4)
        partner = base[:shared] + [f"p{i}_{j}" for j in range(12 - shared)]
        rows.append((i, " ".join(base)))
        rows.append((1000 + i, " ".join(partner)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    knobs = suggest_knobs(survey_corpus(docs).first(), target_threshold=0.5)
    assert knobs["expected_recall"] >= 0.9 and "band_size" in knobs

    exact = {
        (min(r.a_id, r.b_id), max(r.a_id, r.b_id))
        for r in jaccard_pairs(docs, threshold=0.5, ngram=1).collect()
    }
    assert len(exact) == 40  # every planted pair, nothing else
    got = {
        (min(r.a_id, r.b_id), max(r.a_id, r.b_id))
        for r in lsh_verified_pairs(
            docs, threshold=0.5, num_hashes=knobs["num_hashes"],
            band_size=knobs["band_size"], ngram=1,
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"derived knobs missed the declared recall: {recall}"
    assert got <= exact  # precision exact by construction (verify step)
    cachepool.release()


def test_derive_lsh_params_property_fuzz():
    """Property fuzz over the whole derivation domain: every returned
    grid meets the declared recall at its threshold, respects the hash
    budget, and the reported numbers are internally consistent."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from latex_ocr_spark.operators.advisor import (
        derive_lsh_params,
        lsh_collision_prob,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        threshold=st.floats(min_value=0.1, max_value=1.0),
        target=st.floats(min_value=0.5, max_value=0.99),
        max_hashes=st.integers(min_value=16, max_value=256),
    )
    def check(threshold, target, max_hashes):
        try:
            got = derive_lsh_params(
                threshold, target_recall=target, max_hashes=max_hashes
            )
        except ValueError:
            # infeasible (tiny threshold + high target + small budget)
            # must be a LOUD refusal, which it just was
            return
        r, n = got["band_size"], got["num_hashes"]
        assert 1 <= r <= 4 and r * (n // r) == n and n <= max_hashes
        recall = lsh_collision_prob(threshold, r, n // r)
        assert recall >= target
        assert abs(recall - got["expected_recall"]) < 1e-3
        # the S-curve must separate: noise collisions strictly below
        # the recall at the threshold (monotonicity sanity)
        assert got["noise_collision"] <= got["expected_recall"]

    check()


def test_infeasible_threshold_fails_auto_knobs_loudly(spark):
    """Only the benign empty-survey case may degrade to parser
    defaults; a bad --dedup-threshold (out of range / infeasible grid)
    must kill the job loudly — swallowing it would also silently drop
    the blowup caps the survey DID produce."""
    import argparse

    import pytest

    from latex_ocr_spark.operators.advisor import resolve_auto_knobs

    ap = argparse.ArgumentParser()
    ap.add_argument("--min-tokens", type=int, default=5, dest="min_tokens")
    ap.add_argument("--num-hashes", type=int, default=8, dest="num_hashes")
    ap.add_argument("--band-size", type=int, default=2, dest="band_size")
    ap.add_argument("--dedup-threshold", type=float, default=0.5,
                    dest="dedup_threshold")
    ap.add_argument("--ngram", type=int, default=1)
    ap.add_argument("--max-df", type=int, dest="max_df")
    ap.add_argument("--max-bucket-size", type=int, dest="max_bucket_size")
    ap.add_argument("--near-dup-method", default="lsh", dest="near_dup_method")
    args = ap.parse_args(["--dedup-threshold", "5"])  # typo for 0.5
    with pytest.raises(ValueError, match="threshold"):
        resolve_auto_knobs(_corpus(spark, n=20), args, ap)
