"""Dedup operator guarantees that the oracle comparison can't see:
simhash parity with the r1 explode implementation (frozen semantics),
the pure-Python XXH64 used for golden generation, and the zero-shuffle
plan shape of the rewritten simhash."""

import sys

from pyspark.sql import functions as F

from latex_ocr_spark.operators.dedup import _tokens, simhash64


def _simhash64_r1(docs, text_col="text", id_col="doc_id"):
    """The round-1 explode implementation, kept verbatim as the frozen
    semantic baseline for the zero-shuffle rewrite."""
    tok = docs.select(F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("tok"))
    h = tok.withColumn("h", F.xxhash64("tok"))
    bits = h.select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"), F.col("h")
    ).withColumn(
        "vote", F.expr("CASE WHEN (shiftright(h, bit) & 1) = 1 THEN 1 ELSE -1 END")
    )
    votes = bits.groupBy("id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


def test_simhash_parity_with_r1_impl(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    old = {r.id: r.simhash for r in _simhash64_r1(docs).collect()}
    new = {r.id: r.simhash for r in simhash64(docs).collect()}
    assert old == new
    assert len(new) == docs.count()


def test_simhash_zero_token_docs_dropped(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "   "), (2, "")], "doc_id long, text string"
    )
    got = {r.id for r in simhash64(docs).collect()}
    assert got == {0}  # explode semantics: token-less docs emit nothing


def test_simhash_plan_has_no_exchange(spark, sf_small):
    # assert on an already-parallel input — the corpus-scale shape;
    # on a single test-scale split the amplification guard adds one
    # deliberate fan-out (covered by test_shingle_amplification_guard)
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    plan = simhash64(docs)._jdf.queryExecution().executedPlan().toString()
    # only the caller's own repartition; simhash itself adds nothing
    assert plan.count("Exchange") == 1  # scan -> (fan-out) -> filter -> project


def test_pyxxh64_matches_spark(spark):
    from tools.pyxxh64 import xxh64

    cases = [
        "", "a", "ab", "abc", "1234567", "12345678", "123456789",
        "0123456789abcdef0123456789abcde",     # 31 B: < one stripe
        "0123456789abcdef0123456789abcdef",    # 32 B: exactly one stripe
        "x" * 33, "y" * 100, "\\frac{1}{2}", "λ∑ unicode", "a b  c\td\n",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    for r in df.collect():
        assert xxh64(r.s.encode("utf-8")) == r.h, repr(r.s)


def test_duplicate_clusters_chain_and_cliques(spark):
    """Min-label propagation must close transitive chains (A≈B, B≈C,
    C≈D → one cluster), not just direct pairs — diameter > 1 forces
    multiple propagation rounds."""
    from latex_ocr_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),   # chain: diameter 4
            (10, 11), (10, 12), (11, 12),     # clique
            (20, 21),                         # simple pair
        ],
        "a_id long, b_id long",
    )
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_lsh_bucket_cap_bounds_degenerate_keys(spark):
    """A monster bucket (identical boilerplate repeated) must not
    produce k^2 candidates when the cap is on — and the cap must not
    touch ordinary near-dup buckets."""
    from latex_ocr_spark.operators.dedup import lsh_candidate_pairs

    boiler = [(i, "common boilerplate page body repeated verbatim") for i in range(40)]
    pair = [(100, "rare unique zq1 wq1 vq1"), (101, "rare unique zq1 wq1 vq1")]
    docs = spark.createDataFrame(boiler + pair, "doc_id long, text string")

    uncapped = lsh_candidate_pairs(docs, ngram=1).count()
    assert uncapped >= (40 * 39) // 2  # the blowup is real

    capped = {
        (r.a_id, r.b_id)
        for r in lsh_candidate_pairs(docs, ngram=1, max_bucket_size=10).collect()
    }
    assert (100, 101) in capped          # ordinary bucket untouched
    assert all(a >= 100 for a, _ in capped)  # monster bucket dropped


def test_duplicate_clusters_long_chain_near_max_iter(spark, monkeypatch):
    """A path-shaped component (worst case for min-label propagation:
    the min label travels ONE hop per round) sized near the default
    max_iter must still converge — proving the guard triggers on real
    non-convergence, not on realistic diameters.  Cost model: rounds =
    diameter + 1 confirming round, one shuffle each."""
    from latex_ocr_spark.operators import dedup as D
    from latex_ocr_spark.operators.dedup import duplicate_clusters

    monkeypatch.setattr(D, "_UNION_FIND_MAX_PAIRS", 0)  # the loop path

    k = 22  # diameter 21 + 1 confirming round < max_iter=25
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, k)], "a_id long, b_id long"
    )
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {i: 1 for i in range(1, k + 1)}


def test_duplicate_clusters_raises_on_non_convergence(spark, monkeypatch):
    """When a component's diameter exceeds max_iter the operator must
    RAISE, never return a silently split component (a partial result
    keeps several 'canonical' copies of one duplicate group)."""
    import pytest

    from latex_ocr_spark.operators import dedup as D
    from latex_ocr_spark.operators.dedup import duplicate_clusters

    monkeypatch.setattr(D, "_UNION_FIND_MAX_PAIRS", 0)  # the loop path

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iter=3)


def test_duplicate_clusters_rejects_max_iter_below_one(spark, monkeypatch):
    """The first propagation round is fused with label initialization
    and always runs, so a bound below one round cannot be honoured: it
    is refused up front instead of silently running one round."""
    import pytest

    from latex_ocr_spark.operators import dedup as D
    from latex_ocr_spark.operators.dedup import duplicate_clusters

    monkeypatch.setattr(D, "_UNION_FIND_MAX_PAIRS", 0)  # the loop path

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a_id long, b_id long")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_iter must be >= 1"):
            duplicate_clusters(pairs, max_iter=bad)
    # diameter 2 + 1 confirming round
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs, max_iter=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_decontaminate_drops_contaminated_and_keeps_rest(spark):
    """Cross-corpus decontamination: corpus docs near-duplicating an
    eval doc land in the report and are anti-joined out of the cleaned
    corpus; unrelated docs survive untouched."""
    from latex_ocr_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup of eval 1
            (3, "one two three four five six seven eight"),
            (4, "unrelated tokens qq ww ee rr tt yy uu ii"),
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(-1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    report, cleaned = decontaminate(corpus, evalset, threshold=0.5, ngram=3)
    rep = {(r.corpus_id, r.eval_id): r.jaccard for r in report.collect()}
    assert rep[(1, -1)] == 1.0          # exact copy
    assert (2, -1) in rep               # near-dup caught
    kept = sorted(r.doc_id for r in cleaned.collect())
    assert kept == [3, 4]
    from latex_ocr_spark import cachepool

    cachepool.release()


def test_cross_candidates_broadcast_eval_side(spark, monkeypatch):
    """Scale shape: under the size gate the eval side must broadcast —
    the corpus-side keyed frame joins map-side, no shuffle on the
    corpus for the candidate step.  Read from the candidate frame
    decontamination materializes."""
    from latex_ocr_spark import cachepool
    from latex_ocr_spark.operators import dedup as D

    corpus = spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('tok', id % 37, ' tok', (id+1) % 37, ' tok', (id+2) % 37, "
        "' tok', (id+3) % 37) AS text",
    )
    evalset = spark.range(2).selectExpr(
        "-(id + 1) AS doc_id",
        "concat('tok', id % 37, ' tok', (id+1) % 37, ' tok', (id+2) % 37, "
        "' tok', (id+3) % 37) AS text",
    )
    seen, real = [], D._materialize

    def capturing(df):
        seen.append(df)
        return real(df)

    monkeypatch.setattr(D, "_materialize", capturing)
    D.decontaminate(corpus, evalset, ngram=3)
    (cand,) = [df for df in seen if df.columns == ["a_id", "b_id"]]
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {(r.a_id, r.b_id) for r in cand.collect()}
    assert (0, -1) in got and (1, -2) in got  # the planted copies collide
    cachepool.release()


def test_decontaminate_is_idempotent(spark):
    """Decontaminating an already-clean corpus finds nothing — the
    fixpoint property a pipeline retry relies on."""
    from latex_ocr_spark import cachepool
    from latex_ocr_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight"),
            (3, "unrelated tokens qq ww ee rr tt yy uu ii"),
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(-1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    report1, cleaned1 = decontaminate(corpus, evalset, threshold=0.5, ngram=3)
    assert report1.count() == 1 and cleaned1.count() == 2
    report2, cleaned2 = decontaminate(cleaned1, evalset, threshold=0.5, ngram=3)
    assert report2.count() == 0
    assert cleaned2.count() == 2
    cachepool.release()


def test_shingle_amplification_guard(spark):
    """The explode-heavy shingle stage must fan out an
    under-partitioned input (single parquet split → serial explode)
    and leave an already-parallel input's plan untouched."""
    from latex_ocr_spark.operators.dedup import _with_min_parallelism

    one = spark.range(100).coalesce(1).selectExpr("id AS doc_id", "'a b c' AS text")
    fanned = _with_min_parallelism(one)
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism
    ).selectExpr("id AS doc_id", "'a b c' AS text")
    assert _with_min_parallelism(wide) is wide  # strict no-op


def _clusters(pairs, **kw):
    from latex_ocr_spark.operators.dedup import duplicate_clusters

    return sorted(tuple(r) for r in duplicate_clusters(pairs, **kw).collect())


def test_union_find_matches_label_loop(spark, sf_small, monkeypatch):
    """Both sides of the clustering gate give the same (id, cluster_id)
    table: chains, cliques, a star, a self-loop pair, a random pair
    soup, string ids (kept at their own type), and the pair input of
    the ``dedup_clusters`` registry query, whose gated result is
    checked against its recursive-CTE oracle — so the loop path
    inherits that oracle."""
    import random

    from latex_ocr_spark import cachepool
    from latex_ocr_spark.operators import dedup as D
    from latex_ocr_spark.plans.registry import _planted_docs

    fixed = [
        (1, 2), (2, 3), (3, 4), (4, 5),       # chain
        (10, 11), (10, 12), (11, 12),         # clique
        (32, 30), (32, 31), (33, 32), (34, 32),  # star, hub not the min
        (7, 7),                               # self-loop pair
        (20, 21),
    ]
    rng = random.Random(7)
    soup = [(rng.randrange(100, 160), rng.randrange(100, 160)) for _ in range(80)]
    long_pairs = spark.createDataFrame(fixed + soup, "a_id long, b_id long")
    str_pairs = spark.createDataFrame(
        [(f"d-{a:03d}", f"d-{b:03d}") for a, b in fixed], "a_id string, b_id string"
    )
    registry_pairs = D.jaccard_pairs(
        _planted_docs(spark, sf_small), threshold=0.3, ngram=1, max_df=50
    )
    inputs = (long_pairs, str_pairs, registry_pairs)
    gated = [_clusters(p) for p in inputs]
    str_schema = D.duplicate_clusters(str_pairs).schema
    monkeypatch.setattr(D, "_UNION_FIND_MAX_PAIRS", 0)
    looped = [_clusters(p) for p in inputs]
    cachepool.release()
    assert gated == looped and gated[2]
    got = dict(gated[0])
    assert got[7] == 7 and got[5] == 1 and got[34] == 30 and got[12] == 10
    assert dict(gated[1])["d-034"] == "d-030"
    assert {f.dataType.typeName() for f in str_schema} == {"string"}


def test_union_find_closes_chains_longer_than_max_iter(spark, monkeypatch):
    """Under the gate any component shape converges: a 64-link chain
    (diameter 63) closes, while the forced label loop still raises at
    its default 25-round cap."""
    import pytest

    from latex_ocr_spark.operators import dedup as D

    k = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, k)], "a_id long, b_id long"
    )
    assert _clusters(pairs) == [(i, 1) for i in range(1, k + 1)]
    monkeypatch.setattr(D, "_UNION_FIND_MAX_PAIRS", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(pairs)


def test_union_find_clustering_runs_at_most_three_jobs(spark, tmp_path):
    """Under the gate, clustering a pair table and writing the labels
    costs at most three Spark jobs, counted from the status store as
    the benchmark's trace counts them (the label loop spent one job per
    round, 11 on the benchmark's pairs)."""
    from latex_ocr_spark.operators.dedup import duplicate_clusters
    from perfbench.statusstore import StatusReader

    path = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)] + [(100, 101), (100, 102)],
        "a_id long, b_id long",
    ).write.parquet(path)
    reader = StatusReader(spark)
    mark = reader.marker()
    duplicate_clusters(spark.read.parquet(path)).write.format("noop").mode(
        "overwrite"
    ).save()
    assert reader.since(mark)["jobs"] <= 3


def _jvm_minhash_reference(arrs, k, include_size, include_shingles):
    """The JVM ``transform(md5)`` projection the fused kernel replaced,
    kept as the parity reference: per-document min over the shingle
    set's md5(shingle ‖ '#i') family, over a
    :func:`doc_shingle_arrays` frame (empty sets dropped)."""
    sh = F.col("shingles")

    def _minhash(i: int):
        # closure helper, NOT a default-arg lambda: pyspark counts the
        # lambda's parameters to decide unary vs (element, index) form
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(s, F.lit(f"#{i}"))))
        ).alias(f"sig_{i}")

    cols = [_minhash(i) for i in range(k)]
    if include_size:
        cols.append(F.size(sh).cast("long").alias("n_shingles"))
    if include_shingles:
        cols = [sh.alias("shingles")] + cols
    return arrs.filter(F.size(sh) > 0).select("id", *cols)


def test_fused_profile_kernel_parity_with_jvm_path(spark):
    """The r7 fused Arrow profile kernel (tokenize + shingle + md5
    MinHash family in one mapInArrow pass) must be bit-identical to the
    JVM projection path it replaces — including the Java-regex
    whitespace semantics (\\s is the ASCII six, so NBSP/\\x1c must NOT
    split), first-occurrence shingle order, empty/null/short-text
    drops, and the (id, [shingles,] sig_*, [n_shingles]) schema — with
    the amplification fan-out (``minhash_signatures``) and without it
    (the eval-side builder ``_eval_profile``, which also counts)."""
    from latex_ocr_spark.operators.dedup import (
        _eval_profile,
        doc_shingle_arrays,
        minhash_signatures,
    )

    rows = [
        ("a", "x y z"),  # NBSP is not Java \s
        ("b", "  leading and trailing  "),
        ("c", None),
        ("d", ""),
        ("e", "one two"),  # ngram=3 over 2 tokens -> dropped
        ("f", "tab\tsep\nnl\x0bvt\fff\rcr end pad"),
        ("g", "é café münchen töken four five"),
        ("h", "a b c a b c a b c"),  # duplicate shingles
        ("i", "x \x1c y \x1d z w q"),  # \x1c/\x1d not Java \s
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    for ngram, k, size, shingles, fan_out in [
        (3, 8, True, True, True), (1, 4, True, False, True),
        (3, 8, True, True, False),
    ]:
        if fan_out:
            fused = minhash_signatures(
                docs, k, "text", "doc_id", ngram,
                include_size=size, include_shingles=shingles,
            )
        else:
            fused, n = _eval_profile(docs, k, ngram, "text", "doc_id")
            assert n == fused.count() > 0
        arrs = doc_shingle_arrays(docs, "text", "doc_id", ngram)
        jvm = _jvm_minhash_reference(arrs, k, size, shingles)
        assert fused.columns == jvm.columns
        got = {r["id"]: tuple(r) for r in fused.collect()}
        want = {r["id"]: tuple(r) for r in jvm.collect()}
        assert got == want and got  # non-vacuous


def test_profile_kernel_falls_back_to_local_memo_without_package(monkeypatch):
    """An executor that cannot import the package (code shipped only as
    pickled closures) still runs the profile kernel: the worker-side
    memo import falls back to a function-local dict, with output
    identical to the normal run."""
    import pyarrow as pa

    from latex_ocr_spark.operators import dedup as D

    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([1, 2, 3, 4], type=pa.int64()),
            pa.array(["a b c d e", None, "x y", "a b c  d e f\tg"]),
        ],
        names=["id", "__text"],
    )
    memo = {}
    monkeypatch.setattr(D, "_PROFILE_MEMO", memo)
    want = [b.to_pydict() for b in D._profile_kernel(4, 3, True, True)([rb])]
    assert memo  # the normal run memoizes module-wide
    memo.clear()
    with monkeypatch.context() as m:
        m.setitem(sys.modules, "latex_ocr_spark.operators.dedup", None)
        got = [b.to_pydict() for b in D._profile_kernel(4, 3, True, True)([rb])]
    assert not memo  # the fallback memo is local to the task
    assert got == want and want[0]["id"] == [1, 4]  # non-vacuous


def test_profile_memo_is_bounded_by_key_bytes_and_one_family(monkeypatch):
    """Worker-resident memo bounds: a shingle whose UTF-8 key is longer
    than ``_PROFILE_MEMO_KEY_BYTES`` is hashed but never stored, and a
    new ``num_hashes`` drops the other hash families.  Signatures equal
    the un-memoized definition (min md5(shingle ‖ '#i') as hex)."""
    import hashlib

    import pyarrow as pa

    from latex_ocr_spark.operators import dedup as D

    long_tok = "x" * 300
    text = f"a b c d {long_tok} e f g h"
    rb = pa.RecordBatch.from_arrays(
        [pa.array([1], type=pa.int64()), pa.array([text])], names=["id", "__text"]
    )
    toks = text.split()
    shingles = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]

    memo = {}
    monkeypatch.setattr(D, "_PROFILE_MEMO", memo)
    for k in (4, 8):
        got = next(D._profile_kernel(k, 3, True, True)([rb])).to_pydict()
        want = [
            min(hashlib.md5(f"{s}#{i}".encode()).hexdigest() for s in shingles)
            for i in range(k)
        ]
        assert [got[f"sig_{i}"][0] for i in range(k)] == want
        assert got["shingles"] == [shingles] and got["n_shingles"] == [7]
        assert list(memo) == [k]  # one family resident
        assert set(memo[k]) == {s for s in shingles if long_tok not in s}
        assert len(memo[k]) == 4 and all(len(v) == 16 * k for v in memo[k].values())


def test_profile_kernel_falls_back_to_hashlib_without_builtin_md5(monkeypatch):
    """An interpreter built without the ``_md5`` module hashes with
    ``hashlib.md5``: shingles and signatures equal the ``_md5`` path's
    and the md5 definition (min md5(shingle ‖ '#i') as hex)."""
    import hashlib

    import pyarrow as pa

    from latex_ocr_spark.operators import dedup as D

    texts = ["a b c d e f", "x y z x y z w", "é café münchen töken four"]
    rb = pa.RecordBatch.from_arrays(
        [pa.array([1, 2, 3], type=pa.int64()), pa.array(texts)],
        names=["id", "__text"],
    )

    def run():
        monkeypatch.setattr(D, "_PROFILE_MEMO", {})  # hash every shingle
        return next(D._profile_kernel(8, 3, True, True)([rb])).to_pydict()

    builtin = run()
    with monkeypatch.context() as m:
        m.setitem(sys.modules, "_md5", None)
        fallback = run()
    assert fallback == builtin
    for row, text in enumerate(texts):
        toks = text.split()
        sh = list(dict.fromkeys(" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)))
        assert builtin["shingles"][row] == sh
        assert [builtin[f"sig_{i}"][row] for i in range(8)] == [
            min(hashlib.md5(f"{s}#{i}".encode()).hexdigest() for s in sh)
            for i in range(8)
        ]


def _near_dup_corpus(spark):
    """30 distinct documents, three near-dup pairs and a copy of doc 0."""
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(30)]
    for a, b in ((1, 101), (2, 102), (3, 103)):
        rows.append((b, rows[a][1].replace(f"w{a}_5", "zz5", 1)))
    rows.append((100, rows[0][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pair_count_gate_drops_every_pair_derived_broadcast(
    spark, monkeypatch, hinted_broadcasts
):
    """Under the size gate the verify joins, decontamination's eval
    side and the cleaning anti-join are broadcast-hinted; over it (the
    gate patched to 0) no broadcast is left, and the verified pairs,
    the contamination report and the cleaned corpus are unchanged."""
    from latex_ocr_spark import cachepool
    from latex_ocr_spark.operators import dedup as D

    docs = _near_dup_corpus(spark)
    evalset = docs.filter(F.col("doc_id") < 3).select(
        (-F.col("doc_id") - 1).alias("doc_id"), "text"
    )

    def run():
        pairs = sorted(map(tuple, D.lsh_verified_pairs(docs).collect()))
        report, cleaned = D.decontaminate(docs, evalset)
        out = (pairs, sorted(map(tuple, report.collect())),
               sorted(r.doc_id for r in cleaned.collect()))
        cachepool.release()
        return out

    hinted, n_hinted = hinted_broadcasts(run)
    monkeypatch.setattr(D, "_BROADCAST_ROW_LIMIT", 0)
    unhinted, n_unhinted = hinted_broadcasts(run)
    assert hinted[0] and hinted[1]  # the planted pairs are found
    assert unhinted == hinted
    assert n_hinted >= 3 and n_unhinted == 0, (n_hinted, n_unhinted)
