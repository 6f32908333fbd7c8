"""Sequence packing invariants: complete coverage, budget never
exceeded, offsets contiguous per pack, determinism, FFD efficiency,
oversize quarantine."""

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.operators.packing import pack_sequences, pack_stats

BUDGET = 512


def _docs(spark, n=400, seed_mod=97):
    return spark.range(n).selectExpr(
        "id AS doc_id",
        f"CAST(1 + (id * 37) % {seed_mod} + (id % 7) * 53 AS LONG) AS n_tokens",
    )


def test_packing_invariants(spark):
    docs = _docs(spark)
    packed = pack_sequences(docs, BUDGET, num_partitions=8)
    rows = packed.collect()
    assert len(rows) == 400 and all(r.pack_id is not None for r in rows)

    by_pack = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pid, members in by_pack.items():
        used = sum(r.n_tokens for r in members)
        assert used <= BUDGET, (pid, used)
        # offsets tile the pack contiguously from 0
        spans = sorted((r.pack_offset, r.pack_offset + r.n_tokens) for r in members)
        assert spans[0][0] == 0
        for (a0, a1), (b0, _b1) in zip(spans, spans[1:]):
            assert a1 == b0, (pid, spans)

    stats = {r.pack_id: r for r in pack_stats(packed, BUDGET).collect()}
    assert set(stats) == set(by_pack)
    # FFD bound: while >1 pack exists in a partition, average fill is
    # decent — assert a conservative global floor
    fills = [r.fill_ratio for r in stats.values()]
    assert sum(fills) / len(fills) > 0.6, fills


def test_packing_is_deterministic(spark):
    docs = _docs(spark)
    a = sorted(
        (r.doc_id, r.pack_id, r.pack_offset)
        for r in pack_sequences(docs, BUDGET, num_partitions=8).collect()
    )
    b = sorted(
        (r.doc_id, r.pack_id, r.pack_offset)
        for r in pack_sequences(docs, BUDGET, num_partitions=8).collect()
    )
    assert a == b


def test_packing_quarantines_oversize_rows(spark):
    docs = spark.createDataFrame(
        [(0, 100), (1, BUDGET + 1), (2, BUDGET), (3, 50)],
        "doc_id long, n_tokens long",
    )
    rows = {r.doc_id: r for r in pack_sequences(docs, BUDGET).collect()}
    assert rows[1].pack_id is None and "exceeds budget" in rows[1].pack_error
    assert rows[2].pack_id is not None  # exactly-at-budget fits
    assert all(rows[i].pack_error is None for i in (0, 2, 3))

    with pytest.raises(ValueError):
        pack_sequences(docs, 0)


def test_packing_plan_has_single_exchange(spark):
    docs = _docs(spark)
    plan = (
        pack_sequences(docs, BUDGET, num_partitions=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1  # the range repartition, nothing else


def test_first_fit_bins_match_linear_scan_reference():
    """The segment-tree packer must be byte-identical to the textbook
    linear first-fit scan it replaced (leftmost open bin that fits) —
    on decreasing feeds (the operator's FFD order) and adversarial
    non-monotone feeds alike."""
    import random

    from latex_ocr_spark.operators.packing import _FirstFitBins

    def linear_reference(tokens, budget):
        bins, out = [], []
        for tok in tokens:
            for k, used in enumerate(bins):
                if used + tok <= budget:
                    out.append((k, used))
                    bins[k] += tok
                    break
            else:
                bins.append(tok)
                out.append((len(bins) - 1, 0))
        return out

    rng = random.Random(7)
    for trial in range(20):
        budget = rng.choice([64, 100, 512])
        n = rng.randint(1, 400)
        toks = [rng.randint(1, budget) for _ in range(n)]
        if trial % 2:
            toks.sort(reverse=True)  # the operator's actual feed order
        ff = _FirstFitBins(budget)
        got = [ff.place(t) for t in toks]
        assert got == linear_reference(toks, budget), (trial, budget)
        assert ff.used == [
            sum(t for t, (k, _o) in zip(toks, got) if k == b)
            for b in range(len(ff.used))
        ]


def test_first_fit_bins_bounded_on_pathological_partition():
    """The r3 verdict's named pathology: a partition whose every row
    closes a bin (50k openers then 50k exact-fillers) is quadratic for
    the linear scan (~1.25e9 comparisons; minutes in Python).  The
    segment tree does ~n·log(bins) work — assert the 100k placements
    finish well under a conservative wall bound and produce the exact
    first-fit packing."""
    import time

    from latex_ocr_spark.operators.packing import _FirstFitBins

    budget, half = 100, 50_000
    toks = [51] * half + [49] * half  # decreasing, FFD-ordered
    ff = _FirstFitBins(budget)
    t0 = time.time()
    got = [ff.place(t) for t in toks]
    dt = time.time() - t0
    assert dt < 10.0, f"packing 1e5 pathological rows took {dt:.1f}s"
    # first-fit semantics: opener i owns bin i; filler i tops bin i up
    assert got[:half] == [(k, 0) for k in range(half)]
    assert got[half:] == [(k, 51) for k in range(half)]
    assert all(u == budget for u in ff.used)


def test_packing_quarantines_negative_token_counts(spark):
    """A corrupt upstream count must quarantine the row, not kill the
    task (the segment tree would otherwise descend into an unopened
    leaf) and not shrink a bin (the old linear scan silently placed
    negatives)."""
    docs = spark.createDataFrame(
        [(0, 200), (1, -2), (2, 0), (3, 50), (4, None)],
        "doc_id long, n_tokens long",
    )
    rows = {r.doc_id: r for r in pack_sequences(docs, BUDGET).collect()}
    assert rows[1].pack_id is None and "negative token count" in rows[1].pack_error
    assert rows[4].pack_id is None and "null token count" in rows[4].pack_error
    assert all(rows[i].pack_error is None for i in (0, 2, 3))
    # zero-token rows still pack (harmless, first-fit keeps them)
    assert rows[2].pack_id is not None

    from latex_ocr_spark.operators.packing import _FirstFitBins

    import pytest as _pt
    with _pt.raises(ValueError, match="non-negative"):
        _FirstFitBins(100).place(-5)


def test_grouped_packing_never_mixes_groups_single_pass(spark):
    """group_col (the train/val split): no pack mixes groups, pack_ids
    stay globally unique, per-group assignments equal running the
    ungrouped packer on that group alone — and the plan still has
    exactly one exchange (the whole point vs filter-per-group+union,
    which would scan upstream once per group)."""
    docs = _docs(spark).withColumn(
        "split", F.when(F.col("doc_id") % 5 == 0, "val").otherwise("train")
    )
    packed = pack_sequences(docs, BUDGET, num_partitions=8, group_col="split")
    rows = packed.collect()
    assert len(rows) == 400 and all(r.pack_id is not None for r in rows)

    by_pack = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_pack.values())  # never mixed

    # budget + contiguous offsets hold per pack (same invariants as
    # the ungrouped packer)
    packs = {}
    for r in rows:
        packs.setdefault(r.pack_id, []).append((r.pack_offset, r.n_tokens))
    for members in packs.values():
        members.sort()
        pos = 0
        for off, tok in members:
            assert off == pos
            pos += tok
        assert pos <= BUDGET

    # single exchange: one range repartition, no union-of-branches
    # (post-execution AQE prints Final + Initial sections — scope the
    # count to the final physical plan)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1 and "Union" not in final


def test_grouped_packing_with_one_group_equals_ungrouped(spark):
    """Byte-identical ids/offsets when only one group exists — the
    pack-number counter degrades to the bin index."""
    docs = _docs(spark, n=200).withColumn("split", F.lit("train"))
    grouped = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in pack_sequences(docs, BUDGET, num_partitions=4,
                                group_col="split").collect()
    }
    plain = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in pack_sequences(docs.drop("split"), BUDGET,
                                num_partitions=4).collect()
    }
    assert grouped == plain


def test_grouped_packing_property_fuzz(spark):
    """Property fuzz over random (sizes, groups) corpora: every
    invariant of the grouped packer holds — full coverage, per-group
    pack purity, globally unique contiguous offsets, budget ceiling —
    for any mix of group skew and size distribution."""
    import random

    rng = random.Random(41)
    for trial in range(3):
        budget = rng.choice([64, 257, 1024])
        n = rng.randint(50, 300)
        groups = [f"g{rng.randrange(rng.randint(1, 4))}" for _ in range(n)]
        sizes = [rng.randint(1, budget) for _ in range(n)]
        docs = spark.createDataFrame(
            [(i, sizes[i], groups[i]) for i in range(n)],
            "doc_id long, n_tokens long, grp string",
        )
        rows = pack_sequences(
            docs, budget, num_partitions=rng.choice([1, 3, 8]),
            group_col="grp",
        ).collect()
        assert len(rows) == n and all(r.pack_error is None for r in rows)
        packs = {}
        for r in rows:
            packs.setdefault(r.pack_id, []).append(r)
        for members in packs.values():
            assert len({m.grp for m in members}) == 1, trial
            members.sort(key=lambda m: m.pack_offset)
            pos = 0
            for m in members:
                assert m.pack_offset == pos, trial
                pos += m.n_tokens
            assert pos <= budget, trial


def test_packing_passes_other_columns_through(spark):
    """Arrow pass-through contract of the packer: a wide text column and
    a token-array column, NULLs included, come back unchanged; rows with
    a NULL group pack together as one group of their own."""
    rows = [
        (i, 10 + i, "w" * (5_000 + i) if i % 3 else None,
         None if i % 4 == 1 else [i, None, 7],
         None if i % 5 == 0 else ("train" if i % 2 else "val"))
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, n_tokens long, text string, tokens array<int>, "
        "split string"
    )
    packed = pack_sequences(docs, BUDGET, num_partitions=1, group_col="split")
    assert packed.columns == docs.columns + ["pack_id", "pack_offset", "pack_error"]
    want = {r.doc_id: tuple(r) for r in docs.collect()}
    got = packed.collect()
    assert {r.doc_id: tuple(r)[:5] for r in got} == want
    assert all(r.pack_error is None for r in got)

    groups_by_pack = {}
    for r in got:
        groups_by_pack.setdefault(r.pack_id, set()).add(r.split)
    assert all(len(g) == 1 for g in groups_by_pack.values())
    # the eight NULL-group rows (10+i tokens each) fit one budget
    null_packs = {r.pack_id for r in got if r.split is None}
    assert len(null_packs) == 1
