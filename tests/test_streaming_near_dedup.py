"""Streaming near-dup dedup (streaming/near_dedup.py): incremental
MinHash-LSH with a durable survivor index — in-batch clusters collapse
to their canonical, later batches drop docs near-duplicating ANY
earlier survivor, replays are exactly-once, and with monotonic ids +
clique-shaped clusters the survivor set equals the batch pipeline's."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark import cachepool
from latex_ocr_spark.paths import REPO_ROOT
from latex_ocr_spark.streaming.near_dedup import start_near_dedup_stream
from latex_ocr_spark.streaming.sinks import read_stream_output


@pytest.fixture
def dirs():
    d = tempfile.mkdtemp(prefix="stream_neardup_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _text(i):
    return f"na{i} nb{i*3} nc{i*7} nd{i*11} ne{i*13}"


def _batch1(spark):
    rows = [(i, _text(i)) for i in range(20)]
    rows.append((100, _text(5).replace("nb15", "xb15")))  # near-dup of 5
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch2(spark):
    rows = [(200 + i, _text(200 + i)) for i in range(10)]
    rows.append((300, _text(3).replace("nc21", "xc21")))  # near-dup of 3
    rows.append((301, _text(7)))                          # exact copy of 7
    return spark.createDataFrame(rows, "doc_id long, text string")


KW = dict(threshold=0.5, ngram=1, num_hashes=8, band_size=2)


def _run(spark, dirs, **kw):
    q = start_near_dedup_stream(
        spark, f"{dirs}/in", f"{dirs}/out", f"{dirs}/index", f"{dirs}/ckpt",
        **{**KW, **kw},
    )
    q.awaitTermination(180)


def test_in_batch_and_cross_batch_near_dups_dropped(spark, dirs):
    b1, b2 = _batch1(spark), _batch2(spark)
    b1.write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    got1 = sorted(r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect())
    assert got1 == sorted(range(20))  # 100 collapsed onto canonical 5
    cachepool.release()

    # catch-up over new files only; history check spans batches
    b2.write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    got2 = sorted(r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect())
    expect = sorted(list(range(20)) + [200 + i for i in range(10)])
    assert got2 == expect  # 300 (near-dup of 3) and 301 (copy of 7) dropped
    cachepool.release()

    # with monotonic ids and clique clusters, streaming == the batch
    # pipeline over the full concatenation
    from latex_ocr_spark.operators.dedup import (
        duplicate_clusters,
        lsh_verified_pairs,
    )

    union = b1.unionByName(b2)
    pairs = lsh_verified_pairs(union, **KW)
    non_canon = duplicate_clusters(pairs).filter(
        F.col("id") != F.col("cluster_id")
    ).select(F.col("id").alias("doc_id"))
    batch_survivors = sorted(
        r.doc_id for r in union.join(non_canon, "doc_id", "left_anti").collect()
    )
    assert got2 == batch_survivors
    cachepool.release()

    # the index holds exactly the survivors' signatures
    idx_ids = sorted(
        r.id
        for r in spark.read.parquet(f"{dirs}/index/signatures")
        .select("id").distinct().collect()
    )
    assert idx_ids == expect


def test_stream_over_the_size_gates_broadcasts_nothing(
    spark, dirs, monkeypatch, hinted_broadcasts
):
    """Over both dedup size gates (patched to 0) no micro-batch
    broadcast-hints a batch- or pair-derived frame — the in-batch
    verify, the history check and the index writes included — and the
    survivors are those of the hinted stream."""
    from latex_ocr_spark.operators import dedup as D

    monkeypatch.setattr(D, "_BROADCAST_ROW_LIMIT", 0)
    monkeypatch.setattr(D, "_UNION_FIND_MAX_PAIRS", 0)

    def run(batch):
        batch.write.mode("append").parquet(f"{dirs}/in")
        _run(spark, dirs)
        got = sorted(r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect())
        cachepool.release()
        return got

    got1, n1 = hinted_broadcasts(lambda: run(_batch1(spark)))
    got2, n2 = hinted_broadcasts(lambda: run(_batch2(spark)))
    assert got1 == sorted(range(20))
    assert got2 == sorted(list(range(20)) + [200 + i for i in range(10)])
    assert n1 == 0 and n2 == 0, (n1, n2)


def test_batch_with_history_is_profiled_once(spark, dirs, monkeypatch):
    """A micro-batch that runs the history check profiles the batch
    once: that one profile is the check's eval side.  The survivors and
    the batch's index rows are unchanged — exactly the batch operator's
    profile of the survivors."""
    from latex_ocr_spark.operators import dedup as D

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()

    calls, real = [], D.minhash_signatures

    def counting(*a, **kw):
        calls.append(kw)
        return real(*a, **kw)

    monkeypatch.setattr(D, "minhash_signatures", counting)
    b2 = _batch2(spark)
    b2.write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    assert len(calls) == 1, calls
    monkeypatch.undo()

    new_ids = [200 + i for i in range(10)]
    got = sorted(r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect())
    assert got == sorted(list(range(20)) + new_ids)
    last = F.col("batch_id") == spark.read.parquet(f"{dirs}/index/signatures").agg(
        F.max("batch_id")
    ).first()[0]
    want = D.minhash_signatures(
        b2.filter(F.col("doc_id").isin(new_ids)), KW["num_hashes"],
        ngram=KW["ngram"], include_size=True, include_shingles=True,
    ).collect()
    sig = spark.read.parquet(f"{dirs}/index/signatures").filter(last).drop("batch_id")
    sh = spark.read.parquet(f"{dirs}/index/shingles").filter(last).drop("batch_id")
    assert sorted(map(tuple, sig.collect())) == sorted(
        tuple(r[c] for c in sig.columns) for r in want
    )
    assert sorted((r.id, tuple(r.shingles)) for r in sh.collect()) == sorted(
        (r.id, tuple(r.shingles)) for r in want
    )
    cachepool.release()


def test_replayed_batch_keeps_survivors_exactly_once(spark, dirs):
    """THE replay hazard for an index-building stream: a replayed batch
    must neither duplicate its output nor see its own partial index
    rows (which would flag every doc as a self-duplicate and replace
    the output with an empty partition — silent data loss)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    q = start_near_dedup_stream(
        spark, f"{dirs}/in", f"{dirs}/out", f"{dirs}/index", f"{dirs}/ckpt",
        _fail_batches={0}, **KW,
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(180)
    # the first attempt's writes landed (index now holds batch 0 rows)
    assert read_stream_output(spark, f"{dirs}/out").count() == 20
    cachepool.release()

    _run(spark, dirs)  # replay batch 0
    got = sorted(r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect())
    assert got == sorted(range(20))  # not empty, not duplicated
    idx = spark.read.parquet(f"{dirs}/index/signatures").select("id").collect()
    assert len(idx) == len({r.id for r in idx}) == 20
    cachepool.release()


def test_compact_after_crash_keeps_pending_replay_exact(spark, dirs):
    """The r6-review data-loss window: a stream crashes AFTER a batch's
    writes but BEFORE its checkpoint commit (the flock lease
    auto-releases, so maintenance is reachable), compaction runs, then
    the stream replays the batch.  The crashed batch's partial rows
    must NOT be folded into batch_id=-1 — under -1 they escape the
    replay's ``batch_id != N`` self-exclusion, every replayed doc
    matches its own previous attempt at jaccard 1.0, and the batch's
    output partition is idempotently overwritten empty.  compact_index
    keeps the newest real batch under its own id, so the replay
    overwrites it and the output survives."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from latex_ocr_spark.streaming.near_dedup import compact_index

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)  # batch 0 commits cleanly
    cachepool.release()

    _batch2(spark).write.mode("append").parquet(f"{dirs}/in")
    q = start_near_dedup_stream(
        spark, f"{dirs}/in", f"{dirs}/out", f"{dirs}/index", f"{dirs}/ckpt",
        _fail_batches={1}, **KW,
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(180)
    cachepool.release()

    # maintenance between crash and replay: batch 1 (uncommitted) must
    # survive under its own id, batch 0 folds into -1
    compact_index(spark, f"{dirs}/index", num_partitions=2)
    import glob

    parts = sorted(
        p.split("=")[-1] for p in glob.glob(f"{dirs}/index/signatures/batch_id=*")
    )
    assert parts == ["-1", "1"]

    _run(spark, dirs)  # replay batch 1
    got = sorted(r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect())
    assert got == sorted(list(range(20)) + [200 + i for i in range(10)])
    idx = spark.read.parquet(f"{dirs}/index/signatures").select("id").collect()
    assert len(idx) == len({r.id for r in idx}) == 30  # no duplicate index rows
    cachepool.release()


def test_index_config_fingerprint_refuses_knob_drift(spark, dirs):
    """A survivor index built under one similarity config must refuse a
    restart under another — comparing 2-gram batch shingles against a
    3-gram index would silently admit every near-dup of history.  The
    on-disk layout is part of the config: an index fingerprinted
    without it (the exploded (id, shingle) layout, 4-key _meta) is
    refused the same way, even under identical knobs."""
    import json

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    with pytest.raises(RuntimeError, match="different knobs"):
        start_near_dedup_stream(
            spark, f"{dirs}/in", f"{dirs}/out", f"{dirs}/index",
            f"{dirs}/ckpt", **{**KW, "ngram": 2},
        )
    cachepool.release()
    old_layout = json.dumps(
        {"threshold": 0.5, "num_hashes": 8, "band_size": 2, "ngram": 1},
        sort_keys=True,
    )
    spark.createDataFrame([(old_layout,)], "cfg string").coalesce(1).write.mode(
        "overwrite"
    ).text(f"{dirs}/index/_meta")
    with pytest.raises(RuntimeError, match="different knobs"):
        start_near_dedup_stream(
            spark, f"{dirs}/in", f"{dirs}/out", f"{dirs}/index",
            f"{dirs}/ckpt", **KW,
        )
    cachepool.release()


def test_index_compaction_preserves_dedup_behavior(spark, dirs):
    """compact_index folds all-but-the-newest batch partitions into
    batch_id=-1, drops duplicate rows, and keeps the NEWEST real batch
    under its own id (the only possibly-uncommitted one — folding it
    would break a pending replay's self-exclusion; see the r6 review).
    Compacted history still suppresses later near-dups exactly as
    before — through the -1 partition AND the kept partition."""
    import glob

    from latex_ocr_spark.streaming.near_dedup import compact_index

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    _batch2(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()

    stats = compact_index(spark, f"{dirs}/index", num_partitions=2)
    # batch 0 (20 survivors) folded into -1; batch 1 (10 survivors) kept;
    # one shingle-array row per survivor, like the signature table
    assert stats["shingles"] == stats["signatures"] == 30
    parts = glob.glob(f"{dirs}/index/signatures/batch_id=*")
    assert sorted(p.split("=")[-1] for p in parts) == ["-1", "1"]
    # idempotent: compacting again changes nothing
    assert compact_index(spark, f"{dirs}/index", num_partitions=2) == stats

    # history checks still work over the compacted index — a copy of a
    # FOLDED survivor (7 → -1) and of a KEPT survivor (205 → batch 1)
    # are both dropped; the fresh doc is admitted
    spark.createDataFrame(
        [(600, _text(7)), (601, _text(205)), (602, _text(888))],
        "doc_id long, text string",
    ).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    got = sorted(r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect())
    assert got == sorted(list(range(20)) + [200 + i for i in range(10)] + [602])
    cachepool.release()


def test_compaction_crash_windows_never_lose_the_index(spark, dirs):
    """Every crash point inside compact_index's rename-aside swap must
    leave a recoverable state: the original swap (rmtree then move) had
    a no-table window that the stream's 'missing index = no history
    yet' read would treat as an EMPTY index — permanently admitting
    near-dups of every pre-compaction survivor."""
    import os
    import shutil as sh

    from latex_ocr_spark.streaming.near_dedup import (
        compact_index,
        recover_compaction,
    )

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    idx = f"{dirs}/index"
    sig, bak, staging = (
        f"{idx}/signatures", f"{idx}/_bak_signatures", f"{idx}/_compact_signatures"
    )

    # window A: crash right after move(table, bak) — table missing,
    # bak + complete staging present.  Recovery finishes the swap.
    sh.copytree(sig, staging)  # stands in for the staged compacted copy
    sh.move(sig, bak)
    assert not os.path.exists(sig)
    actions = recover_compaction(idx)
    assert any("finished interrupted swap" in a for a in actions)
    assert os.path.exists(sig) and not os.path.exists(bak)
    assert spark.read.parquet(sig).select("id").distinct().count() == 20

    # window B: crash after move(staging, table), before rm(bak) —
    # both present.  Recovery drops the bak.
    sh.copytree(sig, bak)
    actions = recover_compaction(idx)
    assert any("completed-swap bak" in a for a in actions)
    assert os.path.exists(sig) and not os.path.exists(bak)

    # window C: crash before any rename — stale staging only.
    sh.copytree(sig, staging)
    actions = recover_compaction(idx)
    assert any("stale staging" in a for a in actions)
    assert not os.path.exists(staging)

    # compact_index itself recovers residue first, then compacts
    sh.copytree(sig, staging)
    stats = compact_index(spark, idx, num_partitions=2)
    assert stats["signatures"] == 20
    cachepool.release()

    # degenerate: bak present, table AND staging both gone (manual
    # damage) — recovery rolls the bak back
    sh.move(sig, bak)
    actions = recover_compaction(idx)
    assert any("rolled back" in a for a in actions)
    assert os.path.exists(sig)


def test_stream_refuses_half_index_and_swap_residue(spark, dirs):
    """Exactly one of shingles/signatures existing is NEVER 'no history
    yet' (batches write both together) — the stream must fail loudly
    instead of skipping the all-history check; likewise for leftover
    compaction residue."""
    import os
    import shutil as sh

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    idx = f"{dirs}/index"

    sh.copytree(f"{idx}/signatures", f"{idx}/_bak_signatures")
    with pytest.raises(RuntimeError, match="swap residue"):
        start_near_dedup_stream(
            spark, f"{dirs}/in", f"{dirs}/out", idx, f"{dirs}/ckpt", **KW
        )
    sh.rmtree(f"{idx}/_bak_signatures")

    sh.rmtree(f"{idx}/signatures")
    assert os.path.exists(f"{idx}/shingles")
    with pytest.raises(RuntimeError, match="half-present"):
        start_near_dedup_stream(
            spark, f"{dirs}/in", f"{dirs}/out", idx, f"{dirs}/ckpt", **KW
        )


def test_prune_index_admits_only_near_dups_of_pruned_survivors(spark, dirs):
    """Retention contract: after pruning old batches from the survivor
    index, a later batch admits near-dups of PRUNED survivors (their
    witnesses are gone — the documented recall tradeoff) while near-dups
    of retained survivors are still dropped; already-accepted output is
    untouched."""
    import os

    from latex_ocr_spark.streaming.near_dedup import (
        list_index_batches,
        prune_index,
    )

    # batch 0: docs 0..19 (+near-dup 100 of 5, collapsed in-batch)
    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    # batch 1: docs 200..209 (+2 dups of batch-0 docs, dropped)
    _batch2(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    assert list_index_batches(f"{dirs}/index") == [0, 1]

    # forget batch 0's history
    got = prune_index(spark, f"{dirs}/index", min_batch_id=1)
    assert got == {"pruned": [0], "kept": [1]}
    assert not os.path.isdir(f"{dirs}/index/signatures/batch_id=0")
    assert os.path.isdir(f"{dirs}/index/signatures/batch_id=1")
    # idempotent
    assert prune_index(spark, f"{dirs}/index", min_batch_id=1) == {
        "pruned": [], "kept": [1],
    }

    # batch 2: one near-dup of PRUNED batch-0 survivor 4 (admitted —
    # an EXACT copy, so its only possible witness is the pruned one),
    # one near-dup of RETAINED batch-1 survivor 203 (dropped; J=5/6 —
    # high enough that the 4-band LSH catch probability is ~0.99, the
    # J=0.67 variant genuinely missed banding once),
    # one fresh doc (admitted)
    rows = [
        (500, _text(4)),
        (501, _text(203) + " extra501"),
        (502, _text(999)),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "append"
    ).parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    got_ids = sorted(
        r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect()
    )
    prior = sorted(list(range(20)) + [200 + i for i in range(10)])
    assert got_ids == sorted(prior + [500, 502])  # 501 dropped, 500 admitted

    # guards: both-or-neither selector, n>=1, never empty the index
    with pytest.raises(ValueError, match="exactly one"):
        prune_index(spark, f"{dirs}/index")
    with pytest.raises(ValueError, match="keep_last_n"):
        prune_index(spark, f"{dirs}/index", keep_last_n=0)
    with pytest.raises(RuntimeError, match="EMPTY index"):
        prune_index(spark, f"{dirs}/index", min_batch_id=10_000)


def test_prune_keep_last_n_and_compacted_partition_survives(spark, dirs):
    """keep_last_n retention; the batch_id=-1 compaction partition is
    never pruned (it is folded history, not a batch), and pruning every
    real batch is allowed once a -1 partition exists to carry history."""
    from latex_ocr_spark.streaming.near_dedup import (
        compact_index,
        list_index_batches,
        prune_index,
    )

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    _batch2(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    # batch 0 folds into -1; batch 1 (newest) keeps its own partition
    compact_index(spark, f"{dirs}/index", num_partitions=2)
    spark.createDataFrame(
        [(500 + i, _text(500 + i)) for i in range(4)], "doc_id long, text string"
    ).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    assert list_index_batches(f"{dirs}/index") == [1, 2]

    got = prune_index(spark, f"{dirs}/index", keep_last_n=1)
    assert got == {"pruned": [1], "kept": [2]}
    # pruning ALL real batches is legal with a -1 partition present
    got = prune_index(spark, f"{dirs}/index", min_batch_id=10_000)
    assert got == {"pruned": [2], "kept": []}
    import glob

    assert glob.glob(f"{dirs}/index/signatures/batch_id=*") == [
        f"{dirs}/index/signatures/batch_id=-1"
    ]
    # compacted history still suppresses: a copy of doc 7 is dropped
    spark.createDataFrame(
        [(600, _text(7)), (601, _text(777))], "doc_id long, text string"
    ).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    got_ids = sorted(
        r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect()
    )
    assert 600 not in got_ids and 601 in got_ids


def test_index_maintenance_cli(spark, dirs):
    """The maintenance job drives compact/prune/recover end-to-end via
    its CLI (the operational form: retention policy as a reviewed,
    re-runnable command line, never notebook state)."""
    import json as J
    import subprocess
    import sys as _sys

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    _batch2(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()

    def job(*argv):
        r = subprocess.run(
            [_sys.executable, f"{REPO_ROOT}/jobs/index_maintenance_job.py",
             "--index", f"{dirs}/index", "--cores", "4", *argv],
            capture_output=True, text=True, timeout=280,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return J.loads(r.stdout.strip().splitlines()[-1])

    out = job("prune", "--keep-last-n", "1")
    assert out["prune"] == {"pruned": [0], "kept": [1]}
    out = job("compact", "--num-partitions", "2")
    assert out["compact"]["signatures"] == 10  # batch 1's survivors
    # the newest real batch is kept under its own id (replay safety);
    # with batch 0 pruned there is nothing to fold into -1
    assert out["batches"] == [1]
    out = job("recover")  # clean index: nothing to do
    assert out == {"recover": []}


def test_index_maintenance_is_single_writer(spark, dirs):
    """compact/prune hold a maintenance lease on the index dir — two
    concurrent maintenance runs would stage/swap/delete the same
    paths.  A live holder is refused loudly; a dead holder's lease is
    broken (same semantics as the funnel's CheckpointLease, shared
    DirLease mechanics)."""
    import json as J
    import os
    import socket

    from latex_ocr_spark.lease import DirLease
    from latex_ocr_spark.streaming.near_dedup import compact_index, prune_index

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    idx = f"{dirs}/index"

    held = DirLease(idx, name="_maintenance_lock", role="index maintenance")
    held.acquire()
    with pytest.raises(RuntimeError, match="leased to a running index maintenance"):
        compact_index(spark, idx, num_partitions=2)
    with pytest.raises(RuntimeError, match="leased to a running index maintenance"):
        prune_index(spark, idx, keep_last_n=1)
    held.release()

    # a dead holder (pid gone, same host) is broken automatically
    with open(f"{idx}/_maintenance_lock", "w") as f:
        J.dump({"pid": 2**22 + 1234, "host": socket.gethostname(),
                "started": 0, "role": "index maintenance"}, f)
    stats = compact_index(spark, idx, num_partitions=2)
    assert stats["signatures"] == 20
    assert not os.path.exists(f"{idx}/_maintenance_lock")  # released


def test_stream_refuses_index_under_live_maintenance(spark, dirs):
    """The offline-maintenance contract, enforced both ways: the
    stream must not start over an index whose maintenance lease has a
    LIVE owner (mid-swap/mid-prune reads are torn state); a dead
    owner's leftover lock does not block the stream."""
    import json as J
    import os
    import socket

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    mlock = f"{dirs}/index/_maintenance_lock"

    with open(mlock, "w") as f:
        J.dump({"pid": os.getpid(), "host": socket.gethostname(),
                "started": 0, "role": "index maintenance"}, f)
    with pytest.raises(RuntimeError, match="under maintenance"):
        start_near_dedup_stream(
            spark, f"{dirs}/in", f"{dirs}/out", f"{dirs}/index",
            f"{dirs}/ckpt", **KW,
        )

    # a verifiably dead holder does not block (lock left for the next
    # maintenance run to clean — the stream never deletes it)
    with open(mlock, "w") as f:
        J.dump({"pid": 2**22 + 4321, "host": socket.gethostname(),
                "started": 0, "role": "index maintenance"}, f)
    _batch2(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    assert os.path.exists(mlock)
    got = sorted(r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect())
    assert got == sorted(list(range(20)) + [200 + i for i in range(10)])
    cachepool.release()


def test_prune_rerun_finishes_half_pruned_batch(spark, dirs):
    """Crash-idempotency of prune: the signatures-first delete can die
    before the shingle delete; a re-run must still see the half-pruned
    batch (union listing across BOTH tables) and remove its orphaned
    shingle partitions — otherwise the retention policy leaks exactly
    the data it pruned, and a later compaction folds the orphans into
    the -1 partition as permanent garbage."""
    import os
    import shutil as sh

    from latex_ocr_spark.streaming.near_dedup import (
        list_index_batches,
        prune_index,
    )

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    _batch2(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    idx = f"{dirs}/index"

    # simulate the mid-prune crash window: signatures of batch 0
    # deleted, shingles left behind
    sh.rmtree(f"{idx}/signatures/batch_id=0")
    assert os.path.isdir(f"{idx}/shingles/batch_id=0")
    assert list_index_batches(idx) == [0, 1]  # union sees the orphan

    got = prune_index(spark, idx, min_batch_id=1)
    assert got == {"pruned": [0], "kept": [1]}
    assert not os.path.isdir(f"{idx}/shingles/batch_id=0")


def test_maintenance_refuses_live_stream_lease(spark, dirs):
    """The fence's other direction: compact/prune must refuse while a
    stream holds the index's stream lease (swapping tables under a
    live reader is torn state)."""
    from latex_ocr_spark.lease import DirLease
    from latex_ocr_spark.streaming.near_dedup import _refuse_live_stream

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    idx = f"{dirs}/index"

    # retry absorbs the just-terminated stream's asynchronous release
    held = DirLease(idx, name="_stream_lock", role="near-dedup stream").acquire(
        retry_seconds=10
    )
    with pytest.raises(RuntimeError, match="stream is live"):
        _refuse_live_stream(idx, "compact", grace_seconds=0.3)
    held.release()
    _refuse_live_stream(idx, "compact", grace_seconds=0.3)  # free: no-op


def test_stream_lease_held_during_run_released_after(spark, dirs):
    """The stream takes the index stream-lease for the query's
    lifetime and a termination listener releases it — sequential runs
    re-acquire (bounded retry absorbs the async release)."""
    import os

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    # released (possibly asynchronously) after termination
    import time

    deadline = time.monotonic() + 10
    while os.path.exists(f"{dirs}/index/_stream_lock"):
        assert time.monotonic() < deadline, "stream lease never released"
        time.sleep(0.2)
    # and a second run re-acquires without manual cleanup
    _batch2(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()


def test_maintenance_rejects_object_store_paths():
    """The local-fs maintenance ops must reject URI-scheme paths
    loudly — os.listdir('s3://…') silently sees nothing, which would
    make prune report success while the index grows forever."""
    from latex_ocr_spark.lease import DirLease
    from latex_ocr_spark.streaming.near_dedup import (
        prune_index,
        recover_compaction,
    )

    with pytest.raises(NotImplementedError, match="local/POSIX"):
        recover_compaction("s3://bucket/neardup_index")
    with pytest.raises(NotImplementedError, match="local/POSIX"):
        prune_index(None, "s3://bucket/neardup_index", keep_last_n=1)
    with pytest.raises(NotImplementedError, match="local/POSIX"):
        DirLease("hdfs://nn/checkpoints/run1")


def test_near_dedup_stream_job_cli(spark, dirs):
    """The spark-submit entry point for the streaming near-dedup:
    synth → process-available → exit; re-run catches up on new files
    only; --auto-knobs derives from the input survey on a fresh index
    and ADOPTS the index _meta knobs on restart (re-deriving over a
    grown corpus would drift the fingerprint and refuse)."""
    import json as J
    import subprocess
    import sys as _sys

    def job(*argv):
        r = subprocess.run(
            [_sys.executable, f"{REPO_ROOT}/jobs/near_dedup_job.py",
             "--input", f"{dirs}/in", "--output", f"{dirs}/out",
             "--index", f"{dirs}/index", "--checkpoint", f"{dirs}/ckpt",
             "--cores", "4", "--ngram", "1", *argv],
            capture_output=True, text=True, timeout=280,
        )
        assert r.returncode == 0, r.stderr[-3000:]
        return J.loads(r.stdout.strip().splitlines()[-1])

    out = job("--synth", "30", "--auto-knobs")
    assert out["accepted"] == 30
    assert out["auto_knobs"]["_source"] == "input survey (fresh index)"
    # S-curve derivation applied on the fresh index
    assert out["auto_knobs"]["num_hashes"] > 0
    assert out["index_batches"] == [0]
    knobs1 = {k: out["auto_knobs"].get(k) for k in ("num_hashes", "band_size")}

    # second run: one exact dup of doc 7 + one new doc arrive
    _batch = spark.createDataFrame(
        [(900, "sa7 sb21 sc49 sd77 se91"), (901, "zz1 zz2 zz3 zz4 zz5")],
        "doc_id long, text string",
    )
    _batch.write.mode("append").parquet(f"{dirs}/in")
    out2 = job("--auto-knobs")
    # restart adopts _meta: same knobs, labeled as such, and the
    # duplicate of history is dropped while the new doc is accepted
    assert "index _meta" in out2["auto_knobs"]["_source"]
    assert {k: out2["auto_knobs"].get(k) for k in knobs1} == knobs1
    assert out2["accepted"] == 31
    assert out2["index_batches"] == [0, 1]


def test_stream_job_first_run_with_empty_input_reports_zero(spark, dirs):
    """The documented cron shape's first firing can precede any
    producer: zero batches, no output dir — the job must print
    accepted=0 (not crash on a PATH_NOT_FOUND read), keep defaults
    under --auto-knobs with a note, and NOT let the data-less first
    firing's _meta fingerprint pin defaults forever: the first run
    with real data still derives from the survey."""
    import json as J
    import os
    import subprocess
    import sys as _sys

    def job(*argv):
        r = subprocess.run(
            [_sys.executable, f"{REPO_ROOT}/jobs/near_dedup_job.py",
             "--input", f"{dirs}/in", "--output", f"{dirs}/out",
             "--index", f"{dirs}/index", "--checkpoint", f"{dirs}/ckpt",
             "--cores", "4", "--ngram", "1", *argv],
            capture_output=True, text=True, timeout=280,
        )
        assert r.returncode == 0, r.stderr[-3000:]
        return J.loads(r.stdout.strip().splitlines()[-1])

    os.makedirs(f"{dirs}/in", exist_ok=True)  # dir exists, no files
    out = job("--auto-knobs")
    assert out["accepted"] == 0
    assert "no input yet" in out["auto_knobs"]["_note"]

    # real data arrives: the empty firing's fingerprint (no indexed
    # data behind it) is dropped and the survey derivation runs
    out = job("--synth", "12", "--auto-knobs")
    assert out["accepted"] == 12
    assert out["auto_knobs"]["_source"] == "input survey (fresh index)"
    assert out["auto_knobs"]["num_hashes"] > 0


def test_probe_treats_payloadless_lock_as_free(spark, dirs):
    """A lock file with no payload (crash between create and write, or
    caught mid-release) must probe as 'free' — reporting it as an
    unverifiable remote holder would block stream starts forever on a
    file DirLease.acquire would happily self-heal."""
    import os

    from latex_ocr_spark.lease import probe

    os.makedirs(f"{dirs}/idx", exist_ok=True)
    open(f"{dirs}/idx/_maintenance_lock", "w").close()  # empty file
    state, holder = probe(f"{dirs}/idx", "_maintenance_lock")
    assert state == "free"


def test_stream_lease_acquired_before_checks(spark, dirs):
    """Acquire-then-check: the stream takes its lease BEFORE the
    maintenance probe and sanity checks, so maintenance starting
    mid-checks sees the stream lease and refuses — and a stream
    refused by any check releases the lease on the way out."""
    import os
    import shutil as sh

    from latex_ocr_spark.streaming.near_dedup import _refuse_live_stream

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    idx = f"{dirs}/index"

    # make the stream fail a POST-lease check (swap residue), then
    # verify the lease did not leak
    sh.copytree(f"{idx}/signatures", f"{idx}/_bak_signatures")
    with pytest.raises(RuntimeError, match="swap residue"):
        start_near_dedup_stream(
            spark, f"{dirs}/in", f"{dirs}/out", idx, f"{dirs}/ckpt", **KW
        )
    assert not os.path.exists(f"{idx}/_stream_lock")
    sh.rmtree(f"{idx}/_bak_signatures")
    _refuse_live_stream(idx, "compact", grace_seconds=0.3)  # free again


def test_streaming_lifecycle_model_fuzz(spark, dirs):
    """Model-based fuzz of the full stream + maintenance lifecycle:
    random batches (new docs, exact copies of history, in-batch dup
    pairs) interleaved with compact/prune, checked after every step
    against a pure-Python model of the documented semantics —
    first-seen survivor policy, compaction folding history into -1,
    pruning forgetting (only) the pruned batches' witnesses.  Exact
    copies only, so the dedup decision is deterministic (J=1 pairs
    always collide in every band) and the model is exact."""
    import random

    from latex_ocr_spark.streaming.near_dedup import compact_index, prune_index

    rng = random.Random(7)
    kw = dict(threshold=0.5, ngram=1, num_hashes=8, band_size=2)

    model_index = {}  # batch_id (or -1) -> set of retained texts
    expected_output = set()  # doc_ids ever accepted
    texts_accepted = []  # texts of accepted docs (for copy sampling)
    next_id, batch_no = 0, 0

    def fresh_text():
        nonlocal next_id
        i = next_id  # ids double as text seeds: all texts distinct
        return f"fa{i} fb{i*3} fc{i*7} fd{i*11} fe{i*13}"

    for _step in range(14):
        op = rng.choices(["batch", "compact", "prune"], [0.6, 0.2, 0.2])[0]
        if op == "batch":
            rows = []
            batch_texts = []
            for _ in range(rng.randint(2, 6)):
                kind = rng.random()
                if kind < 0.5 or not texts_accepted:
                    t = fresh_text()
                elif kind < 0.8:
                    t = rng.choice(texts_accepted)  # copy of history
                elif batch_texts:
                    t = rng.choice(batch_texts)  # in-batch dup
                else:
                    t = fresh_text()
                rows.append((next_id, t))
                batch_texts.append(t)
                next_id += 1
            spark.createDataFrame(rows, "doc_id long, text string").write.mode(
                "append"
            ).parquet(f"{dirs}/in")
            _run(spark, dirs, **kw)
            cachepool.release()

            retained_texts = set().union(*model_index.values()) if model_index else set()
            admitted = set()
            seen_in_batch = set()
            for doc_id, t in rows:  # ids ascend: first row = canonical
                if t in retained_texts or t in seen_in_batch:
                    continue
                seen_in_batch.add(t)
                admitted.add(doc_id)
                expected_output.add(doc_id)
                texts_accepted.append(t)
            model_index[batch_no] = {t for d, t in rows if d in admitted}
            batch_no += 1
        elif op == "compact":
            if not model_index:
                continue
            compact_index(spark, f"{dirs}/index", num_partitions=2)
            # all-but-the-newest real batch (and any prior -1) fold
            # into -1; the newest real batch keeps its own partition
            # (replay safety — mirrors _compact_index_locked)
            real = sorted(b for b in model_index if b >= 0)
            if real:
                keep = real[-1]
                folded = set().union(
                    *(v for b, v in model_index.items() if b != keep)
                ) if len(model_index) > 1 else set()
                new_model = {keep: model_index[keep]}
                if folded:
                    new_model[-1] = folded
                model_index = new_model
            # only a -1 partition present: folding it is a no-op
        else:
            real = sorted(b for b in model_index if b >= 0)
            if not real:
                continue
            k = rng.randint(1, len(real))
            try:
                prune_index(spark, f"{dirs}/index", keep_last_n=k)
            except RuntimeError:
                continue  # would empty the index (no -1): model unchanged
            for b in real[:-k]:
                del model_index[b]

        got = sorted(
            r.doc_id
            for r in read_stream_output(spark, f"{dirs}/out").collect()
        )
        assert got == sorted(expected_output), (
            f"step {_step} ({op}): output diverged from model"
        )
        cachepool.release()


def test_catchup_backlog_is_bounded_into_multiple_batches(spark, dirs):
    """The r7 scale fix (r6 verdict #1): an availableNow catch-up over a
    many-file backlog must drain as a SEQUENCE of bounded micro-batches
    (maxFilesPerTrigger), not one giant broadcast batch — and with the
    batch-side broadcast hints force-dropped (the broadcast gate patched
    to 0, the oversized-batch guard path) the accepted set is identical."""
    import os

    b1 = _batch1(spark)
    # backlog of ~6 parquet files before the first stream run
    b1.repartition(6).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs, max_files_per_trigger=2)
    out = read_stream_output(spark, f"{dirs}/out")
    got = sorted(r.doc_id for r in out.collect())
    assert got == sorted(range(20))  # same survivors as the unbounded run
    # ≥3 distinct micro-batches landed (6 files / 2 per trigger)
    parts = {
        d for d in os.listdir(f"{dirs}/out")
        if d.startswith("batch_id=") and d != "batch_id=-1"
    }
    assert len(parts) >= 3, parts
    cachepool.release()

    # guard path: hints dropped for every batch (gate 0) — results
    # identical, so the oversized-batch degrade is behavior-preserving
    from latex_ocr_spark.operators import dedup as D

    b1.repartition(6).write.mode("append").parquet(f"{dirs}2/in")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(D, "_BROADCAST_ROW_LIMIT", 0)
        q = start_near_dedup_stream(
            spark, f"{dirs}2/in", f"{dirs}2/out", f"{dirs}2/index",
            f"{dirs}2/ckpt", max_files_per_trigger=2, **KW,
        )
        q.awaitTermination(180)
    got2 = sorted(
        r.doc_id for r in read_stream_output(spark, f"{dirs}2/out").collect()
    )
    assert got2 == got
    import shutil as _sh

    _sh.rmtree(f"{dirs}2", ignore_errors=True)
    cachepool.release()


def test_two_batch_drain_runs_within_its_job_budget(spark, dirs):
    """One ``availableNow`` drain of two landed files, one file per
    micro-batch, runs at most 18 Spark jobs in the first batch and 31 in
    the second, which checks its documents against the first batch's
    survivors, counted by listing the status store's jobs per batch as
    the benchmark's trace counts them (32 while the history's existence
    was probed by a schema-inferring read).  A new probe or count job in
    the micro-batch shows up here."""
    import re

    from perfbench.statusstore import StatusReader

    for batch in (_batch1(spark), _batch2(spark)):
        batch.coalesce(1).write.mode("append").parquet(f"{dirs}/in")
    reader = StatusReader(spark)
    mark = reader.marker()
    _run(spark, dirs, max_files_per_trigger=1)
    per_batch = {}
    for job in reader.jobs_since(mark):
        desc = job.description()
        found = re.search(r"batch = (\d+)", desc.get() if desc.isDefined() else "")
        if found:
            per_batch[int(found[1])] = per_batch.get(int(found[1]), 0) + 1
    got = sorted(r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect())
    cachepool.release()
    assert got == sorted(list(range(20)) + [200 + i for i in range(10)])
    assert sorted(per_batch) == [0, 1], per_batch
    assert per_batch[0] <= 18 and per_batch[1] <= 31, per_batch


def test_stream_restarts_after_a_batch_with_nothing_to_index(spark, dirs):
    """A first batch of only NULL, empty and blank texts is accepted but
    leaves both index tables without a file.  The next start must read
    that as a fresh index (not a half-present or unreadable one), and
    compaction must fold it to nothing."""
    from latex_ocr_spark.streaming.near_dedup import compact_index

    spark.createDataFrame(
        [(500, None), (501, ""), (502, "   ")], "doc_id long, text string"
    ).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    cachepool.release()
    assert compact_index(spark, f"{dirs}/index", num_partitions=2) == {
        "shingles": 0, "signatures": 0,
    }

    _batch1(spark).write.mode("append").parquet(f"{dirs}/in")
    _run(spark, dirs)
    got = sorted(r.doc_id for r in read_stream_output(spark, f"{dirs}/out").collect())
    cachepool.release()
    assert got == list(range(20)) + [500, 501, 502]
