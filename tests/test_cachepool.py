"""Query-boundary cache ownership (round-2 verdict #3): operators that
persist intermediates (dedup shingles, tf-idf tf, global-id ranges)
register them with cachepool; the queries() wrapper releases them at
the next query boundary, so a many-query session — the driver harness,
bench.py — holds at most one query's caches instead of accumulating
all of them."""

import __spark_entry__ as entrymod

from latex_ocr_spark import cachepool

SF = "/root/testdata/sf0.001"


def _n_cached(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_many_query_session_holds_no_stale_caches(spark):
    spark.catalog.clearCache()
    cachepool.release()
    assert _n_cached(spark)

    qs = entrymod.queries()
    # three of the heaviest persisting queries back-to-back, the way
    # the driver runs them
    for name in ("dedup_lsh_jaccard", "text_tfidf", "w6_line_numbering"):
        rows = qs[name](spark, SF).collect()
        assert rows  # consumed while its own caches are live

    # the wrapper released earlier queries' frames at each boundary;
    # one explicit release drains the last query's
    cachepool.release()
    assert _n_cached(spark), "stale persisted frames survived the session"


def test_release_does_not_desync_global_ids(spark):
    """The ids frame must stay pinned until ITS query's result is
    consumed; releasing it afterwards and re-running must still give
    contiguous 1..N ids (a desync shows up as duplicates/gaps)."""
    qs = entrymod.queries()
    for _run in range(2):
        ids = sorted(r.eq_id for r in qs["w6_line_numbering"](spark, SF).collect())
        assert ids == list(range(1, len(ids) + 1))
    cachepool.release()


def test_track_release_roundtrip(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS y")
    cachepool.track(df)
    df.count()
    assert not _n_cached(spark)
    assert cachepool.release() >= 1
    assert _n_cached(spark)


def test_deferred_consumption_after_release_keeps_ids_consistent(spark):
    """A consumer may build query N's DataFrame, let query N+1 trigger
    the boundary release, and only THEN collect query N (normal lazy-
    Spark usage).  The recompute must reproduce identical partition
    membership (the sortWithinPartitions determinism belt in ids.py) —
    ids stay contiguous and unique instead of silently desyncing."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    deferred = qs["corpus_build"](spark, SF)       # ids frame tracked
    qs["text_tfidf"](spark, SF).collect()          # boundary: releases it
    rows = deferred.collect()                      # forces recompute
    ids = sorted(r.eq_id for r in rows)
    assert ids == list(range(1, len(ids) + 1)), "global ids desynced after release"
    cachepool.release()


def test_scoped_pool_releases_only_its_own_frames(spark):
    """A scope owns exactly the frames tracked inside it: exit
    unpersists them and leaves the global pool untouched (the contract
    a foreachBatch body relies on)."""
    spark.catalog.clearCache()
    cachepool.release()
    outer = cachepool.track(spark.range(50).selectExpr("id", "id*3 AS z"))
    outer.count()

    with cachepool.scoped() as pool:
        inner = cachepool.track(spark.range(40).selectExpr("id", "id*5 AS w"))
        inner.count()
        assert len(pool) == 1
        assert inner.storageLevel.useMemory
    assert not inner.storageLevel.useMemory, "scope exit must unpersist its frames"
    assert outer.storageLevel.useMemory, "scope exit must not touch the global pool"
    assert cachepool.release() == 1  # only the outer frame remained tracked
    assert _n_cached(spark)


def test_scoped_pool_is_thread_isolated(spark):
    """Micro-batch threads: a scope opened on another thread must not
    capture this thread's tracked frames, and a release() on the main
    thread must not free the other thread's scoped frames mid-scope."""
    import threading

    spark.catalog.clearCache()
    cachepool.release()
    main_frame = cachepool.track(spark.range(30).selectExpr("id", "id+1 AS a"))
    main_frame.count()

    state = {}

    def worker():
        with cachepool.scoped():
            df = cachepool.track(spark.range(20).selectExpr("id", "id+2 AS b"))
            df.count()
            state["df"] = df
            state["cached_inside"] = df.storageLevel.useMemory
            # a global release on another pool must not see this frame
            state["main_released"] = cachepool.release()
            state["still_cached"] = df.storageLevel.useMemory

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    assert state["cached_inside"] and state["still_cached"]
    assert state["main_released"] == 1          # freed main_frame only
    assert not state["df"].storageLevel.useMemory  # freed at scope exit
    assert not main_frame.storageLevel.useMemory
