"""Streaming NEAR-duplicate dedup — the MinHash-LSH batch path in
incremental form, with all-history scope.

``dedup_stream`` (streaming/dedup.py) removes EXACT re-arrivals via
the state store; a training-data ingest also needs near-duplicates of
*anything already accepted* dropped as data lands.  Cross-batch
near-dup state cannot live in the streaming state store (a doc's
candidates are discovered by band-key join, not by a pre-known key),
so the streaming form maintains a durable **survivor index** — the
incremental-ingest pattern production dedup systems use:

    <index>/shingles/    (id, shingles array)     one row per survivor
    <index>/signatures/  (id, sig_0…, n_shingles) one row per survivor

Per micro-batch (inside ``foreachBatch``, single code path with the
oracle-checked batch operators):

1. in-batch near-dedup — the curation funnel's stages
   (``plans/curate.py``): ``_near_pairs`` (the batch's one profile)
   → ``dedup._materialize`` → ``dedup._components`` →
   ``_near_survivors`` keeps each cluster's canonical (min id);
2. history check — decontamination's core (``dedup._cross_report``)
   with that profile as the eval side and the history index tables as
   the corpus profile, then an anti-join of the matches from the
   survivors: nothing is profiled twice, and the per-batch quadratic
   work is bounded by cross-table band collisions.  Exact shingle-Jaccard verify over the stored
   arrays, identical measure (and code path) to the batch pipeline;
3. survivors append to the output AND to the index — both as
   batch_id-partitioned dynamic overwrites (streaming/sinks.py), so a
   replayed batch replaces its own output/index partitions:
   exactly-once end to end.

Survivor policy is FIRST-SEEN (earlier batches win; within a batch,
the cluster canonical).  With ingest-monotonic ids this equals the
batch pipeline's min-id-canonical policy whenever duplicate clusters
are cliques (near-dup groups typically are — every copy matches the
original); on chain-shaped clusters the streaming form may keep
chain-distant members, because each doc is compared against
*survivors* only — the standard incremental-dedup semantics.

Scale notes: index reads are pruned columnar scans growing linearly
with accepted data; the band join broadcasts only the batch side, and
only under the size gate.  At very large history, compact the index
offline (bucket by id) without changing this code path — the frames
are injected by path.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener

from latex_ocr_spark import lease as lease_mod
from latex_ocr_spark.session import has_data
from latex_ocr_spark.streaming import MAX_FILES_PER_TRIGGER
from latex_ocr_spark.streaming.decontaminate import DOCS_STREAM_SCHEMA
from latex_ocr_spark.streaming.sinks import (
    BATCH_COL,
    assert_idempotent_layout,
    write_batch_idempotent,
)

#: on-disk layout of the survivor index, part of its ``_meta``
#: fingerprint: an index written in another layout (e.g. exploded
#: (id, shingle) rows) is refused as "different knobs", never misread
_INDEX_LAYOUT = "shingles=id+array,signatures=id+sig+n"


#: compaction's rename-aside name for a table's pre-swap copy
def _bak_path(index_dir: str, sub: str) -> str:
    return os.path.join(index_dir, f"_bak_{sub}")


def _staging_path(index_dir: str, sub: str) -> str:
    return os.path.join(index_dir, f"_compact_{sub}")


def recover_compaction(index_dir: str) -> list:
    """Finish or roll back a compaction interrupted mid-swap; returns
    the actions taken (for logging/tests).  The swap order is
    staging-write → move(table, bak) → move(staging, table) →
    rm(bak), so every crash window is recoverable:

    - bak present + table present  → the forward swap completed (or
      never started past the staging write): drop bak (+ stale staging).
    - bak present + table missing  → crashed between the two moves:
      staging holds the complete compacted copy — finish the swap;
      if staging is somehow gone too, roll bak back.
    - staging present, no bak      → crashed before the swap began:
      drop the stale staging dir.

    Callers must hold the maintenance lease (compact_index does; the
    CLI's ``recover`` action acquires it): repairing swap state while
    another compaction is MID-swap would race its renames.
    """
    import shutil as _shutil

    lease_mod.require_local_path(index_dir, "recover_compaction")
    actions = []
    for sub in ("shingles", "signatures"):
        table = os.path.join(index_dir, sub)
        bak, staging = _bak_path(index_dir, sub), _staging_path(index_dir, sub)
        if os.path.exists(bak):
            if os.path.exists(table):
                _shutil.rmtree(bak)
                actions.append(f"{sub}: dropped completed-swap bak")
            elif os.path.exists(staging):
                _shutil.move(staging, table)
                _shutil.rmtree(bak)
                actions.append(f"{sub}: finished interrupted swap from staging")
            else:
                _shutil.move(bak, table)
                actions.append(f"{sub}: rolled back to pre-compaction table")
        if os.path.exists(staging):
            _shutil.rmtree(staging)
            actions.append(f"{sub}: dropped stale staging")
    return actions


def start_near_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 8,
    band_size: int = 2,
    ngram: int = 3,
    max_bucket_size: Optional[int] = None,
    available_now: bool = True,
    _fail_batches: Optional[set] = None,
    max_files_per_trigger: Optional[int] = MAX_FILES_PER_TRIGGER,
):
    """Continuously keep only documents that near-duplicate neither a
    previously accepted document nor an earlier doc of their own batch.

    ``max_files_per_trigger`` bounds each micro-batch.  Without
    a bound, an ``availableNow`` catch-up over a large backlog — the
    documented cron shape, or simply the first run over an existing
    corpus — puts EVERY pending file into ONE micro-batch, which is
    then shingle-amplified and, over the size gate, joined against the
    whole history by shuffle.  The default
    (``streaming.MAX_FILES_PER_TRIGGER``, 64 files/trigger, shared with
    the decontamination and extraction streams) keeps catch-up
    incremental; pass ``None`` to restore the unbounded reader.  ``availableNow``
    still drains the whole backlog — as a sequence of bounded batches.

    The batch-side frames (duplicate-of-history ids, survivor ids, and
    the batch profile as the history check's eval side) are
    broadcast-hinted only while the batch's counted documents pass the
    dedup size gate (``dedup._is_small``); an oversized batch
    (misconfigured trigger bound, one giant input file) drops the hints
    and lets AQE decide — a forced broadcast overrides Spark's size
    checks and OOMs the executors.  The pair-derived frames inside the
    batch (the in-batch non-canonicals among them) follow the observed
    pair count the same way.

    ``_fail_batches`` injects a crash after the named batches' writes,
    before the checkpoint commit — the replay window the idempotent
    sinks exist for.

    Acquire-then-check: the stream lease is taken BEFORE the
    maintenance probe and index sanity checks run — checking first
    would leave a window where maintenance starts (its own
    stream-probe still seeing no lease) while this stream finishes
    its checks, and both would proceed.  Mirrors compact/prune's
    lease-then-probe order; released on any refusal/start failure.
    Skipped for URI-scheme index paths (local-fs lease; the
    maintenance ops refuse such paths loudly, so the overlap cannot
    arise from this repo's tooling)."""
    stream_lease = None
    if not lease_mod.is_uri_path(index_dir):
        stream_lease = lease_mod.DirLease(
            index_dir, name="_stream_lock", role="near-dedup stream"
        ).acquire(retry_seconds=10)
    try:
        return _start_near_dedup_stream_fenced(
            spark, input_dir, output_dir, index_dir, checkpoint_dir,
            threshold, num_hashes, band_size, ngram, max_bucket_size,
            available_now, _fail_batches, stream_lease, max_files_per_trigger,
        )
    except BaseException:
        if stream_lease is not None:
            stream_lease.release()  # idempotent: no-op if the listener won
        raise


def _start_near_dedup_stream_fenced(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    threshold: float,
    num_hashes: int,
    band_size: int,
    ngram: int,
    max_bucket_size: Optional[int],
    available_now: bool,
    _fail_batches: Optional[set],
    stream_lease,
    max_files_per_trigger: Optional[int],
):
    import json

    from latex_ocr_spark import cachepool
    from latex_ocr_spark.operators import dedup as D
    from latex_ocr_spark.plans import curate as C

    sh_path = os.path.join(index_dir, "shingles")
    sig_path = os.path.join(index_dir, "signatures")
    meta_path = os.path.join(index_dir, "_meta")

    # the survivor index is only comparable under the knobs that built
    # it: shingles depend on ngram, signatures on num_hashes, the drop
    # decision on threshold/band_size.  A restart with different knobs
    # would silently admit every near-dup (2-gram batch shingles never
    # intersect stored 3-gram shingles) — fingerprint and refuse, the
    # same contract plans/resumable.py applies to its checkpoint.  The
    # layout entry makes an index of another on-disk layout refuse the
    # same way.
    cfg = json.dumps(
        {"threshold": threshold, "num_hashes": num_hashes,
         "band_size": band_size, "ngram": ngram, "layout": _INDEX_LAYOUT},
        sort_keys=True,
    )
    if has_data(spark, meta_path):
        existing = spark.read.text(meta_path).first()[0]
        if existing != cfg:
            raise RuntimeError(
                f"survivor index at {index_dir} was built under different "
                f"knobs ({existing}) than this stream ({cfg}) — near-dup "
                "checks across the two are meaningless; use a fresh index "
                "dir (or rebuild) to change knobs"
            )
    else:
        spark.range(1).select(F.lit(cfg).alias("cfg")).coalesce(1).write.mode(
            "overwrite"
        ).text(meta_path)

    # never stream over an index being maintained RIGHT NOW: compaction
    # mid-swap or pruning mid-delete under a live read is the
    # torn-state overlap the offline contract forbids.  A LIVE (or
    # unverifiable-remote) maintenance holder refuses the stream; a
    # dead holder's leftover lock does not block (the stream never
    # deletes a lock it doesn't own — the next maintenance run cleans
    # it).  The probe runs while OUR stream lease is already held
    # (acquire-then-check), so maintenance starting after this point
    # refuses on its own stream-probe.
    if stream_lease is not None:
        state, holder = lease_mod.probe(index_dir, "_maintenance_lock")
        if state != "free":
            raise RuntimeError(
                f"survivor index at {index_dir} is under maintenance "
                f"(pid {holder.get('pid')} on {holder.get('host')}) — "
                "streaming over a mid-swap/mid-prune index reads torn "
                "state; wait for it or, after confirming it is dead, "
                f"delete {os.path.join(index_dir, '_maintenance_lock')}"
            )

    # a half-index means an interrupted compaction (or manual damage):
    # shingles and signatures are written together by every batch, from
    # the same survivors, so exactly one holding data is NEVER "no
    # history yet" — treating it so would skip the all-history check
    # and permanently admit near-dups of every prior survivor.  Fail
    # loudly and point at the repair.  Both without data (missing, or
    # left empty by batches with nothing to index) is a fresh index.
    residue = [
        p
        for sub in ("shingles", "signatures")
        for p in (_bak_path(index_dir, sub), _staging_path(index_dir, sub))
        if os.path.exists(p)
    ]
    if residue:
        raise RuntimeError(
            f"survivor index at {index_dir} has compaction swap residue "
            f"({', '.join(os.path.basename(p) for p in residue)}) — an "
            "interrupted compact_index; run recover_compaction(index_dir) "
            "(or compact_index, which recovers first) before streaming"
        )
    have = {
        "shingles": has_data(spark, sh_path),
        "signatures": has_data(spark, sig_path),
    }
    if have["shingles"] != have["signatures"]:
        present = [s for s, h in have.items() if h][0]
        raise RuntimeError(
            f"survivor index at {index_dir} is half-present (only "
            f"'{present}' holds data) — refusing to treat it as empty; "
            "restore the missing table or start a fresh index dir"
        )

    assert_idempotent_layout(spark, output_dir)

    reader = spark.readStream.schema(DOCS_STREAM_SCHEMA).format("parquet")
    # bound the micro-batch (see start_near_dedup_stream docstring):
    # availableNow honors it as a per-batch limit, so a cold-start
    # backlog drains as many bounded batches instead of one giant one
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        with cachepool.scoped():
            batch = cachepool.track(batch_df.select("doc_id", "text"))
            # one cheap count per micro-batch bounds every batch-derived
            # frame; an oversized batch drops their hints (AQE still
            # broadcasts at runtime when a frame turns out small)
            n_batch = batch.count()

            # 1. in-batch near-dedup by the funnel's stages (cluster
            # canonical survives): ONE cached batch profile feeds the
            # pair verify, the history check and both index writes
            raw_pairs, profile = C._near_pairs(
                batch, near_dup_method="lsh", dedup_threshold=threshold,
                ngram=ngram, num_hashes=num_hashes, band_size=band_size,
                max_bucket_size=max_bucket_size, max_df=None,
                id_col="doc_id", text_col="text",
            )
            pairs, n_pairs = D._materialize(raw_pairs)
            _dropped, survivors = C._near_survivors(
                batch, D._components(pairs, n_pairs), id_col="doc_id",
                n_rows=n_pairs,
            )

            # 2. all-history check: the cached batch profile is the eval
            # side, whole — whether a document matches history does not
            # depend on the other batch documents, so the anti-join
            # below keeps exactly the survivors it would keep with only
            # the survivors' rows, and filtering them first would cost a
            # join (two broadcast jobs) per batch; the index tables ARE
            # the corpus profile — never re-shingled
            # a history that holds data but fails to read (permissions,
            # corrupt footer) fails the batch: skipping the check would
            # admit near-dups of every prior survivor into BOTH the
            # output and the index, permanently
            if has_data(spark, sig_path):
                # EXCLUDE this batch's own partitions: a replayed batch
                # must not see its previous (partial) attempt's index
                # rows, or it would flag every one of its docs as a
                # duplicate-of-history (jaccard 1.0 with itself) and
                # replace its output with an empty partition — data
                # loss.  batch_id is the partition column, so this is
                # partition pruning, not a scan-and-filter.  The same
                # filter also makes a cache-evicted RECOMPUTE of the
                # survivors frame safe after this function's own index
                # appends land: the new partitions carry this batch_id
                # and stay invisible to the re-read.
                hist_sh = spark.read.parquet(sh_path).filter(
                    F.col("batch_id") != batch_id
                ).drop("batch_id")
                hist_sig = spark.read.parquet(sig_path).filter(
                    F.col("batch_id") != batch_id
                ).drop("batch_id")
                report, _n_cand = D._cross_report(
                    hist_sh, hist_sig, profile, n_batch, threshold,
                    num_hashes, band_size, max_bucket_size,
                )
                dup_of_history = report.select(
                    F.col("eval_id").alias("doc_id")
                ).distinct()
                survivors = survivors.join(
                    D._maybe_broadcast(dup_of_history, n_batch), "doc_id", "left_anti"
                )

            survivors = cachepool.track(survivors)
            surv_ids = survivors.select(F.col("doc_id").alias("id"))

            # 3. exactly-once writes: output + both index tables keyed
            # by batch_id so a replay REPLACES its own partitions
            write_batch_idempotent(survivors, batch_id, output_dir)
            write_batch_idempotent(
                profile.select("id", "shingles").join(
                    D._maybe_broadcast(surv_ids, n_batch), "id", "left_semi"
                ),
                batch_id, sh_path,
            )
            write_batch_idempotent(
                profile.drop("shingles").join(
                    D._maybe_broadcast(surv_ids, n_batch), "id", "left_semi"
                ),
                batch_id, sig_path,
            )
            if _fail_batches and batch_id in _fail_batches:
                raise RuntimeError(
                    f"injected crash after batch {batch_id} writes, "
                    "before checkpoint commit"
                )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)

    # the stream lease (acquired by the public wrapper, before any
    # check) is held for the query's lifetime so maintenance refuses
    # while batches are reading/writing the index.  flock-based: the
    # kernel releases it the instant this process dies, so a crashed
    # stream never blocks maintenance.  Released via termination
    # listener on clean stop (the wrapper's acquire retries briefly to
    # absorb the listener's asynchronous release after a
    # just-terminated previous run).
    if stream_lease is None:
        return writer.start()
    listener = _ReleaseOnTerminate(spark, stream_lease)
    spark.streams.addListener(listener)
    try:
        q = writer.start()
    except BaseException:
        listener.force_release()
        raise
    listener.bind(str(q.id))
    return q


class _ReleaseOnTerminate(StreamingQueryListener):
    """Listener releasing a stream's index lease when ITS query
    terminates.  Termination events arrive on a separate dispatch
    thread, possibly before the caller learns the query id — ``bind``
    reconciles both orders; release is idempotent."""

    def __init__(self, spark: SparkSession, lease_obj):
        super().__init__()
        self._spark = spark
        self._lease = lease_obj
        self._qid: Optional[str] = None
        self._terminated: set = set()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        qid = str(event.id)
        self._terminated.add(qid)
        if self._qid is not None and qid == self._qid:
            self.force_release()

    def bind(self, qid: str) -> None:
        self._qid = qid
        if qid in self._terminated:  # terminated before bind — late release
            self.force_release()

    def force_release(self) -> None:
        lease_obj, self._lease = self._lease, None
        if lease_obj is not None:
            lease_obj.release()
            try:
                self._spark.streams.removeListener(self)
            except Exception:
                pass  # already removed / session tearing down


def compact_index(spark: SparkSession, index_dir: str, num_partitions: int = 32) -> dict:
    """Offline maintenance for the survivor index: fold the
    accumulated per-batch partitions into one ``batch_id=-1`` partition
    per table, keeping one row per id (repeated compaction is
    idempotent).  Thousands of tiny batch partitions make every
    micro-batch's history scan open thousands of files; compaction
    restores O(num_partitions) files without changing the read path —
    the stream's ``batch_id != current`` filter keeps -1 partitions
    visible forever (real batch ids are never negative).

    The NEWEST real batch is never folded.  Micro-batches commit in
    order, so the maximum batch id is the only one whose checkpoint
    commit may not have landed (a crashed stream — whose flock lease
    the kernel auto-releases, so compaction is reachable in exactly
    that state).  Folding that batch's partial rows into -1 would
    defeat the replay's ``batch_id != N`` self-exclusion: every
    replayed doc would match its own previous attempt's rows at
    jaccard 1.0 and the batch's output partition would be idempotently
    overwritten EMPTY — silent data loss.  Keeping it under its own id
    costs one extra partition until the next compaction and makes
    compact-after-crash safe; a replay simply overwrites the kept
    partition.  Committed-batch duplicates across the fold boundary
    cannot exist (a doc id is written by exactly one batch), so
    intersection counts are unchanged.

    Returns {"shingles": n_rows, "signatures": n_rows} after compaction.

    The swap is rename-aside: staging-write → move(table, bak) →
    move(staging, table) → rm(bak).  A crash at ANY point leaves either
    the old table, or the bak + complete staging pair — never a missing
    table (the original rmtree-then-move swap had a no-table window
    that the stream's "missing index = no history yet" read would have
    treated as an EMPTY index, silently admitting near-dups of every
    pre-compaction survivor).  :func:`recover_compaction` runs first
    and finishes/rolls back any interrupted swap; the stream refuses to
    start while swap residue or a half-index exists.

    Renames are local-filesystem here; on an object store run the same
    sequence through the Hadoop FileSystem API (or compact into a NEW
    index dir and repoint the stream) — the read path is identical.

    Holds the index maintenance lease for the duration: two concurrent
    compactions would both stage and swap the same table paths.  A
    LIVE near-dedup stream on the index refuses maintenance (the other
    direction of the stream-start fence): swapping tables under a
    running reader is exactly the torn state the offline contract
    forbids.
    """
    import shutil as _shutil

    from latex_ocr_spark.lease import DirLease, require_local_path

    require_local_path(index_dir, "compact_index")
    with DirLease(index_dir, name="_maintenance_lock", role="index maintenance"):
        _refuse_live_stream(index_dir, "compact")
        return _compact_index_locked(spark, index_dir, num_partitions, _shutil)


def _refuse_live_stream(index_dir: str, what: str,
                        grace_seconds: float = 15.0) -> None:
    """Refuse maintenance while a near-dedup stream holds the index's
    stream lease.  Retries briefly first: a just-terminated query's
    lease is released by a listener on an ASYNC dispatch thread, so
    "stopped stream, ran maintenance" — the documented workflow —
    must not flake on that dispatch latency."""
    import time as _time

    deadline = _time.monotonic() + grace_seconds
    while True:
        state, holder = lease_mod.probe(index_dir, "_stream_lock")
        if state == "free":
            return
        if _time.monotonic() >= deadline:
            raise RuntimeError(
                f"refusing to {what} index at {index_dir}: a near-dedup "
                f"stream is live on it (pid {holder.get('pid')} on "
                f"{holder.get('host')}) — maintenance under a running "
                "reader produces torn reads; stop the stream first"
            )
        _time.sleep(0.2)


def _compact_index_locked(spark, index_dir, num_partitions, _shutil) -> dict:
    recover_compaction(index_dir)
    # the newest real batch stays under its own id (see compact_index
    # docstring: it is the only possibly-uncommitted one, and a replay
    # needs its own previous rows self-excluded by batch id)
    real = list_index_batches(index_dir)
    keep_batch = real[-1] if real else None
    out = {}
    for sub in ("shingles", "signatures"):
        path = os.path.join(index_dir, sub)
        staging = _staging_path(index_dir, sub)
        bak = _bak_path(index_dir, sub)
        if not has_data(spark, path):
            out[sub] = 0  # nothing indexed yet: nothing to fold
            continue
        src = spark.read.parquet(path)
        if keep_batch is not None:
            src = src.filter(F.col(BATCH_COL) != keep_batch)
        compacted = (
            src
            .drop(BATCH_COL)
            .dropDuplicates(["id"])
            .repartition(num_partitions)
            .withColumn(BATCH_COL, F.lit(-1))
        )
        # the source partitions are read fully before the staging
        # write commits (no read-own-write hazard)
        compacted.write.mode("overwrite").partitionBy(BATCH_COL).parquet(staging)
        if keep_batch is not None:
            kept_part = os.path.join(path, f"{BATCH_COL}={keep_batch}")
            if os.path.isdir(kept_part):
                _shutil.copytree(
                    kept_part,
                    os.path.join(staging, f"{BATCH_COL}={keep_batch}"),
                )
        out[sub] = spark.read.parquet(staging).count()
        _shutil.move(path, bak)
        _shutil.move(staging, path)
        _shutil.rmtree(bak)
    return out


def list_index_batches(index_dir: str) -> list:
    """Sorted real batch ids present in EITHER index table (the -1
    compaction partition is not a batch and is excluded).  The union —
    not just signatures — so a prune that crashed between its
    signatures-first and shingles deletes still sees the half-pruned
    batch and can finish removing its shingle partitions on re-run."""
    out = set()
    for sub in ("shingles", "signatures"):
        table = os.path.join(index_dir, sub)
        if not os.path.isdir(table):
            continue
        for name in os.listdir(table):
            if name.startswith(f"{BATCH_COL}="):
                b = int(name.split("=", 1)[1])
                if b >= 0:
                    out.add(b)
    return sorted(out)


def prune_index(
    spark: SparkSession,
    index_dir: str,
    *,
    min_batch_id: Optional[int] = None,
    keep_last_n: Optional[int] = None,
) -> dict:
    """Retention policy for the survivor index: drop the index rows of
    batches older than a cutoff, bounding index growth at the price of
    RECALL — a later document that near-duplicates a pruned survivor
    is ADMITTED (its only witnesses are gone).  The output table is
    untouched: pruning forgets history for *future* comparisons, it
    never un-accepts a survivor.  Choose the horizon the way one
    chooses a decontamination window: keep at least the span within
    which re-ingested copies realistically arrive.

    Exactly one of:

    - ``min_batch_id`` — watermark-aligned: drop real batches with id
      < the cutoff (batch ids are monotonic in arrival time, so a
      time-based TTL maps to an id cutoff by the operator's batch log);
    - ``keep_last_n`` — count-based: keep the n most recent real
      batches (n ≥ 1).

    The ``batch_id=-1`` compaction partition is NEVER pruned here — it
    is the folded pre-compaction history, carrying no per-batch age to
    prune by; to retire compacted history too, start a fresh index (or
    rebuild the -1 partition from a filtered read).

    Same contract as :func:`compact_index`: run only between stream
    runs, after a clean shutdown.  Crash-safety: partitions are
    removed signatures-first — a signatures-pruned batch can produce
    no band candidates, so a half-pruned batch already behaves as
    pruned; re-running removes the leftover shingle partitions
    (idempotent).  Local-fs deletes here; on an object store issue the
    same per-prefix deletes through the Hadoop FileSystem API.

    Returns {"pruned": [...batch ids...], "kept": [...]}.

    Holds the index maintenance lease for the duration (shared with
    :func:`compact_index`): concurrent maintenance would race on the
    same partition directories.
    """
    import shutil as _shutil

    from latex_ocr_spark.lease import DirLease, require_local_path

    if (min_batch_id is None) == (keep_last_n is None):
        raise ValueError("pass exactly one of min_batch_id / keep_last_n")
    if keep_last_n is not None and keep_last_n < 1:
        raise ValueError("keep_last_n must be ≥ 1")
    require_local_path(index_dir, "prune_index")
    with DirLease(index_dir, name="_maintenance_lock", role="index maintenance"):
        _refuse_live_stream(index_dir, "prune")
        return _prune_index_locked(
            spark, index_dir, min_batch_id, keep_last_n, _shutil
        )


def _prune_index_locked(spark, index_dir, min_batch_id, keep_last_n, _shutil):
    residue = [
        p
        for sub in ("shingles", "signatures")
        for p in (_bak_path(index_dir, sub), _staging_path(index_dir, sub))
        if os.path.exists(p)
    ]
    if residue:
        raise RuntimeError(
            f"index at {index_dir} has compaction swap residue — run "
            "recover_compaction(index_dir) before pruning"
        )
    batches = list_index_batches(index_dir)
    if min_batch_id is not None:
        pruned = [b for b in batches if b < min_batch_id]
    else:
        pruned = batches[:-keep_last_n] if len(batches) > keep_last_n else []
    kept = batches[len(pruned):]  # both selectors prune a sorted prefix
    has_compacted = os.path.isdir(
        os.path.join(index_dir, "signatures", f"{BATCH_COL}=-1")
    )
    if batches and not kept and not has_compacted:
        raise RuntimeError(
            f"pruning every batch ({pruned}) would leave an EMPTY index, "
            "which the stream reads as a fresh one — keep at least one "
            "batch, or delete the index dir for a fresh start"
        )
    # signatures first (see docstring), then shingles
    for sub in ("signatures", "shingles"):
        for b in pruned:
            part = os.path.join(index_dir, sub, f"{BATCH_COL}={b}")
            if os.path.isdir(part):
                _shutil.rmtree(part)
    return {"pruned": pruned, "kept": kept}
