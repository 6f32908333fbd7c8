"""Checkpoint runner for the curation funnel.

Runs the stage functions of plans/curate.py — the same ones its
in-memory runner :func:`~latex_ocr_spark.plans.curate.curate_corpus`
runs — with durable stage boundaries: at 100 TB a funnel that dies
during decontamination must NOT restart from the corpus scan.  This
extends the extraction resume idiom (operators/lineage.py — the
reference's filesystem-as-state pattern, render.py:47-53 /
arxiv.py:126-130) to the funnel's stages.

What this runner owns, and the in-memory one does not:

- **The parquet artifact per stage** — the *small derived* frames,
  never the corpus:

    stage      artifact (parquet)                        size class
    ---------  ----------------------------------------  ----------
    groups     exact-dup groups (hash, canonical, count)  ~#distinct texts, narrow
    pairs      verified near-dup pairs (a_id, b_id, j)    ~dup pairs
    clusters   merged duplicate clusters (id, cluster)    ~docs in dup groups
    report     contamination report (corpus, eval, j)     ~contaminated docs
    documents  final curated table with split column      the real sink

  The corpus-side survivor frames are always RE-DERIVED lazily from
  the immutable input by joining against these artifacts (a pruned
  scan + filter + semi/anti-join — cheaper at scale than writing and
  re-reading corpus text at every boundary, and the same
  no-corpus-persist design as the in-memory runner).
- **The lineage commit.**  Each stage commits artifact-then-lineage: a
  crash between the two re-runs that one stage (artifact overwrite is
  idempotent), never duplicates or drops rows — the same crash-window
  contract run_resumable_extract proves in
  tests/test_lineage_resume.py.  Resume skips every stage with a
  committed lineage row whose config fingerprint matches, without
  entering its stage function; a fingerprint mismatch raises rather
  than silently mixing artifacts computed under different knobs.
- **The single-writer lease** (:class:`CheckpointLease`) and the crash
  hook ``_fail_after_write``.
- **Artifact-derived funnel counts and size gates**, which cost zero
  corpus passes:
  the gate counts ride ``observe()`` on the groups stage's write,
  post-exact survivors equal the groups artifact's row count,
  near-dup/contamination drops are counted on the small artifacts at
  commit time, and the final count rides the documents write.  The
  assembled funnel is pinned equal to the in-memory runner's in
  tests/test_curate_resume.py.  The same lineage counts are the size
  gates (``dedup._is_small``): the ``pairs`` row count picks the
  clustering path, the ``clusters`` row count gates the dropped-id and
  split joins' broadcast hints, and the ``report`` row count the
  cleaning anti-join's.

Trade-off vs the in-memory runner: a FRESH run that executes pairs +
report in one invocation still shares the one corpus profile (the
near-dup stage's frame is handed to decontamination exactly as in
memory); a RESUMED run re-derives what it needs from the artifacts
instead.  What this runner adds is the stage-boundary writes — the
price of durability, chosen by passing a checkpoint dir.
"""

from __future__ import annotations

import hashlib
import json
import time
from typing import Callable, Optional, Set, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from latex_ocr_spark.lease import DirLease
from latex_ocr_spark.operators import dedup as D
from latex_ocr_spark.plans import curate as C
from latex_ocr_spark.plans.curate import CurationResult, _count
from latex_ocr_spark.session import has_data

_LINEAGE_SCHEMA = (
    "stage string, config_hash string, n_rows long, meta string, "
    "started long, finished long"
)

#: stage execution order (report only runs when an eval set is given)
STAGES = ("groups", "pairs", "clusters", "report", "documents")


def _config_hash(knobs: dict) -> str:
    return hashlib.md5(
        json.dumps(knobs, sort_keys=True, default=str).encode()
    ).hexdigest()


class CheckpointLease(DirLease):
    """Single-writer fence for a resumable checkpoint dir.

    The artifact-then-lineage commit protocol assumes ONE writer; two
    concurrent runs on the same checkpoint could interleave an
    artifact overwrite from run A with a lineage append from run B,
    committing a lineage row that describes the other run's bytes.
    Mechanics live in :class:`latex_ocr_spark.lease.DirLease`, shared
    with the survivor-index fences: an ``flock`` on a lock file the
    kernel releases the instant the holding process dies — there is
    NO break step and no operator-deletable "stale" lock (lease.py
    documents why the old O_CREAT|O_EXCL + dead-owner-break design
    was unsafe); a second live holder is refused loudly with the
    holder's identity, and remote/URI checkpoint paths are rejected
    rather than silently unfenced.
    """

    def __init__(self, checkpoint_dir: str):
        super().__init__(checkpoint_dir, name="_lock", role="funnel")


def _read_lineage(spark: SparkSession, lineage_path: str) -> dict:
    """{stage: (config_hash, n_rows, meta_dict)} for committed stages,
    latest commit per stage winning (a re-run after a config change
    overwrites artifacts and appends fresh lineage)."""
    if not has_data(spark, lineage_path):
        return {}  # no runs yet
    # a lineage that holds data but fails to read (permissions, corrupt
    # footer) raises: reading it as "fresh checkpoint" would silently
    # discard resume state and re-run a 100 TB funnel from the scan —
    # and bypass the config-mismatch refusal
    rows = spark.read.parquet(lineage_path).collect()
    out = {}
    for r in sorted(rows, key=lambda r: (r["finished"], r["started"])):
        out[r["stage"]] = (r["config_hash"], r["n_rows"], json.loads(r["meta"]))
    return out


def _commit(
    spark: SparkSession,
    lineage_path: str,
    stage: str,
    cfg: str,
    n_rows: int,
    meta: dict,
    started: int,
) -> None:
    # one JVM row: a createDataFrame would start a Python worker pool
    values = (stage, cfg, n_rows, json.dumps(meta), started, int(time.time()))
    fields = (f.split() for f in _LINEAGE_SCHEMA.split(", "))
    spark.range(1).select(
        *(F.lit(v).cast(t).alias(c) for v, (c, t) in zip(values, fields))
    ).write.mode("append").parquet(lineage_path)


def curate_corpus_resumable(
    spark: SparkSession,
    docs: DataFrame,
    checkpoint_dir: str,
    evalset: Optional[DataFrame] = None,
    **knobs,
) -> CurationResult:
    """Single-writer entry point: hold the checkpoint lease for the
    whole run (see :class:`CheckpointLease` — concurrent writers on one
    checkpoint would interleave artifact/lineage commits), then run or
    resume the funnel.  All keyword knobs are those of
    :func:`_curate_resumable_impl`, the lease-free implementation.

    URI-scheme checkpoint dirs (``s3a://…``) skip the local-fs lease
    with the documented object-store note — same policy as
    run_resumable_extract; refusing outright would regress runs the
    pre-lease code allowed."""
    from contextlib import nullcontext

    from latex_ocr_spark.lease import is_uri_path

    fence = (
        nullcontext()
        if is_uri_path(checkpoint_dir)
        else CheckpointLease(checkpoint_dir.rstrip("/"))
    )
    with fence:
        return _curate_resumable_impl(spark, docs, checkpoint_dir, evalset, **knobs)


def _curate_resumable_impl(
    spark: SparkSession,
    docs: DataFrame,
    checkpoint_dir: str,
    evalset: Optional[DataFrame] = None,
    *,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    dedup_threshold: float = 0.5,
    near_dup_method: str = "lsh",
    ngram: int = 1,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket_size: Optional[int] = None,
    max_df: Optional[int] = None,
    redact: bool = False,
    sample_fraction: Optional[float] = None,
    val_fraction: float = 0.1,
    seed: str = "split-seed-1",
    id_col: str = "doc_id",
    text_col: str = "text",
    _fail_after_write: Optional[Set[str]] = None,
) -> CurationResult:
    """Run (or resume) the curation funnel with durable stage
    boundaries under ``checkpoint_dir``; same knobs and same output
    contract as :func:`plans.curate.curate_corpus`.

    ``_fail_after_write`` injects a crash after the artifact write but
    BEFORE the lineage commit of the named stages — the test hook for
    the crash window (mirrors run_resumable_extract's fail_on_units).
    """
    C._check_knobs(near_dup_method, max_df, max_bucket_size)
    cfg = _config_hash(
        dict(
            min_tokens=min_tokens, max_punct_ratio=max_punct_ratio,
            dedup_threshold=dedup_threshold, near_dup_method=near_dup_method,
            ngram=ngram, num_hashes=num_hashes, band_size=band_size,
            max_bucket_size=max_bucket_size, max_df=max_df, redact=redact,
            sample_fraction=sample_fraction, val_fraction=val_fraction,
            seed=seed, id_col=id_col, text_col=text_col,
            has_evalset=evalset is not None,
        )
    )
    ckpt = checkpoint_dir.rstrip("/")
    lineage_path = f"{ckpt}/_lineage"
    done = _read_lineage(spark, lineage_path)
    for stage_name, (stage_cfg, _n, _m) in done.items():
        if stage_cfg != cfg:
            raise RuntimeError(
                f"checkpoint at {ckpt} holds stage '{stage_name}' computed under a "
                f"different configuration ({stage_cfg[:8]}… vs {cfg[:8]}…) — "
                "resuming would mix artifacts across configs; use a fresh "
                "checkpoint dir (or delete this one) to change knobs"
            )
    fail_after = _fail_after_write or set()

    def stage(
        name: str, write: Callable[[str], Tuple[int, dict]]
    ) -> Tuple[DataFrame, int, dict]:
        """(artifact, n_rows, meta) of one stage.  A stage with a
        committed lineage row is never re-entered; otherwise
        ``write(path)`` writes its artifact and returns the lineage
        row's (n_rows, meta), committed after the artifact."""
        path = f"{ckpt}/{name}"
        if name not in done:
            started = int(time.time())
            n_rows, meta = write(path)
            if name in fail_after:
                raise RuntimeError(
                    f"injected crash after '{name}' artifact write, before lineage commit"
                )
            _commit(spark, lineage_path, name, cfg, n_rows, meta, started)
            done[name] = (cfg, n_rows, meta)
        _cfg, n_rows, meta = done[name]
        return spark.read.parquet(path), n_rows, meta

    def artifact_rows(path: str) -> Callable[[], int]:
        return lambda: spark.read.parquet(path).count()

    spine = C._spine(docs, redact=redact, id_col=id_col, text_col=text_col)
    gate = dict(min_tokens=min_tokens, max_punct_ratio=max_punct_ratio,
                id_col=id_col, text_col=text_col)
    # gated survivors re-derived lazily (pruned scan + filter — never
    # checkpointed corpus text)
    gated = C._gate(spine, **gate)

    def write_groups(path: str) -> Tuple[int, dict]:
        obs_in, obs_q, obs_g = Observation(), Observation(), Observation()
        observed = C._gate(spine.observe(obs_in, _count("n")), **gate).observe(
            obs_q, _count("n")
        )
        C._exact_groups(observed, id_col=id_col, text_col=text_col).observe(
            obs_g, _count("n")
        ).write.mode("overwrite").parquet(path)
        meta = {"n_in": C._observed_count(obs_in, spine.count),
                "n_q": C._observed_count(obs_q, gated.count)}
        return C._observed_count(obs_g, artifact_rows(path)), meta

    groups, n_exact, meta = stage("groups", write_groups)
    n_in, n_q = meta["n_in"], meta["n_q"]
    exact_kept = C._exact_survivors(gated, groups, id_col)

    sim = dict(dedup_threshold=dedup_threshold,
               ngram=ngram, num_hashes=num_hashes, band_size=band_size,
               max_bucket_size=max_bucket_size, id_col=id_col, text_col=text_col)
    corpus_frame = None  # the near-dup stage's profile, when it ran HERE

    def write_pairs(path: str) -> Tuple[int, dict]:
        nonlocal corpus_frame
        raw_pairs, corpus_frame = C._near_pairs(
            exact_kept, near_dup_method=near_dup_method, max_df=max_df, **sim
        )
        obs = Observation()
        raw_pairs.observe(obs, _count("n")).write.mode("overwrite").parquet(path)
        return C._observed_count(obs, artifact_rows(path)), {}

    pairs, n_pairs, _meta = stage("pairs", write_pairs)

    def write_clusters(path: str) -> Tuple[int, dict]:
        # the pairs artifact is already materialized: its lineage
        # count picks the clustering path
        near, merged = C._merge_clusters(
            pairs, n_pairs, gated, groups, id_col=id_col, text_col=text_col
        )
        # near-only non-canonical count: the docs the near-dup stage
        # drops from the spine
        n_non_canonical = near.filter(F.col("id") != F.col("cluster_id")).count()
        obs = Observation()
        merged.observe(obs, _count("n")).write.mode("overwrite").parquet(path)
        n_rows = C._observed_count(obs, artifact_rows(path))
        return n_rows, {"n_non_canonical": n_non_canonical}

    clusters, n_clusters, meta = stage("clusters", write_clusters)
    n_near = n_exact - meta["n_non_canonical"]
    # near-dup survivors from the merged artifact's id != cluster_id
    # rows.  For rows still on the spine this set equals the near-only
    # non-canonical set exactly — exact-dup members with id !=
    # cluster_id left the spine at the canonical semi-join, and an
    # exact canonical that joined a near cluster it doesn't name
    # appears in the near component itself
    non_canonical, near_kept = C._near_survivors(
        exact_kept, clusters, id_col=id_col, n_rows=n_clusters
    )

    report, n_decon, cleaned = None, n_near, near_kept
    if evalset is not None:
        def write_report(path: str) -> Tuple[int, dict]:
            C._decontaminate(
                near_kept, evalset, non_canonical, corpus_frame, n_clusters, **sim
            )[0].write.mode("overwrite").parquet(path)
            # every contaminated id is on the spine by construction,
            # so the stage's drop count is a distinct count over the
            # SMALL artifact — no corpus pass (and one action: rows +
            # distinct ride the same aggregate)
            n_rows, n_dropped = spark.read.parquet(path).agg(
                F.count(F.lit(1)), F.count_distinct("corpus_id")
            ).first()
            return int(n_rows), {"n_dropped": int(n_dropped)}

        report, n_report, meta = stage("report", write_report)
        n_decon = n_near - meta["n_dropped"]
        contaminated = report.select(F.col("corpus_id").alias(id_col)).distinct()
        cleaned = near_kept.join(
            D._maybe_broadcast(contaminated, n_report), id_col, "left_anti"
        )

    out = C._sample_and_split(
        cleaned, clusters, n_clusters, sample_fraction=sample_fraction,
        val_fraction=val_fraction, seed=seed, id_col=id_col,
    )

    def write_documents(path: str) -> Tuple[int, dict]:
        obs = Observation()
        out.observe(obs, _count("n")).write.mode("overwrite").parquet(path)
        n_final = C._observed_count(obs, artifact_rows(path))
        if sample_fraction is None:
            C._check_final(n_decon, n_final)
        return n_final, {}

    documents, n_final, _meta = stage("documents", write_documents)
    return CurationResult(
        documents=documents,
        funnel=C._funnel_rows(
            redact=redact, n_in=n_in, n_q=n_q, n_exact=n_exact, n_near=n_near,
            n_decon=n_decon,
            n_sampled=n_final if sample_fraction is not None else None,
            n_final=n_final,
        ),
        contamination_report=report,
        clusters=clusters,
    )
