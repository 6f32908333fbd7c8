"""End-to-end corpus curation: the composed pipeline a training-data
user actually runs, built from this repo's individually oracle-checked
operators:

    [redaction]            (textstats.redact_text — optional scrub)
      → quality gates        (textstats.quality_gate — inline filter,
                              id untouched at its own type)
      → exact dedup          (dedup.exact_duplicates, keep canonical)
      → near-dup clustering  (LSH+verify pairs by default — the scale
                              path — or capped exact Jaccard;
                              → duplicate_clusters, keep one
                              representative per cluster)
      → decontamination      (dedup.decontaminate vs an eval set,
                              REUSING the near-dup stage's profile)
      → [sampling]           (textstats.deterministic_sample — optional
                              global or per-stratum down-sample)
      → cluster-safe split   (textstats.cluster_safe_split — near-dups
                              can't straddle train/val)

One stage set, two runners.  Each stage is defined once, as a plain
function below (``_check_knobs``, ``_gate``, ``_exact_groups``,
``_near_pairs``, ``_merge_clusters``, ``_decontaminate``,
``_sample_and_split``, ``_funnel_rows``, ...).  The runners call those
functions and differ only in what they own:

- :func:`curate_corpus`, the in-memory runner, owns the ``observe()``
  stage counts, the ``cachepool`` tracking of the narrow reused frames,
  and the deferred ``resolve_funnel``;
- :func:`latex_ocr_spark.plans.resumable.curate_corpus_resumable`, the
  checkpoint runner, owns the parquet stage artifacts, the lineage
  commit, the single-writer lease, the crash hook and the
  artifact-derived counts.

Single-pass design (round 4): the funnel counts ride ``observe()``
metrics instead of per-stage ``count()`` actions, corpus-wide text
frames are never persisted (only the small cluster/group frames and
the one per-document profile — which genuinely feeds several joins —
are cachepool-tracked; the pair frames are checkpointed by the counts
that gate them), and the corpus is profiled exactly ONCE: the near-dup
stage's profile (for either near-dup method), survivor-filtered by an
anti-join against the dropped ids, is handed to the decontamination
stage.  At test scale this is invisible; at 100 TB the corpus profile
and corpus-wide materializations were the funnel's two dominant costs.

The funnel (docs in/out per stage) remains the curation run's primary
observability artifact — a stage that silently drops 90% of a corpus
should be visible in one table, not discovered downstream.  Collecting
it costs one action over the final frame.  Before it, the near-dup
stage materializes the LSH candidates (one action that runs the corpus
profile and LSH, and with them the early stage counts) and then the
verified pairs, once each.  The verified-pair count is the funnel's
one size gate (``dedup._is_small``, ``dedup._UNION_FIND_MAX_PAIRS``):
it picks the clustering path and whether the dropped-id and cluster
frames are broadcast-hinted; below the clustering gate the labels then
come from one task of the final action.  The merged cluster table
(``CurationResult.clusters``) costs its own corpus pass, paid only by
a caller that reads it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from latex_ocr_spark import cachepool
from latex_ocr_spark.operators import dedup as D
from latex_ocr_spark.operators import textstats as TS


@dataclass
class CurationResult:
    """Outputs of one curation run.

    ``documents`` — surviving docs with a ``split`` column;
    ``funnel``   — [(stage, docs_in, docs_out), …] in execution order;
    ``contamination_report`` — (corpus_id, eval_id, jaccard), empty
    frame when no eval set was given;
    ``clusters`` — (id, cluster_id) duplicate clusters found: the
    merged near + exact table, built lazily by the in-memory runner (it
    costs a corpus pass, paid only when read).
    """

    documents: DataFrame
    funnel: List[Tuple[str, int, int]]
    contamination_report: Optional[DataFrame] = None
    clusters: Optional[DataFrame] = None
    #: set when curate_corpus ran with collect_funnel=False: call
    #: resolve_funnel() AFTER your own FULL action on ``documents``
    #: (takes the optional exact final count for the anomaly check)
    _funnel_resolver: Optional[
        Callable[[Optional[int]], List[Tuple[str, int, int]]]
    ] = field(default=None, repr=False)

    def funnel_dict(self) -> Dict[str, Tuple[int, int]]:
        return {s: (i, o) for s, i, o in self.funnel}

    def resolve_funnel(self, verify: bool = False) -> List[Tuple[str, int, int]]:
        """Populate ``funnel`` in deferred mode (collect_funnel=False).

        CONTRACT: the resolving action must be a FULL pass over
        ``documents`` — a sink write or a ``count()``.  A partial
        action (``take``/``show``/``limit``-then-collect)
        short-circuits the scan, so every observation captures only
        the rows the partial action happened to pull and the funnel
        silently reports partial counts.  Call this after that full
        action; calling it before any action BLOCKS until one runs.
        No-op when the funnel was already collected.

        ``verify=True`` additionally runs one exact ``count()`` over
        ``documents`` and cross-checks it against the last observed
        stage count, raising on mismatch — the same metrics-anomaly
        guard collected mode always applies (it catches both a
        partial resolving action and a double-applied CollectMetrics
        subtree under stage re-execution), at the price of one extra
        pipeline pass.  In-repo callers (jobs, bench) write the full
        frame, so they keep the zero-extra-pass default."""
        if self._funnel_resolver is not None:
            n_final = self.documents.count() if verify else None
            self.funnel = self._funnel_resolver(n_final)
            self._funnel_resolver = None
        return self.funnel

    def write_bucketed(
        self, table: str, num_buckets: int = 64, id_col: str = "doc_id"
    ) -> None:
        """Persist the curated documents as a bucketed (and bucket-
        sorted) managed table on the id — the storage layout that makes
        every downstream J1-class join on the id exchange-free
        (sources/bucketed.py; plan asserted in
        tests/test_bucketed_join.py).  The natural sink for a corpus
        that training-data jobs will repeatedly join metadata onto."""
        from latex_ocr_spark.sources.bucketed import write_bucketed

        write_bucketed(self.documents, table, key=id_col, num_buckets=num_buckets)


# ---- the funnel's stages, defined once ------------------------------


def _count(name: str):
    return F.count(F.lit(1)).alias(name)


def _check_knobs(
    near_dup_method: str, max_df: Optional[int], max_bucket_size: Optional[int]
) -> None:
    """Each blowup cap belongs to one pair generator: setting it for
    the other raises rather than silently ignoring a mitigation."""
    if near_dup_method not in ("lsh", "jaccard"):
        raise ValueError(
            f"near_dup_method must be 'lsh' or 'jaccard', got {near_dup_method!r}"
        )
    if near_dup_method == "lsh" and max_df is not None:
        raise ValueError("max_df applies to near_dup_method='jaccard'; "
                         "use max_bucket_size for the LSH path")
    if near_dup_method == "jaccard" and max_bucket_size is not None:
        raise ValueError("max_bucket_size applies to near_dup_method='lsh'; "
                         "use max_df for the exact path")


def _spine(docs: DataFrame, *, redact: bool, id_col: str, text_col: str) -> DataFrame:
    """The corpus spine (id, text).  Redaction is a row-preserving
    scrub that must precede any text-derived signal, so hashes,
    shingles and profiles see what training will see."""
    cur = docs.select(id_col, text_col)
    if redact:
        cur = TS.redact_text(cur, text_col=text_col, out_col=text_col)
    return cur


def _gate(
    cur: DataFrame, *, min_tokens: int, max_punct_ratio: float, id_col: str,
    text_col: str,
) -> DataFrame:
    """Quality gates — a plain filter over the profile expressions (id
    untouched at its own type: string-id corpora survive) — plus the
    NULL-id drop.

    A row without an id cannot be deduplicated, decontaminated or
    split, so it is dropped HERE, counted, rather than by the
    exact-dedup join's implicit isNotNull filter.  That implicit filter
    would be PUSHED DOWN below the observe nodes, silently skewing every
    upstream funnel count for NULL-id corpora (observed metrics count
    what flows through the node's post-pushdown position)."""
    return TS.quality_gate(
        cur, min_tokens=min_tokens, max_punct_ratio=max_punct_ratio,
        text_col=text_col,
    ).filter(F.col(id_col).isNotNull())


def _exact_groups(gated: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Exact-dup groups (text_hash, canonical_id, dup_count): narrow,
    and read both by the canonical semi-join and by the cluster merge
    (every >1 group's members get cluster rows)."""
    return D.exact_duplicates(gated, text_col=text_col, id_col=id_col)


def _exact_survivors(gated: DataFrame, groups: DataFrame, id_col: str) -> DataFrame:
    """Exact dedup: keep the canonical (min id) of each text group."""
    canonical = groups.select(F.col("canonical_id").alias(id_col))
    return gated.join(canonical, id_col, "left_semi")


def _near_pairs(
    cur: DataFrame, *, near_dup_method: str, dedup_threshold: float,
    ngram: int, num_hashes: int, band_size: int,
    max_bucket_size: Optional[int], max_df: Optional[int], id_col: str,
    text_col: str,
) -> Tuple[DataFrame, DataFrame]:
    """(verified near-dup pairs, THE corpus profile they came from).

    The profile is built once here, reused by the pair generator AND —
    survivor-filtered — by :func:`_decontaminate`: one corpus
    tokenization per funnel run, whichever method runs.

    ONE cached per-document profile (shingle set + signatures + size),
    kept row-wise — no explode, no distinct exchange, no signature
    groupBy.  Per-doc signatures are unaffected by dropping other
    documents, so the filtered reuse is exact.  One cache layer, not
    two (arrays + signatures): stacked caches raced their builds inside
    the clustering's first action and re-ran the corpus tokenize +
    hash family once per layer.

    'lsh' verifies band candidates against the profile's arrays;
    'jaccard' explodes the profile into the (id, shingle) rows the
    exact inverted index needs (untracked — a projection of the cache,
    not a second layer over it)."""
    profile = cachepool.track(
        D.minhash_signatures(
            cur, num_hashes, text_col, id_col, ngram,
            include_size=True, include_shingles=True,
        )
    )
    if near_dup_method == "lsh":
        pairs = D.lsh_verified_pairs(
            cur, threshold=dedup_threshold, num_hashes=num_hashes,
            band_size=band_size, text_col=text_col, id_col=id_col,
            ngram=ngram, max_bucket_size=max_bucket_size, _arrs=profile,
        )
    else:
        pairs = D.jaccard_pairs(
            cur, threshold=dedup_threshold, text_col=text_col, id_col=id_col,
            ngram=ngram, max_df=max_df if max_df is not None else 1000,
            _shingles=profile.select("id", F.explode("shingles").alias("shingle")),
        )
    return pairs, profile


def _merge_clusters(
    pairs: DataFrame, n_pairs: int, gated: DataFrame, groups: DataFrame, *,
    id_col: str, text_col: str,
) -> Tuple[DataFrame, DataFrame]:
    """(near-dup clusters, full cluster table).

    ``pairs`` is already materialized and holds ``n_pairs`` rows; the
    clustering runs unconditionally on it: it is typed from the pairs
    frame and yields no rows when there are no near-dups, so the funnel
    plans identically with and without them.

    The full table is the near-dup components ∪ the exact-dup groups'
    members (without them, a dropped exact copy re-added later would
    split-hash by its own id and could straddle its canonical — the
    leakage the cluster-safe split exists to prevent).  Exact members
    resolve THROUGH their canonical's near-dup cluster when one exists
    (A≡B exact, A≈C near → B's cluster is C's cluster id); each id
    keeps its minimum cluster id.

    Every near-dup survivor is its own cluster canonical: it has no
    near row, or ``cluster_id == id``, and its merged id is its own id
    too.  So the split reads the same key from either table, and the
    in-memory runner splits by ``near`` and leaves ``merged`` lazy —
    its corpus pass (scan + gate + md5 + union) is paid only by a
    caller that reads ``CurationResult.clusters``."""
    near = D._components(pairs, n_pairs)
    exact_members = (
        gated.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("text_hash"))
        .join(
            groups.filter(F.col("dup_count") > 1).select("text_hash", "canonical_id"),
            "text_hash",
        )
        .select("id", "canonical_id")
    )
    exact_resolved = (
        exact_members.join(
            near.select(
                F.col("id").alias("canonical_id"), F.col("cluster_id").alias("_near_cl")
            ),
            "canonical_id",
            "left",
        )
        .select("id", F.coalesce("_near_cl", "canonical_id").alias("cluster_id"))
    )
    merged = (
        near.unionByName(exact_resolved)
        .groupBy("id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return near, merged


def _near_survivors(
    cur: DataFrame, clusters: DataFrame, *, id_col: str, n_rows: int
) -> Tuple[DataFrame, DataFrame]:
    """(dropped non-canonical ids, survivors): keep one representative
    — the canonical (minimum id) — per near-dup cluster.  ``n_rows``
    bounds the dropped-id count."""
    non_canonical = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return non_canonical, cur.join(
        D._maybe_broadcast(non_canonical, n_rows), id_col, "left_anti"
    )


def _decontaminate(
    cur: DataFrame, evalset: DataFrame, non_canonical: DataFrame,
    profile: Optional[DataFrame], n_dropped: int, *, dedup_threshold: float,
    num_hashes: int, band_size: int, ngram: int, max_bucket_size: Optional[int],
    id_col: str, text_col: str,
) -> Tuple[DataFrame, DataFrame]:
    """(contamination report, cleaned corpus) vs the eval set.

    ``profile`` is the near-dup stage's corpus profile, filtered to
    survivors by an anti-join against the dropped-id set (at most
    ``n_dropped`` rows, broadcast under the size gate): the corpus is
    never re-tokenized.  ``None`` (the near-dup stage did not run in this
    process) lets decontaminate build its own.  The recall knobs carry
    over, so one similarity measure holds end-to-end."""
    survivors = None
    if profile is not None:
        dropped = D._maybe_broadcast(
            non_canonical.withColumnRenamed(id_col, "id"), n_dropped
        )
        survivors = profile.join(dropped, "id", "left_anti")
    return D.decontaminate(
        cur, evalset, threshold=dedup_threshold,
        num_hashes=num_hashes, band_size=band_size,
        ngram=ngram, text_col=text_col, id_col=id_col,
        max_bucket_size=max_bucket_size,
        _corpus_arrs=survivors,
    )


def _sample_and_split(
    cur: DataFrame, clusters: DataFrame, n_clusters: int, *,
    sample_fraction: Optional[float], val_fraction: float, seed: str,
    id_col: str,
    watch: Callable[[str, DataFrame], DataFrame] = lambda _stage, df: df,
) -> DataFrame:
    """Optional deterministic (subset-stable) down-sample, then the
    cluster-safe split: near-dups hash by their cluster canonical, so
    re-adding a dropped near-dup later can never land it on the other
    side.  ``watch`` wraps the sampled frame (the in-memory runner's
    stage count).

    ``clusters`` may be the near-only or the merged table: every
    survivor is its own canonical in both (see :func:`_merge_clusters`),
    so ``coalesce(cluster_id, id)`` is the survivor's own id either way.
    The in-memory runner passes ``near``; the checkpoint runner passes
    its ``clusters`` artifact, already on disk.  ``n_clusters`` bounds
    its row count and gates the split join's broadcast hint."""
    if sample_fraction is not None:
        cur = watch("sample", TS.deterministic_sample(
            cur, fraction=sample_fraction, id_col=id_col, seed=seed + ":sample"
        ))
    return TS.cluster_safe_split(
        cur, clusters, val_fraction=val_fraction, id_col=id_col, seed=seed,
        clusters_are_small=D._is_small(n_clusters),
    )


def _observed_count(obs: Observation, fallback: Callable[[], int]) -> int:
    """An observed stage count, with the degenerate-corpus fallback.

    A degenerate pipeline (e.g. every id NULL) can empty a broadcast
    join side at runtime; AQE then skips the whole probe branch, the
    CollectMetrics nodes on it never execute, and their observations
    complete with schema-less empty rows that pyspark's
    ``Observation.get`` cannot convert (toPyRow asserts).  Read the JVM
    map directly; when the metric is genuinely absent (node skipped),
    pay ``fallback()`` — an extra action only on this degenerate path,
    where the spine is near-empty and cheap, and the funnel MUST still
    report true stage counts (the zero-survivors warning keys off
    them)."""
    try:
        return int(obs.get["n"])
    except Exception:
        try:
            m = obs._jo.getAsJava()
            if m.containsKey("n"):
                return int(m.get("n"))
        except Exception:
            pass
        return int(fallback())


def _check_final(n_last: int, n_final: int) -> None:
    """The split preserves rows, so the last stage count must equal
    the exact final count.  A mismatch means stale artifacts or
    observed metrics that double-applied (e.g. a resubmitted stage
    re-ran a CollectMetrics subtree): surface it rather than report a
    corrupted funnel."""
    if n_last != n_final:
        raise RuntimeError(
            f"funnel metrics anomaly: last stage count {n_last} != final "
            f"count {n_final} (stale artifacts? observation metrics "
            f"double-applied under task/stage re-execution?)"
        )


def _funnel_rows(
    *, redact: bool, n_in: int, n_q: int, n_exact: int, n_near: int,
    n_decon: int, n_sampled: Optional[int], n_final: int,
) -> List[Tuple[str, int, int]]:
    """[(stage, docs_in, docs_out), …] in execution order.  The
    decontaminate row is always present (n_decon == n_near without an
    eval set); the redact and sample rows only when those stages ran."""
    funnel = [("redact", n_in, n_in)] if redact else []
    funnel += [
        ("quality_gates", n_in, n_q),
        ("exact_dedup", n_q, n_exact),
        ("near_dup_clusters", n_exact, n_near),
        ("decontaminate", n_near, n_decon),
    ]
    if n_sampled is not None:
        funnel.append(("sample", n_decon, n_sampled))
    funnel.append(("split", n_decon if n_sampled is None else n_sampled, n_final))
    return funnel


# ---- the in-memory runner -------------------------------------------


def curate_corpus(
    docs: DataFrame,
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
    collect_funnel: bool = True,
) -> CurationResult:
    """Run the full curation funnel; see module docstring.

    ``collect_funnel``: True (default) runs one count action over the
    final frame so ``CurationResult.funnel`` is populated on return.  A
    consumer that will immediately run its own FULL action (write the
    documents to a sink, count them — not take/show/limit, which
    would capture partial counts; see ``resolve_funnel``) should pass
    False and call ``resolve_funnel()`` AFTER that action — the
    observation metrics
    ride the consumer's pass, so the funnel costs zero extra passes
    over the corpus (at 100 TB the dedicated count pass roughly doubles
    funnel cost; both jobs use the deferred mode).

    Funnel counts are ``df.observe()`` metrics (accumulator-backed).
    In collected mode the final observed count is cross-checked against
    the exact ``count()`` from the same action and a mismatch raises —
    the anomaly a re-executed stage (speculation, shuffle-fetch retry)
    could in principle introduce by re-applying a CollectMetrics
    subtree.  Failed task attempts never contribute (Spark excludes
    them from metric accumulators).

    Near-dup handling keeps each cluster's canonical (minimum-id)
    member — the reference's memo/set-dedup policy generalized.  The
    final split hashes by cluster canonical id even though only
    canonicals survive, so re-adding a dropped near-dup later can
    never land it on the other side of the split.

    ``near_dup_method``: ``'lsh'`` (default) generates pairs with the
    production MinHash-LSH + exact-verify plan — the 100 TB path,
    quadratic work bounded by band collisions, ``max_bucket_size``
    capping degenerate buckets (the k² blowup on a huge boilerplate
    family).  Recall is probabilistic for borderline pairs: with the
    default 8 hashes / band size 2, a pair exactly AT threshold 0.5
    collides in some band ~68% of the time (1-(1-s^2)^4) while a
    0.9-jaccard pair is found >99.97% — raise ``num_hashes`` (more
    bands) to buy recall near the threshold, so the docstring's
    "near-dups can't straddle the split" guarantee is exact only for
    pairs LSH surfaces.  ``'jaccard'`` uses the exact inverted-index
    self-join (``max_df`` hot-shingle cap, default 1000) —
    deterministic full recall, the right choice for small corpora and
    for pinning exact counts in tests.  ``max_df`` applies only to
    'jaccard' and ``max_bucket_size``/``num_hashes``/``band_size``
    only to 'lsh'; setting one for the other method raises rather
    than silently ignoring a blowup mitigation.

    One similarity measure end-to-end: ``ngram``, ``num_hashes``,
    ``band_size`` and ``max_bucket_size`` are forwarded to the
    decontamination stage too (which always runs the LSH plan — its
    cross-table candidate step has no exact variant), so raising
    recall knobs raises them for BOTH near-dup detection and
    decontamination.
    """
    _check_knobs(near_dup_method, max_df, max_bucket_size)
    # stage -> (observation, observed frame); the frame is what the
    # degenerate-path fallback counts
    watched: Dict[str, Tuple[Observation, DataFrame]] = {}

    def watch(stage: str, df: DataFrame) -> DataFrame:
        obs = Observation()
        watched[stage] = (obs, df.observe(obs, _count("n")))
        return watched[stage][1]

    cur = watch("in", _spine(docs, redact=redact, id_col=id_col, text_col=text_col))
    gated = watch("quality_gates", _gate(
        cur, min_tokens=min_tokens, max_punct_ratio=max_punct_ratio,
        id_col=id_col, text_col=text_col,
    ))
    # the narrow frames feeding several consumers persist; the corpus
    # text frames do NOT (recomputing a pruned scan+filter is cheaper
    # than caching the corpus at scale)
    groups = cachepool.track(_exact_groups(gated, id_col=id_col, text_col=text_col))
    cur = watch("exact_dedup", _exact_survivors(gated, groups, id_col))
    # one similarity measure for the near-dup and decontamination stages
    sim = dict(dedup_threshold=dedup_threshold,
               ngram=ngram, num_hashes=num_hashes, band_size=band_size,
               max_bucket_size=max_bucket_size, id_col=id_col, text_col=text_col)
    raw_pairs, corpus_frame = _near_pairs(
        cur, near_dup_method=near_dup_method, max_df=max_df, **sim
    )
    # the verified pairs, materialized once: their count gates the
    # clustering path and the hints on the id frames derived from them
    pairs, n_pairs = D._materialize(raw_pairs)
    near, merged = _merge_clusters(
        pairs, n_pairs, gated, groups, id_col=id_col, text_col=text_col
    )
    non_canonical, cur = _near_survivors(cur, near, id_col=id_col, n_rows=n_pairs)
    cur = watch("near_dup_clusters", cur)
    clusters = cachepool.track(merged)

    report = None
    if evalset is not None:
        report, cur = _decontaminate(
            cur, evalset, non_canonical, corpus_frame, n_pairs, **sim
        )
        cur = watch("decontaminate", cur)
    out = _sample_and_split(
        cur, near, n_pairs, sample_fraction=sample_fraction,
        val_fraction=val_fraction, seed=seed, id_col=id_col, watch=watch,
    )

    def _build_funnel(n_final: Optional[int]) -> List[Tuple[str, int, int]]:
        n = {s: _observed_count(obs, df.count) for s, (obs, df) in watched.items()}
        n_decon = n.get("decontaminate", n["near_dup_clusters"])
        n_last = n.get("sample", n_decon)
        if n_final is not None:
            _check_final(n_last, n_final)
        return _funnel_rows(
            redact=redact, n_in=n["in"], n_q=n["quality_gates"],
            n_exact=n["exact_dedup"], n_near=n["near_dup_clusters"],
            n_decon=n_decon, n_sampled=n.get("sample"), n_final=n_last,
        )

    if collect_funnel:
        # the funnel's single action: materializes the whole pipeline
        # once and resolves every pending observation (the early ones
        # were already captured by the clustering's pair
        # materialization, whose lineage runs through the same
        # observed spine)
        funnel = _build_funnel(out.count())
        resolver = None
    else:
        # deferred mode: the caller's own sink action resolves the
        # observations — the funnel costs zero extra pipeline passes.
        # The resolving action MUST be a full pass (resolve_funnel
        # docstring); resolve_funnel(verify=True) buys the exact-count
        # cross-check back for one extra pass
        funnel = []
        resolver = _build_funnel

    return CurationResult(
        documents=out,
        funnel=funnel,
        contamination_report=report,
        clusters=clusters,
        _funnel_resolver=resolver,
    )
