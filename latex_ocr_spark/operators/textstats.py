"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

Everything is built-in-function expressions (whole-stage codegen); the
rules are deliberately simple, deterministic, and reproducible in ANSI
SQL so the DuckDB oracle can co-verify them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from latex_ocr_spark import cachepool

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def _tokens(col: str):
    return F.filter(F.split(F.col(col), r"\s+"), lambda t: t != "")


def _punct_ratio_expr(text_col: str):
    """THE punctuation-ratio expression — shared by quality_scores,
    text_profile and quality_gate so a gate can never drift from the
    profile it is documented to agree with (rounding included)."""
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    return F.round(
        F.when(
            F.length(F.col(text_col)) > 0, n_punct / F.length(F.col(text_col))
        ).otherwise(0.0),
        4,
    )


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_tokens, n_chars_seen) — whitespace tokenization.

    The BPE-accurate count lives in the tokenizer operator; this is the
    cheap JVM-side estimate used for gating and bucketing.

    The id column keeps its own type (like ``dedup.exact_duplicates``):
    string doc ids are a supported contract, and a cast-to-long would
    silently nullify them.
    """
    toks = _tokens(text_col)
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_seen"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality features: mean token length, stopword ratio,
    punctuation ratio, all rounded for engine portability."""
    toks = _tokens(text_col)
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return docs.select(
        F.col(id_col).alias("id"),
        n.cast("long").alias("n_tokens"),
        F.round(
            F.when(n > 0, (F.length(F.regexp_replace(F.col(text_col), r"\s+", "")) / n)).otherwise(0.0), 4
        ).alias("mean_token_len"),
        F.round(F.when(n > 0, n_stop / n).otherwise(0.0), 4).alias("stopword_ratio"),
        _punct_ratio_expr(text_col).alias("punct_ratio"),
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language heuristic.

    Placeholder ruleset (en/de/es markers, 'und'/'y' words); the value
    is the *operator shape* — a pure-expression classifier any fastText
    style model can replace behind ``arrowcols.map_rows`` without other
    plan changes.
    """
    toks = _tokens(text_col)
    has = lambda w: F.array_contains(toks, w)
    pred = (
        F.when(has("und") | has("der") | has("nicht"), "de")
        .when(has("el") | has("los") | has("y"), "es")
        .when(has("the") | has("a") | has("of"), "en")
        .otherwise("unk")
    )
    return docs.select(F.col(id_col).alias("id"), pred.alias("lang_pred"))


def tf_idf(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, tok, tf, df, tfidf) — classic relevance weighting.

    tf = in-document count, df = document frequency, idf = ln(N/df).
    One explode feeds the (id, tok) aggregation; df is derived FROM tf
    (tf already has exactly one row per (id, tok), so ``count(*)`` per
    tok is the document frequency) and tf is persisted because it
    feeds both the join and the df aggregation — the scan+explode, the
    dominant cost, runs exactly once.  The persist is owned by the
    query boundary (cachepool.track → released before the next query).

    N is derived from the persisted tf frame too (``explode_outer``
    keeps a NULL-token row for zero-token documents, so
    ``count_distinct(id)`` over tf counts EVERY input document) and
    rides into the plan as a broadcast 1-row cross join.  The old
    dedicated ``docs.count()`` action was a second full corpus scan
    per call — real money at 100 TB; building this frame now launches
    no Spark job at all.

    NULL-id documents are EXCLUDED — from the output rows and from N
    consistently (``count_distinct`` skips NULLs, so counting them
    into N while emitting their rows, or vice versa, would silently
    skew idf; a document that cannot be attributed to an id has no
    place in a per-document relevance table)."""
    toks = _tokens(text_col)
    exploded = docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.explode_outer(toks).alias("tok")
    )
    tf = cachepool.track(exploded.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    n_frame = tf.agg(F.count_distinct("id").alias("_n_docs"))
    # the NULL-token placeholder rows exist only so N sees empty docs;
    # they are not terms and must not reach df or the output
    tf_terms = tf.filter(F.col("tok").isNotNull())
    df = tf_terms.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf_terms.join(df, "tok")
        .crossJoin(F.broadcast(n_frame))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("_n_docs").cast("double") / F.col("df")), 4
            ),
        )
        .select("id", "tok", "tf", "df", "tfidf")
    )


def _split_unit(key, seed: str):
    """[0, 1) unit hash of (key ‖ seed): first 8 hex digits of md5 over
    2^32 — THE split assignment expression, shared by the per-document
    and per-cluster splits so the two can never drift (the cluster-safe
    split must equal the plain split for unclustered documents)."""
    return (
        F.conv(F.substring(F.md5(F.concat(key, F.lit(seed))), 1, 8), 16, 10)
        .cast("double")
        / float(1 << 32)
    )


def deterministic_split(
    docs: DataFrame,
    val_fraction: float = 0.1,
    id_col: str = "doc_id",
    seed: str = "split-seed-1",
) -> DataFrame:
    """Append a stable ``split`` column ('train'/'val').

    The assignment is a pure function of (id, seed): the first 8 hex
    digits of md5(id ‖ seed) scaled to [0, 1) against the fraction —
    no RNG, no shuffle, identical on every engine/run/retry, and any
    row subset gets the same assignment as the full corpus (the
    property per-epoch RNG sampling lacks).  New seed = new split."""
    u = _split_unit(F.col(id_col).cast("string"), seed)
    return docs.withColumn(
        "split", F.when(u < val_fraction, F.lit("val")).otherwise(F.lit("train"))
    )


def fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized md5 fingerprint (case-fold + whitespace squeeze) —
    the canonical key for incremental-crawl dedup joins."""
    normed = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return docs.select(
        F.col(id_col).alias("id"),
        F.md5(normed).alias("fingerprint"),
    )


def text_profile(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counts + quality features + fingerprint in ONE projection
    (id, n_tokens, n_chars_seen, mean_token_len, stopword_ratio,
    punct_ratio, fingerprint).

    All seven outputs are per-row expressions over the same text
    column, so the composed profile is a single whole-stage-codegen
    select over one pruned scan — strictly cheaper than running
    :func:`token_counts`, :func:`quality_scores`, and
    :func:`fingerprints` as separate jobs (or worse, joining them
    back on id).  tests/test_textstats.py pins each column equal to
    its standalone operator.

    The id column keeps its own type — a string doc id survives (the
    cast-to-long this operator used to apply nullified string ids,
    which silently emptied any downstream id join)."""
    toks = _tokens(text_col)
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    normed = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return docs.select(
        F.col(id_col).alias("id"),
        n.cast("long").alias("n_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_seen"),
        F.round(
            F.when(n > 0, (F.length(F.regexp_replace(F.col(text_col), r"\s+", "")) / n)).otherwise(0.0), 4
        ).alias("mean_token_len"),
        F.round(F.when(n > 0, n_stop / n).otherwise(0.0), 4).alias("stopword_ratio"),
        _punct_ratio_expr(text_col).alias("punct_ratio"),
        F.md5(normed).alias("fingerprint"),
    )


def quality_gate(
    docs: DataFrame,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    text_col: str = "text",
) -> DataFrame:
    """Keep rows passing the standard quality gates — the SAME
    ``n_tokens`` / ``punct_ratio`` expressions as :func:`text_profile`
    (shared helpers, rounding included) applied as a plain filter.

    Column-preserving: every input column, the id included, passes
    through untouched at its own type.  This is the gate the curation
    funnel uses — a profile-then-join formulation would cost an id
    shuffle and (before round 4) silently dropped string-id corpora
    via the profile's id cast."""
    return docs.filter(
        (F.size(_tokens(text_col)) >= min_tokens)
        & (_punct_ratio_expr(text_col) <= max_punct_ratio)
    )


def cluster_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    val_fraction: float = 0.1,
    id_col: str = "doc_id",
    seed: str = "split-seed-1",
    clusters_are_small: bool = True,
) -> DataFrame:
    """Train/val split that near-duplicates can never straddle.

    A plain per-document hash split leaks: when doc A (train) and its
    near-copy B (val) land on opposite sides, the eval measures
    memorization.  Here the split unit is the duplicate CLUSTER: every
    document hashes by its cluster's canonical id (its own id if
    unclustered), so a whole near-dup group moves to one side together.

    ``clusters`` is (id, cluster_id) from ``dedup.duplicate_clusters``
    over whichever pair generator fits the corpus; it only contains
    documents that HAVE a near-dup.  With ``clusters_are_small`` (the
    default — right for benchmark/test corpora and moderate dup rates)
    the frame is broadcast-hinted, so the corpus side takes a map-side
    join plus the same md5-threshold expression as
    :func:`deterministic_split`.  Pass False for high-dup-rate corpora
    at scale (a web crawl where 20-30% of documents sit in some dup
    group makes this frame gigabytes; an explicit broadcast hint
    OVERRIDES Spark's size checks and would OOM the executors) — the
    join is then left to AQE, which still converts to broadcast at
    runtime whenever the frame turns out small.
    """
    # internal column name so a docs frame that already carries a
    # cluster_id column can't make the reference ambiguous
    canon_col = "__split_cluster_id"
    cl = clusters.select(
        F.col("id").alias(id_col), F.col("cluster_id").alias(canon_col)
    )
    canon = F.coalesce(F.col(canon_col), F.col(id_col)).cast("string")
    u = _split_unit(canon, seed)
    return (
        docs.join(F.broadcast(cl) if clusters_are_small else cl, id_col, "left")
        .withColumn(
            "split", F.when(u < val_fraction, F.lit("val")).otherwise(F.lit("train"))
        )
        .drop(canon_col)
    )


def deterministic_sample(
    docs: DataFrame,
    fraction: float | None = None,
    by: dict | None = None,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "sample-seed-1",
) -> DataFrame:
    """Deterministic (stratified) sampling by unit hash.

    - ``fraction`` — one global keep-rate;
    - ``by`` — per-stratum keep-rates, e.g. ``{"en": 0.5, "de": 1.0}``
      over ``strata_col`` (strata absent from the dict are dropped —
      an explicit sampling design, not a default).

    Same md5-threshold mechanism as :func:`deterministic_split`
    (shared ``_split_unit``): no RNG, no shuffle, retry- and
    subset-stable, and a row's keep decision never changes when other
    rows appear — the properties ``df.sample``'s per-partition RNG
    cannot give.  A different ``seed`` draws a fresh sample.
    """
    if (fraction is None) == (by is None):
        raise ValueError("exactly one of fraction/by is required")
    u = _split_unit(F.col(id_col).cast("string"), seed)
    if fraction is not None:
        return docs.filter(u < fraction)
    thresh = F.create_map(
        *[F.lit(x) for k, v in by.items() for x in (k, float(v))]
    )
    return docs.filter(u < F.coalesce(thresh[F.col(strata_col)], F.lit(0.0)))


#: redaction patterns: conservative, order matters (URLs before bare
#: digit runs so a URL's digits don't get partially rewritten first)
_REDACTIONS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b\d{13,19}\b", "<LONGNUM>"),  # card/account-number-shaped runs
    # phone shapes: optional +CC, optional (area) or bare area group,
    # then the subscriber groups.  Lookarounds instead of \b — a word
    # boundary can never fire before '+' or '(' (non-word chars), which
    # left those prefixes unredacted and leaked partial numbers.
    (
        r"(?<![\w.])(?:\+\d{1,3}[-. ]?)?(?:\(\d{2,4}\)[-. ]?)?(?:\d{2,4}[-. ])?"
        r"\d{3,4}[-. ]\d{3,4}(?![\w-])",
        "<PHONE>",
    ),
)


def redact_text(
    docs: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Append ``out_col`` with emails / URLs / long digit runs / phone-
    shaped numbers replaced by typed placeholders — the conservative
    pre-training scrub.  Pure chained ``regexp_replace`` expressions
    (whole-stage codegen, no Python); swap or extend ``_REDACTIONS``
    for a deployment's policy.  Detection recall is the policy module's
    problem — this operator's contract is the Spark shape: one
    projection, no shuffle."""
    col = F.col(text_col)
    for pat, repl in _REDACTIONS:
        col = F.regexp_replace(col, pat, repl)
    return docs.withColumn(out_col, col)
