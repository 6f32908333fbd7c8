"""Approximate/exact nearest-neighbor search over embedding columns.

Brute-force cosine top-k is the exact baseline (broadcast the query
set, never cross-join two big sides); the LSH-bucketed variant is the
scale path: random-hyperplane signs computed from deterministic
per-dimension coefficients, candidates via band-key equi-join, exact
re-rank only inside buckets.

All arithmetic is JVM-side higher-order functions on array<double> —
no Python in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries`` is expected to be small (it is broadcast); the corpus
    side streams through one codegen'd stage.  Similarity is rounded to
    4 decimals and ties break on candidate id, making the ranking
    deterministic and engine-portable.
    """
    # norms are per-VECTOR, so compute them in the projections before
    # the pair join — the old per-pair _norm recomputed the same
    # interpreted 64-element fold once per (query, candidate) pair,
    # tripling the scoring stage's higher-order-function work (guide
    # §1.2 per-task work; arithmetic identical, so cosines are
    # bit-for-bit unchanged)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("_qn", _norm(F.col("qv")))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("_cn", _norm(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn")),
                4,
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold).

    With ``num_planes`` > 0 candidates are restricted to hyperplane-LSH
    buckets first (the 100 TB path — all-pairs work shrinks by ~2^planes
    at some recall cost); 0 = exact all-pairs, used as the oracle-
    checkable baseline at test scale.  ``hash_fn='md5'`` makes the
    bucketed path itself oracle-checkable (``dedup_embedding_lsh``).

    The b-side is broadcast-hinted while the projected vector frame's
    observed row count passes the dedup size gate (``dedup._is_small``,
    one job that materializes and counts it).  Without the hint Spark's
    post-filter size ESTIMATES decide, and on a larger table they tip
    the exact path's non-equi join from a broadcast nested loop into a
    CartesianProduct whose task count is |a-parts|×|b-parts| — measured
    4,097 tasks / tens of seconds of pure scheduling for 205 vectors at
    sf1.0.  Over the gate the hint is dropped: a forced broadcast
    overrides the size checks.
    """
    from latex_ocr_spark.operators import dedup as D

    # per-vector norm computed once in the projection, not per pair —
    # the pair join multiplies rows, and each _norm is an interpreted
    # 64-element fold (bit-identical arithmetic, 3× less per-pair work).
    # The LSH bucket is a pure function of the vector, so it rides the
    # same projection (the r7-early shape attached it back via TWO
    # id-equi-joins against a separate hyperplane_buckets frame, an
    # exchange or broadcast build per side carrying nothing the row
    # didn't already have)
    cols = [F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")]
    if num_planes:
        cols.append(_bucket_col(F.col(vec_col), num_planes, hash_fn).alias("bucket"))
    v, n = D._materialize(embeddings.select(*cols).withColumn("_n", _norm(F.col("v"))))
    keys = ["bucket"] if num_planes else []
    a_side = v.select(
        F.col("id").alias("a_id"), F.col("v").alias("av"), F.col("_n").alias("_an"), *keys
    )
    b_side = v.select(
        F.col("id").alias("b_id"), F.col("v").alias("bv"), F.col("_n").alias("_bn"), *keys
    )
    b_side = D._maybe_broadcast(b_side, n)
    if num_planes:
        pairs = a_side.join(b_side, keys).filter(F.col("a_id") < F.col("b_id"))
    else:
        pairs = a_side.join(b_side, F.col("a_id") < F.col("b_id"))
    scored = pairs.withColumn(
        "cosine",
        F.round(
            _dot(F.col("av"), F.col("bv")) / (F.col("_an") * F.col("_bn")), 4
        ),
    )
    return scored.filter(F.col("cosine") >= threshold).select("a_id", "b_id", "cosine")


def hyperplane_buckets(
    embeddings: DataFrame,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, bucket) random-hyperplane LSH signature.

    Plane p's coefficient for dimension d is a deterministic pseudo-
    random ±-free value derived from hash(p ‖ d): portable across runs
    and executors with zero driver state to broadcast.

    ``hash_fn``: ``xxhash64`` (default — cheapest, Spark-only) or
    ``md5`` (first 8 hex digits via conv) — the md5 family exists in
    DuckDB too, making the whole ANN plan oracle-checkable
    (``ann_lsh_recall``); both give the same bucketing quality.
    """
    bucket = _bucket_col(F.col(vec_col), num_planes, hash_fn)
    return embeddings.select(F.col(id_col).alias("id"), bucket.alias("bucket"))


def _bucket_col(vec, num_planes: int, hash_fn: str, key_prefix: str = ""):
    """Bucket expression for one LSH table; ``key_prefix`` salts the
    plane family so multiple tables get independent hyperplanes."""
    v = _as_double(vec)
    signs = []
    for p in range(num_planes):
        # pmod, not %: Spark's % keeps the dividend sign, which would
        # bias every coefficient negative and collapse all non-negative
        # vectors into one bucket
        if hash_fn == "md5":
            coef = lambda x, i, _p=p: x * (
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(f"{key_prefix}{_p}#"), i.cast("string")
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(1000),
                ).cast("double")
                / 1000.0
                - 0.4995
            )
        else:
            coef = lambda x, i, _p=p: x * (
                F.pmod(
                    F.xxhash64(
                        F.concat(F.lit(f"{key_prefix}{_p}#"), i.cast("string"))
                    ),
                    F.lit(1000),
                ).cast("double")
                / 1000.0
                - 0.4995
            )
        proj = F.aggregate(
            F.zip_with(
                v,
                F.transform(F.sequence(F.lit(0), F.size(v) - 1), lambda i: i),
                lambda x, i: coef(x, i),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        signs.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)) * (2 ** p))
    return sum(signs[1:], signs[0])


def multitable_buckets(
    embeddings: DataFrame,
    num_planes: int = 4,
    num_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, table_idx, bucket) over ``num_tables`` independent plane
    families — the standard recall lever: a pair is a candidate if it
    collides in ANY table, so recall ≈ 1-(1-s^p)^L instead of s^p.
    One row per (vector, table); all bucket math is a single codegen'd
    projection before the explode."""
    cols = F.array(
        *[
            _bucket_col(F.col(vec_col), num_planes, hash_fn, key_prefix=f"{t}:")
            for t in range(num_tables)
        ]
    )
    return embeddings.select(
        F.col(id_col).alias("id"), F.posexplode(cols).alias("table_idx", "bucket")
    )


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
    num_tables: int = 1,
) -> DataFrame:
    """ANN variant: exact re-rank restricted to hyperplane buckets.

    Recall < 1 by construction; at corpus scale the bucket join reduces
    the scored pairs by ~2^num_planes versus brute force.  Raise
    ``num_tables`` to trade candidate volume for recall (union of
    collisions across independent plane families).
    """
    if num_tables > 1:
        b_corpus = multitable_buckets(
            embeddings, num_planes, num_tables, id_col, vec_col, hash_fn
        )
        b_query = multitable_buckets(
            queries, num_planes, num_tables, id_col, vec_col, hash_fn
        )
        join_keys = ["table_idx", "bucket"]
    else:
        b_corpus = hyperplane_buckets(embeddings, num_planes, id_col, vec_col, hash_fn)
        b_query = hyperplane_buckets(queries, num_planes, id_col, vec_col, hash_fn)
        join_keys = ["bucket"]
    cand = (
        b_query.withColumnRenamed("id", "query_id")
        .join(b_corpus.withColumnRenamed("id", "neighbor_id"), join_keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    if num_tables > 1:
        # a pair can collide in several tables; single-table pairs are
        # already unique, so don't pay the dedup shuffle there
        cand = cand.distinct()
    # per-vector norms in the projections (see cosine_topk) — identical
    # arithmetic, computed once per vector instead of once per pair
    qv = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("_qn", _norm(F.col("qv")))
    cv = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("_cn", _norm(F.col("cv")))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "cosine",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
