"""Evaluation operators (E1-E4): BLEU, normalized edit distance, token
accuracy, exact match — over (prediction, truth) pair tables.

Semantics follow the reference eval harness (eval.py:50-83): both
sides are post_process'd before comparison; edit distance is
normalized by the truth length; token accuracy pad-aligns the two id
sequences and averages elementwise equality.  The reference computes
corpus BLEU per batch and means over batches; here BLEU is per-pair
sentence BLEU (smoothed only by the brevity penalty, 4-gram uniform
weights — torchtext's definition) averaged over rows, which is the
partition-stable formulation (documented deviation).
"""

from __future__ import annotations

import math
from collections import Counter
from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from latex_ocr_spark.functions.arrowcols import map_rows


def sentence_bleu(pred_tokens: List[str], truth_tokens: List[str], max_n: int = 4) -> float:
    """Uniform-weight BLEU with brevity penalty (one reference).

    The n-gram order is clamped to the shorter sequence so an exact
    match always scores 1.0 — the reference gets the same effect from
    *corpus-level* accumulation over a batch (torchtext bleu_score);
    per-pair scoring is the partition-stable formulation.
    """
    if not pred_tokens or not truth_tokens:
        return 0.0
    max_n = min(max_n, len(pred_tokens), len(truth_tokens))
    log_sum = 0.0
    for n in range(1, max_n + 1):
        pred_ngrams = Counter(
            tuple(pred_tokens[i : i + n]) for i in range(len(pred_tokens) - n + 1)
        )
        truth_ngrams = Counter(
            tuple(truth_tokens[i : i + n]) for i in range(len(truth_tokens) - n + 1)
        )
        overlap = sum((pred_ngrams & truth_ngrams).values())
        total = max(sum(pred_ngrams.values()), 1)
        if overlap == 0:
            return 0.0
        log_sum += math.log(overlap / total) / max_n
    bp = (
        1.0
        if len(pred_tokens) >= len(truth_tokens)
        else math.exp(1 - len(truth_tokens) / len(pred_tokens))
    )
    return bp * math.exp(log_sum)


def edit_distance(a: str, b: str) -> int:
    """Levenshtein DP, O(len(a)·len(b)) with two rows."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def token_accuracy(pred_ids: List[int], truth_ids: List[int], pad: int = 0) -> float:
    """Pad-align and average elementwise equality (eval.py:62-71)."""
    n = max(len(pred_ids), len(truth_ids))
    if n == 0:
        return 1.0
    p = list(pred_ids) + [pad] * (n - len(pred_ids))
    t = list(truth_ids) + [pad] * (n - len(truth_ids))
    return sum(int(x == y) for x, y in zip(p, t)) / n


def bleu_counts(pred_tokens: List[str], truth_tokens: List[str], max_n: int = 4):
    """Per-pair clipped n-gram overlap/total counts + lengths — the
    additive pieces of corpus BLEU (torchtext's formulation, which the
    reference computes per batch at eval.py:57)."""
    overlap, total = [], []
    for n in range(1, max_n + 1):
        p = Counter(tuple(pred_tokens[i : i + n]) for i in range(len(pred_tokens) - n + 1))
        t = Counter(tuple(truth_tokens[i : i + n]) for i in range(len(truth_tokens) - n + 1))
        overlap.append(sum((p & t).values()))
        total.append(max(sum(p.values()), 0))
    return overlap, total, len(pred_tokens), len(truth_tokens)


def corpus_bleu(scored: DataFrame, max_n: int = 4) -> float:
    """Corpus-level BLEU over a table scored by :func:`score_pairs`.

    Counts aggregate distributively (one Spark agg); the 10-number
    final combine runs driver-side.  This is the reference's metric
    shape; the per-pair ``bleu`` column remains the partition-stable
    per-row signal."""
    sums = scored.agg(
        *[F.sum(F.element_at("bleu_overlap", n + 1)).alias(f"o{n}") for n in range(max_n)],
        *[F.sum(F.element_at("bleu_total", n + 1)).alias(f"t{n}") for n in range(max_n)],
        F.sum("pred_len").alias("plen"),
        F.sum("truth_len").alias("tlen"),
    ).collect()[0]
    log_sum = 0.0
    for n in range(max_n):
        o, t = sums[f"o{n}"], sums[f"t{n}"]
        if not o or not t:
            return 0.0
        log_sum += math.log(o / t) / max_n
    bp = 1.0 if sums.plen >= sums.tlen else math.exp(1 - sums.tlen / max(sums.plen, 1))
    return bp * math.exp(log_sum)


_PAIR_SCHEMA_EXTRA = [
    T.StructField("bleu", T.DoubleType()),
    T.StructField("edit_dist_norm", T.DoubleType()),
    T.StructField("token_acc", T.DoubleType()),
    T.StructField("exact_match", T.IntegerType()),
    T.StructField("bleu_overlap", T.ArrayType(T.LongType())),
    T.StructField("bleu_total", T.ArrayType(T.LongType())),
    T.StructField("pred_len", T.LongType()),
    T.StructField("truth_len", T.LongType()),
]


def score_pairs(
    pairs: DataFrame, pred_col: str = "pred", truth_col: str = "truth"
) -> DataFrame:
    """Append the four per-pair metrics.  post_process is applied to
    both sides inside the UDF (the reference's equality invariant).
    The tokenizer travels as a broadcast (executors may only have the
    --py-files zip, not the resources directory)."""
    from latex_ocr_spark.operators.tokenize import _broadcast_tokenizer, _rebuild

    bc = _broadcast_tokenizer(pairs)

    def make_row():
        from latex_ocr_spark.textkernel.normalize import post_process

        tk = _rebuild(bc)

        def row(pred, truth):
            p = post_process(pred or "")
            t = post_process(truth or "")
            # BLEU over BPE token sequences, as the reference's
            # detokenize→bleu_score chain does (eval.py:55-57)
            pt = tk.detok_tokens(pred or "")
            tt = tk.detok_tokens(truth or "")
            acc = token_accuracy(
                tk.encode(p, add_specials=False), tk.encode(t, add_specials=False)
            )
            ed = edit_distance(p, t) / max(len(t), 1)
            yield (sentence_bleu(pt, tt), ed, acc, int(p == t), *bleu_counts(pt, tt))

        return row

    return map_rows(pairs, make_row, [pred_col, truth_col], _PAIR_SCHEMA_EXTRA)


def metric_rollup(scored: DataFrame) -> DataFrame:
    """A3 metric means (eval.py:75-83) over the scored pair table."""
    return scored.agg(
        F.round(F.avg("bleu"), 4).alias("avg_bleu"),
        F.round(F.avg("edit_dist_norm"), 4).alias("avg_edit_dist"),
        F.round(F.avg("token_acc"), 4).alias("avg_token_acc"),
        F.round(F.avg("exact_match"), 4).alias("exact_match_rate"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
