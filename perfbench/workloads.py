"""The workloads and the stream sweep: input generation, one timed
pass, the output checks, and the traced layer sweep.

A pass calls the program the way its production jobs do; the checks
read the pass's outputs back afterwards, outside the timed region.
The traced sweep materializes each layer's input first and times the
layer's public call alone, inside a span named after its module.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field
from statistics import median

from perfbench import gen
from perfbench.harness import clean, dir_bytes

# pass sizes: at local[4] a timed pass takes about 15 s, of which about
# 4 s is fixed per-pass cost (jobs, commits); warm-up passes and the
# traced sweeps run a fraction of the input
EXTRACT_CONVS = 36_000
EXTRACT_FILES = 8
EXTRACT_UNITS = 64           # lineage.DEFAULT_UNITS
EXTRACT_SAMPLE_CONVS = 150   # golden-checked conversations per pass
PREPARE_BASE_DOCS = 16_000
PREPARE_FILES = 8
TRACE_FRAC = 0.2            # input share of the traced sweeps
PACK_BUDGET = 2048           # jobs/prepare_job.py --budget default
STREAM_FILES = 6
STREAM_DOCS_PER_FILE = 100
STREAM_FILES_PER_TRIGGER = 3
NGRAM = 3


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    cores: int


@dataclass
class PassResult:
    wall: float
    rows: int
    checksum: str = ""
    batches: list = field(default_factory=list)  # stream micro-batch seconds
    failures: list = field(default_factory=list)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digest(rows) -> str:
    """Order-independent checksum of an iterable of tuples."""
    acc = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
    return format(acc, "016x")


# ------------------------------------------------------------------ extract


class Extract:
    name = "extract"

    def make_input(self, ctx: Ctx, pass_idx: int, frac: float = 1.0) -> dict:
        path = os.path.join(ctx.work, f"extract-in-{pass_idx}")
        n = int(EXTRACT_CONVS * frac)
        turns = gen.write_transcripts(path, ctx.seed, pass_idx, n, EXTRACT_FILES)
        return {"path": path, "turns": turns, "pass_idx": pass_idx, "n": n,
                "out": os.path.join(ctx.work, f"extract-out-{pass_idx}"),
                "lineage": os.path.join(ctx.work, f"extract-lineage-{pass_idx}")}

    def run(self, ctx: Ctx, inp: dict) -> PassResult:
        from latex_ocr_spark.operators.lineage import run_resumable_extract
        from latex_ocr_spark.sources.tables import read_transcripts

        t0 = time.perf_counter()
        with ctx.tracer.span("operators.lineage"):
            transcripts = read_transcripts(ctx.spark, inp["path"])
            run_resumable_extract(
                ctx.spark, transcripts, inp["out"], inp["lineage"], n_units=EXTRACT_UNITS
            )
        wall = time.perf_counter() - t0
        return PassResult(wall, inp["turns"])

    def check(self, ctx: Ctx, inp: dict, res: PassResult, full: bool) -> None:
        """Every pass: one lineage row per unit; the lineage's own
        order-independent checksum is the pass checksum.  ``full``: the
        spans of a seeded sample of conversations equal ``golden_spans``
        (the kernel run driver-side), by an order-independent digest."""
        from pyspark.sql import functions as F

        lineage = ctx.spark.read.parquet(inp["lineage"]).agg(
            F.bit_xor("checksum").alias("checksum"), F.count(F.lit(1)).alias("units"),
        ).first()
        if lineage["units"] != EXTRACT_UNITS:
            res.failures.append(f"extract: {lineage['units']} lineage units, "
                                f"want {EXTRACT_UNITS}")
        res.checksum = format(lineage["checksum"] & ((1 << 64) - 1), "016x")
        if not full:
            return
        from latex_ocr_spark.datagen.transcripts import (
            conv_length,
            golden_spans,
            make_turn,
        )

        convs = gen.sample_convs(ctx.seed, inp["pass_idx"], inp["n"],
                                 EXTRACT_SAMPLE_CONVS)
        rows = [make_turn(c, t) for c in convs for t in range(conv_length(c))]
        want = _digest(
            (s["conv_id"], s["turn_idx"], s["span_idx"], s["raw_match"], s["latex_norm"])
            for s in golden_spans(rows)
        )
        got = (
            ctx.spark.read.parquet(inp["out"])
            .filter(F.col("conv_id").isin(sorted({r[0] for r in rows})))
            .select("conv_id", "turn_idx", "span_idx", "raw_match", "latex_norm")
            .collect()
        )
        if _digest(tuple(r) for r in got) != want:
            res.failures.append("extract: sampled spans differ from golden_spans")

    def trace(self, ctx: Ctx, make) -> dict:
        from pyspark.sql import functions as F

        from latex_ocr_spark.operators.extract import (
            candidate_filter,
            extract_spans,
            with_stable_order,
        )
        from latex_ocr_spark.sources.tables import read_transcripts

        tr, inp = ctx.tracer, make(0, frac=TRACE_FRAC)
        with tr.span("sources"):
            _noop(read_transcripts(ctx.spark, inp["path"]))
        transcripts = read_transcripts(ctx.spark, inp["path"])
        with tr.span("operators.extract"):
            _noop(with_stable_order(extract_spans(transcripts)))
        res = self.run(ctx, inp)
        with tr.span("bench.check"):
            self.check(ctx, inp, res, full=True)
        with tr.span("bench.counts"):
            n_cand = candidate_filter(transcripts).count()
            lin = ctx.spark.read.parquet(inp["lineage"]).agg(
                F.sum("n_spans"), F.sum("n_failed")).first()
        spans = tr.find("operators.extract")
        commit = tr.find("operators.lineage")
        return res.failures, {
            "sources.scan_s": tr.find("sources").seconds,
            "udfs.py_bytes_in": spans.counts["py_bytes_in"],
            "udfs.py_bytes_out": spans.counts["py_bytes_out"],
            "extract.candidate_frac": n_cand / inp["turns"],
            "extract.spans": int(lin[0]),
            "extract.failed_turns": int(lin[1]),
            "extract.spans_s": spans.seconds,
            "lineage.commit_s": commit.seconds - spans.seconds,
            "lineage.output_bytes": dir_bytes(inp["out"])[1],
        }

    def drop(self, inp: dict) -> None:
        for k in ("path", "out", "lineage"):
            clean(inp[k])


# ------------------------------------------------------------------ prepare


class Prepare:
    name = "prepare"

    def make_input(self, ctx: Ctx, pass_idx: int, frac: float = 1.0) -> dict:
        n = int(PREPARE_BASE_DOCS * frac)
        corpus = gen.make_corpus(ctx.seed, pass_idx, n)
        path = os.path.join(ctx.work, f"prepare-in-{pass_idx}")
        gen.write_corpus(corpus, path, PREPARE_FILES)
        return {"path": path, "corpus": corpus, "pass_idx": pass_idx,
                "out": os.path.join(ctx.work, f"prepare-out-{pass_idx}")}

    @staticmethod
    def _curate(ctx: Ctx, path: str):
        from latex_ocr_spark.plans.curate import curate_corpus
        from latex_ocr_spark.sources.documents import read_documents

        docs = read_documents(ctx.spark, path, source_format="parquet")
        # jobs/prepare_job.py without --checkpoint-dir: deferred funnel,
        # resolved by the packed-table write
        return curate_corpus(docs, None, near_dup_method="lsh", ngram=NGRAM,
                             collect_funnel=False)

    @staticmethod
    def _tokens(df):
        from pyspark.sql import functions as F

        from latex_ocr_spark.operators.tokenize import with_tokens

        return with_tokens(df, text_col="text", out_col="tokens").withColumn(
            "n_tokens", F.size("tokens"))

    def run(self, ctx: Ctx, inp: dict) -> PassResult:
        from latex_ocr_spark import cachepool
        from latex_ocr_spark.operators.packing import pack_sequences

        t0 = time.perf_counter()
        res = self._curate(ctx, inp["path"])
        packed = pack_sequences(self._tokens(res.documents), budget=PACK_BUDGET,
                                group_col="split")
        packed.write.mode("overwrite").partitionBy("split").parquet(inp["out"])
        inp["funnel"] = res.resolve_funnel()
        wall = time.perf_counter() - t0
        cachepool.release()
        return PassResult(wall, len(inp["corpus"].ids))

    @staticmethod
    def _funnel_failures(corpus, funnel) -> list:
        """The first three funnel stages must drop exactly the planted
        quality failures, exact copies and near copies."""
        n, c = len(corpus.ids), corpus
        want = [
            ("quality_gates", n, n - c.bad),
            ("exact_dedup", n - c.bad, n - c.bad - c.exact),
            ("near_dup_clusters", n - c.bad - c.exact, n - c.bad - c.exact - c.near),
        ]
        got = [tuple(s) for s in funnel][:3]
        return [] if got == want else [f"prepare: funnel {got} != planted {want}"]

    def check(self, ctx: Ctx, inp: dict, res: PassResult, full: bool) -> None:
        """The funnel counts match the planted structure, the packed
        table holds every curated doc, its packed-token sum equals the
        curated-token sum, and no pack mixes splits.  The pass checksum
        is an order-independent hash of (doc_id, split, n_tokens)."""
        from pyspark.sql import functions as F

        res.failures += self._funnel_failures(inp["corpus"], inp["funnel"])
        packed = ctx.spark.read.parquet(inp["out"])
        tot = packed.agg(
            F.count(F.lit(1)).alias("rows"), F.sum("n_tokens").alias("tokens"),
            F.sum(F.when(F.col("pack_id").isNotNull(), F.col("n_tokens"))).alias("packed"),
            F.count("pack_error").alias("errors"),
            F.bit_xor(F.xxhash64("doc_id", "split", "n_tokens")).alias("checksum"),
        ).first()
        res.checksum = format(tot["checksum"] & ((1 << 64) - 1), "016x")
        mixed = (packed.groupBy("pack_id").agg(F.countDistinct("split").alias("k"))
                 .filter("k > 1").count())
        if tot["rows"] != inp["funnel"][-1][2]:
            res.failures.append(f"prepare: {tot['rows']} packed rows")
        if tot["errors"] or tot["packed"] != tot["tokens"]:
            res.failures.append(f"prepare: packed tokens {tot['packed']} "
                                f"!= curated {tot['tokens']}")
        if mixed:
            res.failures.append(f"prepare: {mixed} packs mix splits")

    def trace(self, ctx: Ctx, make) -> dict:
        from pyspark.sql import functions as F

        from latex_ocr_spark import cachepool
        from latex_ocr_spark.operators import dedup as D
        from latex_ocr_spark.operators.packing import pack_sequences, pack_stats
        from latex_ocr_spark.sources.documents import read_documents

        tr, spark, w = ctx.tracer, ctx.spark, ctx.work
        p = {k: os.path.join(w, f"prepare-trace-{k}")
             for k in ("profile", "pairs", "curated", "tokens", "packed")}
        # the composed chain first, on its own input ...
        inp = make(0, frac=TRACE_FRAC)
        with tr.span("plans.curate"):
            res = self._curate(ctx, inp["path"])
            res.documents.write.parquet(p["curated"])
            funnel = res.resolve_funnel()
        cachepool.release()
        with tr.span("operators.tokenize"):
            self._tokens(spark.read.parquet(p["curated"])).write.parquet(p["tokens"])
        toks = spark.read.parquet(p["tokens"])
        with tr.span("operators.packing"):
            pack_sequences(toks, budget=PACK_BUDGET, group_col="split").write.parquet(
                p["packed"])
        with tr.span("bench.counts"):
            n_tokens = toks.agg(F.sum("n_tokens")).first()[0]
            fill = pack_stats(spark.read.parquet(p["packed"]), PACK_BUDGET).agg(
                F.avg("fill_ratio")).first()[0]
        # ... then the dedup layers on a fresh one, so the profile memo
        # the chain filled serves none of their lookups
        inp2 = make(1, frac=TRACE_FRAC)
        docs = read_documents(spark, inp2["path"], source_format="parquet")
        with tr.span("operators.dedup.minhash"):
            D.minhash_signatures(docs, 8, ngram=NGRAM, include_size=True,
                                 include_shingles=True).write.parquet(p["profile"])
        profile = spark.read.parquet(p["profile"])
        with tr.span("operators.dedup.lsh"):
            n_cand = D.lsh_candidate_pairs(None, _signatures=profile).count()
            D.lsh_verified_pairs(docs, threshold=0.5, ngram=NGRAM, _arrs=profile,
                                 _signatures=profile).write.parquet(p["pairs"])
        with tr.span("bench.counts"):
            n_ver = spark.read.parquet(p["pairs"]).count()
        with tr.span("operators.dedup.clusters"):
            _noop(D.duplicate_clusters(spark.read.parquet(p["pairs"])))
        cachepool.release()
        for v in p.values():
            clean(v)
        out = {
            "dedup.minhash_s": tr.find("operators.dedup.minhash").seconds,
            "dedup.lsh_candidates": n_cand,
            "dedup.lsh_verified": n_ver,
            "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
            "dedup.clusters_s": tr.find("operators.dedup.clusters").seconds,
            "dedup.cluster_jobs": tr.find("operators.dedup.clusters").counts["jobs"],
            "curate.s": tr.find("plans.curate").seconds,
            "curate.jobs": tr.find("plans.curate").counts["jobs"],
            "tokenize.s": tr.find("operators.tokenize").seconds,
            "tokenize.tokens": int(n_tokens),
            "packing.s": tr.find("operators.packing").seconds,
            "packing.fill_ratio": float(fill),
        }
        for stage, _docs_in, docs_out in funnel:
            out[f"curate.funnel.{stage}"] = docs_out
        return self._funnel_failures(inp["corpus"], funnel), out

    def drop(self, inp: dict) -> None:
        clean(inp["path"])
        clean(inp["out"])


# ------------------------------------------------------------------- stream


class Stream:
    """Traced sweep only: one availableNow drain of a seeded backlog
    through bounded micro-batches into a fresh survivor index — a closed
    loop, each batch starting after the previous one commits."""

    name = "stream"

    def make_input(self, ctx: Ctx, pass_idx: int) -> dict:
        backlog = gen.make_backlog(ctx.seed, pass_idx, STREAM_FILES, STREAM_DOCS_PER_FILE)
        base = os.path.join(ctx.work, f"stream-{pass_idx}")
        gen.write_backlog(backlog, os.path.join(base, "in"))
        return {"backlog": backlog, "pass_idx": pass_idx, "base": base,
                **{k: os.path.join(base, k) for k in ("in", "out", "index", "ckpt")}}

    def run(self, ctx: Ctx, inp: dict) -> PassResult:
        from latex_ocr_spark import lease
        from latex_ocr_spark.streaming.near_dedup import start_near_dedup_stream

        t0 = time.perf_counter()
        with ctx.tracer.span("streaming.near_dedup"):
            q = start_near_dedup_stream(
                ctx.spark, inp["in"], inp["out"], inp["index"], inp["ckpt"],
                threshold=0.5, ngram=NGRAM, available_now=True,
                max_files_per_trigger=STREAM_FILES_PER_TRIGGER,
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
        wall = time.perf_counter() - t0
        res = PassResult(wall, inp["backlog"].n_docs, batches=[
            p.durationMs["triggerExecution"] / 1e3
            for p in q.recentProgress if p.numInputRows > 0])
        # the stream lease is released by a listener on query
        # termination; a lease still held here is a teardown failure
        deadline = time.time() + 30
        while lease.probe(inp["index"], "_stream_lock")[0] != "free":
            if time.time() > deadline:
                res.failures.append("stream: index lease not released")
                break
            time.sleep(0.05)
        return res

    def check(self, ctx: Ctx, inp: dict, res: PassResult) -> None:
        """The accepted count equals the backlog minus its planted copies
        (so it repeats exactly for a seed), no planted pair is accepted
        twice, and the backlog drained in the bounded batch count."""
        from latex_ocr_spark.streaming.sinks import read_stream_output

        b = inp["backlog"]
        accepted = {r[0] for r in read_stream_output(ctx.spark, inp["out"])
                    .select("doc_id").collect()}
        if len(accepted) != b.n_docs - b.copies:
            res.failures.append(f"stream: accepted {len(accepted)}, "
                                f"planted {b.n_docs - b.copies}")
        both = sum(1 for a, c in b.near_pairs if a in accepted and c in accepted)
        if both:
            res.failures.append(f"stream: {both} planted pairs accepted twice")
        want_batches = -(-len(b.files) // STREAM_FILES_PER_TRIGGER)
        if len(res.batches) != want_batches:
            res.failures.append(f"stream: {len(res.batches)} batches, want {want_batches}")
        res.checksum = _digest((i,) for i in accepted)

    def trace(self, ctx: Ctx, make) -> dict:
        tr, inp = ctx.tracer, make(0)
        res = self.run(ctx, inp)
        with tr.span("bench.check"):
            self.check(ctx, inp, res)
        drain = tr.find("streaming.near_dedup")
        with tr.span("streaming.near_dedup.history_scan"):
            for sub in ("shingles", "signatures"):
                _noop(ctx.spark.read.parquet(os.path.join(inp["index"], sub)))
        files, nbytes = dir_bytes(inp["index"])
        return res.failures, {
            "near_dedup.docs_per_s": inp["backlog"].n_docs / res.wall,
            "near_dedup.batch_p50_s": median(res.batches),
            "near_dedup.batch_jobs": drain.counts["jobs"] / len(res.batches),
            "near_dedup.index_files": files,
            "near_dedup.index_bytes": nbytes,
            "near_dedup.history_scan_s": tr.find(
                "streaming.near_dedup.history_scan").seconds,
        }

    def drop(self, inp: dict) -> None:
        clean(inp["base"])


#: the workloads a run can name; the traced sweep also drains a stream
WORKLOADS = {w.name: w for w in (Extract(), Prepare())}
SWEEPS = (*WORKLOADS.values(), Stream())
