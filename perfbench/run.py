#!/usr/bin/env python3
"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

``--trace 0`` runs the workload untraced and prints the end-to-end
metrics; ``--trace 1`` runs the traced layer sweep and prints the
per-layer metrics.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

#: quarter-size warm-up passes before the timed ones, on inputs of
#: their own: the first pass pays the JVM's JIT warm-up, class loading
#: and worker imports, 12-19 s whatever its size
WARMUPS = 1
WARMUP_FRAC = 0.25
#: nominal seconds of one timed pass at local[4]; with ``--seconds`` it
#: sets the timed-pass count
PASS_S = 15.0


class Ops:
    """Attempted and failed operations: passes, micro-batches, output
    checks and teardown."""

    def __init__(self):
        self.attempted = 0
        self.failures: list = []

    def record(self, what: str, failures: list) -> None:
        self.attempted += 1
        if failures:
            self.failures.append(f"{what}: {'; '.join(failures)}")

    def call(self, what: str, fn, *args):
        """Run ``fn``; an exception is a failed operation, reported with
        its traceback, and re-raised."""
        try:
            out = fn(*args)
        except Exception:
            self.record(what, [traceback.format_exc(limit=3)])
            raise
        return out


def declared_metrics(trace: bool) -> dict:
    """name -> unit of the metrics a run prints, from BENCHMARK.json."""
    with open(os.path.join(harness.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _pass(ctx, wl, ops: Ops, inp: dict):
    res = ops.call(f"{wl.name} pass {inp['pass_idx']}", wl.run, ctx, inp)
    ops.record(f"{wl.name} pass {inp['pass_idx']}", res.failures)
    res.failures = []
    return res


def _check(ctx, wl, ops: Ops, inp: dict, res, full: bool) -> None:
    ops.call(f"{wl.name} check {inp['pass_idx']}", wl.check, ctx, inp, res, full)
    ops.record(f"{wl.name} check {inp['pass_idx']}", res.failures)


def run_untraced(ctx, wl, seconds: float, ops: Ops) -> dict:
    """:data:`WARMUPS` quarter-size passes, then timed passes, each on a
    fresh input: as many as fill ``seconds`` at :data:`PASS_S` per pass,
    at least one.  The pass count depends on ``seconds`` alone, so every
    run of a setting does the same work and fills the worker memos the
    same way.  The last pass gets the full output check.  Throughput and
    worker memory are medians over the timed passes."""
    clock = time.perf_counter
    walls, rates, peaks, checksums = [], [], [], []
    phases = dict.fromkeys(("input_s", "warmup_s", "check_s"), 0.0)
    n_timed = max(1, round(seconds / PASS_S))
    with harness.RssSampler(harness.jvm_pid()) as rss:
        for pass_idx in range(WARMUPS + n_timed):
            warmup = pass_idx < WARMUPS
            t0 = clock()
            inp = wl.make_input(ctx, pass_idx, WARMUP_FRAC if warmup else 1.0)
            phases["input_s"] += clock() - t0
            if warmup:
                res = _pass(ctx, wl, ops, inp)
                phases["warmup_s"] += res.wall
            else:
                with rss.sampling():
                    res = _pass(ctx, wl, ops, inp)
                peaks.append(rss.peak_bytes)
                walls.append(res.wall)
                rates.append(res.rows / res.wall)
            t0 = clock()
            _check(ctx, wl, ops, inp, res, full=pass_idx == WARMUPS + n_timed - 1)
            phases["check_s"] += clock() - t0
            checksums.append(res.checksum)
            wl.drop(inp)
    print(json.dumps({"pass_walls_s": walls, "worker_peaks_mb": [p / 1e6 for p in peaks],
                      "phases": phases, "checksums": checksums}))
    return {
        "rows_per_s": statistics.median(rates),
        "py_rss_peak_mb": statistics.median(peaks) / 1e6,
    }


def run_traced(ctx, wl, ops: Ops, session_start_s: float) -> dict:
    """The traced run: every sweep (both workloads and the stream drain)
    on inputs cut to ``TRACE_FRAC``, each under a root span, ``wl``'s own
    last so that the others have warmed the JVM; then ``wl``'s tracing
    overhead, an untraced and a traced pass of that size, each on a fresh
    input; then the single-core kernel probes."""
    from perfbench import kernels
    from perfbench.harness import Tracer
    from perfbench.workloads import SWEEPS, TRACE_FRAC

    on = ctx.tracer
    off = Tracer(ctx.spark, False, on.run_id)

    metrics: dict = {"session.start_s": session_start_s}
    roots = {}
    for sweep in sorted(SWEEPS, key=lambda w: w is wl):
        def make(k, sweep=sweep, **kw):
            with on.span("bench.input"):
                return sweep.make_input(ctx, 10 + k, **kw)

        roots[sweep.name] = len(on.spans)
        with on.span(f"workload.{sweep.name}"):
            failures, layer = ops.call(f"{sweep.name} sweep", sweep.trace, ctx, make)
        ops.record(f"{sweep.name} sweep", failures)
        metrics.update(layer)
    walls = {}
    for pass_idx, traced in enumerate((False, True)):
        ctx.tracer = on if traced else off
        inp = wl.make_input(ctx, pass_idx, TRACE_FRAC)
        t0 = time.perf_counter()
        with ctx.tracer.span(f"pass.{wl.name}"):
            res = _pass(ctx, wl, ops, inp)
        walls[traced] = time.perf_counter() - t0
        _check(ctx, wl, ops, inp, res, full=True)
        wl.drop(inp)
    ctx.tracer = on

    root_idx = roots[wl.name]
    root = on.spans[root_idx]
    layers = [s for s in on.spans if s.parent == root_idx and not s.name.startswith("bench.")]
    counts = {k: sum(s.counts[k] for s in layers) for k in layers[0].counts}
    busy = sum(s.seconds for s in layers)
    widest = max(layers, key=lambda s: s.counts["max_stage_tasks"])
    metrics.update({
        "spark.jobs": counts["jobs"],
        "spark.stages": counts["stages"],
        "spark.tasks": counts["tasks"],
        "spark.task_cpu_s": counts["task_cpu_s"],
        "spark.gc_s": counts["gc_s"],
        "spark.shuffle_write_bytes": counts["shuffle_write_bytes"],
        "spark.spill_bytes": counts["spill_bytes"],
        "spark.exchanges": counts["exchanges"],
        "spark.broadcasts": counts["broadcasts"],
        "spark.task_skew": widest.counts["task_skew"],
        "spark.idle_core_frac": 1 - counts["task_run_s"] / (busy * ctx.cores),
        "trace.unattributed_frac": on.self_seconds(root_idx) / root.seconds,
        "trace.overhead_s": walls[True] - walls[False],
    })
    metrics.update(kernels.probe(ctx.seed))

    os.makedirs(harness.OUT, exist_ok=True)
    on.dump(os.path.join(harness.OUT, f"trace-{wl.name}-{ctx.seed}.json"))
    for i, s in enumerate(on.spans):
        print(json.dumps({"span": s.name, "parent": on.spans[s.parent].name
                          if s.parent is not None else None,
                          "seconds": s.seconds, "self_s": on.self_seconds(i)}))
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be non-negative")

    # the program under test; in a directory without it this raises and
    # the run exits non-zero before printing or writing anything
    import latex_ocr_spark  # noqa: F401

    work = os.path.join(harness.WORK, str(os.getpid()))
    pinned = harness.pin_environment(work)

    from perfbench.harness import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    declared = declared_metrics(bool(args.trace))

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    print(json.dumps({"env": pinned, "workload": wl.name, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace}))

    ops = Ops()
    values: dict = {}
    spark = None
    try:
        # one cold set-up: JVM launch, session, package zip, workers
        t0 = time.perf_counter()
        spark = harness.start_session(work)
        setup_s = time.perf_counter() - t0
        print(json.dumps({"setup_s": setup_s}))
        tracer = Tracer(spark, bool(args.trace), f"{os.getpid()}-{args.seed}")
        ctx = Ctx(spark, tracer, work, args.seed, int(pinned["SPARK_GRAFT_CPUS"]))
        if args.trace:
            values = run_traced(ctx, wl, ops, setup_s)
        else:
            values = {"setup_s": setup_s}
            values.update(run_untraced(ctx, wl, args.seconds, ops))
    except Exception:
        traceback.print_exc()
        if not ops.failures:
            ops.record("run", [traceback.format_exc(limit=3)])
    finally:
        try:
            if spark is not None:
                spark.stop()
            harness.shutdown_jvm()
            ops.record("teardown", [])
        except Exception:
            ops.record("teardown", [traceback.format_exc(limit=3)])
        harness.clean(work)

    for f in ops.failures:
        print(f"FAILED {f}", file=sys.stderr)
    missing = sorted(set(declared) - set(values))
    if missing:
        print(f"MISSING metrics {missing}", file=sys.stderr)
    metrics = {k: {"value": values[k], "unit": u} for k, u in declared.items() if k in values}
    print(json.dumps({
        "correct": not ops.failures and not missing,
        "attempted": max(ops.attempted, 1),
        "failed": len(ops.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
