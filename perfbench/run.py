#!/usr/bin/env python3
"""Benchmark of the profiler and the LLM-data operators.

    python3 perfbench/run.py --workload profile_catalog --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, computes the expected outputs, starts the program's own Spark
session at local[<cores>], runs one cold op (set-up and warm-up), then runs
a closed loop of a fixed number of ops, set by ``--seconds``, with one
client, and checks every op's output.  Human-readable lines start with
``#``; the last line is one JSON object.  ``--trace 1`` alternates
untraced and traced ops and reports per-layer metrics instead of
end-to-end ones.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

from measure import OpRecord, ProcSampler, core_busy_ratio, summarize
from tracing import Tracer, instrument, layer_metrics, spark_counters

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = "spark_df_profiling_spark"
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "4g"
# Op times keep falling for a minute and more as the JVM compiles hot code
# (README.md has the curve).  The run budget leaves no room to wait until
# they are steady on every workload, so after the cold op each workload
# runs a fixed number of untimed warm-up ops (``warmup_ops``), and every run
# then times the same ops of the curve: a fixed count, never one that
# depends on how fast the program is.  ``--seconds`` sets the count at
# NOMINAL_OP_S per op, at least MIN_TIMED_OPS.
MIN_TIMED_OPS = 2
NOMINAL_OP_S = 5.0


def timed_ops(seconds: float, trace: bool) -> int:
    """How many ops the timed window runs; traced runs take an odd count,
    so that they start and end untraced."""
    n = max(MIN_TIMED_OPS, math.ceil(seconds / NOMINAL_OP_S))
    return n + 1 if trace and n % 2 == 0 else n


def metric_units() -> dict[str, str]:
    """Every metric's unit, as BENCHMARK.json lists it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def proc_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        started = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - started / os.sysconf("SC_CLK_TCK")


def start_session(run_dir: str, cores: int):
    """The program's own session, with only what the inputs and the machine
    need: nanosecond timestamps, no UI or progress bars, a driver heap for
    a 15 GB machine, and scratch space inside the checkout."""
    local, tmp = os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    from spark_df_profiling_spark.session import build_session
    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.close()  # Python-side objects freed later send nothing
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Bench:
    """One run: the closed loop over one workload's op."""

    def __init__(self, spark, workload, sampler, tracer, cores: int) -> None:
        self.spark = spark
        self.wl = workload
        self.sampler = sampler
        self.tracer = tracer
        self.cores = cores
        self.ops = 0
        self.layers: list[dict[str, float]] = []

    def run_op(self, traced: bool = False) -> OpRecord:
        index, sc = self.ops, self.spark.sparkContext
        self.ops += 1
        group = f"perfbench-op-{index}"
        sc.setJobGroup(group, self.wl.name)
        self.tracer.op = index
        span = self.tracer.span if traced else (lambda name: nullcontext())
        before = self.sampler.read()
        t0 = time.perf_counter()
        out = None
        try:
            with instrument(self.tracer) if traced else nullcontext():
                out = self.wl.op(self.spark, span)
            problems = self.wl.check(out)
        except Exception as exc:  # an op that raises counts as failed
            problems = [f"{type(exc).__name__}: "
                        + traceback.format_exception_only(exc)[-1].strip()[:500]]
        t1 = time.perf_counter()
        after = self.sampler.read()
        for p in problems[:5]:
            print(f"# op {index} FAILED: {p}", flush=True)
        rec = OpRecord(t0, t1, not problems, traced,
                       after.py_cpu_s - before.py_cpu_s,
                       after.jvm_cpu_s - before.jvm_cpu_s)
        if traced:
            m = layer_metrics(self.tracer.op_spans(index))
            m.update(spark_counters(sc, group))
            m["spark.core_busy_ratio"] = core_busy_ratio(
                m["spark.executor_run_s"], rec.seconds, self.cores)
            m["driver.python_cpu_s"] = rec.cpu_py_s
            m["driver.jvm_cpu_s"] = rec.cpu_jvm_s
            precision = getattr(self.wl, "precision", None)
            p = precision(out) if precision and rec.ok else None
            m["dedup.minhash_precision"] = p if p is not None else 0.0
            self.layers.append(m)
        return rec

    def window(self, ops: int, trace: bool):
        """The timed closed loop of ``ops`` ops, failed ones included.
        Traced runs alternate untraced and traced ops, untraced first and
        last, so that the two medians sit at the same point of op times
        still falling from JIT warm-up and the tracing overhead is biased in
        neither direction."""
        return [self.run_op(traced=trace and i % 2 == 1)
                for i in range(ops)]


def end_to_end(wl, setup_s: float, records, before, after, peak_rss: int):
    s = summarize(records)
    ok = s.attempted - s.failed
    metrics = {
        "setup_s": setup_s,
        "rows_per_s": wl.rows * ok / s.window_s,
        "op_p50_s": s.p50_s,
        "cpu_s_per_op": (after.py_cpu_s + after.jvm_cpu_s - before.py_cpu_s
                         - before.jvm_cpu_s) / s.attempted,
    }
    print(f"# peak_rss_mb: {peak_rss / float(1 << 20):.1f} MB, Python + JVM "
          "(not gated: JVM heap growth varies run to run)")
    tail = (f"p{s.tail[0]:g} = {s.tail[1]:.4f} s" if s.tail else
            "n/a (fewer than 10 samples beyond p75)")
    print(f"# op_tail_s: {tail} over {s.attempted} ops (not gated)")
    print(f"# ops_failed_frac: {s.failed_frac:.4f} "
          f"({s.failed}/{s.attempted}, not gated)")
    return s, metrics


def per_layer(bench: Bench, records):
    """Median over the traced ops of each layer figure, and the tracing
    overhead: traced minus untraced op median."""
    traced = [r.seconds for r in records if r.traced and r.ok]
    plain = [r.seconds for r in records if not r.traced and r.ok]
    metrics = {k: statistics.median(m[k] for m in bench.layers)
               for k in bench.layers[0]}
    overhead = (statistics.median(traced) - statistics.median(plain)
                if traced and plain else 0.0)
    metrics["trace.overhead_s"] = overhead
    print(f"# tracing overhead: {overhead:+.4f} s per op "
          f"(traced p50 over {len(traced)}, untraced p50 over {len(plain)})")
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PROGRAM, "session.py")):
        print(f"perfbench: {PROGRAM} not found next to perfbench/; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "inputs"))
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](args.seed, os.path.join(run_dir, "inputs"))
        excluded = time.perf_counter() - t0  # input generation and oracle
        print(f"# workload {wl.name} seed {args.seed} cores {cores}; "
              f"inputs and expectations in {excluded:.2f} s")
        for t in wl.tables.values():
            print(f"#   {t.describe(cores)}")
        off = [f"{t.name} is {t.band(cores)}, not {t.intended_band}"
               for t in wl.tables.values()
               if t.intended_band and t.band(cores) != t.intended_band]
        if off:
            print(f"perfbench: at {cores} cores the inputs leave their "
                  f"size bands: {'; '.join(off)}", file=sys.stderr)
            return 2
        spark = start_session(run_dir, cores)
        tracer = Tracer()
        try:
            jvm_pid = spark.sparkContext._gateway.proc.pid
            with ProcSampler(jvm_pid) as sampler:
                bench = Bench(spark, wl, sampler, tracer, cores)
                cold = bench.run_op()
                setup_s = proc_age_s() - excluded
                print(f"# cold op: {cold.seconds:.3f} s", flush=True)
                warm = [bench.run_op() for _ in range(wl.warmup_ops)]
                if warm:
                    print("# warm-up op times (s): " + ", ".join(
                        f"{r.seconds:.3f}" for r in warm), flush=True)
                sampler.reset_peak()
                before = sampler.read()
                records = bench.window(
                    timed_ops(args.seconds, bool(args.trace)), bool(args.trace))
                after = sampler.read()
                print("# timed op times (s): " + ", ".join(
                    f"{r.seconds:.3f}{'' if r.ok else ' FAILED'}"
                    f"{' traced' if r.traced else ''}" for r in records))
                peak = sampler.peak_rss_bytes
        finally:
            stop_session(spark)
        if args.trace:
            tracer.write(os.path.join(
                WORK, f"spans-{wl.name}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    s, metrics = end_to_end(wl, setup_s, records, before, after, peak)
    if args.trace:
        metrics = per_layer(bench, records)
    units = metric_units()
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": s.failed == 0 and all(r.ok for r in [cold] + warm),
        "attempted": s.attempted,
        "failed": s.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
