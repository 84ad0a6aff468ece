"""Benchmark entry point.

    python3 perfbench/run.py --workload nested_wide --seed 1 --seconds 8 --trace 0

Run from the repository root. One process generates the workload's
inputs from ``--seed``, starts a pinned ``local[4]`` Spark session, sets
up and warms the workload, then sends jobs one at a time (closed loop,
one client) for ``--seconds`` seconds and checks every output against an
independent reference. Human-readable lines come first; the last line of
standard output is one JSON object with the run's metrics: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
See ``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: the inputs are generated and written this many times; set-up time
#: counts the median of these rounds once
SETUP_ROUNDS = 3
#: discarded warm-up jobs; they fill the codegen cache and let the JIT
#: compile the hot paths before timing starts
WARMUP_JOBS = 1
#: the closed loop keeps sending jobs past the deadline until it has this many
MIN_JOBS = 2
#: a traced run times at least one untraced, traced, traced, untraced cycle
MIN_TRACED_JOBS = 4


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import config_driven_pyspark_spark  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import harness as H
    from perfbench.lakehouse import Lakehouse
    from perfbench.nested_wide import NestedWide
    from perfbench.report import end_to_end, per_layer, print_result
    from perfbench.vector_search import VectorSearch

    workloads = {w.name: w for w in (NestedWide, Lakehouse, VectorSearch)}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; expected one of {sorted(workloads)}", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    spark = None
    try:
        spark = H.start_session(work_dir)
        session_s = process_age()
        tracer = H.Tracer(spark)
        wl = workloads[args.workload](spark, work_dir, args.seed, tracer)
        if args.trace:
            wl.install_traces()

        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl.prepare()
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.reference()  # the benchmark's own checking work, not set-up
        reference_s = time.perf_counter() - t0
        warmup_s = 0.0
        for _ in range(WARMUP_JOBS):
            t0 = time.perf_counter()
            outputs = wl.job()
            warmup_s += time.perf_counter() - t0
            outputs.update(wl.after_job())
            if not all(outputs.values()):
                print(f"perfbench: warm-up job failed its checks: {outputs}", file=sys.stderr)
            wl.reset()
            H.settle(spark)
        setup_s = session_s + H.median(rounds) + warmup_s

        tracer.counters.reset_heap_peaks()
        job_s: list[float] = []
        traced_flags: list[bool] = []
        attempted = failed = 0
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            # traced runs mix traced and untraced jobs so the tracing
            # overhead is measured inside one process; the order untraced,
            # traced, traced, untraced cancels a trend across the run
            tracer.traced = bool(args.trace) and i % 4 in (1, 2)
            tracer.job = i
            t0 = time.perf_counter()
            try:
                outputs = wl.job()
                dt = time.perf_counter() - t0
                outputs.update(wl.after_job())
            except Exception:
                traceback.print_exc()
                attempted += 1
                failed += 1
            else:
                attempted += len(outputs)
                bad = [k for k, ok in outputs.items() if not ok]
                failed += len(bad)
                if bad:
                    print(f"perfbench: job {i} failed checks: {bad}", file=sys.stderr)
                job_s.append(dt)
                traced_flags.append(tracer.traced)
            tracer.traced = False
            wl.reset()
            H.settle(spark)
            i += 1
            if time.perf_counter() >= deadline and i >= (MIN_TRACED_JOBS if args.trace else MIN_JOBS):
                break

        if not job_s:
            print("perfbench: every job failed", file=sys.stderr)
            return 1
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss_mb = H.vm_hwm_mb(os.getpid()) + H.vm_hwm_mb(jvm_pid)
        peak_heap_mb = tracer.counters.heap_peak_mb()
        run = {
            "workload": wl,
            "tracer": tracer,
            "setup_s": setup_s,
            "session_s": session_s,
            "setup_rounds_s": rounds,
            "warmup_s": warmup_s,
            "reference_s": reference_s,
            "job_s": job_s,
            "traced_flags": traced_flags,
            "peak_rss_mb": peak_rss_mb,
            "peak_heap_mb": peak_heap_mb,
            "attempted": attempted,
            "failed": failed,
        }
        if args.trace:
            metrics = per_layer(run)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.trace.json"), "w") as fh:
                json.dump([vars(s) for s in tracer.spans], fh)
        else:
            metrics = end_to_end(run)
    finally:
        if spark is not None:
            H.stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass  # another run still uses it
    # printed after the JVM has exited, so nothing can follow the result
    print_result(run, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
