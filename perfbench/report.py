"""Turn a finished run into metrics and print them.

End-to-end metrics come from untraced runs. Per-layer metrics come from
the traced jobs of a traced run; every per-layer number is the median
over those jobs of a per-job value. A layer a workload never calls reads 0.
"""

from __future__ import annotations

import functools
import json
import os

from perfbench.harness import median

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


@functools.cache
def declared(kind: str) -> dict[str, str]:
    """Metric name → unit of ``kind`` ("end_to_end" or "per_layer"), in
    declaration order: names and units are declared once, in BENCHMARK.json."""
    with open(SPEC_PATH) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}

#: span name → per-layer self-time metric
SELF_TIME = {
    "pipeline.parse": "pipeline.parse_s",
    "pipeline.build": "pipeline.build_s",
    "transform.apply": "transform.apply_s",
    "sources.read": "sources.read_s",
    "sources.write": "sources.write_s",
    "table.merge": "table.merge_s",
    "deletes.delete": "deletes.delete_s",
    "deletes.read": "deletes.read_s",
    "history.read_version": "history.read_version_s",
    "history.changes": "history.changes_s",
    "relational.join": "relational.scan_join_s",
    "relational.aggregate": "relational.scan_join_s",
}

#: vector_search span (the call and the action forcing its lazy result)
#: → per-layer wall-time metric
OP_WALL = {
    "similarity.srp": "similarity.srp_s",
    "similarity.brute": "similarity.brute_s",
    "similarity.recall": "similarity.recall_s",
    "dedup.pairs": "dedup.pairs_s",
}

#: lakehouse operation span → latency metric
OP_LATENCY = {
    "op.merge": "merge_s.p50",
    "op.dv_delete": "dv_delete_s.p50",
    "op.time_travel": "time_travel_s.p50",
    "op.cdf_read": "cdf_read_s.p50",
    "op.scan_join": "scan_join_s.p50",
}

def _untraced_job_s(run) -> list[float]:
    return [t for t, traced in zip(run["job_s"], run["traced_flags"]) if not traced]


def op_latencies(run) -> dict[str, tuple[float, int]]:
    """Lakehouse op metric → (median latency, samples) over timed jobs."""
    samples: dict[str, list[float]] = {}
    for s in run["tracer"].spans:
        if s.job >= 0 and s.name in OP_LATENCY:
            samples.setdefault(OP_LATENCY[s.name], []).append(s.seconds)
    return {k: (median(v), len(v)) for k, v in samples.items()}


def recall_at_k(run) -> float:
    """vector_search: the SRP tier's mean recall@k against numpy's exact
    top-k (the same for every job of a run); 0 on other workloads."""
    return median(getattr(run["workload"], "recalls", []))


def end_to_end(run) -> dict[str, float]:
    p50 = median(_untraced_job_s(run))
    out = {
        "setup_s": run["setup_s"],
        "job_s.p50": p50,
        "rows_per_s": run["workload"].rows_per_job / p50,
        "peak_rss_mb": run["peak_rss_mb"],
    }
    if list(out) != list(declared("end_to_end")):
        raise RuntimeError(f"{SPEC_PATH} declares end-to-end metrics {list(declared('end_to_end'))}, the run makes {list(out)}")
    return out


def _job_layer_values(tracer, job: int) -> dict[str, float]:
    spans = tracer.job_spans(job)
    out: dict[str, float] = {}
    for name, secs in tracer.self_seconds(job).items():
        if name in SELF_TIME:
            key = SELF_TIME[name]
            out[key] = out.get(key, 0.0) + secs
    optimize = sum(s.extra.get("optimization", 0.0) + s.extra.get("planning", 0.0) for s in spans)
    forced = sum(s.seconds for s in spans if s.name == "spark.force")
    out["spark.optimize_s"] = optimize
    out["spark.exec_s"] = forced - optimize
    out["spark.jobs"] = sum(s.jobs for s in spans)
    out["spark.tasks"] = sum(s.tasks for s in spans)
    # process-wide counter deltas: a span's delta includes its children's,
    # so only top-level spans are summed
    top = [s for s in spans if s.parent < 0]
    out["codegen.compiles"] = sum(s.compiles for s in top)
    out["codegen.compile_ms"] = sum(s.compile_ms for s in top)
    out["jvm.gc_s"] = sum(s.gc_ms for s in top) / 1000.0
    for s in spans:
        if s.name in OP_WALL:
            out[OP_WALL[s.name]] = out.get(OP_WALL[s.name], 0.0) + s.seconds
    for root_name, key in (("table.merge", "table.merge_jobs"), ("op.scan_join", "relational.jobs")):
        out[key] = sum(
            sub.jobs for s in spans if s.name == root_name for sub in tracer.subtree(s)
        )
    out.update(tracer.notes.get(job, {}))
    return out


def per_layer(run) -> dict[str, float]:
    tracer = run["tracer"]
    traced_jobs = sorted({s.job for s in tracer.spans if s.job >= 0 and s.group})
    per_job = [_job_layer_values(tracer, j) for j in traced_jobs]
    out = {name: median([v.get(name, 0.0) for v in per_job]) for name in declared("per_layer")}
    out["codegen.max_method_bytes"] = float(tracer.counters.max_method_bytes())
    out["jvm.peak_heap_mb"] = run["peak_heap_mb"]
    out["recall_at_k"] = recall_at_k(run)
    for key, (value, _n) in op_latencies(run).items():
        out[key] = value
    out["error_rate"] = run["failed"] / run["attempted"]
    traced_s = [t for t, traced in zip(run["job_s"], run["traced_flags"]) if traced]
    out["trace.job_s.p50"] = median(traced_s)
    out["trace.overhead_s"] = median(traced_s) - median(_untraced_job_s(run))
    return out


def print_result(run, metrics: dict[str, float]) -> None:
    units = {**declared("end_to_end"), **declared("per_layer")}
    n_jobs = len(run["job_s"])
    print(f"workload {run['workload'].name}: {n_jobs} timed jobs, "
          f"{run['attempted']} ops attempted, {run['failed']} failed")
    print(f"  setup: session {run['session_s']:.3f} s, inputs "
          + ", ".join(f"{t:.3f}" for t in run["setup_rounds_s"])
          + f" s, warm-up jobs {run['warmup_s']:.3f} s (reference {run['reference_s']:.3f} s, not set-up)")
    print("  job_s: " + ", ".join(f"{t:.3f}" for t in run["job_s"]))
    per_span: dict[str, list[float]] = {}
    for sp in run["tracer"].spans:
        if sp.job >= 0 and sp.parent < 0:
            per_span.setdefault(sp.name, []).append(sp.seconds)
    print("  top-level spans, median s: "
          + ", ".join(f"{name} {median(v):.3f}" for name, v in per_span.items()))
    shown = dict(metrics)
    shown.setdefault("error_rate", run["failed"] / run["attempted"])
    for name, (value, _n) in op_latencies(run).items():
        shown.setdefault(name, value)
    if getattr(run["workload"], "recalls", None):
        shown.setdefault("recall_at_k", recall_at_k(run))
    samples = {name: n for name, (_v, n) in op_latencies(run).items()}
    samples["job_s.p50"] = len(run["job_s"])
    for name, value in shown.items():
        n = f" (n={samples[name]})" if name in samples else ""
        print(f"  {name:28s} {value:16.6f} {units[name]}{n}")
    result = {
        "correct": run["failed"] == 0,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }
    print(json.dumps(result))
