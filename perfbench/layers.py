"""Reduce a traced run's spans, iteration records and Spark event log to
the per-layer metrics.

Every metric is reported on every workload; a layer a workload does not
call reads 0. Times and counts are per traced repetition (the mean over
the traced repetitions of the run).
"""

from __future__ import annotations

import statistics

from tracing import COUNTER_KEYS, event_log_files, span_counters, task_skew

# metric → span names whose durations it sums
LAYER_TIMES = {
    "sources.transcript_graph_s": ["sources"],
    "superstep.block_edges_s": ["superstep.block_edges"],
    "superstep.spmv_s": ["superstep.spmv", "superstep.spmv_dense"],
    "eigenvector.s": ["eigenvector"],
    "components.s": ["components"],
    "labelprop.s": ["labelprop"],
    "triangles.s": ["triangles"],
    "csrkernels.graph_to_csr_s": ["csrkernels.graph_to_csr"],
    "betweenness.s": ["betweenness"],
    "closeness.harmonic_s": ["closeness.harmonic"],
    "checkpoint.save_epoch_s": ["checkpoint.save_epoch"],
    "checkpoint.truncate_s": ["checkpoint.truncate"],
    "streaming.edge_delta_s": ["streaming.edge_delta"],
}
# metric → span names whose calls it counts
LAYER_CALLS = {
    "superstep.spmv_calls": ["superstep.spmv", "superstep.spmv_dense"],
    "checkpoint.epochs": ["checkpoint.save_epoch"],
    "checkpoint.truncate_calls": ["checkpoint.truncate"],
}
# metric → key of a repetition's outputs
LAYER_OUTPUTS = {
    "sources.edges_out": "edges",
    "triangles.count": "triangles",
    "streaming.delta_rows": "delta_rows",
}
SPARK_UNITS = {
    "jobs": "count", "tasks": "count", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "shuffle_fetch_wait_s": "s",
    "spill_bytes": "bytes", "executor_run_s": "s", "gc_s": "s",
    "failed_tasks": "count",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer_metrics(tracer, traced_reps: dict[int, dict], session_s: float,
                      overhead_s: float, event_log_dir: str):
    """Returns ({metric: (value, unit)}, extras for the trace file)."""
    reps = sorted(traced_reps)
    out: dict[str, tuple[float, str]] = {"session.get_spark_s": (session_s, "s")}
    spans = [sp for sp in tracer.spans if sp.rep in traced_reps]
    for metric, names in LAYER_TIMES.items():
        per = [sum(sp.dur for sp in spans if sp.rep == r and sp.name in names)
               for r in reps]
        out[metric] = (_mean(per), "s")
    for metric, names in LAYER_CALLS.items():
        per = [sum(1 for sp in spans if sp.rep == r and sp.name in names)
               for r in reps]
        out[metric] = (_mean(per), "count")
    for metric, key in LAYER_OUTPUTS.items():
        out[metric] = (_mean(traced_reps[r].get(key, 0) for r in reps), "count")
    out["superstep.n_hubs"] = (
        max((sp.attrs.get("n_hubs", 0) for sp in spans), default=0), "count"
    )
    pr_recs = [r for r in tracer.records
               if r.get("rep") in traced_reps and r.get("op") == "pagerank"]
    out["pagerank.iterations"] = (len(pr_recs) / max(len(reps), 1), "count")
    out["pagerank.iter_median_s"] = (
        statistics.median(r["secs"] for r in pr_recs) if pr_recs else 0.0, "s"
    )

    counters, stages = span_counters(event_log_files(event_log_dir), spans)
    for key in COUNTER_KEYS:
        total = sum(c[key] for c in counters.values())
        out[f"spark.{key}"] = (total / max(len(reps), 1), SPARK_UNITS[key])
    out["spark.task_skew"] = (
        task_skew([s for ss in stages.values() for s in ss]), "ratio"
    )
    out["trace.overhead_s"] = (overhead_s, "s")

    selfs = tracer.self_times()
    self_s: dict[str, float] = {}
    for sp in spans:
        self_s[sp.name] = self_s.get(sp.name, 0.0) + selfs[sp.sid]
    self_s = {k: v / max(len(reps), 1) for k, v in sorted(self_s.items())}
    return out, {"span_counters": counters, "self_s": self_s}
