"""Spans around the engine's layers, and Spark event-log counters per span.

The tracer wraps public functions of the engine from outside: it
rebinds the function object in every ``centrality_gpu_spark`` module
that holds it (so names a caller imported at module load, such as
``spmv_sql`` inside ``operators/pagerank.py``, are traced too) and
restores the originals on ``uninstall``. Each span records its name,
start, end and parent, and tags the Spark jobs it launches with a job
group, so the event log's task counters can be attributed to it. Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-span-"

# (module, attribute, span name). The eager functions record their own
# work; the lazy ones (spmv, spmv_sql) build a plan that runs in the
# caller's next action, so their spans record the call only.
FUNCTION_SPANS = [
    ("centrality_gpu_spark.sources.transcripts", "transcript_graph",
     "sources.transcript_graph"),
    ("centrality_gpu_spark.operators.superstep", "block_edges",
     "superstep.block_edges"),
    ("centrality_gpu_spark.operators.superstep", "spmv", "superstep.spmv"),
    ("centrality_gpu_spark.operators.superstep", "spmv_dense",
     "superstep.spmv_dense"),
    ("centrality_gpu_spark.operators.superstep", "spmv_sql",
     "superstep.spmv_sql"),
    ("centrality_gpu_spark.operators.csrkernels", "graph_to_csr",
     "csrkernels.graph_to_csr"),
    ("centrality_gpu_spark.streaming.transcripts", "run_edge_delta_stream",
     "streaming.run_edge_delta_stream"),
]
# (module, class, method, span name)
METHOD_SPANS = [
    ("centrality_gpu_spark.plans.checkpoint", "CheckpointManager",
     "save_epoch", "checkpoint.save_epoch"),
    ("centrality_gpu_spark.plans.checkpoint", "CheckpointManager",
     "truncate", "checkpoint.truncate"),
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    rep: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a no-op."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.rep: int | None = None
        self.spans: list[Span] = []
        self.records: list[dict] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, parent, self.rep, time.time(),
                  attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.sid}", sp.name)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if sp is not None and name == "superstep.block_edges":
                    sp.attrs["n_hubs"] = out.n_hubs  # salted hub vertices
                return out

        return traced

    # -- patching ---------------------------------------------------------

    def install(self) -> None:
        """Wrap every layer function and start recording."""
        for mod_name, attr, name in FUNCTION_SPANS:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap(orig, name)
            for mod in list(sys.modules.values()):
                if (
                    getattr(mod, "__name__", "").startswith("centrality_gpu_spark")
                    and getattr(mod, attr, None) is orig
                ):
                    setattr(mod, attr, wrapped)
                    self._patches.append((mod, attr, orig))
        for mod_name, cls_name, meth, name in METHOD_SPANS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            orig = cls.__dict__[meth]
            setattr(cls, meth, self._wrap(orig, name))
            self._patches.append((cls, meth, orig))
        # per-iteration metrics every iterative operator already records
        from centrality_gpu_spark.plans.checkpoint import CheckpointManager

        orig_record = CheckpointManager.__dict__["record"]
        tracer = self

        def record(ckpt_self, **kv):
            out = orig_record(ckpt_self, **kv)
            if tracer.enabled:
                inner = tracer._stack[-1].name if tracer._stack else None
                tracer.records.append({"rep": tracer.rep, "span": inner, **out})
            return out

        CheckpointManager.record = record
        self._patches.append((CheckpointManager, "record", orig_record))
        self.enabled = True

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()
        self.enabled = False

    # -- reduction ----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        child = {sp.sid: 0.0 for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        return {sp.sid: sp.dur - child[sp.sid] for sp in self.spans}

    def dump(self, path: str, counters: dict[int, dict]) -> None:
        selfs = self.self_times()
        rows = []
        for sp in self.spans:
            row = asdict(sp)
            row["dur"] = sp.dur
            row["self"] = selfs[sp.sid]
            row["spark"] = counters.get(sp.sid, {})
            rows.append(row)
        with open(path, "w") as f:
            json.dump({"spans": rows, "records": self.records}, f, default=str)


# ------------------------------------------------------------ event log

COUNTER_KEYS = (
    "jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_fetch_wait_s", "spill_bytes", "executor_run_s", "gc_s",
    "failed_tasks",
)


def read_event_log(paths: list[str]) -> tuple[dict, dict, list[dict]]:
    """Parse a Spark JSON event log (the files of one application, in
    order).

    Returns ``jobs`` (job id → submission time in s, job group),
    ``stage_job`` (stage id → first job that listed it) and one dict per
    finished task attempt.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    events = []
    for path in paths:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "t": ev["Submission Time"] / 1000.0,
                "group": props.get("spark.jobGroup.id"),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            tasks.append({
                "stage": ev["Stage ID"],
                "dur_s": (info.get("Finish Time", 0)
                          - info.get("Launch Time", 0)) / 1000.0,
                "failed": bool(info.get("Failed")) or reason != "Success",
                "executor_run_s": m.get("Executor Run Time", 0) / 1000.0,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
            })
    return jobs, stage_job, tasks


def attribute_jobs(jobs: dict, spans: list[Span]) -> dict[int, int]:
    """job id → span id: the job group when it names a span, else the
    innermost span open when the job was submitted (jobs a streaming
    query runs on its own thread carry the query's group instead)."""
    out = {}
    for jid, job in jobs.items():
        group = job["group"] or ""
        if group.startswith(GROUP_PREFIX):
            out[jid] = int(group[len(GROUP_PREFIX):])
            continue
        best = None
        for sp in spans:
            if sp.end is not None and sp.start <= job["t"] <= sp.end:
                if best is None or sp.start >= best.start:
                    best = sp
        if best is not None:
            out[jid] = best.sid
    return out


def event_log_files(log_dir: str) -> list[str]:
    """The event-log files under ``log_dir`` in write order (a rolling
    log is a directory of numbered ``events_<n>_*`` files)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(".")]

    def order(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    return sorted(files, key=order)


def span_counters(event_log: list[str], spans: list[Span]) -> tuple[dict, dict]:
    """Per-span Spark counters from the event-log files, and each span's
    stages as lists of task durations (the input of ``task_skew``)."""
    jobs, stage_job, tasks = read_event_log(event_log)
    job_span = attribute_jobs(jobs, spans)
    counters: dict[int, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    stage_span: dict[int, int] = {}
    for sid in job_span.values():
        counters.setdefault(sid, dict.fromkeys(COUNTER_KEYS, 0))["jobs"] += 1
    for t in tasks:
        sid = job_span.get(stage_job.get(t["stage"], -1))
        if sid is None:
            continue
        c = counters.setdefault(sid, dict.fromkeys(COUNTER_KEYS, 0))
        c["tasks"] += 1
        c["failed_tasks"] += int(t["failed"])
        for k in COUNTER_KEYS[2:-1]:
            c[k] += t[k]
        stage_tasks.setdefault(t["stage"], []).append(t["dur_s"])
        stage_span[t["stage"]] = sid
    stages: dict[int, list[list[float]]] = {}
    for stage, durs in stage_tasks.items():
        stages.setdefault(stage_span[stage], []).append(durs)
    for sid, c in counters.items():
        c["task_skew"] = task_skew(stages.get(sid, []))
    return counters, stages


def task_skew(stages: list[list[float]]) -> float:
    """The slowest stage's (largest single task time) max ÷ median task
    time; 1.0 when there is no task."""
    if not stages:
        return 1.0
    slow = max(stages, key=max)
    med = statistics.median(slow)
    return max(slow) / med if med > 0 else 1.0
