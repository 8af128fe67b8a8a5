"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload transcripts-pipeline --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The run starts a local Spark session on
every core this process may use, generates (or reuses) the seeded
inputs, sets up, runs one untimed warm-up repetition, then repeats the
workload closed-loop for ``--seconds``, checking every repetition
against a reference. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` wraps the engine's layers in spans, enables the Spark
event log, alternates untraced and traced repetitions and reports the
per-layer metrics plus the tracing overhead. The last line of standard
output is the JSON result; the lines before it repeat every metric with
its unit and sample count. Everything the run writes stays under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke tests")
    p.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work"),
                   help="directory for generated inputs, scratch and traces")
    return p.parse_args(argv)


# ------------------------------------------------------------ process tree

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident set of this process plus all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.is_set():
            total = sum(rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._halt.wait(self.interval)

    def stop(self):
        self._halt.set()
        if self.is_alive():
            self.join()


# ----------------------------------------------------------------- session

def box_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the box's memory, at most 1 GiB: inputs are small and
    the machine may be shared."""
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    return f"{max(512, min(1024, total_kib // 4 // 1024))}m"


def start_session(name: str, cores: int, run_dir: str, trace: bool):
    from centrality_gpu_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed, pre-touched heap: peak RSS then moves with off-heap and
        # Python-side memory, not with when G1 happens to grow the heap.
        # No perf-data file: the JVM would put it in /tmp.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            "-XX:-UsePerfData",
        # the Python workers import the package from the checkout
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name=f"perfbench-{name}", cores=cores,
                     shuffle_partitions=cores, extra_conf=conf)


def warm_python_workers(spark, cores: int) -> None:
    """Start the Python worker pool (a cost every first UDF pays), so
    set-up time does not depend on whether inputs were generated."""
    def ident(batches):
        yield from batches

    spark.range(cores, numPartitions=cores).mapInPandas(ident, "id long").count()


def stop_session(spark) -> None:
    """Stop Spark and its JVM, then wait for every process this run
    started to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def persistent_rdds(spark) -> dict:
    """RDD id → JavaRDD of everything the context holds persisted."""
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


def reset_between_reps(spark, keep: set) -> None:
    """Return the engine to the state set-up left it in (untimed).

    Operators cut lineage with ``localCheckpoint``, whose blocks stay in
    the block manager until the driver JVM collects the RDD; left alone
    they pile up over repetitions, fill the memory store and slow every
    later repetition. Unpersist what a repetition persisted, then let
    both garbage collectors run so Spark's context cleaner drops the
    repetition's shuffles and broadcasts too."""
    for rid, rdd in persistent_rdds(spark).items():
        if rid not in keep:
            rdd.unpersist(True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


# ------------------------------------------------------------------ report

def median(xs):
    return statistics.median(xs) if xs else 0.0


def metric_line(name: str, values, unit: str) -> str:
    vals = list(values)
    return (f"METRIC {name} median={median(vals):.6g} "
            f"min={min(vals, default=0):.6g} max={max(vals, default=0):.6g} "
            f"unit={unit} n={len(vals)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "centrality_gpu_spark")):
        print(f"error: no centrality_gpu_spark package under {ROOT}; run "
              "from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(args.work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "reps"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]

    sampler = RssSampler()
    sampler.start()
    session = {"spark": None}
    try:
        return run(args, run_dir, sampler, session)
    finally:
        if session["spark"] is not None:
            stop_session(session["spark"])
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir, sampler, session) -> int:
    import layers
    import workloads as wl_mod
    from tracing import Tracer

    cores = box_cores()
    workload = wl_mod.WORKLOADS[args.workload]()
    print(f"perfbench workload={workload.name} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} size={args.size} "
          f"cores={cores} driver_memory={os.environ['SPARK_DRIVER_MEM']}",
          flush=True)

    t0 = time.perf_counter()
    spark = start_session(workload.name, cores, run_dir, bool(args.trace))
    session["spark"] = spark
    warm_python_workers(spark, cores)
    session_s = time.perf_counter() - t0

    tracer = Tracer(spark.sparkContext)
    ctx = wl_mod.Ctx(spark, args.seed, args.size, run_dir,
                     os.path.join(args.work, "data"), tracer)
    workload.prepare(ctx)

    load_s = []
    for i in range(workload.load_passes):
        if i:
            workload.unload(ctx)
        t0 = time.perf_counter()
        workload.load(ctx)
        load_s.append(time.perf_counter() - t0)

    keep = set(persistent_rdds(spark))

    def one_rep(idx: int) -> tuple[float, dict]:
        scratch = os.path.join(run_dir, "reps", str(idx))
        os.makedirs(scratch)
        tempfile.tempdir = scratch  # engine-made temp dirs die with the rep
        try:
            t0 = time.perf_counter()
            out = workload.rep(ctx, scratch)
            return time.perf_counter() - t0, out
        finally:
            tempfile.tempdir = os.environ["TMPDIR"]

    def untimed_rep(idx: int) -> float:
        dt, out = one_rep(idx)
        workload.verify(ctx, out)
        workload.release(out)
        del out
        shutil.rmtree(os.path.join(run_dir, "reps", str(idx)), ignore_errors=True)
        reset_between_reps(spark, keep)
        return dt

    # warm-up: untimed for job_s, part of setup_s; also builds the reference
    warm_s = untimed_rep(-1)
    setup_s = session_s + median(load_s) + warm_s
    settle_s = [untimed_rep(-2 - i) for i in range(workload.settle_reps)]

    attempted = failed = 0
    job_s: list[float] = []       # untraced repetitions
    traced_s: list[float] = []    # traced repetitions (trace 1 only)
    headline: dict[str, tuple[list, str]] = {}
    traced_reps: dict[int, dict] = {}
    t_start = time.perf_counter()
    idx = 0
    while workload.more():
        traced = bool(args.trace) and idx % 2 == 1
        if traced:
            tracer.install()
            tracer.rep = idx
        attempted += 1
        try:
            with tracer.span("rep"):
                dt, out = one_rep(idx)
        except Exception:  # noqa: BLE001 - a failed repetition is counted
            traceback.print_exc()
            failed += 1
            out = None
        finally:
            if traced:
                tracer.uninstall()
        if out is not None:
            try:
                workload.verify(ctx, out)
            except Exception:  # noqa: BLE001 - mismatch or checker error
                traceback.print_exc()
                failed += 1
            else:
                (traced_s if traced else job_s).append(dt)
                print(f"REP {idx} traced={int(traced)} job_s={dt:.3f} "
                      + " ".join(f"{k}={v:.3f}" for k, v in out["steps"].items()),
                      flush=True)
                for k, (v, unit) in out.get("headline", {}).items():
                    if not traced:
                        headline.setdefault(k, ([], unit))[0].append(v)
                if traced:
                    traced_reps[idx] = {
                        k: out[k] for k in ("edges", "triangles", "delta_rows")
                        if k in out
                    }
            workload.release(out)
            out = None
        shutil.rmtree(os.path.join(run_dir, "reps", str(idx)), ignore_errors=True)
        reset_between_reps(spark, keep)
        idx += 1
        # at least one verified repetition of each kind, unless they fail
        enough = bool(job_s) and (traced_s or not args.trace)
        if time.perf_counter() - t_start >= args.seconds and (
            enough or failed >= 2
        ):
            break
    measured_s = time.perf_counter() - t_start

    stop_session(spark)
    session["spark"] = None
    sampler.stop()

    lines = [
        metric_line("setup_s", [setup_s], "s"),
        f"SETUP session_s={session_s:.4f} load_s={median(load_s):.4f} "
        f"load_passes={len(load_s)} warmup_s={warm_s:.4f} "
        f"settle_s={','.join(f'{x:.3f}' for x in settle_s) or '-'}",
        metric_line("job_s", job_s, "s"),
        metric_line("peak_rss_mb", [sampler.peak / 2**20], "MB"),
        f"METRIC error_rate value={failed / max(attempted, 1):.6g} unit=ratio "
        f"failed={failed} attempted={attempted}",
        f"MEASURED seconds={measured_s:.3f} repetitions={idx} "
        f"job_s_each={','.join(f'{x:.3f}' for x in job_s)}",
    ]
    lines += [metric_line(k, v, unit) for k, (v, unit) in headline.items()]
    if args.trace:
        per_layer, extra = layers.per_layer_metrics(
            tracer, traced_reps, session_s, median(traced_s) - median(job_s),
            os.path.join(run_dir, "eventlog"),
        )
        trace_dir = os.path.join(args.work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(
            trace_dir, f"{workload.name}-s{args.seed}-{os.getpid()}.json"
        )
        tracer.dump(trace_file, extra["span_counters"])
        lines += [metric_line("trace.traced_job_s", traced_s, "s")]
        lines += [f"LAYER {k} value={v:.6g} unit={u}"
                  for k, (v, u) in per_layer.items()]
        lines += [f"SELF {k} self_s_per_rep={v:.6g}"
                  for k, v in extra["self_s"].items()]
        lines.append(f"TRACE spans={len(tracer.spans)} file={trace_file}")
        metrics = per_layer
    else:
        metrics = {
            "job_s": (median(job_s), "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (sampler.peak / 2**20, "MB"),
        }
    for line in lines:
        print(line)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
