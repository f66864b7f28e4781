"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload kg_front --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The benchmark writes its inputs, Spark's
scratch space and (with ``--trace 1``) the event log and span file under
``perfbench/.work/`` and nowhere else.

One run: generate the inputs from ``--seed``; set up once, cold (driver JVM
start, Spark session, the workload's index build); run the first
iteration, then a fixed number of warm ones (``--seconds`` over the
workload's nominal iteration time), taking the CPU time of each; check
every operation's output outside the timed spans. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
runs the same with Spark's event log on, adds the workload's layer probes
after the iterations and reports the per-layer metrics instead. A wrong
output makes the run exit with code 1 after printing its result. See
README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM_GB = 3


def spark_jvms() -> list[int]:
    """Pids of live Spark driver JVMs (PySpark launches them through
    SparkSubmit)."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(pid))
    return pids


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, the fields after it) of a /proc ``stat`` file."""
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def _ticks(fields: list[str], children: bool) -> int:
    # utime, stime, then (process files only) cutime, cstime of reaped children
    return sum(int(x) for x in fields[11:15 if children else 13])


THREAD_KINDS = (("C1 CompilerThre", "jit"), ("C2 CompilerThre", "jit"),
                ("Executor task", "task"))
CPU_KINDS = ("jit", "task", "python", "driver")


class CpuMeter:
    """CPU seconds used so far by this process and its descendants. CPU
    time, unlike wall time, leaves out the time the host gave the cores to
    another guest (steal).

    ``read()`` splits it by kind: ``jit`` (the driver JVM's compiler
    threads), ``task`` (its task threads), ``python`` (Python worker
    processes, with the workers they reaped) and ``driver`` (every other JVM
    thread, and this process less the thread ``skip_tid``, the sampler).
    A compiler or task thread counts with its last polled CPU time, so that
    a compiler thread the JVM stops keeps its kind."""

    def __init__(self):
        self.skip_tid: int | None = None
        self._threads: dict[tuple[int, str], tuple[str, int]] = {}
        self._lock = threading.Lock()

    def poll(self) -> None:
        for pid in descendants(os.getpid()):
            with contextlib.suppress(OSError):
                tids = os.listdir(f"/proc/{pid}/task")
                for tid in tids:
                    with contextlib.suppress(OSError, IndexError, ValueError):
                        comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
                        kind = next((k for prefix, k in THREAD_KINDS
                                     if comm.startswith(prefix)), None)
                        if kind:
                            ticks = _ticks(fields, children=False)
                            with self._lock:
                                old = self._threads.get((pid, tid), (kind, 0))[1]
                                self._threads[(pid, tid)] = (kind, max(old, ticks))

    def read(self) -> dict[str, float]:
        self.poll()
        me = os.getpid()
        out = dict.fromkeys(CPU_KINDS, 0)
        for pid in [me, *descendants(me)]:
            with contextlib.suppress(OSError, IndexError, ValueError):
                comm, fields = _stat(f"/proc/{pid}/stat")
                total = _ticks(fields, children=True)
                if pid == me and self.skip_tid is not None:
                    total -= _ticks(_stat(f"/proc/{me}/task/{self.skip_tid}/stat")[1],
                                    children=False)
                out["driver" if pid == me or comm == "java" else "python"] += total
        with self._lock:
            for kind, ticks in self._threads.values():
                out[kind] += ticks
                out["driver"] -= ticks
        return {k: v / os.sysconf("SC_CLK_TCK") for k, v in out.items()}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (driver
    JVM, Python workers), sampled every 100 ms from start to ``stop``; each
    sample also polls ``meter``'s threads."""

    def __init__(self, meter: CpuMeter):
        super().__init__(daemon=True)
        self.meter = meter
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.wait(0.1):
            self.peak = max(self.peak, rss_mb([me, *descendants(me)]))
            self.meter.poll()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak


class Spans:
    """The benchmark's own spans, held in memory and written once."""

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[str] = []

    @contextlib.contextmanager
    def __call__(self, name: str, **attrs):
        sid = f"{len(self.spans)}:{name}"
        rec = {"id": sid, "parent": self.stack[-1] if self.stack else None,
               "name": name, "kind": "bench", "start": time.time(),
               "end": None, "attrs": attrs}
        self.spans.append(rec)
        self.stack.append(sid)
        try:
            yield rec
        finally:
            self.stack.pop()
            rec["end"] = time.time()


def start_session(event_dir: str | None):
    from table_annotation_spark.session import get_spark

    conf = {}
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # what the parser does not read: halves the log the driver
            # writes, and with it the tracing overhead
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
            "spark.eventLog.excludedPatterns": ",".join(
                ["SparkListenerTaskStart"] + [
                    f"org.apache.spark.sql.execution.ui.{e}" for e in (
                        "SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate",
                        "SparkListenerSQLAdaptiveSQLMetricUpdates",
                        "SparkListenerDriverAccumUpdates")]),
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the active Spark context; this also closes its event log."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()


def shutdown_jvm() -> None:
    """Stop Spark, close the JVM's stdin (PySpark's gateway exits on EOF),
    and wait for the JVM and every process it started. Call it once no
    DataFrame is referenced any more, so that no Java-object finalizer
    talks to a JVM that is gone."""
    from pyspark import SparkContext

    gc.collect()
    procs = descendants(os.getpid())
    stop_spark()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        time.sleep(0.1)
    for p in procs:
        with contextlib.suppress(OSError):
            os.kill(p, 9)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def run(args, work: str) -> tuple[dict, list[dict], int, int]:
    """One run; returns (metrics, spans, attempted, failed)."""
    from perfbench import inputs, workloads
    from table_annotation_spark.session import job_group

    wl_cls = workloads.WORKLOADS[args.workload]
    corpus = inputs.write_corpus(
        os.path.join(work, "corpus"), wl_cls.sf, args.seed,
        os.path.join(HERE, ".work", "cache"))
    wl = wl_cls(corpus, args.seed)
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    span = Spans()
    meter = CpuMeter()
    sampler = RssSampler(meter)
    sampler.start()
    meter.skip_tid = sampler.native_id

    attempted = failed = 0
    with span("run", workload=args.workload, seed=args.seed):
        # set-up is cold: driver JVM start, session, sizing and index build
        with span("setup") as s:
            with span("session_start"):
                spark = start_session(event_dir)
            index = wl.build_index(spark, span)
        setup_s = s["end"] - s["start"]
        print(f"setup: {setup_s:.2f} s", file=sys.stderr)

        ops = wl.ops(spark, index, span)
        iters: list[dict] = []  # per iteration: op name -> seconds
        walls: list[float] = []
        cpus: list[dict] = []  # per iteration: kind -> CPU seconds
        # the first (cold) iteration, then a fixed number of measured ones:
        # --seconds over the workload's nominal iteration time. A fixed count
        # keeps the work, and the depth of JIT warm-up, the same on both
        # sides of a comparison.
        measured = max(2, round(args.seconds / wl.iteration_s))
        while len(iters) < 1 + measured:
            times = {}
            results = {}
            cpu0 = meter.read()
            with span(f"iteration{len(iters)}") as it:
                for op in ops:
                    with span(f"op:{op.name}", group=op.group) as o:
                        with (job_group(spark, op.group) if op.group
                              else contextlib.nullcontext()):
                            try:
                                results[op.name] = op.run()
                            except Exception as exc:  # a failed op is counted, not fatal
                                print(f"{op.name}: {exc!r}", file=sys.stderr)
                    times[op.name] = o["end"] - o["start"]
            walls.append(it["end"] - it["start"])
            cpus.append({k: v - cpu0[k] for k, v in meter.read().items()})
            print(f"iteration {len(iters)}: {walls[-1]:.2f} s "
                  f"cpu {sum(cpus[-1].values()):.2f} s "
                  + " ".join(f"{k}={v:.2f}"
                             for k, v in [*cpus[-1].items(), *times.items()]),
                  file=sys.stderr)
            iters.append(times)
            for op in ops:
                attempted += 1
                if op.name not in results or not op.check(results[op.name]):
                    failed += 1
                    print(f"{op.name}: wrong output", file=sys.stderr)
        peak = sampler.stop()

        layer: dict = {}
        if args.trace:
            layer, checks = wl.layer_metrics(spark, index, span)
            attempted += len(checks)
            failed += checks.count(False)
    stop_spark()

    warm = iters[1:]
    run_s = statistics.median(walls[1:])
    # the CPU of the whole timed loop, cold iteration included: JIT work
    # that a slower host pushes from one iteration into the next still
    # counts once, and the longer window averages out more of the host
    cpu_s = sum(sum(c.values()) for c in cpus)
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cpu_s": (cpu_s, "s"),
            "peak_rss_mb": (peak, "MB"),
        }
    else:
        from perfbench import eventlog

        (log_file,) = os.listdir(event_dir)
        log = eventlog.parse(os.path.join(event_dir, log_file))
        warm_spans = [s for s in span.spans
                      if s["name"].startswith("iteration")][1:]
        metrics = layer_metrics(log, warm_spans, ops, warm, run_s)
        metrics["trace.first_run_s"] = (walls[0], "s")
        metrics["trace.cpu_s"] = (cpu_s, "s")
        metrics["trace.first_cpu_s"] = (sum(cpus[0].values()), "s")
        for kind in cpus[0]:
            metrics[f"session.{kind}_cpu_s"] = (sum(c[kind] for c in cpus), "s")
        metrics.update(pipeline_metrics(log, span.spans))
        metrics.update(layer)
        run_span = span.spans[0]["id"]
        span.spans.extend(eventlog.spans(log, run_span))
    return metrics, span.spans, attempted, failed


GROUP_KEYS = {"jobs": "count", "wall_s": "s", "task_s": "s", "idle_s": "s",
              "gc_s": "s", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
              "spill_mb": "MB"}
LAYER_KEYS = ("jobs", "wall_s", "task_s", "idle_s")
HEAVY_KEYS = ("gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


def _layers(log, start_s: float, end_s: float) -> tuple[dict, float]:
    """Event-log group metrics for one window, keyed by layer name, and the
    window's time outside every job."""
    from perfbench import eventlog, workloads

    per = eventlog.group_metrics(log, start_s, end_s)
    outside = per.pop("_outside_s")
    return {workloads.PIPELINE_GROUPS.get(g, g): m for g, m in per.items()}, outside


def layer_metrics(log, warm_spans, ops, warm, run_s) -> dict:
    """Per-layer metrics of the timed operations, per measured iteration.
    The event log is cut to each iteration's window, so per iteration the
    groups' ``wall_s`` plus ``session.outside_s`` add up to its wall time."""
    from perfbench import workloads

    n = len(warm_spans)
    groups: dict[str, dict] = {}
    outside = 0.0
    for it in warm_spans:
        per, out_s = _layers(log, it["start"], it["end"])
        outside += out_s / n
        for layer, g in per.items():
            acc = groups.setdefault(layer, dict.fromkeys(GROUP_KEYS, 0.0))
            for k in GROUP_KEYS:
                acc[k] += g[k] / n
    out = {"trace.run_s": (run_s, "s"),
           "session.outside_s": (outside, "s")}
    for k, unit in GROUP_KEYS.items():
        out[f"session.{k}"] = (sum(g[k] for g in groups.values()), unit)
    for op in ops:
        out[f"{op.group}_s"] = (statistics.median(t[op.name] for t in warm), "s")
    for layer in workloads.GROUPS:
        for k in LAYER_KEYS:
            out[f"{layer}.{k}"] = (groups.get(layer, {}).get(k, 0.0), GROUP_KEYS[k])
    out["lookup.fuzzy.gc_s"] = (groups.get("lookup.fuzzy", {}).get("gc_s", 0.0), "s")
    return out


def pipeline_metrics(log, spans) -> dict:
    """Per-layer metrics of the one pipeline run of the traced run (zero
    when the workload has none): the groups' ``wall_s`` plus
    ``pipeline.outside_s`` add up to ``pipeline_s``."""
    from perfbench import workloads

    run = [s for s in spans if s["name"] == workloads.Flagship.SPAN]
    per, outside = _layers(log, run[0]["start"], run[0]["end"]) if run else ({}, 0.0)
    out = {"pipeline_s": (run[0]["end"] - run[0]["start"] if run else 0.0, "s"),
           "pipeline.outside_s": (outside, "s")}
    for layer in workloads.PIPELINE_GROUPS.values():
        for k in LAYER_KEYS:
            out[f"{layer}.{k}"] = (per.get(layer, {}).get(k, 0.0), GROUP_KEYS[k])
    for k in HEAVY_KEYS:
        out[f"annotation.{k}"] = (sum(
            g[k] for layer, g in per.items() if layer.startswith("annotation.")),
            GROUP_KEYS[k])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "table_annotation_spark")):
        print("perfbench: no table_annotation_spark/ next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    stray = spark_jvms()
    if stray:
        print(f"perfbench: refusing to time while Spark JVM(s) {stray} are "
              "alive; stop them first", file=sys.stderr)
        return 3

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(DRIVER_MEM_GB, max(1, int(ram_gb / 4)))}g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM (Spark's launcher and the driver) keeps its temporary
        # files in the checkout and writes no /tmp/hsperfdata_* file
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    })
    # PySpark's gateway hand-off file goes through tempfile, whose default
    # directory may already be cached from before TMPDIR was set
    tempfile.tempdir = os.path.join(work, "tmp")
    os.chdir(work)
    try:
        metrics, spans, attempted, failed = run(args, work)
    finally:
        os.chdir(ROOT)
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        trace_dir = os.path.join(HERE, ".work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(spans, fh)
    # report exactly the metrics BENCHMARK.json lists for this mode; a layer
    # the workload does not run reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    unlisted = set(metrics) - {m["name"] for m in listed}
    if unlisted:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unlisted)}")
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], (0.0,))[0],
                                "unit": m["unit"]} for m in listed},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
