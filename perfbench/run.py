"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_cold --seed 1 --seconds 12 --trace 0

Runs one workload from the root of a source checkout, in a closed loop
of one client, and prints as its last stdout line one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones (see README.md).  All
scratch state lives under ``.perfbench_work/`` and spans and run
records under ``.perfbench_out/``, both in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
# local[N]: one core, so that few threads compete with other tenants of
# a shared host (also stated in README.md)
SPARK_CORES = 1
DRIVER_MEMORY = "1g"
# A run makes PASSES passes over the same first ops of the workload's
# op sequence, each on a fresh set-up; the first set-up also launches
# the JVM.  An op's latency is the best of its PASSES runs: a shared
# host only ever adds time, in stretches of tens of seconds or more, so
# a single run of each op measured the host as much as the program.
# The number of ops is fixed before the run starts, never decided by the
# clock: the op sequences warm the registry or grow table logs as they
# go, so faster code must not measure a later, different mix.
PASSES = 3
OPS_PER_SECOND = 5  # nominal rate that turns --seconds into an op count
MIN_PASS_OPS = 20


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        # keep every SQL execution so traced runs can read its metrics
        "--conf spark.sql.ui.retainedExecutions=100000",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


# -- environment context ----------------------------------------------------


def _steal_jiffies():
    """Cumulative CPU-steal jiffies, /proc/stat field 8 (None if unreadable)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def _loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def _hwm_mb(pid) -> float:
    """Peak resident set size of ``pid`` in MiB (VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _jvm_process():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def peak_rss_mb() -> float:
    """Peak RSS of this process plus the JVM it started."""
    proc = _jvm_process()
    return _hwm_mb("self") + (_hwm_mb(proc.pid) if proc is not None else 0.0)


def shutdown_jvm() -> None:
    """Stop Spark and the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkContext._gateway is None:
        return
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    proc = _jvm_process()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# -- engine counters for traced runs ------------------------------------------


class EngineProbe:
    """Jobs, tasks, files read and scan rows of each op, read from
    Spark's status stores after the op (outside its timed span)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.bus = self.sc._jsc.sc().listenerBus()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus.waitUntilEmpty(60000)
        self.seen = self.store.executionsCount()

    def begin(self, op_id: int) -> None:
        self.sc.setJobGroup(f"perfbench-{op_id}", f"op {op_id}")

    def end(self, op_id: int, info: dict) -> None:
        self.bus.waitUntilEmpty(60000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(f"perfbench-{op_id}")
        tasks = 0
        for job in jobs:
            for stage in tracker.getJobInfo(job).stageIds:
                stage_info = tracker.getStageInfo(stage)
                tasks += stage_info.numCompletedTasks if stage_info else 0
        count = self.store.executionsCount()
        files = scan_rows = 0
        executions = self.store.executionsList(self.seen, count - self.seen)
        for k in range(executions.size()):
            exec_id = executions.apply(k).executionId()
            values = self.store.executionMetrics(exec_id)
            nodes = self.store.planGraph(exec_id).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not node.name().startswith(("Scan", "LocalTableScan")):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    value = values.get(metric.accumulatorId())
                    if value.isEmpty():
                        continue
                    number = _metric_number(value.get())
                    if metric.name() == "number of files read":
                        files += number
                    elif metric.name() == "number of output rows":
                        scan_rows += number
        self.seen = count
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        info.update(jobs=len(jobs), tasks=tasks, files=files,
                    scan_rows=scan_rows)


def _metric_number(text: str) -> int:
    head = text.strip().split()[0] if text.strip() else "0"
    try:
        return int(head.replace(",", ""))
    except ValueError:
        return 0


# -- the op loop --------------------------------------------------------------


def pass_ops(seconds: float) -> int:
    """Ops of each pass: ``OPS_PER_SECOND * seconds`` over all passes,
    at least MIN_PASS_OPS."""
    return max(MIN_PASS_OPS, math.ceil(OPS_PER_SECOND * seconds / PASSES))


def run_ops(w, count, probe=None):
    """Run the first ``count`` of ``w.ops`` in a closed loop.
    Returns (records, elapsed_s)."""
    tracer = w.tracer
    records = []
    start = time.perf_counter()
    for i, op in enumerate(w.ops[:count]):
        info = w.before(op) if probe else {}
        cls = w.op_class(op)
        if probe:
            tracer.op = i
            probe.begin(i)
        t0 = time.perf_counter()
        output, error = None, None
        try:
            if tracer is not None:
                with tracer.span("bench:op"):
                    output = w.execute(op)
            else:
                output = w.execute(op)
        except Exception as exc:  # a failed op is counted, not fatal
            error = f"{type(exc).__name__}: {exc}"[:500]
        latency = time.perf_counter() - t0
        if probe:
            tracer.op = -1
            probe.end(i, info)
            if error is None:
                info.update(w.op_info(op, output))
                w.after(op, info)
            else:
                info.setdefault("refs", 0)
        records.append({"op": op, "cls": cls, "latency_ms": latency * 1e3,
                        "output": output, "error": error, "info": info})
    return records, time.perf_counter() - start


def check(w, records) -> int:
    """Mark each record ok or not (errors and wrong results both fail);
    returns the number failed."""
    done = [r for r in records if r["error"] is None]
    verdicts = w.check_all([(r["op"], r["output"]) for r in done])
    for r, ok in zip(done, verdicts):
        r["ok"] = bool(ok)
    for r in records:
        r.setdefault("ok", False)
        r["output"] = None  # release DataFrames and rows
    return sum(not r["ok"] for r in records)


def best_latencies(passes) -> list[float]:
    """Each op's best latency over passes of the same ops."""
    return [min(p.records[i]["latency_ms"] for p in passes)
            for i in range(len(passes[0].records))]


def latency_metrics(lat, classes) -> dict:
    """Closed-loop metrics of ops with latencies ``lat`` (ms) and op
    classes ``classes``."""
    from perfbench.stats import percentile

    key = [x for x, c in zip(lat, classes) if c == "key"]
    other = [x for x, c in zip(lat, classes) if c == "other"]
    return {
        "ops_per_s": len(lat) / (sum(lat) / 1e3),
        "latency_p50_ms": percentile(lat, 50),
        "latency_p90_ms": percentile(lat, 90),
        "key_op_p50_ms": percentile(key, 50) if key else 0.0,
        "other_op_p50_ms": percentile(other, 50) if other else 0.0,
    }


def e2e_metrics(passes) -> dict:
    """End-to-end metrics of a run's passes.  Set-up time is the median
    over the set-ups on a running JVM, all but the first."""
    from perfbench.stats import median

    metrics = latency_metrics(best_latencies(passes),
                              [r["cls"] for r in passes[0].records])
    metrics["setup_s"] = median([p.setup_s for p in passes[1:]])
    metrics["peak_rss_mb"] = peak_rss_mb()
    return metrics


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json lists them for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


@dataclass
class Pass:
    setup_s: float
    phases: dict
    records: list
    elapsed: float  # seconds of the op loop
    failed: int
    metrics: dict  # per-layer metrics of a traced pass


def one_pass(cls, args, name, count, tracer=None) -> Pass:
    """A fresh set-up and the first ``count`` ops; traced when ``tracer``."""
    w = cls(args.seed, os.path.join(WORK, name), tracer)
    t0 = time.perf_counter()
    w.setup()
    setup_s = time.perf_counter() - t0
    try:
        probe = EngineProbe(w.spark) if tracer else None
        records, elapsed = run_ops(w, count, probe)
        metrics = {}
        if tracer:
            from perfbench.trace import layer_metrics

            metrics = layer_metrics(tracer.spans, [r["info"] for r in records])
            metrics["sources.space_amplification"] = w.space_amplification()
            for phase, value in w.phases.items():
                metrics[f"setup.{phase}_ms"] = value * 1e3
        failed = check(w, records)
    finally:
        w.teardown()
    return Pass(setup_s, w.phases, records, elapsed, failed, metrics)


def timed_run(cls, args, context):
    """PASSES passes over the same ops; end-to-end metrics of them all."""
    count = pass_ops(args.seconds)
    passes = [one_pass(cls, args, f"pass{k}", count) for k in range(PASSES)]
    context["setup_s_all"] = [p.setup_s for p in passes]
    context["setup_phases_s"] = [p.phases for p in passes]
    context["loop_s"] = [p.elapsed for p in passes]
    context["best_latency_ms"] = [round(x, 1) for x in best_latencies(passes)]
    return (e2e_metrics(passes), [r for p in passes for r in p.records],
            sum(p.failed for p in passes))


def traced_run(cls, args):
    """Three passes over the same ops, so counts repeat exactly for a
    seed: an untraced one that warms the JVM, a traced one, and an
    untraced one that the tracing overhead compares it with."""
    from perfbench.trace import Tracer

    count = pass_ops(args.seconds)
    first = one_pass(cls, args, "warm", count)
    tracer = Tracer()
    tracer.install()
    try:
        traced = one_pass(cls, args, "traced", count, tracer)
    finally:
        tracer.uninstall()
    plain = one_pass(cls, args, "untraced", count)
    tracer.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    metrics = traced.metrics
    with_trace, without = (
        latency_metrics([r["latency_ms"] for r in p.records],
                        [r["cls"] for r in p.records])
        for p in (traced, plain))
    for name in ("latency_p50_ms", "latency_p90_ms", "ops_per_s"):
        metrics[f"trace.overhead.{name}"] = with_trace[name] - without[name]
    passes = (first, traced, plain)
    return (metrics, [r for p in passes for r in p.records],
            sum(p.failed for p in passes))


def run(args) -> tuple[dict, dict, dict]:
    """(result line, context, every metric measured, declared or not)"""
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    context = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace, "nproc": os.cpu_count(),
               "spark_cores": SPARK_CORES, "loadavg_start": _loadavg()}
    start = time.perf_counter()
    steal0 = _steal_jiffies()
    if args.trace:
        metrics, records, failed = traced_run(cls, args)
    else:
        metrics, records, failed = timed_run(cls, args, context)
    context["rss_note"] = "peak RSS of the driver Python process plus its JVM"
    shutdown_jvm()
    context["run_s"] = time.perf_counter() - start
    steal1 = _steal_jiffies()
    context["steal_jiffies"] = (None if steal0 is None or steal1 is None
                                else steal1 - steal0)
    context["loadavg_end"] = _loadavg()
    context["ops"] = len(records)
    context["errors"] = sorted({r["error"] for r in records if r["error"]})[:5]
    import pyarrow
    import pyspark

    context["versions"] = {"spark": pyspark.__version__,
                           "pyarrow": pyarrow.__version__,
                           "python": sys.version.split()[0]}
    declared = declared_metrics(args.trace)
    missing = sorted(set(declared) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit}
                    for k, unit in declared.items()},
    }
    return result, context, metrics


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=20)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    try:
        import datafusion_catalogprovider_glue_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from "
              f"{ROOT}: {exc}", file=sys.stderr)
        return 2
    isolate_environment()
    try:
        result, context, measured = run(args)
    finally:
        shutdown_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    record = os.path.join(
        OUT, f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as fh:
        json.dump({"context": context, "result": result,
                   "measured": measured}, fh, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
