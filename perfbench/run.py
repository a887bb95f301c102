"""Benchmark entry point for the martech_pipelines_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload export_sync --seed 1 --seconds 10 --trace 0

Workloads: ``export_sync``, ``corpus``, ``stream_fold`` (see
``workloads.py`` and ``METRICS.md``). ``--seconds`` sets the amount of
work: the number of export cycles and of stream files scale with it; the
corpus slice runs once. ``--seed`` generates the export and stream
inputs; the corpus is fixed. With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` it carries
the per-layer metrics, from spans around each call into the engine and
from the Spark event log of the run. The line before it holds the full
record: every metric the run measured, host context and notes.

The run works in its own directory under ``.perfbench_run/`` in the
checkout (cwd, TMPDIR, Spark local dirs, event log), counts what the
engine leaves behind there, and removes the directory when it ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

sys.dont_write_bytecode = True

ROOT = os.getcwd()
WORKLOADS = ("export_sync", "corpus", "stream_fold")
CPUS = "4"
DRIVER_MEM = "2g"
SETUPS = 2  # cold starts per run; setup_s is their median
REPO_CACHES = (".ivf_cache", ".ivfpq_cache", "spark-warehouse")


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; the result line carries exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's work directory, and let executor Python workers import the
    engine from the checkout."""
    for d in ("tmp", "jvm_tmp", "local", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CPUS": CPUS,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'jvm_tmp')} "
            "-XX:-UsePerfData",
            "NO_PROXY": "127.0.0.1,localhost",
            "no_proxy": "127.0.0.1,localhost",
        }
    )
    time.tzset()
    os.chdir(work)


class Context:
    """What a workload needs: the session, the tracer and its inputs."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.corpus_dir = os.path.join(work, "corpus")
        self.generate_s = 0.0
        self.spark = None
        self.plan_nodes = 0
        self.plan_s = 0.0
        if args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(lambda: self.spark.sparkContext)
        else:
            from perfbench.trace import NullTracer

            self.tracer = NullTracer()

    def force_plan(self, df) -> None:
        """Traced runs only: force Catalyst analysis, optimisation and
        physical planning of ``df`` and count the plan's nodes."""
        if not self.tracer.enabled:
            return
        t0 = time.perf_counter()
        with self.tracer.span("catalyst.plan"):
            plan = df._jdf.queryExecution().executedPlan()
        self.plan_s += time.perf_counter() - t0
        self.plan_nodes += len(plan.treeString().splitlines())


def setup(ctx: Context, trace: bool) -> dict[str, float]:
    """Start the engine cold ``SETUPS`` times: launch the JVM through
    ``get_spark`` and run one warm-up job, then stop the JVM again, except
    after the last start, whose session the workload uses. Returns the
    median set-up time and its parts."""
    from martech_pipelines_spark.session import get_spark

    conf = {}
    if trace:
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(ctx.work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    starts, warms = [], []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        ctx.spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        with ctx.tracer.span("session.warmup", group="setup"):
            ctx.spark.range(64, numPartitions=4).count()
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
        if i < SETUPS - 1:
            stop_spark(ctx.spark)
    return {
        "setup_s": statistics.median(s + w for s, w in zip(starts, warms)),
        "session.start_s": statistics.median(starts),
        "session.warmup_s": statistics.median(warms),
    }


def calibrate(spark) -> float:
    """The fixed 30 M-row probe bench.py uses; host context only."""
    t0 = time.perf_counter()
    (
        spark.range(30_000_000)
        .selectExpr("xxhash64(id) % 1000 AS b", "id")
        .groupBy("b")
        .agg({"id": "sum"})
        .count()
    )
    return time.perf_counter() - t0


def run_workload(ctx: Context, name: str):
    from perfbench import workloads as W

    if name == "export_sync":
        return W.run_export(ctx)
    if name == "stream_fold":
        return W.run_stream(ctx)
    return W.run_corpus(ctx)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def layer_metrics(ctx: Context, res, setup_parts: dict, work: str) -> dict[str, float]:
    """Per-layer numbers of a traced run: spans, workload counters and the
    Spark event log, with each job attributed to the layer that ran it."""
    from perfbench.trace import EventLog

    tr = ctx.tracer
    log = EventLog(os.path.join(work, "events"))
    # Jobs of the measured phase: everything but set-up, the calibration
    # probe and the benchmark's own output checks.
    run = log.total(lambda g: g not in ("setup", "calib", "check"))
    stream = log.groups.get("stream")
    build = log.groups.get("plans.build")
    sink = log.groups.get("sink")
    sql = run.sql
    m = {
        "session.start_s": setup_parts["session.start_s"],
        "session.warmup_s": setup_parts["session.warmup_s"],
        "sources.input_bytes": run.input_bytes,
        "sources.input_rows": run.input_rows,
        "sources.files_read": sql.get("number of files read", 0),
        "plans.build_s": tr.total("plans.build"),
        "plans.build_jobs": build.jobs if build else 0,
        "catalyst.plan_s": ctx.plan_s,
        "catalyst.plan_nodes": ctx.plan_nodes,
        "spark.jobs": run.jobs,
        "spark.stages": run.stages,
        "spark.tasks": run.tasks,
        "spark.executor_run_s": run.executor_run_s,
        "spark.executor_cpu_s": run.executor_cpu_s,
        "spark.gc_s": run.gc_s,
        "spark.shuffle_write_bytes": run.shuffle_write_bytes,
        "spark.shuffle_read_bytes": run.shuffle_read_bytes,
        "spark.spill_bytes": run.spill_bytes,
        "python_worker.run_s": sql.get("time to run Python workers", 0.0),
        "python_worker.start_s": sql.get("time to start Python workers", 0.0),
        "python_worker.bytes_sent": sql.get("data sent to Python workers", 0),
        "python_worker.bytes_returned": sql.get("data returned from Python workers", 0),
        "job.transform_s": tr.total("job.transform"),
        "operators.sinks.call_s": 0.0,
        "operators.sinks.tasks": sink.tasks if sink else 0,
        "operators.sinks.task_run_s": sink.executor_run_s if sink else 0.0,
        "operators.sinks.batches": 0,
        "operators.sinks.records_sent": 0,
        "operators.sinks.post_attempts": 0,
        "operators.sinks.retries": 0,
        "operators.sinks.useful_ratio": 0.0,
        "operators.sinks.bytes_posted": 0,
        "operators.sinks.endpoint_busy_s": 0.0,
        # Log rows the engine read to build the profiles: the scan runs in
        # the sink's job, so watermark pruning shows here.
        "operators.cdc.rows_in": sink.input_rows if sink else 0,
        "operators.cdc.keys_out": 0,
        "caching.released": 0,
        "streaming.trigger_s": 0.0,
        "streaming.add_batch_s": 0.0,
        "streaming.query_planning_s": 0.0,
        "streaming.wal_commit_s": 0.0,
        "streaming.commit_offsets_s": 0.0,
        "streaming.latest_offset_s": 0.0,
        "streaming.get_batch_s": 0.0,
        "streaming.batches": 0,
        "streaming.backlog_max_files": 0,
        "streaming.state_bytes": 0,
        "streaming.input_bytes": 0,
        "bench.generate_s": ctx.generate_s,
        "bench.generator_late_max_s": 0.0,
        # Tracing-only work: forced planning plus span and job-group
        # bookkeeping. The event log is written on Spark's listener thread
        # and is not included.
        "bench.tracing_overhead_s": ctx.plan_s + tr.overhead_s,
    }
    m.update(res.layers)
    m["streaming.bytes_written"] = stream.output_bytes if stream else 0
    m["streaming.write_amplification"] = m["streaming.bytes_written"] / max(
        1, m["streaming.input_bytes"]
    )
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started (the JVM and the Python workers it forked) has exited."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        os.kill(pid, 9)


def count_leaks(work: str, before: set[str]) -> tuple[int, list[str]]:
    """Paths the engine created and left behind: anything in the run's
    TMPDIR or cwd other than the benchmark's own directories, and new
    cache directories in the checkout. New checkout caches are removed."""
    own = {"tmp", "jvm_tmp", "local", "events", "corpus", "export", "stream"}
    leaked = [os.path.join("tmp", e) for e in os.listdir(os.path.join(work, "tmp"))]
    leaked += [e for e in os.listdir(work) if e not in own]
    for name in REPO_CACHES:
        path = os.path.join(ROOT, name)
        if os.path.exists(path) and path not in before:
            leaked.append(path)
            shutil.rmtree(path, ignore_errors=True)
    return len(leaked), leaked


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind through the finally blocks that clean up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "martech_pipelines_spark")):
        print("run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    before = {os.path.join(ROOT, n) for n in REPO_CACHES if os.path.exists(os.path.join(ROOT, n))}
    work = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}")
    os.makedirs(work)
    try:
        return measure(args, work, before)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))


def measure(args: argparse.Namespace, work: str, before: set[str]) -> int:
    prepare_env(work)
    from perfbench import datagen
    from perfbench.trace import RssSampler

    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": CPUS,
        "loadavg_1m_before": os.getloadavg()[0],
    }
    ctx = Context(args, work)
    if args.workload == "corpus":
        t0 = time.perf_counter()
        datagen.write_corpus(ctx.corpus_dir)
        ctx.generate_s += time.perf_counter() - t0

    with RssSampler() as rss:
        parts = setup(ctx, bool(args.trace))
        res = run_workload(ctx, args.workload)
        rss.sample()
    # After sampling, so the probe's memory is not the program's.
    with ctx.tracer.span("bench.calibrate", group="calib"):
        host["calib_s"] = calibrate(ctx.spark)
    stop_spark(ctx.spark)
    host["loadavg_1m_after"] = os.getloadavg()[0]
    leaked, leaked_paths = count_leaks(work, before)

    if not res.latencies:  # nothing completed: the result is marked failed
        res.latencies = [0.0]
    e2e = {
        "setup_s": parts["setup_s"],
        "wall_s": res.wall_s,
        "op_p50_s": statistics.median(res.latencies),
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    # Printed but not gated: op_p90_s has fewer than ten samples beyond it
    # in one run; error_rate is 0 on a correct run (the result line's
    # ``failed`` and ``attempted`` carry it); backlog_max_files exists on
    # stream_fold only.
    shown = dict(e2e, op_p90_s=percentile(res.latencies, 0.9))
    shown["error_rate"] = res.failed / max(1, res.attempted)
    units = {**metric_units("end_to_end"), "op_p90_s": "s", "error_rate": "ratio"}
    if "backlog_max_files" in res.notes:
        shown["backlog_max_files"] = res.notes.pop("backlog_max_files")
        units["backlog_max_files"] = "files"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(res.latencies),
        "op_latencies_s": res.latencies,
        "end_to_end": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
        "host": host,
        "leaked_paths": leaked_paths,
        "notes": res.notes,
    }
    if args.trace:
        layers = layer_metrics(ctx, res, parts, work)
        layers["bench.leaked_paths"] = leaked
        record["per_layer"] = layers
        record["span_self_s"] = ctx.tracer.self_times()
        values, kind = layers, "per_layer"
    else:
        values, kind = e2e, "end_to_end"
    metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units(kind).items()}
    print(json.dumps(record, default=str))
    correct = res.failed == 0 and res.attempted > 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, res.attempted),
                "failed": res.failed if res.attempted else 1,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
