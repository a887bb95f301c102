"""Spans, process-tree memory sampling and Spark event-log parsing.

A ``Tracer`` records spans around each call the benchmark makes into an
engine layer: name, start, end and the enclosing span. Spans stay in
memory; ``total`` and ``self_times`` sum them per name when the run
ends. With tracing off the same calls run through ``NullTracer``, whose
spans cost a context-manager entry and nothing else.

Structural counts (jobs, stages, tasks, bytes) come from the Spark event
log the traced session writes into the run's own work directory. Each
call into a layer runs under a Spark job group named after the layer, so
``EventLog`` can attribute every job to the layer that launched it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


class NullTracer:
    """Tracing off: spans and job groups are not recorded."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        yield


class Tracer(NullTracer):
    """Tracing on: spans kept in memory until the run ends."""

    enabled = True

    def __init__(self, spark_context_fn) -> None:
        self._sc = spark_context_fn
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a layer call; with ``group`` its Spark jobs carry that
        job group in the event log. Time spent here rather than in the
        call is added to ``overhead_s``."""
        t0 = time.perf_counter()
        sc = self._sc() if group else None
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            self.overhead_s += time.perf_counter() - s.end

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)


RSS_INTERVAL_S = 0.5  # between two samples of the process tree


class RssSampler:
    """Peak memory of this process and all its descendants (the JVM and
    the Python workers it forks), sampled from /proc. Each process counts
    its proportional set size, so copy-on-write pages a forked worker
    shares with its parent count once."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        total = 0
        for pid, comm, parent_comm in _process_tree():
            # A child of the JVM still running the JVM image is a process
            # launch in progress: it shares the JVM's address space until
            # it execs, so its memory is the JVM's.
            if not (comm == parent_comm == "java"):
                total += _pss_bytes(pid)
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_INTERVAL_S)


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited while sampling
        pass
    return 0


def _process_tree() -> list[tuple[int, str, str]]:
    """(pid, command name, parent's command name) of this process and all
    its live descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    comms: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        if fields[0] != "Z":
            children[int(fields[1])].append(int(d))
            comms[int(d)] = stat[stat.find("(") + 1 : stat.rfind(")")]
    root = os.getpid()
    out, todo = [], [(root, "")]
    while todo:
        pid, parent_comm = todo.pop()
        out.append((pid, comms.get(pid, ""), parent_comm))
        todo.extend((c, comms.get(pid, "")) for c in children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Live processes started by this one, directly or not."""
    return [pid for pid, _, _ in _process_tree()[1:]]


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    sql: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    def merge(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if k == "sql":
                for name, x in v.items():
                    self.sql[name] += x
            else:
                setattr(self, k, getattr(self, k) + v)


# SQL metric types whose raw values are durations.
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class EventLog:
    """Per-job-group totals from a Spark JSON event log (uncompressed,
    not rolled). Jobs without a group are filed under ``""``; streaming
    micro-batch jobs under ``"stream"``."""

    def __init__(self, log_dir: str) -> None:
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.path = max(files, key=os.path.getmtime)  # the last session of the run
        self.groups: dict[str, GroupStats] = defaultdict(GroupStats)
        self._parse()

    def _parse(self) -> None:
        stage_group: dict[int, str] = {}
        sql_meta: dict[int, tuple[str, str]] = {}
        sql_values: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        exec_group: dict[int, str] = {}
        with open(self.path) as fh:
            events = [json.loads(line) for line in fh]
        # Jobs first: a driver-side metric update can precede the first job
        # of its SQL execution.
        for e in events:
            if e["Event"] == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                # Streaming micro-batch jobs carry the query's run id as
                # their job group.
                if props.get("sql.streaming.queryId"):
                    g = "stream"
                else:
                    g = props.get("spark.jobGroup.id") or ""
                st = self.groups[g]
                st.jobs += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_group.setdefault(int(ex), g)
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                self.groups[stage_group.get(sid, "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"], "")
                st = self.groups[g]
                st.tasks += 1
                m = e.get("Task Metrics") or {}
                st.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics") or {}
                st.input_bytes += im.get("Bytes Read", 0)
                st.input_rows += im.get("Records Read", 0)
                st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Metadata") == "sql" and "Update" in acc:
                        sql_values[g][acc["ID"]] += float(acc["Update"])
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(e.get("sparkPlanInfo") or {}, sql_meta)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                g = exec_group.get(int(e["executionId"]), "")
                for acc_id, value in e["accumUpdates"]:
                    sql_values[g][acc_id] += float(value)
        for g, values in sql_values.items():
            st = self.groups[g]
            for acc_id, v in values.items():
                name, mtype = sql_meta.get(acc_id, ("", ""))
                if name:
                    st.sql[name] += v * _TIME_SCALE.get(mtype, 1.0)

    def total(self, include) -> GroupStats:
        """Sum of the groups whose name ``include`` accepts."""
        out = GroupStats()
        for g, st in self.groups.items():
            if include(g):
                out.merge(st)
        return out


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
    for child in info.get("children", []):
        _plan_metrics(child, out)
