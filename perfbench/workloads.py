"""The three benchmark workloads.

Each workload drives the engine only through its public functions and
returns a ``Result``: op latencies, the measured wall time, attempted and
failed op counts, and layer counts for the traced run. Every op's output
is checked against an independent pandas/pyarrow computation or a frozen
expected count; a failed check counts the op as failed.

- ``export_sync``: consecutive incremental export cycles, closed loop.
- ``corpus``: one client running a frozen query slice, closed loop.
- ``stream_fold``: event files dropped on a fixed schedule into a file
  stream folded by ``streaming_upsert_sink``, open loop.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field
from decimal import Decimal

import pandas as pd
import pyarrow.parquet as pq

from perfbench import datagen

HERE = os.path.dirname(os.path.abspath(__file__))

# The corpus slice, frozen here and resolved by name through plans.QUERIES.
# dd18 and t14c spend most of their wall building DataFrames (Spark jobs
# launched while building) and planning; t54 spends most of its wall in
# executors; s8c2 scores in Python workers over Arrow. They run in this
# order: the first query of a run also pays for JIT warm-up, so a seeded
# order would move that cost between queries.
CORPUS = [
    "dd18_cluster_size_histogram",
    "t54_sparse_cosine_topk",
    "s8c2_pq_adc_arrow",
    "t14c_bpe_fixed_merges",
]

# export_sync input: one change-log file per nightly cycle.
EXPORT_ROWS_PER_DAY = 30_000
EXPORT_USERS = 50_000
EXPORT_CYCLE_EST_S = 2.5  # cycles per run = seconds / this, at least 3
PAYLOAD_SIZE = 50
BACKOFF_BASE_S = 0.05
PASS_TYPES = ("purchase", "signup")

# stream_fold input: small event files dropped at a fixed interval, about
# half the fold's closed-loop capacity on a 4-core host (0.5 s per warm
# trigger); at least STREAM_MIN_FILES files, so the median has samples.
STREAM_ROWS_PER_FILE = 2_000
STREAM_USERS = 5_000
STREAM_INTERVAL_S = 1.0
STREAM_MIN_FILES = 14
# Dropped together before the schedule starts and folded back to back, one
# per trigger, untimed. With fewer, the first timed files still pay JIT
# warm-up and latency falls through the run.
STREAM_WARMUP_FILES = 12


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def load_expected() -> dict[str, dict]:
    with open(os.path.join(HERE, "expected_results.json")) as fh:
        return json.load(fh)


def _norm(v):
    """A result value in a form Spark and DuckDB rows agree on."""
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0.0" if v == 0 else repr(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rows_digest(cols: list[str], rows) -> str:
    """SHA-256 of a result's row multiset: columns in name order, values
    normalised, rows sorted, so neither row nor column order matters."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


# --- corpus -----------------------------------------------------------------


def run_corpus(ctx) -> Result:
    """Build, plan (traced only) and count each query of the slice; the
    ``.count()`` is the timed action. After it, untimed, the query's rows
    are collected and compared with the DuckDB oracle's (a frozen count
    and row-multiset digest). The corpus does not depend on the seed."""
    from martech_pipelines_spark import caching
    from martech_pipelines_spark.plans import QUERIES

    spark, tr = ctx.spark, ctx.tracer
    expected = load_expected()
    res = Result()
    released = 0
    for name in CORPUS:
        t0 = time.perf_counter()
        t3 = None  # end of the timed action
        with tr.span("caching.release"):
            released += caching.release()
        try:
            with tr.span("plans.build", group="plans.build"):
                df = QUERIES[name](spark, ctx.corpus_dir)
            t1 = time.perf_counter()
            ctx.force_plan(df)
            t2 = time.perf_counter()
            with tr.span("spark.action", group="action"):
                n = df.count()
            t3 = time.perf_counter()
            # build / forced planning (traced runs only) / action, per query
            res.notes.setdefault("op_split_s", {})[name] = [t1 - t0, t2 - t1, t3 - t2]
            with tr.span("bench.check", group="check"):
                got = {"rows": n, "sha256": rows_digest(df.columns, df.collect())}
            ok = got == expected[name]
            if not ok:
                res.notes.setdefault("mismatch", {})[name] = [got, expected[name]]
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            ok = False
            res.notes.setdefault("errors", {})[name] = repr(exc)[:300]
        if t3 is None:  # failed before its action completed
            t3 = time.perf_counter()
        res.latencies.append(t3 - t0)
        res.notes.setdefault("op_s", {})[name] = res.latencies[-1]
        res.op(ok)
    res.wall_s = sum(res.latencies)  # the untimed checks left out
    with tr.span("caching.release"):
        released += caching.release()
    res.layers["caching.released"] = released
    return res


# --- export_sync ------------------------------------------------------------


def _expected_profiles(table: pd.DataFrame) -> dict[int, tuple[str, int]]:
    """Newest pass-type row per user: identity -> (updated_at, k)."""
    df = table[table["event_type"].isin(PASS_TYPES)]
    df = df.sort_values(["user_id", "ts", "event_id"]).drop_duplicates("user_id", keep="last")
    ks = df["props"].map(lambda p: json.loads(p)["k"])
    return {
        int(u): (ts.strftime("%Y-%m-%d %H:%M:%S"), int(k))
        for u, ts, k in zip(df["user_id"], df["ts"], ks)
    }


def run_export(ctx) -> Result:
    """Nightly incremental export cycles. Each cycle: one new day file
    lands in the log; then watermark lookup -> UserProfileExportJob
    .transform -> rest_batch_sink to the loopback endpoint -> watermark
    update. Cycle 0 is the cold-start run and is not timed."""
    from martech_pipelines_spark.job import UserProfileExportJob
    from martech_pipelines_spark.operators.sinks import RestSinkConfig, rest_batch_sink
    from martech_pipelines_spark.sources.readers import load_table

    from perfbench.endpoint import Endpoint

    spark, tr = ctx.spark, ctx.tracer
    cycles = max(3, round(ctx.seconds / EXPORT_CYCLE_EST_S))
    root = os.path.join(ctx.work, "export")
    log_dir = os.path.join(root, "events.parquet")
    staged = os.path.join(root, "staged")
    os.makedirs(log_dir)
    days = [_staged_day(ctx, staged, i) for i in range(cycles + 1)]

    res = Result()
    endpoint = Endpoint(ctx.seed).start()
    cfg = RestSinkConfig(url=endpoint.url, payload_size=PAYLOAD_SIZE, backoff_base_s=BACKOFF_BASE_S)
    conf = {"job_name": "perfbench_export", "watermark_path": None, "pass_types": list(PASS_TYPES)}
    counts = {"batches": 0, "records_sent": 0, "keys_out": 0, "generated_rows": 0}
    sink_s = 0.0
    t_start = 0.0
    try:
        for i, (path, table) in enumerate(days):
            os.replace(path, os.path.join(log_dir, os.path.basename(path)))
            wm = table.column("ts").to_pandas().max().to_pydatetime()
            if i == 1:
                t_start = time.perf_counter()
            t0 = time.perf_counter()
            try:
                with tr.span("plans.build", group="plans.build"), tr.span("job.transform"):
                    events = load_table(spark, root, "events")
                    out = UserProfileExportJob(spark, conf).transform(events)
                ctx.force_plan(out)
                s0 = time.perf_counter()
                with tr.span("operators.sinks.call", group="sink"):
                    stats = rest_batch_sink(out, cfg)
                sink_s += time.perf_counter() - s0
                with tr.span("operators.cdc.update_watermark", group="watermark"):
                    conf["watermark_path"] = _write_watermark(spark, conf, wm, root, i)
                elapsed = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - an op failure is a result
                res.notes["error"] = repr(exc)[:300]
                res.op(False)
                break
            window = table.to_pandas()
            want = _expected_profiles(window)
            got = {int(r["identity"]): (r["updated_at"], r.get("k")) for r in endpoint.take_records()}
            ok = got == want and stats["sent"] == len(want) and stats["invalid"] == 0
            if not ok:
                res.notes.setdefault("mismatch_cycles", []).append(i)
            res.op(ok)
            counts["batches"] += stats["batches"]
            counts["records_sent"] += stats["sent"]
            counts["generated_rows"] += len(window)
            counts["keys_out"] += stats["processed"]
            if i > 0:
                res.latencies.append(elapsed)
        res.wall_s = time.perf_counter() - t_start
    finally:
        endpoint.close()
    # What the log held; the engine-side figure is operators.cdc.rows_in.
    res.notes["generated_rows"] = counts["generated_rows"]
    c = endpoint.counters()
    if c["max_batch"] > PAYLOAD_SIZE or c["unique_acks"] != c["acks"]:
        res.notes["endpoint_violation"] = c
        res.failed = res.attempted
    res.layers.update(
        {
            "operators.sinks.call_s": sink_s,
            "operators.sinks.batches": counts["batches"],
            "operators.sinks.records_sent": counts["records_sent"],
            "operators.sinks.post_attempts": c["attempts"],
            "operators.sinks.retries": c["attempts"] - len(endpoint.seen),
            "operators.sinks.useful_ratio": c["acks"] / max(1, c["attempts"]),
            "operators.sinks.bytes_posted": c["bytes"],
            "operators.sinks.endpoint_busy_s": c["busy_s"],
            "operators.cdc.keys_out": counts["keys_out"],
        }
    )
    return res


def _staged_day(ctx, staged: str, i: int):
    """Generate day ``i`` of the log into the staging dir (not yet visible)."""
    t0 = time.perf_counter()
    os.makedirs(staged, exist_ok=True)
    table = datagen.event_day(
        ctx.seed, i, EXPORT_ROWS_PER_DAY, EXPORT_USERS, dt.timedelta(days=1)
    )
    path = os.path.join(staged, f"day-{i:04d}.parquet")
    pq.write_table(table, path)
    ctx.generate_s += time.perf_counter() - t0
    return path, table


def _write_watermark(spark, conf: dict, wm: dt.datetime, root: str, i: int) -> str:
    """Write the job-runs table with ``wm`` as the job's watermark to a
    new version directory; returns its path."""
    from martech_pipelines_spark.operators import cdc
    from martech_pipelines_spark.sources.schemas import STREAMING_JOB_RUNS_SCHEMA as schema

    path = os.path.join(root, "watermark", f"v{i:04d}")
    if conf["watermark_path"] is None:
        runs = spark.createDataFrame([(conf["job_name"], wm)], schema=schema)
    else:
        prev = spark.read.schema(schema).parquet(conf["watermark_path"])
        runs = cdc.update_watermark(spark, prev, conf["job_name"], wm)
    runs.coalesce(1).write.parquet(path)
    return path


# --- stream_fold ------------------------------------------------------------


def run_stream(ctx) -> Result:
    """Open loop: a generator thread drops one event file every
    ``STREAM_INTERVAL_S`` into the source directory of
    ``stream_events_source(max_files_per_trigger=1)`` folded by
    ``streaming_upsert_sink``. A file's latency runs from when it was due
    to be dropped to the end of the trigger that folds it."""
    from martech_pipelines_spark.streaming.stream import (
        read_upsert_snapshot,
        stream_events_source,
        streaming_upsert_sink,
    )

    spark, tr = ctx.spark, ctx.tracer
    n_files = min(90, max(STREAM_MIN_FILES, round(ctx.seconds / STREAM_INTERVAL_S)))
    root = os.path.join(ctx.work, "stream")
    src, staged = os.path.join(root, "src"), os.path.join(root, "staged")
    snapshot, ckpt = os.path.join(root, "snapshot"), os.path.join(root, "ckpt")
    os.makedirs(src)
    os.makedirs(staged)
    t0 = time.perf_counter()
    files, tables = [], []
    warm = STREAM_WARMUP_FILES
    for i in range(warm + n_files):
        table = datagen.event_day(
            ctx.seed, i, STREAM_ROWS_PER_FILE, STREAM_USERS, dt.timedelta(hours=1)
        )
        path = os.path.join(staged, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        files.append(path)
        tables.append(table)
    ctx.generate_s += time.perf_counter() - t0
    input_bytes = sum(os.path.getsize(p) for p in files)

    res = Result()
    with tr.span("plans.build", group="plans.build"):
        stream = stream_events_source(spark, src, max_files_per_trigger=1)
        query = streaming_upsert_sink(
            stream, snapshot, ckpt, key_cols="user_id", ts_col="ts", tiebreak_cols=["event_id"]
        )
    progress: dict[int, dict] = {}
    try:
        for i in range(warm):
            _drop(files[i], src)
        _await_folded(query, progress, warm)
        due = [0.0] * (warm + n_files)
        dropped = [0.0] * (warm + n_files)
        t_start = time.time() + 0.2
        gen = threading.Thread(
            target=_generator, args=(files, warm, src, t_start, due, dropped), daemon=True
        )
        gen.start()
        _await_folded(query, progress, warm + n_files, timeout_s=ctx.seconds * 6 + 60)
        gen.join(timeout=30)
    finally:
        query.stop()
    timed = range(warm, warm + n_files)
    done = {}  # file index -> completion time of the trigger that folded it
    trig = []  # (start time, progress) of the triggers that folded timed files
    for p in sorted(progress.values(), key=lambda p: p["batchId"]):
        if p["numInputRows"] <= 0:
            continue
        start = _epoch(p["timestamp"])
        done[_file_index(p)] = start + p["durationMs"]["triggerExecution"] / 1e3
        if _file_index(p) in timed:
            trig.append((start, p))
    res.latencies = [done[i] - due[i] for i in timed]
    res.wall_s = done[timed[-1]] - due[warm]
    backlog = max(
        sum(1 for i in timed if dropped[i] <= start) - sum(1 for i in timed if done[i] <= start)
        for start, _ in trig
    )
    with tr.span("bench.check", group="check"):
        got = read_upsert_snapshot(spark, snapshot).select("user_id", "event_id").toPandas()
    allrows = pd.concat([t.select(["user_id", "ts", "event_id"]).to_pandas() for t in tables])
    want = allrows.sort_values(["user_id", "ts", "event_id"]).drop_duplicates("user_id", keep="last")
    ok = sorted(zip(got.user_id, got.event_id)) == sorted(zip(want.user_id, want.event_id))
    for _ in timed:
        res.op(ok)
    if not ok:
        res.notes["snapshot_mismatch"] = [len(got), len(want)]

    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) / 1e3 for _, p in trig]
        return float(pd.Series(vals).median()) if vals else 0.0

    res.notes["backlog_max_files"] = backlog
    res.layers.update(
        {
            "streaming.trigger_s": med("triggerExecution"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.query_planning_s": med("queryPlanning"),
            "streaming.wal_commit_s": med("walCommit"),
            "streaming.commit_offsets_s": med("commitOffsets"),
            "streaming.latest_offset_s": med("latestOffset"),
            "streaming.get_batch_s": med("getBatch"),
            "streaming.batches": len(done),
            "streaming.backlog_max_files": backlog,
            "streaming.state_bytes": _dir_bytes(snapshot),
            "streaming.input_bytes": input_bytes,
            "catalyst.plan_s": sum(p["durationMs"].get("queryPlanning", 0) / 1e3 for _, p in trig),
            "bench.generator_late_max_s": max(dropped[i] - due[i] for i in timed),
        }
    )
    return res


def _drop(path: str, src: str) -> None:
    """Make a staged file visible to the stream: fresh mtime, atomic rename."""
    os.utime(path)
    os.replace(path, os.path.join(src, os.path.basename(path)))


def _generator(files, first, src, t_start, due, dropped) -> None:
    for i in range(first, len(files)):
        due[i] = t_start + (i - first) * STREAM_INTERVAL_S
        delay = due[i] - time.time()
        if delay > 0:
            time.sleep(delay)
        _drop(files[i], src)
        dropped[i] = time.time()


def _await_folded(query, progress: dict, n_files: int, timeout_s: float = 120.0) -> None:
    """Wait until ``n_files`` files have been folded, then collect every
    trigger's progress. Polls the cheap ``lastProgress``; the full
    ``recentProgress`` (which keeps only the last 100 triggers) is read
    once at the end, so a run stays under 100 triggers. Latencies come
    from the progress timestamps, not from this poll, so it polls slowly
    to keep its py4j calls from competing with the triggers."""
    deadline = time.time() + timeout_s
    while True:
        last = _raw(query.lastProgress)
        if last is not None and last["numInputRows"] > 0 and _file_index(last) + 1 >= n_files:
            break
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"fewer than {n_files} files folded before the deadline")
        time.sleep(0.1)
    for p in query.recentProgress:
        p = _raw(p)
        progress[p["batchId"]] = p


def _raw(progress) -> dict | None:
    """A progress update as the plain dict of its JSON form."""
    if progress is None:
        return None
    js = progress.json
    return json.loads(js() if callable(js) else js)


def _file_index(p: dict) -> int:
    """Index of the file a one-file trigger folded: the file-source log offset."""
    return int(p["sources"][0]["endOffset"]["logOffset"])


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
