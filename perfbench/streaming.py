"""Streaming workload: the reference's App 2, run closed loop.

Each run replays pre-generated ride chunks through the engine's public
entry points::

    replay.read_replay_stream  (file-stream source, maxFilesPerTrigger=1)
      -> pipelines.streaming_sliding_arrival_count
         (sliding 15/5 min windows, 60 s watermark, append mode)
      -> sinks.write_update_stream
      -> sinks.ParquetUpsertSink keyed by (cell, window_end)

Closed loop: when trigger k commits, chunk k + 2 is linked into the
source directory, so when trigger k + 1 commits one chunk is still
waiting and the engine never idles or runs a no-data trigger between
chunks. Each trigger takes one chunk. The steady window ends on a whole
number of slide periods once ``--seconds`` have passed; its last trigger
finds the closing sentinel waiting in place of a data chunk. The
sentinel, and the no-data trigger its watermark causes, drain untimed,
and the store is checked against a DuckDB twin over the same chunk
files. The sink is ``ParquetUpsertSink`` with its default 64 buckets.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime

import gen
import sparkctl
from procstat import ProcSampler
from stats import median

NAME = "app2-sliding-append"
WHY = (
    "App 2 sliding 15/5 min windows, 60 s watermark, append mode into the "
    "K4 upsert sink; the sink only inserts closed windows, so the fixed "
    "per-trigger engine cost dominates."
)
ROWS_PER_CHUNK = 1000
KEY_COLS = ("cell", "window_end")
# One-minute chunks and a five-minute slide: windows close on every fifth
# trigger (7, 12, 17, ...), so a steady window of whole periods holds the
# same mix of closing and plain triggers in every run. Two periods hold
# one closing trigger.
PERIOD = 5
MIN_PERIODS = 2

N_SETUPS = 3
POLL_S = 0.005
DRAIN_TIMEOUT_S = 120.0


def _twin_sql(rides_sql: str, sentinel_us: int) -> str:
    """DuckDB twin of the converged store, without the sentinel's own
    windows, which end past the final watermark and are never emitted."""
    from flink_streaming_demo_spark.plans import taxi_apps

    return (
        f"SELECT * FROM ({taxi_apps.sliding_arrival_count_sql(rides_sql)})"
        f" WHERE window_end < make_timestamp({sentinel_us})"
    )


def check_store(spark, store: str, chunk_paths, sentinel_us) -> list[str]:
    """Problems found comparing the converged store with its twin."""
    import duckdb

    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink
    from tools.parity import compare

    files = ", ".join(f"'{p}'" for p in chunk_paths)
    rides_sql = (
        "SELECT ride_id, make_timestamp(epoch_us(ts)) AS ts, is_start, lon, "
        f"lat, passenger_cnt FROM read_parquet([{files}])"
    )
    con = duckdb.connect()
    try:
        expected = con.execute(_twin_sql(rides_sql, sentinel_us)).df()
    finally:
        con.close()
    got = ParquetUpsertSink(store, list(KEY_COLS)).read(spark)
    return compare(NAME, got, expected)


class SinkTracer:
    """Wraps ``ParquetUpsertSink.foreach_batch``: times each call, counts
    the Spark jobs and tasks it ran (statusTracker) and the bucket
    directories it changed (a scan of the store before and after)."""

    def __init__(self, sink, sc):
        self.sink = sink
        self.sc = sc
        self.group = None
        self.calls: dict[int, dict] = {}
        self.self_s = 0.0

    def _scan(self):
        buckets, size = {}, 0
        if not os.path.isdir(self.sink.path):
            return buckets, size
        for entry in os.scandir(self.sink.path):
            if entry.is_dir() and entry.name.startswith("__kb="):
                files = []
                for f in os.scandir(entry.path):
                    st = f.stat()
                    files.append((f.name, st.st_ino, st.st_mtime_ns))
                    size += st.st_size
                buckets[entry.name] = sorted(files)
            elif entry.is_file():
                size += entry.stat().st_size
        return buckets, size

    def _jobs(self) -> list[int]:
        # the streaming engine runs each query's jobs under its runId
        # group, which is known once start() returns
        deadline = time.perf_counter() + 10
        while self.group is None and time.perf_counter() < deadline:
            time.sleep(0.01)
        return self.sc.statusTracker().getJobIdsForGroup(self.group)

    def foreach_batch(self, batch_df, epoch_id):
        t0 = time.perf_counter()
        before, _ = self._scan()
        first_job = max(self._jobs(), default=-1) + 1
        t1 = time.perf_counter()
        self.sink.foreach_batch(batch_df, epoch_id)
        t2 = time.perf_counter()
        after, size = self._scan()
        tracker = self.sc.statusTracker()
        jobs = [j for j in self._jobs() if j >= first_job]
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages.update(info.stageIds if info else ())
        tasks = 0
        for s in stages:
            st = tracker.getStageInfo(s)
            tasks += st.numCompletedTasks if st else 0
        changed = sum(
            1 for b, files in after.items() if before.get(b) != files
        )
        self.calls[epoch_id] = {
            "upsert_ms": (t2 - t1) * 1000,
            "buckets": changed,
            "store_bytes": size,
            "jobs": len(jobs),
            "tasks": tasks,
        }
        self.self_s += (t1 - t0) + (time.perf_counter() - t2)


def _progress_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self._progress = []
            self._lock = threading.Lock()
            self.self_s = 0.0

        def progress(self) -> list[dict]:
            with self._lock:
                return list(self._progress)

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            t0 = time.perf_counter()
            p = json.loads(event.progress.json)
            with self._lock:
                self._progress.append(p)
                self.self_s += time.perf_counter() - t0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


class Feeder:
    """Links pre-written chunk files into a source directory in order,
    then the closing sentinel."""

    def __init__(self, paths: list[str], sentinel: str, src: str):
        self.paths = paths
        self.sentinel = sentinel
        self.src = src
        self.fed = 0  # data chunks linked
        self.closed = False
        os.makedirs(src, exist_ok=True)

    def _link(self, path: str) -> None:
        os.link(path, os.path.join(self.src, os.path.basename(path)))

    def feed_to(self, n: int) -> None:
        while self.fed < min(n, len(self.paths)):
            self._link(self.paths[self.fed])
            self.fed += 1

    def close(self) -> None:
        """Link the sentinel; no data chunk follows it."""
        self._link(self.sentinel)
        self.closed = True


def _executed(progress: list[dict]) -> dict[int, dict]:
    """batchId -> progress of every trigger that ran (idle reports have no
    addBatch phase)."""
    out = {}
    for p in progress:
        if "addBatch" in p.get("durationMs", {}):
            out[p["batchId"]] = p
    return out


def _end_s(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1000


def _state(p: dict, key: str) -> float:
    return sum(op.get(key, 0) or 0 for op in p.get("stateOperators", []))


class StreamRun:
    """One query over fresh directories under ``root``."""

    def __init__(self, spark, root: str, chunk_paths, sentinel_path,
                 trace: bool):
        from flink_streaming_demo_spark.schemas import TAXI_RIDE_SCHEMA
        from flink_streaming_demo_spark.streaming import pipelines, replay
        from flink_streaming_demo_spark.streaming.sinks import (
            ParquetUpsertSink,
            write_update_stream,
        )

        self.store = os.path.join(root, "store")
        ckpt = os.path.join(root, "ckpt")
        self.commits = os.path.join(ckpt, "q", "commits")
        self.feeder = Feeder(
            chunk_paths, sentinel_path, os.path.join(root, "src")
        )
        self.feed_after(-1)
        self.sink = ParquetUpsertSink(self.store, list(KEY_COLS))
        self.tracer = (
            SinkTracer(self.sink, spark.sparkContext) if trace else None
        )
        spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt)
        stream = replay.read_replay_stream(
            spark, self.feeder.src, TAXI_RIDE_SCHEMA, max_files_per_trigger=1
        )
        self.query = write_update_stream(
            pipelines.streaming_sliding_arrival_count(stream),
            self.tracer or self.sink,
            "q",
            "append",
        )
        if self.tracer:
            self.tracer.group = str(self.query.runId)

    def feed_after(self, batch_id: int) -> None:
        """Chunks 0..batch_id are consumed once trigger ``batch_id`` has
        committed, and chunk batch_id + 1 is being read. Linking chunk
        batch_id + 2 now leaves it waiting when the next trigger commits,
        before this loop can notice that commit."""
        self.feeder.feed_to(batch_id + 3)

    def committed(self, batch_id: int) -> bool:
        return os.path.exists(os.path.join(self.commits, str(batch_id)))

    def wait_commit(self, batch_id: int, timeout_s: float) -> None:
        deadline = time.perf_counter() + timeout_s
        while not self.committed(batch_id):
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            if time.perf_counter() > deadline:
                raise TimeoutError(f"batch {batch_id} did not commit")
            time.sleep(POLL_S)


def _steady_window(sr: StreamRun, seconds: float) -> tuple[int, float]:
    """Closed loop, one chunk per trigger, from the commit of trigger 0.
    The window's last trigger is the first one that ends a slide period,
    ends at least MIN_PERIODS, and starts after ``seconds`` have passed; the
    sentinel is linked for the trigger after it. Returns the last
    trigger in the window and the window's wall."""
    t_start = time.perf_counter()
    last = 0
    sr.feed_after(last)
    while True:
        if sr.committed(last + 1):
            last += 1
            if sr.feeder.closed:
                break
            running = last + 1
            if (running % PERIOD == 0 and running >= MIN_PERIODS * PERIOD
                    and time.perf_counter() - t_start >= seconds) or (
                    running + 1 >= len(sr.feeder.paths)):
                sr.feeder.close()
            else:
                sr.feed_after(last)
            continue
        if sr.query.exception() is not None:
            raise RuntimeError(str(sr.query.exception()))
        time.sleep(POLL_S)
    return last, time.perf_counter() - t_start


def run(work: str, seed: int, seconds: int, trace: bool, cpus: int) -> dict:
    sampler = ProcSampler().start()
    # enough chunks that the feeder never runs dry at the current speed
    n_chunks = max(40, 4 * seconds)
    t0 = time.perf_counter()
    chunks = gen.ride_chunks(seed, ROWS_PER_CHUNK, n_chunks)
    chunk_paths = gen.write_chunks(
        chunks, os.path.join(work, "chunks"), time.time() - n_chunks - 100
    )
    gen_s = time.perf_counter() - t0
    sentinel_us = gen.sentinel_ts_us(n_chunks)
    data_paths, sentinel_path = chunk_paths[:-1], chunk_paths[-1]

    setups = []
    spark = None
    for rep in range(N_SETUPS):
        t0 = time.perf_counter()
        spark = sparkctl.start(work, cpus)
        listener = _progress_listener(spark) if trace else None
        sr = StreamRun(spark, os.path.join(work, f"rep{rep}"), data_paths,
                       sentinel_path, trace)
        sr.wait_commit(0, 600)
        setups.append(time.perf_counter() - t0)
        if rep < N_SETUPS - 1:
            sr.query.stop()
            spark.stop()

    sampler.reset_peak()
    jvm0, py0 = sampler.cpu()
    last, window_s = _steady_window(sr, seconds)
    jvm1, py1 = sampler.cpu()
    peak_rss = sampler.peak_rss_bytes

    # drain, untimed: the sentinel, whose watermark closes every window
    # in one more, no-data trigger
    t0 = time.perf_counter()
    fed = sr.feeder.fed
    sr.query.processAllAvailable()
    final = fed + 1
    sr.wait_commit(final, DRAIN_TIMEOUT_S)
    if trace:
        # listener events arrive asynchronously
        deadline = time.perf_counter() + 10
        while (final not in _executed(listener.progress())
               and time.perf_counter() < deadline):
            time.sleep(0.05)
        progress = _executed(listener.progress())
    else:
        progress = _executed(
            [json.loads(p.json) for p in sr.query.recentProgress]
        )
    sr.query.stop()
    drain_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    problems = check_store(
        spark, sr.store, data_paths[:fed] + [sentinel_path], sentinel_us
    )
    check_s = time.perf_counter() - t0
    extra = {}
    if trace:
        spark, extra = _single_core_pass(
            spark, work, data_paths, sentinel_path, seconds
        )
    sparkctl.shutdown(spark, sampler)
    sampler.stop()

    steady = [progress[b] for b in range(1, last + 1) if b in progress]
    attempted = len(progress)
    rows = sum(p["numInputRows"] for p in steady)
    wall = _end_s(progress[last]) - _end_s(progress[0])
    trig = [p["durationMs"]["triggerExecution"] for p in steady]
    # a window-closing trigger evicts the closed windows from state
    closing = [p for p in steady if _state(p, "numRowsRemoved") > 0]
    diag = {
        "setup_s_reps": setups,
        "input_gen_s": gen_s,
        "steady_trigger_ms": trig,
        # the closed loop should never leave a steady trigger without input
        "empty_steady_triggers": sum(
            1 for p in steady if p["numInputRows"] == 0
        ),
        "closing_triggers": [p["batchId"] for p in closing],
        "window_s": window_s,
        "drain_s": drain_s,
        "check_s": check_s,
        "chunks_fed": fed,
        "problems": problems[:5],
    }
    metrics = {
        "setup_s": median(setups),
        "rows_per_s": rows / wall,
        "op_p50_ms": median(trig),
        "op_tail_ms": median(
            [p["durationMs"]["triggerExecution"] for p in closing]
        ),
    }
    if trace:
        metrics = _layers(
            steady, progress, sr, listener, jvm1 - jvm0, py1 - py0,
            window_s, cpus, rows / wall,
        )
        metrics.update(extra)
        metrics["peak_rss_mb"] = peak_rss / 2**20
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": attempted if problems else 0,
        "metrics": metrics,
        "diagnostics": diag,
    }


def _layers(steady, progress, sr, listener, jvm_s, py_s, window_s, cpus,
            rows_per_s) -> dict:
    d = [p["durationMs"] for p in steady]
    calls = [sr.tracer.calls[p["batchId"]] for p in steady]
    nodata = [
        p["durationMs"]["triggerExecution"]
        for p in progress.values()
        if p["numInputRows"] == 0
    ]
    upsert = [c["upsert_ms"] for c in calls]
    return {
        "replay.offset_ms": median(
            [x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]
        ),
        "engine.planning_ms": median([x.get("queryPlanning", 0) for x in d]),
        "engine.log_commit_ms": median(
            [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]
        ),
        "engine.jobs_per_trigger": median([c["jobs"] for c in calls]),
        "engine.tasks_per_trigger": median([c["tasks"] for c in calls]),
        "engine.no_data_trigger_ms": median(nodata) if nodata else 0.0,
        "engine.cpu_util": (jvm_s + py_s) / (window_s * cpus),
        "sinks.upsert_ms": median(upsert),
        "sinks.buckets_rewritten": median([c["buckets"] for c in calls]),
        "sinks.store_bytes": calls[-1]["store_bytes"],
        "pipelines.operator_ms": median(
            [x["addBatch"] - u for x, u in zip(d, upsert)]
        ),
        "state.rows_total": _state(steady[-1], "numRowsTotal"),
        "state.rows_updated": median(
            [_state(p, "numRowsUpdated") for p in steady]
        ),
        "state.rows_removed": median(
            [_state(p, "numRowsRemoved") for p in steady]
        ),
        "state.memory_bytes": _state(steady[-1], "memoryUsedBytes"),
        "state.commit_ms": median([_state(p, "commitTimeMs") for p in steady]),
        "workers.python_cpu_s": py_s,
        "trace.rows_per_s": rows_per_s,
        "trace.overhead_ms_per_trigger": (
            (sr.tracer.self_s + listener.self_s) * 1000 / max(1, len(progress))
        ),
    }


def _single_core_pass(spark, work, data_paths, sentinel_path, seconds):
    """App 2 again on local[1], traced only: rows/s on one core, the
    figure the reference's 1.5 M events/s/core claim is stated in."""
    spark.stop()
    spark = sparkctl.start(work, 1)
    sr = StreamRun(spark, os.path.join(work, "core1"), data_paths,
                   sentinel_path, False)
    sr.wait_commit(0, 600)
    last, _ = _steady_window(sr, seconds / 2)
    sr.query.stop()
    progress = _executed([json.loads(p.json) for p in sr.query.recentProgress])
    rows = sum(progress[b]["numInputRows"] for b in range(1, last + 1))
    wall = _end_s(progress[last]) - _end_s(progress[0])
    return spark, {"engine.rows_per_s_per_core": rows / wall}
