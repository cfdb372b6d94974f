"""Batch workload: the 24 frozen headline queries of ``bench.py`` through
the registry (``__spark_entry__.queries()``), each built and written to
the noop sink, over tables generated from the seed."""

from __future__ import annotations

import os
import re
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import sparkctl
from procstat import ProcSampler
from stats import median, slowest_fifth_median

NAME = "batch-headline"
WHY = (
    "The 24 frozen headline queries built and written to noop; no "
    "streaming layer runs, so plan building and operator execution "
    "dominate."
)
# 6 k lineitem rows, the size of the sf0.001 test data, a hundredth of
# sf0.1. Query walls here are mostly fixed cost (building, planning,
# scheduling): a warm pass over the fixed test data took 17 s at sf0.001
# and 22 s at sf0.01. The output check grows much faster: the DuckDB
# oracles of the dedup and clean-corpus queries took 5 s at sf0.001 and
# 55 s at sf0.01, more than the rest of a run.
SCALE = 0.001
N_SETUPS = 3


def _rows_read(sql: str, table_rows: dict[str, int]) -> int:
    """Rows of every input table the query's oracle SQL names."""
    return sum(
        n for t, n in table_rows.items() if re.search(rf"\b{t}\b", sql)
    )


class JobCounter:
    """Jobs, tasks and the widest stage of the jobs run under one job
    group, read from ``statusTracker()``."""

    def __init__(self, sc):
        self.sc = sc

    def count(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages.update(info.stageIds if info else ())
        tasks = widest = 0
        for s in stages:
            st = tracker.getStageInfo(s)
            if st and st.numCompletedTasks:
                tasks += st.numCompletedTasks
                widest = max(widest, st.numCompletedTasks)
        return len(jobs), tasks, widest


def _pass(spark, qs, names, sf_dir, trace, counter, pass_no) -> dict:
    """Build and execute every query once; per-query timings."""
    from flink_streaming_demo_spark.plancheck import plan_fingerprint

    sc = spark.sparkContext
    out = {}
    for name in names:
        rec = {}
        if trace:
            t = time.perf_counter()
            group = f"{name}#{pass_no}"
            sc.setJobGroup(group, name)
            rec["trace_s"] = time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            if trace:
                plan_fingerprint(df)
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a raise is a failed query, not a crash
            out[name] = {"error": f"{type(e).__name__}: {e}"}
            continue
        t3 = time.perf_counter()
        rec.update(build=t1 - t0, plan=t2 - t1, execute=t3 - t2)
        if trace:
            rec["jobs"], rec["tasks"], rec["widest"] = counter.count(group)
            rec["trace_s"] += time.perf_counter() - t3
        out[name] = rec
    return out


def run(work: str, seed: int, seconds: int, trace: bool, cpus: int) -> dict:
    from bench import HEADLINE

    sampler = ProcSampler().start()
    sf_dir = os.path.join(work, "sf")
    t0 = time.perf_counter()
    tables = gen.batch_tables(seed, SCALE)
    gen.write_batch_tables(tables, sf_dir)
    gen_s = time.perf_counter() - t0
    table_rows = {t: tab.num_rows for t, tab in tables.items()}

    # set-up: session start to the first headline query written, three
    # times (the first one launches the JVM)
    setups = []
    spark = None
    for rep in range(N_SETUPS):
        t0 = time.perf_counter()
        spark = sparkctl.start(work, cpus)
        import __spark_entry__

        qs = __spark_entry__.queries()
        _pass(spark, qs, HEADLINE[:1], sf_dir, False, None, -1)
        setups.append(time.perf_counter() - t0)
        if rep < N_SETUPS - 1:
            spark.stop()

    # warm-up pass, untimed: every query once, results kept for the check.
    # The DuckDB oracles run meanwhile, so the check costs no extra wall.
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracles = pool.submit(_oracles, HEADLINE, sf_dir)
        results = {}
        for name in HEADLINE:
            try:
                results[name] = qs[name](spark, sf_dir).toPandas()
            except Exception as e:  # a raise is a failed query, not a crash
                results[name] = e
        oracles = oracles.result()
    warmup_s = time.perf_counter() - t0

    counter = JobCounter(spark.sparkContext)
    sampler.reset_peak()
    jvm0, py0 = sampler.cpu()
    t_start = time.perf_counter()
    passes = []
    while not passes or time.perf_counter() - t_start < seconds:
        passes.append(
            _pass(spark, qs, HEADLINE, sf_dir, trace, counter, len(passes))
        )
    window_s = time.perf_counter() - t_start
    jvm1, py1 = sampler.cpu()
    peak_rss = sampler.peak_rss_bytes
    sparkctl.shutdown(spark, sampler)
    sampler.stop()
    problems = _check(results, oracles)

    raised = {n for p in passes for n in HEADLINE if "error" in p[n]}
    ok = [n for n in HEADLINE if n not in raised]
    wall_s = sum(
        median([p[n]["build"] + p[n]["execute"] for p in passes]) for n in ok
    )
    from flink_streaming_demo_spark.plans.registry import ORACLE_SQL

    rows = sum(_rows_read(ORACLE_SQL[n], table_rows) for n in ok)
    runs_ms = [
        (p[n]["build"] + p[n]["execute"]) * 1000 for p in passes for n in ok
    ]
    attempted = len(passes) * len(HEADLINE)
    failed = len(passes) * len(raised | set(problems))
    metrics = {
        "setup_s": median(setups),
        "rows_per_s": rows / wall_s,
        "op_p50_ms": median(runs_ms),
        "op_tail_ms": slowest_fifth_median(runs_ms),
    }
    if trace:
        metrics = _layers(passes, ok, jvm1 - jvm0, py1 - py0, window_s,
                          cpus, rows / wall_s)
        metrics["peak_rss_mb"] = peak_rss / 2**20
    return {
        "correct": not (problems or raised),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "diagnostics": {
            "setup_s_reps": setups,
            "input_gen_s": gen_s,
            "warmup_pass_s": warmup_s,
            "window_s": window_s,
            "passes": len(passes),
            "headline_wall_s": wall_s,
            "op_samples": len(runs_ms),
            "problems": {k: v[:3] for k, v in problems.items()},
            "raised": {n: p[n]["error"] for p in passes for n in raised
                       if "error" in p[n]},
        },
    }


class _Collected:
    """A collected result in the shape ``tools.parity.compare`` reads."""

    def __init__(self, frame):
        self.frame = frame

    def toPandas(self):
        return self.frame


def _oracles(names, sf_dir: str) -> dict:
    """Each query's ``ORACLE_SQL`` result, computed by DuckDB."""
    from flink_streaming_demo_spark.plans.registry import ORACLE_SQL
    from tools.parity import duck_connect

    con = duck_connect(sf_dir)
    try:
        return {n: con.execute(ORACLE_SQL[n]).df() for n in names}
    finally:
        con.close()


def _check(results: dict, oracles: dict) -> dict[str, list[str]]:
    """Each query's collected result against its DuckDB oracle, by
    ``tools.parity.compare``. A query that raised is a failure."""
    from tools.parity import compare

    problems = {}
    for n, got in results.items():
        if isinstance(got, Exception):
            found = [f"{type(got).__name__}: {got}"]
        else:
            found = compare(n, _Collected(got), oracles[n])
        if found:
            problems[n] = found
    return problems


def _layers(passes, names, jvm_s, py_s, window_s, cpus, rows_per_s) -> dict:
    def med(n, k):
        return median([p[n][k] for p in passes])

    m = {
        "batch.build_s": sum(med(n, "build") for n in names),
        "batch.plan_s": sum(med(n, "plan") for n in names),
        "batch.execute_s": sum(med(n, "execute") for n in names),
        "batch.jobs": median(
            [sum(p[n]["jobs"] for n in names) for p in passes]
        ),
        "batch.tasks": median(
            [sum(p[n]["tasks"] for n in names) for p in passes]
        ),
        "batch.max_stage_tasks": max(
            p[n]["widest"] for p in passes for n in names
        ),
        "workers.python_cpu_s": py_s,
        "engine.cpu_util": (jvm_s + py_s) / (window_s * cpus),
        "trace.rows_per_s": rows_per_s,
        "trace.overhead_ms_per_trigger": 1000 * median(
            [p[n]["trace_s"] for p in passes for n in names]
        ),
    }
    for n in names:
        m[f"batch.{n}.build_s"] = med(n, "build")
        m[f"batch.{n}.execute_s"] = med(n, "execute")
    return m
