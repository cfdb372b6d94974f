"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
inside ``.perfbench_work/`` in the checkout, which is removed at exit.
The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see NOTES.md). The line before it carries
diagnostics (calibration, set-up repetitions, output-check problems).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import batch  # noqa: E402
import streaming  # noqa: E402
from procstat import descendants, wait_gone  # noqa: E402

WORKLOADS = {streaming.NAME: streaming.WHY, batch.NAME: batch.WHY}

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
}

_STREAM_LAYERS = {
    "peak_rss_mb": "MB",
    "replay.offset_ms": "ms",
    "engine.planning_ms": "ms",
    "engine.log_commit_ms": "ms",
    "engine.jobs_per_trigger": "count",
    "engine.tasks_per_trigger": "count",
    "engine.no_data_trigger_ms": "ms",
    "engine.cpu_util": "ratio",
    "engine.rows_per_s_per_core": "1/s",
    "sinks.upsert_ms": "ms",
    "sinks.buckets_rewritten": "count",
    "sinks.store_bytes": "B",
    "pipelines.operator_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.memory_bytes": "B",
    "state.commit_ms": "ms",
    "workers.python_cpu_s": "s",
}
_BATCH_LAYERS = {
    "batch.build_s": "s",
    "batch.plan_s": "s",
    "batch.execute_s": "s",
    "batch.jobs": "count",
    "batch.tasks": "count",
    "batch.max_stage_tasks": "count",
}
_TRACE_LAYERS = {
    "trace.rows_per_s": "1/s",
    "trace.overhead_ms_per_trigger": "ms",
}


def per_layer() -> dict[str, str]:
    """Every per-layer metric a traced run prints. A layer a workload
    never runs reads 0 on it."""
    from bench import HEADLINE

    out = {**_STREAM_LAYERS, **_BATCH_LAYERS, **_TRACE_LAYERS}
    for n in HEADLINE:
        out[f"batch.{n}.build_s"] = "s"
        out[f"batch.{n}.execute_s"] = "s"
    return out


def calib_sha256_200k_sec() -> float:
    """The repository's box-speed yardstick (bench.py): 200 k chained
    sha256 digests on one core."""
    t0 = time.perf_counter()
    h = b"x" * 32
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and (
        os.path.isdir(os.path.join(ROOT, "flink_streaming_demo_spark"))
    )


def _stop_children() -> None:
    kids = descendants(os.getpid())
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    wait_gone(kids, timeout_s=10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _engine_present():
        print(
            f"perfbench: no engine under {ROOT} "
            "(__spark_entry__.py and flink_streaming_demo_spark/ missing)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}"
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cpus = len(os.sched_getaffinity(0))
    trace = bool(args.trace)

    calib = [calib_sha256_200k_sec()]
    try:
        if args.workload == batch.NAME:
            res = batch.run(work, args.seed, args.seconds, trace, cpus)
        else:
            res = streaming.run(work, args.seed, args.seconds, trace, cpus)
    except BaseException:
        _stop_children()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    calib.append(calib_sha256_200k_sec())

    names = per_layer() if trace else END_TO_END
    metrics = {}
    for name, unit in names.items():
        metrics[name] = {"value": res["metrics"].get(name, 0), "unit": unit}
    diag = {
        "workload": args.workload,
        "why": WORKLOADS[args.workload],
        "cpus": cpus,
        "calib_sha256_200k_sec": calib,
        **res["diagnostics"],
    }
    print(json.dumps({"diagnostics": diag}, default=str))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
