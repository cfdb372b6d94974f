"""Spark session lifetime for one benchmark run.

Sessions come from the engine's own factory, ``session.get_spark``. The
only settings added keep a run inside its work directory (local dirs, JVM
temp dir, warehouse), keep stdout clean (no console progress bar) and
keep every trigger's progress report for the end of the run.
"""

from __future__ import annotations

import os
import subprocess

from procstat import wait_gone


def _jvm_opts(work: str) -> str:
    # temp files go to the work dir; -XX:-UsePerfData stops the JVM writing
    # /tmp/hsperfdata_<user>, which ignores java.io.tmpdir
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": _jvm_opts(work),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def start(work: str, cpus: int):
    """A session on ``local[cpus]``. The first call launches the JVM; a
    call after ``spark.stop()`` makes a new SparkContext in the same JVM."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # spark-submit first runs a small launcher JVM with these options
    os.environ["SPARK_LAUNCHER_OPTS"] = _jvm_opts(work)
    from flink_streaming_demo_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark, sampler) -> None:
    """Stop the session, end the JVM and wait until it and every Python
    worker under it have exited."""
    from pyspark import SparkContext

    sampler.sample()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_gone(sampler.pids)
