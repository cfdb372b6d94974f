"""SparkSession factory.

Spark-equivalent of the reference's local execution environment factory
(reference: utils/DemoStreamEnvironment.scala:25-34) — a single place that
pins the configs every pipeline in this engine assumes:

* ``spark.sql.session.timeZone=UTC`` — the reference parses/renders all
  timestamps in UTC (reference: datatypes/TaxiRide.scala:64-66); pinning UTC
  also makes results comparable with a DuckDB oracle (UTC-naive timestamps).
* AQE on — runtime coalescing + skew-join handling stand in for hand-tuned
  parallelism at 100 TB scale.
* shuffle partitions sized to the local core count for tests; a real cluster
  deployment overrides via ``spark.sql.shuffle.partitions`` (or leaves AQE's
  coalescing to shrink the default).
* the FileSystem-based streaming checkpoint file manager. On ``file:`` it
  does the same check-then-rename as Spark's FileContext default without
  spawning a ``readlink`` process per status call (see ``get_spark``). A
  deployment whose checkpoints live on HDFS passes the FileContext
  manager back through ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "flink-streaming-demo-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Post-shuffle coalescing keeps Spark's parallelismFirst=true:
        # at sf0.1 every post-shuffle stage holds KBs, so size-based
        # coalescing (false, 64m advisory) squeezed each one to ~1 task
        # and the 32-core session lost all post-shuffle parallelism. An
        # idle-box interleaved A/B (local[32], best-of-3, two pairs)
        # measured false = 42.4 / 44.0 s vs true = 25.4 / 20.6 s headline
        # total — ~2x. On a cluster where post-shuffle partitions hold
        # hundreds of MB, pass the size-based mode through ``extra_conf``
        # (parallelismFirst=false, advisoryPartitionSizeInBytes=256m).
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "true"
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Streaming offsets/commits/sources logs and the HDFS-backed
        # state store write through this manager. Spark's FileContext
        # default, on file: without native libhadoop, spawns a readlink
        # child process per status call: 1,576 in one perfbench App 2
        # run (BENCH_NOTES.md), and a traced run on a 4-core host read
        # state commit 388 -> 20 ms and log commit 79 -> 24 ms with this
        # manager. It loses nothing on file:. FileContext goes
        # ChecksumFs -> AbstractFileSystem.renameInternal(src, dst,
        # overwrite): a check-then-rename (getFileLinkStatus(dst), then
        # FileAlreadyExistsException), and this manager does the same
        # exists check, then rename (javap, hadoop-client-api 3.4.2).
        # LocalFileSystem is a ChecksumFileSystem, so .crc files are
        # still written. For checkpoints on HDFS, pass
        # FileContextBasedCheckpointFileManager through ``extra_conf``.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Defensive: even if an existing session was reused, pin the semantics we need.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Pin session semantics on a driver-provided session (timezone only —
    everything else is performance, not correctness)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
