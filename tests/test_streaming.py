"""Streaming equivalence tests (SURVEY §5.3.2): the golden invariant is
*streaming final results ≡ batch results* over the same data, in-order and
out-of-order (jitter bounded by the watermark delay -> no late drops)."""

from __future__ import annotations

import shutil
import tempfile
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from flink_streaming_demo_spark.operators.early_fire import early_fire_counts
from flink_streaming_demo_spark.plans.taxi_apps import (
    arrival_events,
    sliding_arrival_count,
    total_arrival_count,
)
from flink_streaming_demo_spark.sources.taxi import synthetic_taxi_rides
from flink_streaming_demo_spark.streaming import replay
from flink_streaming_demo_spark.streaming.early_trigger import (
    streaming_early_fire_counts,
)
from flink_streaming_demo_spark.streaming.pipelines import (
    streaming_sliding_arrival_count,
    write_foreach_batch_stream,
)
from flink_streaming_demo_spark.streaming.sinks import (
    InMemoryUpsertSink,
    write_update_stream,
)

RIDES_SCHEMA = (
    "ride_id long, ts timestamp, is_start boolean, lon double, lat double, "
    "passenger_cnt int"
)

# grid cell of the sentinel location (-73.71, 40.51); its own windows end
# beyond the final watermark and can never emit in append mode, so both
# sides of every comparison exclude it.
SENT_CELL = 98242


@pytest.fixture(scope="module")
def rides_df(spark, sf_dir):
    return synthetic_taxi_rides(spark, sf_dir).cache()


def _sentinel(spark, rides):
    """A far-future zero-passenger event that advances the watermark past
    every real window end. It must survive the pipeline's filters: Catalyst
    pushes the bbox/END filters *below* the EventTimeWatermark node, so a
    filtered-out event never advances the watermark. It contributes
    cnt=0 windows, so the batch-side expectation must include it too."""
    max_ts = rides.agg(F.max("ts")).first()[0]
    future = max_ts + timedelta(hours=2)
    return spark.createDataFrame(
        [(10**12, future, False, -73.71, 40.51, 0)], RIDES_SCHEMA
    )


def _run_stream(spark, chunk_dir, build, sink, output_mode):
    stream = replay.read_replay_stream(
        spark, chunk_dir, RIDES_SCHEMA, max_files_per_trigger=1
    )
    q = write_update_stream(build(stream), sink, "t", output_mode)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_sliding_equals_batch_in_order(spark, rides_df):
    rides = rides_df.unionByName(_sentinel(spark, rides_df))
    chunk_dir = replay.write_replay_chunks(rides, n_chunks=6, order_col="ts")
    sink = InMemoryUpsertSink(["cell", "window_end"])
    try:
        _run_stream(
            spark, chunk_dir, streaming_sliding_arrival_count, sink, "append"
        )
        got = {
            (d["cell"], d["window_end"]): d["cnt"]
            for d in sink.snapshot()
            if d["cell"] != SENT_CELL
        }
        expected = {
            (r.cell, r.window_end): r.cnt
            for r in sliding_arrival_count(rides).filter(
                F.col("cell") != SENT_CELL
            ).collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_sliding_equals_batch_out_of_order(spark, rides_df):
    """Seeded jitter <= 60s, watermark 60s: arrival order scrambled within
    the bound -> final results identical (reference invariant, SURVEY §5.2)."""
    rides = rides_df.unionByName(_sentinel(spark, rides_df))
    jittered = replay.with_delivery_jitter(rides, max_delay_secs=60)
    # chunked by DELIVERY time -> events arrive out of event-time order,
    # bounded by 60s; the stream schema omits delivery_ts (column pruning).
    chunk_dir = replay.write_replay_chunks(
        jittered, n_chunks=6, order_col="delivery_ts"
    )
    sink = InMemoryUpsertSink(["cell", "window_end"])
    try:
        _run_stream(
            spark,
            chunk_dir,
            lambda s: streaming_sliding_arrival_count(
                s, watermark_delay="60 seconds"
            ),
            sink,
            "append",
        )
        got = {
            (d["cell"], d["window_end"]): d["cnt"]
            for d in sink.snapshot()
            if d["cell"] != SENT_CELL
        }
        expected = {
            (r.cell, r.window_end): r.cnt
            for r in sliding_arrival_count(rides).filter(
                F.col("cell") != SENT_CELL
            ).collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_running_total_converges_to_batch(spark, rides_df):
    """App 1: update mode + K3 upsert (key=cell) converges to batch totals —
    the reference's running-fold + overwrite-by-cell contract."""
    chunk_dir = replay.write_replay_chunks(rides_df, n_chunks=6, order_col="ts")
    sink = InMemoryUpsertSink(["cell"])
    try:
        _run_stream(
            spark, chunk_dir, total_arrival_count, sink, "update"
        )
        got = {(d["cell"]): (d["cnt"], d["max_ts"]) for d in sink.snapshot()}
        expected = {
            r.cell: (r.cnt, r.max_ts)
            for r in total_arrival_count(rides_df).collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_early_fire_converges_and_fires_early(spark):
    """App 3 streaming: partials fire mid-stream at count thresholds; the
    K4-keyed sink converges to the batch-exact final counts."""
    base = datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for i in range(12):  # one cell, 12 END events, 10 passengers each
        rows.append(
            (i, base + timedelta(seconds=10 * i), False, -73.9, 40.75, 10)
        )
    # in-bbox zero-count sentinel far in the future to close all windows
    # (out-of-bbox events never reach the watermark node — filters are
    # pushed below it)
    rows.append((999, base + timedelta(hours=2), False, -73.71, 40.51, 0))
    rides = spark.createDataFrame(rows, RIDES_SCHEMA)
    chunk_dir = replay.write_replay_chunks(rides, n_chunks=4, order_col="ts")
    sink = InMemoryUpsertSink(["cell", "window_end", "fire_seq"])
    try:
        _run_stream(
            spark,
            chunk_dir,
            lambda s: streaming_early_fire_counts(
                arrival_events(s.withWatermark("ts", "60 seconds")),
                threshold=50,
            ),
            sink,
            "append",
        )
        rowsd = sink.snapshot()
        partials = [d for d in rowsd if not d["is_final"]]
        finals = [d for d in rowsd if d["is_final"]]
        assert partials, "expected count-driven partial fires"
        # batch-exact final comparison
        expected = {
            (r.cell, r.window_end): r.cnt
            for r in early_fire_counts(
                arrival_events(rides), threshold=50
            )
            .filter(F.col("is_final") & (F.col("cell") != SENT_CELL))
            .collect()
        }
        got = {
            (d["cell"], d["window_end"]): d["cnt"]
            for d in finals
            if d["cell"] != SENT_CELL
        }
        assert got == expected
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_parquet_upsert_sink_merges_by_key(spark):
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    d = tempfile.mkdtemp(prefix="upsert_")
    path = d + "/kv"
    sink = ParquetUpsertSink(path, ["k"])
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b2 = spark.createDataFrame([(2, "b2"), (3, "c")], "k int, v string")
    try:
        sink.foreach_batch(b1, 0)
        sink.foreach_batch(b2, 1)
        got = {r.k: r.v for r in sink.read(spark).collect()}
        assert got == {1: "a", 2: "b2", 3: "c"}  # last write per key wins
    finally:
        shutil.rmtree(d, ignore_errors=True)


_TS = datetime(2024, 3, 1, 10, 15, 0)


@pytest.mark.parametrize(
    "batches, expected",
    [
        pytest.param(
            # Reference contract (ElasticsearchUpsertSink.scala:42-83 +
            # EarlyArrivalCount.scala:185-188): one micro-batch can hold
            # SEVERAL fires for one (cell, window_end) — the LAST fire
            # wins, by fire_seq, not by arrival; a later micro-batch then
            # supersedes the within-batch winner
            [[(7, 2, 25), (7, 3, 40), (7, 1, 10), (8, 1, 5)], [(7, 4, 55)]],
            [{7: 40, 8: 5}, {7: 55, 8: 5}],
            id="last_fire_per_key_wins_within_batch",
        ),
        pytest.param(
            # a NULL fire_seq loses against any non-null fire
            [[(7, None, 99), (7, 1, 10), (9, None, 3)]],
            [{7: 10, 9: 3}],
            id="null_order_col_loses",
        ),
        pytest.param(
            # every fire of key 9 has a NULL order: a real row (the
            # greatest value tuple) is kept, not a null struct
            [[(9, None, 3), (9, None, 7), (7, 1, 10)]],
            [{7: 10, 9: 7}],
            id="all_orders_null",
        ),
        pytest.param(
            # TIED non-null orders resolve to the greatest value tuple
            [[(7, 2, 10), (7, 2, 40), (7, 2, 25), (8, 1, 5)]],
            [{7: 40, 8: 5}],
            id="tied_nonnull_orders",
        ),
    ],
)
def test_upsert_sinks_winner_rule(spark, batches, expected):
    """The in-memory and parquet sinks share one within-batch winner
    rule (sinks.latest_per_key: order by struct(fire_seq, values), nulls
    smallest); cross-batch the later micro-batch wins. Each batch runs
    through both sinks and both states must equal ``expected`` after
    every batch."""
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    schema = "cell int, window_end timestamp, fire_seq int, cnt int"
    key = ["cell", "window_end"]
    d = tempfile.mkdtemp(prefix="upsert_")
    try:
        mem = InMemoryUpsertSink(key, order_col="fire_seq")
        pq = ParquetUpsertSink(d + "/kv", key, order_col="fire_seq")
        for epoch, (rows, want) in enumerate(zip(batches, expected)):
            batch = spark.createDataFrame(
                [(c, _TS, o, n) for c, o, n in rows], schema
            )
            mem.foreach_batch(batch, epoch)
            pq.foreach_batch(batch, epoch)
            want = {(c, _TS): n for c, n in want.items()}
            assert {
                (m["cell"], m["window_end"]): m["cnt"]
                for m in mem.snapshot()
            } == want
            assert {
                (r.cell, r.window_end): r.cnt
                for r in pq.read(spark).collect()
            } == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_parquet_upsert_sink_premeta_layout_inference(spark):
    """Reopening a store whose meta file is missing must still reject an
    n_buckets smaller than what the bucket dir names prove, and warn
    (instead of silently stamping wrong parameters) when consistent."""
    import os
    import warnings

    import pytest

    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    d = tempfile.mkdtemp(prefix="upsert_")
    path = d + "/kv"
    try:
        sink = ParquetUpsertSink(path, ["k"], n_buckets=64)
        batch = spark.createDataFrame(
            [(i, f"v{i}") for i in range(200)], "k int, v string"
        )
        sink.foreach_batch(batch, 0)
        os.remove(os.path.join(path, ParquetUpsertSink.META_FILE))
        # some bucket index >= 8 certainly exists with 200 keys / 64 buckets
        with pytest.raises(ValueError, match="bucket dir index"):
            ParquetUpsertSink(path, ["k"], n_buckets=8).foreach_batch(
                spark.createDataFrame([(1, "x")], "k int, v string"), 1
            )
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            ParquetUpsertSink(path, ["k"], n_buckets=64).foreach_batch(
                spark.createDataFrame([(1, "x")], "k int, v string"), 1
            )
        assert any("predates" in str(x.message) for x in w)
        # meta re-stamped; store still consistent
        got = {r.k: r.v for r in ParquetUpsertSink(path, ["k"]).read(
            spark
        ).collect()}
        assert got[1] == "x" and len(got) == 200
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_parquet_upsert_sink_prunes_untouched_buckets(spark):
    """The dynamic-overwrite merge must leave every untouched ``__kb=``
    bucket directory byte-identical (same files, same contents, same
    mtimes) — merge cost is O(touched buckets), not O(table)."""
    import os

    from flink_streaming_demo_spark.streaming.sinks import (
        BUCKET_COL,
        ParquetUpsertSink,
    )

    d = tempfile.mkdtemp(prefix="upsert_")
    path = d + "/kv"
    try:
        sink = ParquetUpsertSink(path, ["k"], n_buckets=8)
        b1 = spark.createDataFrame(
            [(i, f"v{i}") for i in range(32)], "k int, v string"
        )
        sink.foreach_batch(b1, 0)

        def fingerprint():
            out = {}
            for bucket in os.listdir(path):
                if not bucket.startswith(BUCKET_COL + "="):
                    continue
                files = {}
                bdir = os.path.join(path, bucket)
                for fn in sorted(os.listdir(bdir)):
                    if fn.startswith(("_", ".")):
                        continue
                    fp = os.path.join(bdir, fn)
                    with open(fp, "rb") as f:
                        files[fn] = (os.path.getmtime(fp), f.read())
                out[bucket] = files
            return out

        before = fingerprint()
        assert len(before) > 1, "need several buckets for a pruning test"
        # one-key batch -> exactly one touched bucket
        touched_bucket = spark.createDataFrame([(5,)], "k int").selectExpr(
            f"pmod(hash(k), 8) AS b"
        ).first()[0]
        sink.foreach_batch(
            spark.createDataFrame([(5, "v5-new")], "k int, v string"), 1
        )
        after = fingerprint()
        touched_dir = f"{BUCKET_COL}={touched_bucket}"
        for bucket, files in before.items():
            if bucket == touched_dir:
                continue
            assert after[bucket] == files, f"untouched {bucket} was rewritten"
        got = {r.k: r.v for r in sink.read(spark).collect()}
        assert got[5] == "v5-new" and len(got) == 32
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_parquet_upsert_sink_keeps_one_file_per_bucket(spark):
    """Every merge leaves each touched bucket as exactly one part file,
    whatever partitions the old-store scan and the batch arrive in; a
    merge that only added files would make each later merge read and
    write more of them."""
    import os

    from flink_streaming_demo_spark.streaming.sinks import (
        BUCKET_COL,
        ParquetUpsertSink,
    )

    d = tempfile.mkdtemp(prefix="upsert_")
    path = d + "/kv"
    schema = "k int, v string"
    try:
        sink = ParquetUpsertSink(path, ["k"])
        want = {i: f"v{i}" for i in range(120)}

        def check():
            buckets = [
                b for b in os.listdir(path) if b.startswith(BUCKET_COL + "=")
            ]
            assert len(buckets) == sink.n_buckets
            for b in buckets:
                parts = [
                    f for f in os.listdir(os.path.join(path, b))
                    if f.startswith("part-") and f.endswith(".parquet")
                ]
                assert len(parts) == 1, f"{b} holds {parts}"
            got = {r.k: r.v for r in sink.read(spark).collect()}
            assert got == want

        sink.foreach_batch(
            spark.createDataFrame(list(want.items()), schema).repartition(3),
            0,
        )
        check()
        for epoch in (1, 2, 3):
            # a third of the old keys change and new keys arrive: every
            # bucket keeps old rows and takes fresh ones
            fresh = {
                k: f"v{k}-e{epoch}"
                for k in list(range(epoch, 120, 3))
                + list(range(100 * epoch + 100, 100 * epoch + 130))
            }
            want.update(fresh)
            sink.foreach_batch(
                spark.createDataFrame(list(fresh.items()), schema)
                .repartition(3),
                epoch,
            )
            check()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_parquet_upsert_sink_empty_first_batch_is_noop(spark):
    """An empty FIRST micro-batch must not crash (a partitioned write of an
    empty frame emits no part files -> the staging re-read would fail) and
    must not create the table; the next real batch initializes normally."""
    import os

    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    d = tempfile.mkdtemp(prefix="upsert_")
    path = d + "/kv"
    schema = "k int, v string"
    try:
        sink = ParquetUpsertSink(path, ["k"])
        sink.foreach_batch(spark.createDataFrame([], schema), 0)
        assert not os.path.exists(path)
        sink.foreach_batch(spark.createDataFrame([(1, "a")], schema), 1)
        sink.foreach_batch(spark.createDataFrame([], schema), 2)  # later empty
        assert {r.k: r.v for r in sink.read(spark).collect()} == {1: "a"}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_parquet_upsert_sink_empty_batch_is_one_job(spark):
    """The sink's door cut is its only action on an empty batch: one
    Spark job, which both materializes the batch and observes its
    (empty) set of touched buckets, and no store is created."""
    import os

    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    sc = spark.sparkContext
    d = tempfile.mkdtemp(prefix="upsert_")
    path = d + "/kv"
    empty = (
        spark.range(64).filter(F.col("id") < 0)
        .groupBy((F.col("id") % 4).alias("k")).count()
    )
    try:
        sink = ParquetUpsertSink(path, ["k"])
        sc.setJobGroup("upsert_empty_batch", "empty micro-batch")
        try:
            sink.foreach_batch(empty, 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("upsert_empty_batch")
        assert len(jobs) == 1
        assert not os.path.exists(path)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_parquet_upsert_sink_rejects_incompatible_layout(spark):
    """Reusing a store with a different n_buckets would SILENTLY duplicate
    keys; an unbucketed table would fail confusingly mid-merge. Both must
    fail fast with a clear error instead."""
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    d = tempfile.mkdtemp(prefix="upsert_")
    schema = "k int, v string"
    try:
        # n_buckets mismatch
        p1 = d + "/kv"
        ParquetUpsertSink(p1, ["k"], n_buckets=8).foreach_batch(
            spark.createDataFrame([(1, "a")], schema), 0
        )
        with pytest.raises(ValueError, match="n_buckets=8"):
            ParquetUpsertSink(p1, ["k"], n_buckets=16).foreach_batch(
                spark.createDataFrame([(2, "b")], schema), 0
            )
        # a 64-bucket store reopened with the default bucket count is
        # refused, not merged into with duplicated keys
        p64 = d + "/kv64"
        ParquetUpsertSink(p64, ["k"], n_buckets=64).foreach_batch(
            spark.createDataFrame([(1, "a")], schema), 0
        )
        with pytest.raises(ValueError, match="n_buckets=64"):
            ParquetUpsertSink(p64, ["k"]).foreach_batch(
                spark.createDataFrame([(2, "b")], schema), 1
            )
        # pre-existing unbucketed table
        p2 = d + "/plain"
        spark.createDataFrame([(1, "a")], schema).write.parquet(p2)
        with pytest.raises(ValueError, match="no __kb="):
            ParquetUpsertSink(p2, ["k"]).foreach_batch(
                spark.createDataFrame([(2, "b")], schema), 0
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_checkpoint_file_manager_is_pinned_and_keeps_no_overwrite(
    spark, tmp_path
):
    """get_spark pins the FileSystem-based checkpoint file manager
    (session.py says why). It must keep the guard the offset and commit
    logs rely on: an atomic create over an existing file fails on close
    and leaves the first file as it was."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
    assert (
        mgr.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    )
    batch0 = Path(str(tmp_path / "0"))
    out = mgr.createAtomic(batch0, False)
    out.write(1)
    out.close()
    out = mgr.createAtomic(batch0, False)
    out.write(2)
    with pytest.raises(Py4JJavaError, match="already exists"):
        out.close()
    kept = mgr.open(batch0)
    try:
        assert kept.read() == 1
    finally:
        kept.close()


def test_paced_replay_tracks_event_time_spacing(spark):
    """U5 exact: with speedup=60, events 60s apart in event time must
    arrive ~1s apart in wall time, in serving order (reference
    TaxiRideSource.scala:265-268 toServingTime contract)."""
    import time

    base = datetime(2024, 3, 1, 0, 0, 0)
    # 4 events, 60s apart -> serving offsets 0,1,2,3s at speedup 60
    rows = [
        (i, base + timedelta(seconds=60 * i), False, -73.9, 40.75, 1)
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, RIDES_SCHEMA)
    stream = replay.paced_replay_stream(
        spark, df, speedup=60.0, ticks_per_second=4
    )
    arrivals: list[tuple[int, float]] = []

    def record(batch_df, epoch_id):
        t = time.monotonic()
        arrivals.extend((r.ride_id, t) for r in batch_df.collect())

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(record)
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while len(arrivals) < 4 and time.monotonic() < deadline:
            time.sleep(0.2)
    finally:
        q.stop()
    assert len(arrivals) == 4, f"expected 4 paced events, got {arrivals}"
    ids = [i for i, _ in sorted(arrivals, key=lambda p: p[1])]
    assert ids == [0, 1, 2, 3]  # serving order == event-time order
    span = max(t for _, t in arrivals) - min(t for _, t in arrivals)
    # event-time span 180s / speedup 60 = 3s of wall time; allow generous
    # scheduling slack either side but require real pacing (not all-at-once)
    assert 1.5 <= span <= 20.0, f"wall span {span:.2f}s not ~3s"


def test_streaming_dedup_within_watermark(spark):
    """Re-delivered events (same ride_id, duplicate in a later chunk within
    the watermark horizon) are dropped; the deduped stream count equals the
    batch distinct count."""
    from flink_streaming_demo_spark.streaming.pipelines import streaming_dedup

    base = datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(40):
        ts = base + timedelta(seconds=10 * i)
        rows.append((i, ts, False, -73.9, 40.7, 1))
        if i % 4 == 0:  # duplicate delivery, 15s later in event time order
            rows.append((i, ts, False, -73.9, 40.7, 1))
    df = spark.createDataFrame(rows, RIDES_SCHEMA)
    chunk_dir = replay.write_replay_chunks(df, n_chunks=4, order_col="ts")
    try:
        stream = replay.read_replay_stream(spark, chunk_dir, RIDES_SCHEMA)
        deduped = streaming_dedup(stream, ["ride_id"], "ts", "60 seconds")
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_t")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.table("dedup_t").count()
        assert got == 40  # 10 duplicates dropped
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_session_windows_equal_batch(spark):
    """session_window streaming (append mode, finalized by watermark) must
    equal the batch session_window over the same events."""
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_session_counts,
    )

    schema = "event_id long, ts timestamp, user_id long"
    base = datetime(2024, 3, 1, 9, 0, 0)
    rows = []
    eid = 0
    for u in range(5):
        # two sessions per user: a burst, a >30min gap, another burst
        for k in range(4):
            rows.append((eid, base + timedelta(minutes=u + k * 5), u)); eid += 1
        for k in range(3):
            rows.append(
                (eid, base + timedelta(minutes=90 + u + k * 10), u)
            ); eid += 1
    # sentinel: far-future event advances the watermark past all sessions
    rows.append((eid, base + timedelta(days=2), 999))
    df = spark.createDataFrame(rows, schema)
    chunk_dir = replay.write_replay_chunks(df, n_chunks=4, order_col="ts")
    try:
        stream = replay.read_replay_stream(spark, chunk_dir, schema)
        q = (
            streaming_session_counts(stream, "30 minutes")
            .writeStream.format("memory")
            .queryName("sess_t")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r.user_id, r.session_start, r.session_end): r.n_events
            for r in spark.table("sess_t").collect()
            if r.user_id != 999
        }
        batch = (
            df.filter(F.col("user_id") != 999)
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .count()
        )
        want = {
            (r.user_id, r["session_window"].start, r["session_window"].end): r[
                "count"
            ]
            for r in batch.collect()
        }
        assert got == want
        assert len(want) == 10  # 2 sessions x 5 users
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_clean_corpus_front_equals_batch(spark, sf_dir):
    """The streaming front half of the clean-corpus pipeline (quality
    gate + content-hash dedup within watermark + keyed parquet upsert)
    must converge to the batch quality+exact-dedup result over jittered
    out-of-order replay: one surviving row per distinct quality-passing
    content hash, with matching token counts, and a doc_id that really
    carries that content. (Which copy's doc_id survives is arrival-order
    dependent by design — batch picks min id, streaming picks first
    arrival — so the invariant is over content, not ids.)"""
    import os

    from flink_streaming_demo_spark.functions import text as TX
    from flink_streaming_demo_spark.plans.text_queries import _planted_corpus
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_clean_corpus_front,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    corpus = _planted_corpus(spark, sf_dir)
    base_us = 1_700_000_000 * 1_000_000
    docs = corpus.withColumn(
        "ingest_ts",
        F.timestamp_micros(
            F.lit(base_us) + (F.col("doc_id") % 240) * F.lit(1_000_000)
        ),
    )
    jittered = replay.with_delivery_jitter(
        docs, ts_col="ingest_ts", max_delay_secs=60
    )
    chunk_dir = replay.write_replay_chunks(
        jittered, n_chunks=6, order_col="delivery_ts"
    )
    store = tempfile.mkdtemp(prefix="clean_front_") + "/store"
    sink = ParquetUpsertSink(store, ["text_hash"])
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "doc_id long, text string, ingest_ts timestamp",
            max_files_per_trigger=1,
        )
        q = write_update_stream(
            streaming_clean_corpus_front(stream), sink, "clean_front",
            "append",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got_rows = sink.read(spark).collect()
        got = {r.text_hash: r.n_tokens for r in got_rows}
        quality = corpus.filter(TX.quality_pass(F.col("text")))
        expected = {
            r.text_hash: r.n_tokens
            for r in quality.select(
                F.md5("text").alias("text_hash"),
                TX.token_count(F.col("text")).alias("n_tokens"),
            ).distinct().collect()
        }
        assert len(got_rows) == len(got)  # one sink row per hash
        assert got == expected
        valid_pairs = {
            (r.text_hash, r.doc_id)
            for r in quality.select(
                F.md5("text").alias("text_hash"), "doc_id"
            ).collect()
        }
        assert all((r.text_hash, r.doc_id) in valid_pairs for r in got_rows)

        # Back half: periodic compaction over the live store must leave
        # exactly as many survivors as the batch pipeline on the same
        # corpus (the cluster partition is a function of the TEXT set,
        # which streaming and batch dedup agree on — which copy's doc_id
        # represents a cluster is arrival-order dependent), and no
        # qualifying near-dup pair may remain among survivors.
        from flink_streaming_demo_spark.operators.dedup import (
            minhash_lsh_pairs,
        )
        from flink_streaming_demo_spark.plans.text_queries import (
            PIPE_NEARDUP_EST,
            pipeline_clean_corpus,
        )
        from flink_streaming_demo_spark.streaming.pipelines import (
            clean_corpus_compact,
        )

        compacted = clean_corpus_compact(
            sink.read(spark), threshold=PIPE_NEARDUP_EST
        ).cache()
        assert compacted.count() == pipeline_clean_corpus(
            spark, sf_dir
        ).count()
        assert (
            minhash_lsh_pairs(compacted, threshold=PIPE_NEARDUP_EST).count()
            == 0
        )
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(os.path.dirname(store), ignore_errors=True)


def test_streaming_interval_join_equals_batch(spark):
    """Stream-stream interval join (click -> error within 5 min, same
    user) must emit exactly the batch join's pairs over chunked replay."""
    from flink_streaming_demo_spark.plans.event_queries import (
        error_after_click,
    )
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_error_after_click,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    base = datetime(2024, 3, 1, 9, 0, 0)
    rows = []
    eid = 0
    for u in range(4):
        # click at t0; errors at +1 min (match), +4 min (match),
        # +6 min (outside horizon), error at -1 min (before click)
        t0 = base + timedelta(minutes=10 * u)
        rows += [
            (eid, t0, u, "click"),
            (eid + 1, t0 + timedelta(minutes=1), u, "error"),
            (eid + 2, t0 + timedelta(minutes=4), u, "error"),
            (eid + 3, t0 + timedelta(minutes=6), u, "error"),
            (eid + 4, t0 - timedelta(minutes=1), u, "error"),
        ]
        eid += 5
    # cross-user: user 0's click must not match user 1's error
    df = spark.createDataFrame(rows, schema)
    chunk_dir = replay.write_replay_chunks(df, n_chunks=3, order_col="ts")
    try:
        clicks = replay.read_replay_stream(spark, chunk_dir, schema).filter(
            F.col("event_type") == "click"
        )
        errors = replay.read_replay_stream(spark, chunk_dir, schema).filter(
            F.col("event_type") == "error"
        )
        q = (
            streaming_error_after_click(clicks, errors)
            .writeStream.format("memory")
            .queryName("ij_t")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r.user_id, r.click_id, r.error_id, r.micros_after)
            for r in spark.table("ij_t").collect()
        }
        want = {
            (r.user_id, r.click_id, r.error_id, r.micros_after)
            for r in error_after_click(
                df.filter(F.col("event_type") == "click"),
                df.filter(F.col("event_type") == "error"),
            ).collect()
        }
        assert got == want
        assert len(want) == 8  # 2 in-horizon errors x 4 users
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_enrich_with_static_equals_batch(spark):
    """Stream-static broadcast enrichment + windowed agg must equal the
    batch join over the same events."""
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_enrich_with_static,
    )

    schema = "event_id long, ts timestamp, event_type string, value double"
    base = datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (i, base + timedelta(minutes=7 * i), ["click", "error"][i % 2],
         float(i))
        for i in range(40)
    ]
    rows.append((999, base + timedelta(days=1), "click", 0.0))  # sentinel
    ev = spark.createDataFrame(rows, schema)
    dim = spark.createDataFrame(
        [("click", 1.0), ("error", 2.5)], "event_type string, weight double"
    )
    chunk_dir = replay.write_replay_chunks(ev, n_chunks=4, order_col="ts")
    try:
        stream = replay.read_replay_stream(spark, chunk_dir, schema)
        q = (
            streaming_enrich_with_static(stream, dim)
            .writeStream.format("memory")
            .queryName("enrich_t")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r.window_start, r.event_type): (r.n_events, r.weighted_value)
            for r in spark.table("enrich_t").collect()
        }
        batch = (
            ev.join(F.broadcast(dim), "event_type")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value") * F.col("weight")), 6).alias(
                    "wv"
                ),
            )
        )
        want = {
            (r["window"].start, r.event_type): (r.n, r.wv)
            for r in batch.collect()
            # the sentinel's own window never closes in append mode
            if r["window"].start < base + timedelta(hours=23)
        }
        assert got == want
        assert len(want) >= 8
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string"
)


def test_streaming_scd2_equals_batch_closed_intervals(spark, sf_dir):
    """CDC->SCD2 at ingest: over jittered (60s <= watermark) replay, the
    streaming operator's closed intervals equal the batch builder's
    valid_to-not-null rows exactly — versions, bounds, and types. The
    far-future sentinel advances the watermark past every real change so
    all batch-closed intervals seal."""
    from flink_streaming_demo_spark.plans.event_queries import (
        events_scd2_type_history,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.sealed import streaming_scd2

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    max_ts = events.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**12, max_ts + timedelta(hours=2), 10**9, "zz_sentinel")],
        EVENTS_SCHEMA,
    )
    jittered = replay.with_delivery_jitter(
        events.unionByName(sentinel), max_delay_secs=60
    )
    chunk_dir = replay.write_replay_chunks(
        jittered, n_chunks=6, order_col="delivery_ts"
    )
    sink = InMemoryUpsertSink(["user_id", "version"])
    try:
        stream = replay.read_replay_stream(
            spark, chunk_dir, EVENTS_SCHEMA, max_files_per_trigger=1
        )
        q = write_update_stream(
            streaming_scd2(stream, watermark_delay="60 seconds"),
            sink,
            "scd2",
            "append",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (d["user_id"], d["version"]): (
                d["event_type"],
                d["valid_from"],
                d["valid_to"],
            )
            for d in sink.snapshot()
            if d["user_id"] != 10**9
        }
        expected = {
            (r.user_id, r.version): (r.event_type, r.valid_from, r.valid_to)
            for r in events_scd2_type_history(spark, sf_dir)
            .filter(F.col("valid_to").isNotNull())
            .collect()
        }
        assert got == expected
        assert all(not d["is_current"] for d in sink.snapshot())
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_scd2_equals_batch_with_null_event_types(spark, tmp_path):
    """A NULL event_type is a legal SCD2 value: NULL -> NULL is no change,
    'x' -> NULL and NULL -> 'x' are changes, and a user's first event
    opens version 1 whatever its type. The stream, the batch builder and
    the DuckDB twins of both SCD2 queries must agree on that, compared
    as full rows."""
    import duckdb
    import pandas as pd

    import __spark_entry__
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.sealed import streaming_scd2
    from tools import parity

    t0 = datetime(2024, 1, 1)
    rows = [  # (event_id, seconds after t0, user_id, event_type)
        (1, 0, 1, None),
        (2, 10, 1, None),  # NULL -> NULL: no change
        (3, 20, 1, "a"),
        (4, 30, 1, None),  # 'a' -> NULL: a change
        (5, 40, 1, "a"),
        (6, 50, 1, "a"),
        (7, 60, 1, "b"),
        (8, 5, 2, "x"),
        (9, 15, 2, None),
        (10, 25, 2, None),
        (11, 35, 2, "x"),
        (12, 0, 3, None),
        (13, 100, 3, None),  # one open NULL version, never closed
    ]
    pd.DataFrame(
        [(e, t0 + timedelta(seconds=s), u, et) for e, s, u, et in rows],
        columns=["event_id", "ts", "user_id", "event_type"],
    ).to_parquet(tmp_path / "events.parquet")
    sf = str(tmp_path)
    queries = __spark_entry__.queries()
    cols = (
        "user_id", "event_type", "version", "valid_from", "valid_to",
        "is_current",
    )
    batch = {
        tuple(r[c] for c in cols)
        for r in queries["events_scd2_type_history"](spark, sf).collect()
    }

    def at(sec):
        return t0 + timedelta(seconds=sec)

    assert batch == {
        (1, None, 1, at(0), at(20), False),
        (1, "a", 2, at(20), at(30), False),
        (1, None, 3, at(30), at(40), False),
        (1, "a", 4, at(40), at(60), False),
        (1, "b", 5, at(60), None, True),
        (2, "x", 1, at(5), at(15), False),
        (2, None, 2, at(15), at(35), False),
        (2, "x", 3, at(35), None, True),
        (3, None, 1, at(0), None, True),
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    for name in ("events_scd2_type_history", "events_temporal_scd2_join"):
        oracle = con.execute(__spark_entry__.oracle_sql()[name]).df()
        assert parity.compare(name, queries[name](spark, sf), oracle) == []

    events = load_table(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    sentinel = spark.createDataFrame(
        [(10**12, t0 + timedelta(hours=2), 10**9, "zz_sentinel")],
        EVENTS_SCHEMA,
    )
    chunk_dir = replay.write_replay_chunks(
        replay.with_delivery_jitter(
            events.unionByName(sentinel), max_delay_secs=60
        ),
        n_chunks=3,
        order_col="delivery_ts",
    )
    sink = InMemoryUpsertSink(["user_id", "version"])
    try:
        stream = replay.read_replay_stream(
            spark, chunk_dir, EVENTS_SCHEMA, max_files_per_trigger=1
        )
        q = write_update_stream(
            streaming_scd2(stream, watermark_delay="60 seconds"),
            sink,
            "scd2_nulls",
            "append",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            tuple(d[c] for c in cols)
            for d in sink.snapshot()
            if d["user_id"] != 10**9
        }
        assert got == {r for r in batch if r[4] is not None}
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_incremental_dedup_equals_batch(spark, sf_dir):
    """Chunked out-of-order replay of the incoming batch, deduped
    per-trigger against the static base corpus, must produce EXACTLY the
    batch operator's verdicts — incremental decisions carry no
    cross-batch state, so chunking must not change a single verdict."""
    from flink_streaming_demo_spark.operators.dedup import (
        incremental_dedup_decisions,
    )
    from flink_streaming_demo_spark.plans.text_queries import _incoming_batch
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_incremental_dedup,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = _incoming_batch(spark, sf_dir)
    base_us = 1_700_000_000 * 1_000_000
    stamped = incoming.withColumn(
        "ingest_ts",
        F.timestamp_micros(
            F.lit(base_us) + (F.col("doc_id") % 240) * F.lit(1_000_000)
        ),
    )
    jittered = replay.with_delivery_jitter(
        stamped, ts_col="ingest_ts", max_delay_secs=60
    )
    chunk_dir = replay.write_replay_chunks(
        jittered, n_chunks=5, order_col="delivery_ts"
    )
    store = tempfile.mkdtemp(prefix="inc_dedup_") + "/store"
    sink = ParquetUpsertSink(store, ["doc_id"])
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "doc_id long, text string, ingest_ts timestamp",
            max_files_per_trigger=1,
        ).select("doc_id", "text")
        q = write_foreach_batch_stream(
            stream, streaming_incremental_dedup(base, sink), "inc_dedup"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r.doc_id: (r.verdict, r.matched_base_id)
            for r in sink.read(spark).collect()
        }
        want = {
            r.doc_id: (r.verdict, r.matched_base_id)
            for r in incremental_dedup_decisions(base, incoming).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


def test_streaming_incremental_dedup_restart_from_checkpoint(spark, sf_dir):
    """Checkpoint-restart across the broadcast-gated incremental-dedup
    path (r7 verdict #6): kill the ingest stream mid-replay, restart
    from the same checkpoint, and the upserted verdicts must still equal
    the batch operator exactly. Exercises the trigger-bounded
    ``broadcast_incoming=True`` pinning in streaming_incremental_dedup
    across a restart — replayed micro-batches re-run the gated joins and
    the doc_id-keyed upsert keeps the result exactly-once. (The other
    r7 rewrite, exact_global_ntile, has NO streaming consumer — it is a
    batch-only scoring op; nothing in streaming/pipelines.py composes
    it, so its equivalence evidence is the batch oracle + property
    tests.)"""
    import time as _time

    from flink_streaming_demo_spark.operators.dedup import (
        incremental_dedup_decisions,
    )
    from flink_streaming_demo_spark.plans.text_queries import _incoming_batch
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_incremental_dedup,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = _incoming_batch(spark, sf_dir)
    base_us = 1_700_000_000 * 1_000_000
    stamped = incoming.withColumn(
        "ingest_ts",
        F.timestamp_micros(
            F.lit(base_us) + (F.col("doc_id") % 240) * F.lit(1_000_000)
        ),
    )
    jittered = replay.with_delivery_jitter(
        stamped, ts_col="ingest_ts", max_delay_secs=60
    )
    chunk_dir = replay.write_replay_chunks(
        jittered, n_chunks=6, order_col="delivery_ts"
    )
    work = tempfile.mkdtemp(prefix="inc_dedup_ckpt_")
    store, ckpt = work + "/store", work + "/ckpt"
    sink = ParquetUpsertSink(store, ["doc_id"])
    body = streaming_incremental_dedup(base, sink)

    def start():
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "doc_id long, text string, ingest_ts timestamp",
            max_files_per_trigger=1,
        ).select("doc_id", "text")
        return (
            stream.writeStream.outputMode("append")
            .queryName("inc_dedup_ckpt")
            .option("checkpointLocation", ckpt)
            .foreachBatch(body)
            .start()
        )

    q = start()
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            done = sum(
                p.numInputRows > 0 for p in (q.recentProgress or [])
            )
            if done >= 2:
                break
            _time.sleep(0.2)
        q.stop()
        q.awaitTermination(30)
        q2 = start()
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        got = {
            r.doc_id: (r.verdict, r.matched_base_id)
            for r in sink.read(spark).collect()
        }
        want = {
            r.doc_id: (r.verdict, r.matched_base_id)
            for r in incremental_dedup_decisions(base, incoming).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)


def test_streaming_restart_from_checkpoint_equals_batch(spark, rides_df):
    """Fault-tolerance form of the golden invariant: the sliding-window
    stream killed mid-replay and RESTARTED from its checkpoint must
    converge to the same final counts as the uninterrupted batch — the
    checkpoint (source offsets + window state) plus the keyed upsert
    sink give end-to-end exactly-once across the restart."""
    import time as _time

    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    rides = rides_df
    jittered = replay.with_delivery_jitter(rides, max_delay_secs=60)
    chunk_dir = replay.write_replay_chunks(
        jittered, n_chunks=6, order_col="delivery_ts"
    )
    work = tempfile.mkdtemp(prefix="ckpt_restart_")
    store, ckpt = work + "/store", work + "/ckpt"
    sink = ParquetUpsertSink(store, ["cell", "window_end"])

    def start():
        stream = replay.read_replay_stream(
            spark, chunk_dir, RIDES_SCHEMA, max_files_per_trigger=1
        )
        return (
            streaming_sliding_arrival_count(stream)
            .writeStream.outputMode("update")
            .queryName("ckpt_restart")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink.foreach_batch)
            .start()
        )

    q = start()
    try:
        # let it make partial progress (some but not all chunks), then
        # kill it mid-replay
        deadline = _time.time() + 60
        while _time.time() < deadline:
            done = sum(
                p.numInputRows > 0 for p in (q.recentProgress or [])
            )
            if done >= 2:
                break
            _time.sleep(0.2)
        q.stop()
        q.awaitTermination(30)
        # restart from the same checkpoint; drain to completion
        q2 = start()
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        got = {
            (r.cell, r.window_end): r.cnt for r in sink.read(spark).collect()
        }
        want = {
            (r.cell, r.window_end): r.cnt
            for r in sliding_arrival_count(rides).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)


def test_upsert_sink_runs_each_micro_batch_once(spark, rides_df):
    """App 2 in append mode into the parquet store: the sink runs each
    micro-batch's stateful plan exactly once. Every run of that plan
    re-applies the watermark eviction and re-counts it, so on every
    trigger the state operator's ``numRowsRemoved`` (the windows closed)
    must equal the rows the store gained, on the first write and on
    every merge alike."""
    import os

    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    jittered = replay.with_delivery_jitter(rides_df, max_delay_secs=60)
    chunk_dir = replay.write_replay_chunks(
        jittered, n_chunks=6, order_col="delivery_ts"
    )
    work = tempfile.mkdtemp(prefix="upsert_once_")
    store = work + "/store"
    sink = ParquetUpsertSink(store, ["cell", "window_end"])
    stored = {}

    def counted(batch_df, epoch_id):
        sink.foreach_batch(batch_df, epoch_id)
        stored[epoch_id] = (
            sink.read(spark).count() if os.path.exists(store) else 0
        )

    try:
        stream = replay.read_replay_stream(
            spark, chunk_dir, RIDES_SCHEMA, max_files_per_trigger=1
        )
        q = (
            streaming_sliding_arrival_count(
                stream, watermark_delay="60 seconds"
            )
            .writeStream.outputMode("append")
            .queryName("upsert_once")
            .foreachBatch(counted)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        removed = {
            p.batchId: p.stateOperators[0].numRowsRemoved
            for p in q.recentProgress
        }
        gained = {
            b: stored[b] - stored.get(b - 1, 0) for b in sorted(stored)
        }
        assert removed == gained
        # a first write and at least two merges were checked
        assert sum(1 for n in gained.values() if n > 0) >= 3
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)


def test_streaming_quality_scores_equal_batch(spark, sf_dir):
    """Stream-static scoring under the trained weights must produce the
    batch scores exactly, for every document, regardless of chunking."""
    from flink_streaming_demo_spark.operators.classify import (
        logreg_score,
        logreg_train,
        quality_features,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_quality_scores,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = logreg_train(quality_features(docs))
    chunk_dir = replay.write_replay_chunks(
        docs.withColumn("delivery_ts", F.col("doc_id")),
        n_chunks=4,
        order_col="delivery_ts",
    )
    store = tempfile.mkdtemp(prefix="q_scores_") + "/store"
    sink = ParquetUpsertSink(store, ["doc_id"])
    try:
        stream = replay.read_replay_stream(
            spark, chunk_dir, "doc_id long, text string",
            max_files_per_trigger=1,
        )
        q = write_update_stream(
            streaming_quality_scores(stream, w), sink, "q_scores", "append"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r.doc_id: (r.score, r.pred) for r in sink.read(spark).collect()
        }
        want = {
            r.doc_id: (r.score, r.pred)
            for r in logreg_score(quality_features(docs), w)
            .select("doc_id", "score", "pred")
            .collect()
        }
        assert got == want
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


def test_streaming_drops_beyond_watermark_and_accounts_them(spark, rides_df):
    """Negative case of the golden invariant: when delivery jitter
    EXCEEDS the watermark delay, append-mode windows may close before
    late events arrive — those events must be DROPPED (not silently
    merged), the engine must account them in numRowsDroppedByWatermark,
    and every emitted window must still match the batch count over the
    events that were NOT late-dropped... which the sentinel-advanced
    replay makes deterministic: with jitter 10x the watermark, at least
    one drop is guaranteed on this data."""
    rides = rides_df.unionByName(_sentinel(spark, rides_df))
    # The sf0.001 rides are SPARSE (~1 event/43 min over 30 days), and
    # the watermark only advances between micro-batches — so forcing
    # drops needs jitter that moves events across CHUNK boundaries by
    # more than the watermark: 1-day jitter against ~14-hour chunks.
    jittered = replay.with_delivery_jitter(
        rides, max_delay_secs=86_400
    )
    chunk_dir = replay.write_replay_chunks(
        jittered, n_chunks=50, order_col="delivery_ts"
    )
    sink = InMemoryUpsertSink(["cell", "window_end"])
    try:
        stream = replay.read_replay_stream(
            spark, chunk_dir, RIDES_SCHEMA, max_files_per_trigger=1
        )
        q = write_update_stream(
            streaming_sliding_arrival_count(stream), sink, "late_drop",
            "append",
        )
        try:
            q.processAllAvailable()
            dropped = sum(
                int(so["numRowsDroppedByWatermark"])
                for p in q.recentProgress
                for so in p["stateOperators"]
            )
        finally:
            q.stop()
        assert dropped > 0  # the engine accounted the late rows
        # every emitted (finalized) window undercounts or equals batch —
        # late drops can only REMOVE arrivals from a window, and at
        # least one emitted window must show the deficit
        batch = {
            (r.cell, r.window_end): r.cnt
            for r in sliding_arrival_count(rides).collect()
        }
        got = {
            (d["cell"], d["window_end"]): d["cnt"] for d in sink.snapshot()
        }
        got = {k: v for k, v in got.items() if k[0] != SENT_CELL}
        batch = {k: v for k, v in batch.items() if k[0] != SENT_CELL}
        assert got  # windows were emitted
        # late drops can only REMOVE arrivals: every emitted window is a
        # batch window with at most the batch count, and the total
        # deficit must be visible (as lower counts or as windows whose
        # every event was dropped and which therefore never emitted)
        assert all(cnt <= batch.get(key, 0) for key, cnt in got.items())
        assert sum(got.values()) < sum(batch.values())
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_throttle_equals_batch(spark, sf_dir):
    """The streaming stateful throttle over jittered (<= watermark)
    replay must keep EXACTLY the batch throttle's events — the
    recurrence is order-sensitive, so this pins the watermark-sealed
    buffering, not just the fold. Sentinel advances the watermark past
    every real event so all keys drain."""
    from flink_streaming_demo_spark.operators.throttle import (
        throttle_kept_events,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.sealed import (
        streaming_throttle,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    max_ts = events.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**12, max_ts + timedelta(hours=2), 10**9, "zz_sentinel")],
        EVENTS_SCHEMA,
    )
    jittered = replay.with_delivery_jitter(
        events.unionByName(sentinel), max_delay_secs=60
    )
    chunk_dir = replay.write_replay_chunks(
        jittered, n_chunks=6, order_col="delivery_ts"
    )
    sink = InMemoryUpsertSink(["event_id"])
    try:
        stream = replay.read_replay_stream(
            spark, chunk_dir, EVENTS_SCHEMA, max_files_per_trigger=1
        )
        q = write_update_stream(
            streaming_throttle(stream, watermark_delay="60 seconds"),
            sink,
            "throttle",
            "append",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            d["event_id"] for d in sink.snapshot() if d["user_id"] != 10**9
        }
        want = {
            r.event_id for r in throttle_kept_events(events).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_throttle_equals_batch_with_null_event_types(spark):
    """A NULL event_type is one more throttle key: the stream must keep
    the batch's rows with the key passed through as NULL, not as the
    string 'None'. Full rows are compared, so a rewritten key shows."""
    from flink_streaming_demo_spark.operators.throttle import (
        throttle_kept_events,
    )
    from flink_streaming_demo_spark.streaming.sealed import (
        streaming_throttle,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, 0, 1, None),
        (2, 100, 1, None),  # within the gap of event 1: dropped
        (3, 400, 1, None),
        (4, 50, 1, "click"),
        (5, 200, 1, "click"),  # within the gap of event 4: dropped
        (6, 10, 2, None),
        (7, 10, 2, "view"),
        (8, 320, 2, None),
    ]
    events = spark.createDataFrame(
        [(e, t0 + timedelta(seconds=s), u, et) for e, s, u, et in rows]
        + [(10**12, t0 + timedelta(hours=2), 10**9, "zz_sentinel")],
        EVENTS_SCHEMA,
    )
    chunk_dir = replay.write_replay_chunks(
        replay.with_delivery_jitter(events, max_delay_secs=60),
        n_chunks=3,
        order_col="delivery_ts",
    )
    sink = InMemoryUpsertSink(["event_id"])
    try:
        stream = replay.read_replay_stream(
            spark, chunk_dir, EVENTS_SCHEMA, max_files_per_trigger=1
        )
        q = write_update_stream(
            streaming_throttle(stream, watermark_delay="60 seconds"),
            sink,
            "throttle_nulls",
            "append",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        cols = ("event_id", "user_id", "event_type", "ts")
        got = {
            tuple(d[c] for c in cols)
            for d in sink.snapshot()
            if d["user_id"] != 10**9
        }
        want = {
            tuple(r[c] for c in cols)
            for r in throttle_kept_events(events).collect()
            if r.user_id != 10**9
        }
        assert {w[0] for w in want} == {1, 3, 4, 6, 7, 8}
        assert got == want
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_kmv_sketch_equals_batch_and_is_replay_idempotent(
    spark, sf_dir
):
    """Chunked replay of the events table through the KMV-maintenance
    body must converge to the BATCH sketch over the same rows (merge
    associativity), and re-applying a batch must not change the state
    (merge idempotence on duplicate keys — the property that makes a
    crash-replayed trigger harmless without any dedup bookkeeping)."""
    from flink_streaming_demo_spark.operators.scale import (
        kmv_estimate,
        kmv_partial,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_kmv_distinct,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    chunk_dir = replay.write_replay_chunks(
        ev.withColumn("delivery_ts", F.col("event_id")),
        n_chunks=4,
        order_col="delivery_ts",
    )
    store = tempfile.mkdtemp(prefix="kmv_") + "/store"
    sink = ParquetUpsertSink(store, ["event_type"])
    k = 64
    body = streaming_kmv_distinct(sink, ["event_type"], "user_id", k=k)
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "event_id long, event_type string, user_id long",
            max_files_per_trigger=1,
        )
        q = write_foreach_batch_stream(stream, body, "kmv_sketch")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r.event_type: list(r.kmv) for r in sink.read(spark).collect()
        }
        want = {
            r.event_type: list(r.kmv)
            for r in kmv_partial(ev, ["event_type"], "user_id", k=k)
            .collect()
        }
        assert got == want
        # replay idempotence: re-apply an arbitrary chunk's rows
        body(ev.filter(F.col("event_id") % 4 == 1), epoch_id=99)
        again = {
            r.event_type: list(r.kmv) for r in sink.read(spark).collect()
        }
        assert again == want
        # and the derived estimates match the batch read-time view
        est_stream = {
            tuple(r)
            for r in kmv_estimate(
                sink.read(spark).select("event_type", "kmv"), k=k
            ).collect()
        }
        est_batch = {
            tuple(r)
            for r in kmv_estimate(
                kmv_partial(ev, ["event_type"], "user_id", k=k), k=k
            ).collect()
        }
        assert est_stream == est_batch
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


class _KeylessStoreSink:
    """Store-backed in shape (.path, .read, .foreach_batch) but without
    ``key_cols``: a maintainer that checks the upsert key must reject
    it, not pass it by defaulting the missing attribute."""

    path = "/tmp/never-created"

    def read(self, spark):
        raise AssertionError("wiring check must fail before any read")

    def foreach_batch(self, batch_df, epoch_id):
        raise AssertionError("wiring check must fail before any write")


def test_streaming_kmv_rejects_storeless_sink_at_construction():
    """The KMV maintenance body reads the sink's store back each trigger
    (sink.path / sink.read); a sink without a readable store must be
    rejected when the pipeline is BUILT, not explode with AttributeError
    mid-stream on the first non-empty batch (r8 advice)."""
    import pytest

    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_kmv_distinct,
    )

    with pytest.raises(TypeError, match="store-backed sink"):
        streaming_kmv_distinct(
            InMemoryUpsertSink(["event_type"]), ["event_type"], "user_id"
        )


def test_streaming_hll_sketch_equals_batch_and_is_replay_idempotent(
    spark, sf_dir
):
    """Chunked replay of the events table through the HLL-maintenance
    body must converge to the BATCH register table over the same rows
    (per-bucket MAX is associative/commutative), and re-applying a
    chunk must not change the state (MAX idempotence — the property
    that makes a crash-replayed trigger harmless). Derived estimates
    from the store must equal the batch read-time view."""
    from flink_streaming_demo_spark.operators.scale import (
        hll_estimate,
        hll_partial,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_hll_distinct,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    chunk_dir = replay.write_replay_chunks(
        ev.withColumn("delivery_ts", F.col("event_id")),
        n_chunks=4,
        order_col="delivery_ts",
    )
    store = tempfile.mkdtemp(prefix="hll_") + "/store"
    sink = ParquetUpsertSink(store, ["event_type", "bucket"])
    body = streaming_hll_distinct(sink, ["event_type"], "user_id")
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "event_id long, event_type string, user_id long",
            max_files_per_trigger=1,
        )
        q = write_foreach_batch_stream(stream, body, "hll_sketch")
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        def regs(df):
            return {
                (r.event_type, r.bucket): r.rho
                for r in df.select("event_type", "bucket", "rho").collect()
            }

        want = regs(hll_partial(ev, ["event_type"], "user_id"))
        assert regs(sink.read(spark)) == want
        # replay idempotence: re-apply an arbitrary chunk's rows
        body(ev.filter(F.col("event_id") % 4 == 1), epoch_id=99)
        assert regs(sink.read(spark)) == want
        # derived estimates equal the batch read-time view
        est_stream = {
            tuple(r)
            for r in hll_estimate(
                sink.read(spark).select("event_type", "bucket", "rho"),
                ["event_type"],
            ).collect()
        }
        est_batch = {
            tuple(r)
            for r in hll_estimate(
                hll_partial(ev, ["event_type"], "user_id"), ["event_type"]
            ).collect()
        }
        assert est_stream == est_batch
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


def test_streaming_hll_rejects_bad_sinks_at_construction():
    """Storeless sinks AND mis-keyed store sinks must fail when the
    pipeline is BUILT: a key without `bucket` would collapse all of a
    group's registers into one upsert row (silently wrong estimates),
    which is worse than the crash the storeless case would give."""
    import pytest

    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_hll_distinct,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    with pytest.raises(TypeError, match="store-backed sink"):
        streaming_hll_distinct(
            InMemoryUpsertSink(["event_type"]), ["event_type"], "user_id"
        )
    with pytest.raises(ValueError, match="key_cols"):
        streaming_hll_distinct(
            ParquetUpsertSink("/tmp/never-created", ["event_type"]),
            ["event_type"],
            "user_id",
        )
    with pytest.raises(ValueError, match="key_cols"):
        streaming_hll_distinct(
            _KeylessStoreSink(), ["event_type"], "user_id"
        )


def test_streaming_bm25_rejects_keyless_sinks_at_construction():
    """Both BM25 maintainers upsert postings and lengths by key; a
    store-backed sink without ``key_cols`` must fail at wiring time."""
    import pytest

    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_bm25_chunk_index,
        streaming_bm25_index,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    lengths = ParquetUpsertSink("/tmp/never-created", ["doc_id"])
    with pytest.raises(ValueError, match="postings_sink key_cols"):
        streaming_bm25_index(_KeylessStoreSink(), lengths)
    postings = ParquetUpsertSink(
        "/tmp/never-created", ["term", "doc_id", "chunk_idx"]
    )
    with pytest.raises(ValueError, match="lengths_sink key_cols"):
        streaming_bm25_chunk_index(postings, _KeylessStoreSink())


def test_streaming_bloom_converges_and_replays_idempotently(spark, sf_dir):
    """Chunked replay through the Bloom maintainer must converge to the
    batch word table (bit_or associativity) and re-applying a chunk must
    not change it (OR idempotence)."""
    from flink_streaming_demo_spark.operators.scale import bloom_partial
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_bloom_membership,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    chunk_dir = replay.write_replay_chunks(
        ev.withColumn("delivery_ts", F.col("event_id")),
        n_chunks=4,
        order_col="delivery_ts",
    )
    store = tempfile.mkdtemp(prefix="bloomstream_") + "/store"
    sink = ParquetUpsertSink(store, ["event_type", "word"])
    body = streaming_bloom_membership(sink, ["event_type"], "user_id")
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "event_id long, event_type string, user_id long",
            max_files_per_trigger=1,
        )
        q = write_foreach_batch_stream(stream, body, "bloom_sketch")
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        def bits(df):
            return {
                (r.event_type, r.word): r.bits
                for r in df.select("event_type", "word", "bits").collect()
            }

        want = bits(bloom_partial(ev, ["event_type"], "user_id"))
        assert bits(sink.read(spark)) == want
        body(ev.filter(F.col("event_id") % 4 == 1), epoch_id=99)
        assert bits(sink.read(spark)) == want
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


def test_streaming_cms_converges_and_epoch_guard_blocks_replay(
    spark, sf_dir
):
    """Sequential chunks through the CMS maintainer converge to the
    batch counter grid. SUM-merge is NOT idempotent, so the epoch guard
    carries replay safety: re-delivering an ALREADY-APPLIED epoch id
    leaves the store unchanged, while the same rows under a NEW epoch id
    double-count — proving the guard keys on the epoch, not the data."""
    from flink_streaming_demo_spark.operators.scale import cms_partial
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_cms_counts,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    store = tempfile.mkdtemp(prefix="cmsstream_") + "/store"
    sink = ParquetUpsertSink(store, ["event_type", "row", "col"])
    body = streaming_cms_counts(sink, ["event_type"], "user_id")
    try:
        chunks = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
        for epoch, chunk in enumerate(chunks):
            body(chunk, epoch_id=epoch)

        def grid(df):
            return {
                (r.event_type, r.row, r.col): r.cnt
                for r in df.select(
                    "event_type", "row", "col", "cnt"
                ).collect()
            }

        want = grid(cms_partial(ev, ["event_type"], "user_id"))
        assert grid(sink.read(spark)) == want
        # replayed epoch: skipped, store unchanged
        body(chunks[1], epoch_id=1)
        assert grid(sink.read(spark)) == want
        # same rows, NEW epoch: merged again (counts grow) — the guard
        # is keyed on the epoch id, not on batch content
        body(chunks[1], epoch_id=77)
        grown = grid(sink.read(spark))
        assert grown != want
        assert all(grown[k] >= v for k, v in want.items())
    finally:
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(f"{store}_epochs", ignore_errors=True)


def test_streaming_hist_converges_to_batch_grid(spark, sf_dir):
    """Sequential chunks through the histogram maintainer converge to
    the batch bin grid, and quantiles read from the store equal the
    batch read-time view."""
    from flink_streaming_demo_spark.operators.scale import (
        hist_partial,
        hist_quantiles,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_hist_counts,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    lo, hi = 0.0, 512.0
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    store = tempfile.mkdtemp(prefix="histstream_") + "/store"
    sink = ParquetUpsertSink(store, ["event_type", "bin"])
    body = streaming_hist_counts(sink, ["event_type"], "value", lo, hi)
    try:
        for epoch in range(3):
            body(ev.filter(F.col("event_id") % 3 == epoch), epoch_id=epoch)

        def grid(df):
            return {
                (r.event_type, r.bin): r.cnt
                for r in df.select("event_type", "bin", "cnt").collect()
            }

        want = grid(hist_partial(ev, ["event_type"], "value", lo, hi))
        assert grid(sink.read(spark)) == want
        est_stream = {
            (r.event_type, r.q): r.hist_quantile
            for r in hist_quantiles(
                sink.read(spark).select("event_type", "bin", "cnt"),
                ["event_type"], [0.5, 0.9], lo, hi,
            ).collect()
        }
        est_batch = {
            (r.event_type, r.q): r.hist_quantile
            for r in hist_quantiles(
                hist_partial(ev, ["event_type"], "value", lo, hi),
                ["event_type"], [0.5, 0.9], lo, hi,
            ).collect()
        }
        assert est_stream == est_batch
    finally:
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(f"{store}_epochs", ignore_errors=True)


def test_streaming_reservoir_equals_batch_and_is_replay_idempotent(
    spark, sf_dir
):
    """Chunked replay through the weighted-reservoir maintenance body
    converges to the batch reservoir over the same rows (keep-the-
    k-smallest associativity), and re-applying a chunk leaves the state
    unchanged (deterministic race keys + array_distinct)."""
    from flink_streaming_demo_spark.operators.sampling import (
        reservoir_partial,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_reservoir_weighted,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    ).withColumn("wgt", F.col("user_id") % 7 + 1)
    chunk_dir = replay.write_replay_chunks(
        ev.withColumn("delivery_ts", F.col("event_id")),
        n_chunks=4,
        order_col="delivery_ts",
    )
    store = tempfile.mkdtemp(prefix="res_") + "/store"
    sink = ParquetUpsertSink(store, ["event_type"])
    body = streaming_reservoir_weighted(
        sink, ["event_type"], "event_id", "wgt", k=8
    )
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "event_id long, event_type string, user_id long, wgt long",
            max_files_per_trigger=1,
        )
        q = write_foreach_batch_stream(stream, body, "res_sketch")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r.event_type: [tuple(e) for e in r.res]
            for r in sink.read(spark).collect()
        }
        want = {
            r.event_type: [tuple(e) for e in r.res]
            for r in reservoir_partial(
                ev, ["event_type"], "event_id", "wgt", k=8
            ).collect()
        }
        assert got == want
        assert all(len(v) == 8 for v in got.values())
        body(ev.filter(F.col("event_id") % 4 == 1), epoch_id=99)
        again = {
            r.event_type: [tuple(e) for e in r.res]
            for r in sink.read(spark).collect()
        }
        assert again == want
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


def test_streaming_reservoir_rejects_storeless_sink_at_construction():
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_reservoir_weighted,
    )
    from flink_streaming_demo_spark.streaming.sinks import InMemoryUpsertSink

    with pytest.raises(TypeError, match="store-backed"):
        streaming_reservoir_weighted(
            InMemoryUpsertSink(["event_type"]), ["event_type"],
            "event_id", "wgt",
        )


def test_streaming_outer_interval_join_emits_nulls_on_eviction(spark):
    """Left-outer stream-stream interval join: matched pairs equal the
    batch inner join; a click with no in-horizon error emits ONCE with
    NULL error columns after the watermark passes click_ts + horizon
    (state eviction proves absence). A far-future sentinel click drives
    the watermark past every real click's horizon; the sentinel itself
    stays in state (the watermark can never pass it) and is excluded."""
    from flink_streaming_demo_spark.plans.event_queries import (
        error_after_click,
    )
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_error_after_click_outer,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    base = datetime(2024, 3, 1, 9, 0, 0)
    rows = []
    eid = 0
    for u in range(3):
        t0 = base + timedelta(minutes=10 * u)
        rows += [
            (eid, t0, u, "click"),
            (eid + 1, t0 + timedelta(minutes=1), u, "error"),
            (eid + 2, t0 + timedelta(minutes=6), u, "error"),
        ]
        eid += 3
    # user 7: click whose only error is OUTSIDE the horizon -> NULL row
    rows += [
        (eid, base, 7, "click"),
        (eid + 1, base + timedelta(minutes=6), 7, "error"),
    ]
    # user 8: click with no errors at all -> NULL row
    rows += [(eid + 2, base + timedelta(minutes=2), 8, "click")]
    # sentinel: far-future click advances the watermark past everything
    rows += [(999, base + timedelta(days=2), 99, "click")]
    df = spark.createDataFrame(rows, schema)
    chunk_dir = replay.write_replay_chunks(df, n_chunks=4, order_col="ts")
    try:
        clicks = replay.read_replay_stream(spark, chunk_dir, schema).filter(
            F.col("event_type") == "click"
        )
        errors = replay.read_replay_stream(spark, chunk_dir, schema).filter(
            F.col("event_type") == "error"
        )
        q = (
            streaming_error_after_click_outer(clicks, errors)
            .writeStream.format("memory")
            .queryName("oj_t")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = [r for r in spark.table("oj_t").collect() if r.user_id != 99]
        matched = {
            (r.user_id, r.click_id, r.error_id, r.micros_after)
            for r in out
            if r.error_id is not None
        }
        want = {
            (r.user_id, r.click_id, r.error_id, r.micros_after)
            for r in error_after_click(
                df.filter(F.col("event_type") == "click"),
                df.filter(F.col("event_type") == "error"),
            ).collect()
        }
        assert matched == want and len(want) == 3  # 1 in-horizon x 3 users
        nulls = {
            r.user_id: r
            for r in out
            if r.error_id is None
        }
        assert set(nulls) == {7, 8}
        for r in nulls.values():
            assert r.micros_after is None
        # exactly once per unmatched click
        assert len([r for r in out if r.error_id is None]) == 2
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_lateness_monitor_equals_batch_and_skips_replayed_epoch(
    spark, sf_dir
):
    """Replaying the events table in ARRIVAL order (md5 jitter) through
    the lateness-monitor body must land on EXACTLY the batch profile
    computed with epochs == the replay chunks (integer algebra, so
    equality is exact, not approximate), and a re-delivered epoch id
    must be skipped by the marker guard (the SUM merge is
    non-idempotent)."""
    from flink_streaming_demo_spark.operators import lateness as L
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_lateness_monitor,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    n_chunks = 6
    # a WIDE jitter (1 day) so plenty of arrivals cross the coarse
    # 6-chunk boundaries — the monitor itself is delay-agnostic
    ev = L.with_md5_arrival(
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts"
        ),
        max_delay_s=86_400,
    ).select("event_id", "event_type", "ts", "ets_us", "arr_us")
    chunk_dir = replay.write_replay_chunks(
        ev, n_chunks=n_chunks, order_col="arr_us"
    )
    # batch twin with epochs == the replay chunks (same assignment
    # expression as write_replay_chunks)
    key = F.col("arr_us").cast("double")
    lo, hi = ev.agg(F.min(key), F.max(key)).first()
    chunked = ev.withColumn(
        "_chunk",
        F.least(
            F.lit(n_chunks - 1),
            F.floor((key - F.lit(lo)) / F.lit(hi - lo) * n_chunks),
        ).cast("int"),
    )
    twin_late = L.lateness_vs_epoch_watermark(
        chunked.select("event_id", "event_type", "ets_us", "_chunk"),
        "_chunk",
    )
    want = {
        r.event_type: (
            r.n_events, r.n_late, r.max_late_s, r.sum_late_s,
            r.n_dropped_60s,
        )
        for r in L.lateness_profile_ints(twin_late).collect()
    }
    store = tempfile.mkdtemp(prefix="lateness_") + "/store"
    late_dir = tempfile.mkdtemp(prefix="lateness_side_")
    sink = ParquetUpsertSink(store, ["event_type"])
    body = streaming_lateness_monitor(sink, late_dir=late_dir)
    stream = replay.read_replay_stream(
        spark,
        chunk_dir,
        "event_id long, event_type string, ts timestamp, "
        "ets_us long, arr_us long",
        max_files_per_trigger=1,
    )
    q = write_foreach_batch_stream(stream, body, "lateness_monitor")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def snapshot():
        return {
            r.event_type: (
                r.n_events, r.n_late, r.max_late_s, r.sum_late_s,
                r.n_dropped_60s,
            )
            for r in sink.read(spark).collect()
        }

    got = snapshot()
    assert got == want
    # the simulation must actually produce late events for the test to
    # mean anything
    assert sum(v[1] for v in want.values()) > 0
    # late-data side output (the Flink side-output analogue): the
    # dead-letter channel carries exactly the batch twin's late rows
    side_ids = {
        r.event_id
        for r in spark.read.option("basePath", late_dir)
        .parquet(late_dir)
        .collect()
    }
    twin_ids = {
        r.event_id
        for r in twin_late.filter(F.col("is_late")).collect()
    }
    assert side_ids == twin_ids and side_ids
    # replayed epoch id -> marker guard skips the non-idempotent merge
    body(chunked.filter(F.col("_chunk") == 0).drop("_chunk"), epoch_id=0)
    assert snapshot() == got
    shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_lateness_monitor_rejects_storeless_sink():
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_lateness_monitor,
    )
    from flink_streaming_demo_spark.streaming.sinks import InMemoryUpsertSink

    with pytest.raises(TypeError, match="store-backed"):
        streaming_lateness_monitor(InMemoryUpsertSink(["event_type"]))


def test_streaming_contract_counts_equal_batch(spark):
    """The streaming contract monitor's final counters (complete mode,
    after all chunks replay) must equal the same checks computed as one
    batch aggregation — and must actually catch the planted
    violations."""
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_contract_counts,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    base = datetime(2024, 3, 1, 9, 0, 0)
    rows = []
    for i in range(60):
        rows.append(
            (
                i,
                base + timedelta(minutes=i),
                None if i % 20 == 19 else i % 7,  # 3 null users
                -1.0 if i % 15 == 14 else float(i + 1),  # 4 bad values
            )
        )
    df = spark.createDataFrame(rows, schema)
    checks = lambda: [
        ("value_positive", F.col("value") <= 0),
        ("user_not_null", F.col("user_id").isNull()),
    ]
    chunk_dir = replay.write_replay_chunks(df, n_chunks=4, order_col="ts")
    try:
        stream = replay.read_replay_stream(spark, chunk_dir, schema)
        q = (
            streaming_contract_counts(stream, checks())
            .writeStream.format("memory")
            .queryName("contract_t")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r.check_name: (r.n_checked, r.n_violations, r.passed)
            for r in spark.table("contract_t").collect()
        }
        want = {
            r.check_name: (r.n_checked, r.n_violations, r.passed)
            for r in streaming_contract_counts(df, checks()).collect()
        }
        assert got == want
        assert got["value_positive"] == (60, 4, False)
        assert got["user_not_null"] == (60, 3, False)
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_contract_maintainer_converges_and_guards_replay(
    spark, sf_dir
):
    """Chunked events through the store-backed contract maintainer
    converge to the one-shot batch counters; a replayed epoch id is
    skipped (SUM merge is guarded like CMS), while the same rows under
    a new epoch id double-count — the guard keys on the epoch."""
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_contract_counts,
        streaming_contract_maintainer,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    checks = lambda: [
        ("value_positive", F.col("value") <= 0),
        ("user_not_null", F.col("user_id").isNull()),
    ]
    store = tempfile.mkdtemp(prefix="contractstream_") + "/store"
    sink = ParquetUpsertSink(store, ["check_name"])
    body = streaming_contract_maintainer(sink, checks())
    try:
        chunks = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
        for epoch, chunk in enumerate(chunks):
            body(chunk, epoch_id=epoch)

        def counters(df):
            return {
                r.check_name: (r.n_checked, r.n_violations)
                for r in df.collect()
            }

        want = {
            r.check_name: (r.n_checked, r.n_violations)
            for r in streaming_contract_counts(ev, checks()).collect()
        }
        got = counters(
            sink.read(spark).select(
                "check_name", "n_checked", "n_violations"
            )
        )
        assert got == want
        body(chunks[1], epoch_id=1)  # replayed epoch: skipped
        assert counters(
            sink.read(spark).select(
                "check_name", "n_checked", "n_violations"
            )
        ) == want
        body(chunks[1], epoch_id=42)  # new epoch: double-counts
        grown = counters(
            sink.read(spark).select(
                "check_name", "n_checked", "n_violations"
            )
        )
        assert all(grown[k][0] > want[k][0] for k in want)
    finally:
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(f"{store}_epochs", ignore_errors=True)


def test_rolling_kmv_and_hll_views_equal_batch_queries(spark, sf_dir):
    """Streaming rolling-window symmetry (r10 verdict #7): replay the
    events table in chunks that CUT ACROSS day boundaries through the
    per-day KMV and HLL maintainers, then read the rolling 7-day views
    over the stores — each must equal the registered BATCH rolling
    query (events_kmv_rolling_distinct / events_hll_rolling_users) over
    the same table, row-for-row including the float estimates. This
    pins the full composition: per-day maintainer convergence (⊕ over
    triggers), the day→window-end fan-out, and the read-time estimate."""
    from flink_streaming_demo_spark.plans.event_queries import (
        events_hll_rolling_users,
        events_kmv_rolling_distinct,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        rolling_hll_view,
        rolling_kmv_view,
        streaming_hll_distinct,
        streaming_kmv_distinct,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_trunc("DAY", F.col("ts")).alias("day"),
        "user_id",
    )
    # chunk by event_id, NOT by time: every trigger carries several
    # days, so per-day state must merge correctly across triggers
    chunk_dir = replay.write_replay_chunks(
        ev.withColumn("delivery_ts", F.col("event_id")),
        n_chunks=3,
        order_col="delivery_ts",
    )
    tmp = tempfile.mkdtemp(prefix="rolling_")
    kmv_sink = ParquetUpsertSink(f"{tmp}/kmv", ["day"])
    hll_sink = ParquetUpsertSink(f"{tmp}/hll", ["day", "bucket"])
    try:
        for body, name in (
            (streaming_kmv_distinct(kmv_sink, ["day"], "user_id"), "kmv"),
            (streaming_hll_distinct(hll_sink, ["day"], "user_id"), "hll"),
        ):
            stream = replay.read_replay_stream(
                spark,
                chunk_dir,
                "event_id long, day timestamp, user_id long",
                max_files_per_trigger=1,
            )
            q = write_foreach_batch_stream(stream, body, f"rolling_{name}")
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        got_kmv = sorted(
            tuple(r) for r in rolling_kmv_view(kmv_sink.read(spark)).collect()
        )
        want_kmv = sorted(
            tuple(r)
            for r in events_kmv_rolling_distinct(spark, sf_dir).collect()
        )
        assert got_kmv == want_kmv

        got_hll = sorted(
            tuple(r) for r in rolling_hll_view(hll_sink.read(spark)).collect()
        )
        want_hll = sorted(
            tuple(r)
            for r in events_hll_rolling_users(spark, sf_dir).collect()
        )
        assert got_hll == want_hll
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)


def test_rolling_hist_and_cms_views_equal_batch_queries(spark, sf_dir):
    """The SUM-merging half of the rolling-view symmetry (hist, CMS —
    both epoch-guarded maintainers): replay events in day-boundary-
    crossing chunks through the per-day histogram and CMS maintainers,
    then the rolling 7-day views over the stores must equal the
    registered batch rolling queries (events_hist_rolling_quantiles /
    events_cms_rolling_counts) row-for-row, floats included."""
    from flink_streaming_demo_spark.plans.event_queries import (
        HIST_HI,
        HIST_LO,
        HIST_QS,
        events_cms_rolling_counts,
        events_hist_rolling_quantiles,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        rolling_cms_view,
        rolling_hist_view,
        streaming_cms_counts,
        streaming_hist_counts,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_trunc("DAY", F.col("ts")).alias("day"),
        "user_id",
        "value",
    )
    chunk_dir = replay.write_replay_chunks(
        ev.withColumn("delivery_ts", F.col("event_id")),
        n_chunks=3,
        order_col="delivery_ts",
    )
    tmp = tempfile.mkdtemp(prefix="rolling2_")
    hist_sink = ParquetUpsertSink(f"{tmp}/hist", ["day", "bin"])
    cms_sink = ParquetUpsertSink(f"{tmp}/cms", ["day", "row", "col"])
    try:
        for body, name in (
            (
                streaming_hist_counts(
                    hist_sink, ["day"], "value", HIST_LO, HIST_HI
                ),
                "hist",
            ),
            (streaming_cms_counts(cms_sink, ["day"], "user_id"), "cms"),
        ):
            stream = replay.read_replay_stream(
                spark,
                chunk_dir,
                "event_id long, day timestamp, user_id long, value double",
                max_files_per_trigger=1,
            )
            q = write_foreach_batch_stream(stream, body, f"rolling2_{name}")
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        got_hist = sorted(
            tuple(r)
            for r in rolling_hist_view(
                hist_sink.read(spark), list(HIST_QS), HIST_LO, HIST_HI
            ).collect()
        )
        want_hist = sorted(
            tuple(r)
            for r in events_hist_rolling_quantiles(spark, sf_dir).collect()
        )
        assert got_hist == want_hist

        probes = (
            ev.filter(F.col("user_id").isNotNull())
            .select(F.col("day").alias("win_day"), "user_id")
            .distinct()
        )
        got_cms = sorted(
            tuple(r)
            for r in rolling_cms_view(
                cms_sink.read(spark), probes, "user_id"
            ).collect()
        )
        want_cms = sorted(
            tuple(r)
            for r in events_cms_rolling_counts(spark, sf_dir).collect()
        )
        assert got_cms == want_cms
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(f"{tmp}/hist_epochs", ignore_errors=True)
        shutil.rmtree(f"{tmp}/cms_epochs", ignore_errors=True)


def test_streaming_bm25_index_equals_batch_and_is_replay_idempotent(
    spark, sf_dir
):
    """Chunked replay of the documents table through the incremental
    BM25 indexer must make the read-time view equal the BATCH
    sim_bm25_topk row-for-row, floats included (the view and the batch
    query score through the shared bm25_rank tail over identical
    frames). Re-applying a chunk must not change the index: postings
    are immutable per (term, doc_id), so replay re-upserts identical
    rows."""
    from flink_streaming_demo_spark.plans.vector_queries import (
        BM25_K,
        BM25_TERMS,
        sim_bm25_topk,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        bm25_topk_view,
        streaming_bm25_index,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunk_dir = replay.write_replay_chunks(
        docs, n_chunks=3, order_col="doc_id"
    )
    root = tempfile.mkdtemp(prefix="bm25_")
    postings = ParquetUpsertSink(root + "/postings", ["term", "doc_id"])
    lengths = ParquetUpsertSink(root + "/lengths", ["doc_id"])
    body = streaming_bm25_index(postings, lengths)
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "doc_id long, text string",
            max_files_per_trigger=1,
        )
        q = write_foreach_batch_stream(stream, body, "bm25_index")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        want = [
            tuple(r)
            for r in sim_bm25_topk(spark, sf_dir).orderBy("rank").collect()
        ]
        got = [
            tuple(r)
            for r in bm25_topk_view(
                spark, postings, lengths, BM25_TERMS, k=BM25_K
            ).orderBy("rank").collect()
        ]
        assert got == want
        # replay idempotence: re-apply the middle chunk's docs
        body(docs.filter(F.col("doc_id") % 3 == 1), epoch_id=99)
        again = [
            tuple(r)
            for r in bm25_topk_view(
                spark, postings, lengths, BM25_TERMS, k=BM25_K
            ).orderBy("rank").collect()
        ]
        assert again == want
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_bm25_chunk_index_maxp_view_equals_batch(spark, sf_dir):
    """Chunked replay of documents through the chunk-level BM25 indexer:
    the MaxP read view must equal the batch sim_bm25_maxp row-for-row
    (shared bm25_maxp_rank tail over identical frames), and re-applying
    a chunk of docs must not change the index (immutable chunk
    postings)."""
    from flink_streaming_demo_spark.plans.vector_queries import (
        BM25_K,
        BM25_TERMS,
        sim_bm25_maxp,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        bm25_maxp_view,
        streaming_bm25_chunk_index,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunk_dir = replay.write_replay_chunks(
        docs, n_chunks=3, order_col="doc_id"
    )
    root = tempfile.mkdtemp(prefix="bm25c_")
    postings = ParquetUpsertSink(
        root + "/postings", ["term", "doc_id", "chunk_idx"]
    )
    lengths = ParquetUpsertSink(root + "/lengths", ["doc_id", "chunk_idx"])
    body = streaming_bm25_chunk_index(postings, lengths)
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "doc_id long, text string",
            max_files_per_trigger=1,
        )
        q = write_foreach_batch_stream(stream, body, "bm25_chunk_index")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        want = [
            tuple(r)
            for r in sim_bm25_maxp(spark, sf_dir).orderBy("rank").collect()
        ]
        got = [
            tuple(r)
            for r in bm25_maxp_view(
                spark, postings, lengths, BM25_TERMS, k=BM25_K
            ).orderBy("rank").collect()
        ]
        assert got == want
        # replay idempotence on the chunk-level stores
        body(docs.filter(F.col("doc_id") % 3 == 2), epoch_id=99)
        again = [
            tuple(r)
            for r in bm25_maxp_view(
                spark, postings, lengths, BM25_TERMS, k=BM25_K
            ).orderBy("rank").collect()
        ]
        assert again == want
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_bm25_batch_view_equals_batch(spark, sf_dir):
    """The BATCHED read-time view over the incremental doc-level index
    must equal the batch sim_bm25_batch_topk row-for-row for every
    query in the bag set (shared bm25_batch_rank tail over identical
    frames) — the serving shape of a query batch against a live
    index."""
    from flink_streaming_demo_spark.plans.vector_queries import (
        BM25_BATCH_QUERIES,
        BM25_K,
        sim_bm25_batch_topk,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        bm25_batch_view,
        streaming_bm25_index,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunk_dir = replay.write_replay_chunks(
        docs, n_chunks=3, order_col="doc_id"
    )
    root = tempfile.mkdtemp(prefix="bm25b_")
    postings = ParquetUpsertSink(root + "/postings", ["term", "doc_id"])
    lengths = ParquetUpsertSink(root + "/lengths", ["doc_id"])
    body = streaming_bm25_index(postings, lengths)
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "doc_id long, text string",
            max_files_per_trigger=1,
        )
        q = write_foreach_batch_stream(stream, body, "bm25_batch_index")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        key = lambda r: (r[0], r[1])
        want = sorted(
            (tuple(r) for r in sim_bm25_batch_topk(spark, sf_dir).collect()),
            key=key,
        )
        got = sorted(
            (
                tuple(r)
                for r in bm25_batch_view(
                    spark, postings, lengths, BM25_BATCH_QUERIES, k=BM25_K
                ).collect()
            ),
            key=key,
        )
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_ivf_index_view_equals_batch_and_is_replay_idempotent(
    spark, sf_dir
):
    """Chunked replay of the embeddings table through the incremental
    IVF indexer must make the read-time view equal the BATCH
    sim_ivf_topk row-for-row, floats included (view and batch rank
    through the shared similarity.ivf_rank tail over identical frames —
    the dense-side twin of the BM25 index/view pair). Re-applying a
    chunk must not change the store: with fixed centroids a vector's
    assignment is a pure function of its embedding, so replay re-upserts
    byte-identical rows."""
    from flink_streaming_demo_spark.plans.vector_queries import (
        IVF_NPROBE,
        N_CENTROIDS,
        N_QUERIES,
        TOP_K,
        sim_ivf_topk,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        ivf_topk_view,
        streaming_ivf_index,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    chunk_dir = replay.write_replay_chunks(
        emb, n_chunks=3, order_col="vec_id"
    )
    root = tempfile.mkdtemp(prefix="ivf_")
    cells = ParquetUpsertSink(root + "/cells", ["vec_id"])
    body = streaming_ivf_index(cells, centroids)
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "vec_id long, embedding array<float>",
            max_files_per_trigger=1,
        )
        q = write_foreach_batch_stream(stream, body, "ivf_index")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        want = [
            tuple(r)
            for r in sim_ivf_topk(spark, sf_dir)
            .orderBy("query_id", "rank")
            .collect()
        ]
        got = [
            tuple(r)
            for r in ivf_topk_view(
                spark, cells, queries, centroids,
                k=TOP_K, nprobe=IVF_NPROBE,
            ).orderBy("query_id", "rank").collect()
        ]
        assert got == want
        # replay idempotence: re-apply the middle chunk's vectors
        body(emb.filter(F.col("vec_id") % 3 == 1), epoch_id=99)
        again = [
            tuple(r)
            for r in ivf_topk_view(
                spark, cells, queries, centroids,
                k=TOP_K, nprobe=IVF_NPROBE,
            ).orderBy("query_id", "rank").collect()
        ]
        assert again == want
        # the read view PRUNES: its store scan carries the probed-cell
        # isin predicate (the IVF serving point — a wide store is read
        # ~nprobe/K, not fully)
        view = ivf_topk_view(
            spark, cells, queries, centroids, k=TOP_K, nprobe=IVF_NPROBE
        )
        plan = view._jdf.queryExecution().executedPlan().toString()
        assert "centroid_id" in plan and "PushedFilters" in plan
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


def _fire_jump_oracle(counts, threshold):
    """INDEPENDENT formulation of the reference trigger's emission
    trajectory (the jump recurrence, same model as
    operators/early_fire.sql_fire_jump): over the cumulative sums, fire
    k emits the first cum >= s_{k-1} + threshold (s_{-1} = 0 — the
    reset-to-zero discards overshoot, so the emitted total IS the jump
    value), then FIRE_AND_PURGE emits the pane total. Returns the full
    ordered trajectory [(cnt, is_final, fire_seq), ...]."""
    cums = []
    t = 0
    for c in counts:
        t += c
        cums.append(t)
    fires = []
    floor = 0
    for cum in cums:
        if cum >= floor + threshold:
            fires.append((cum, False, len(fires)))
            floor = cum
    fires.append((t, True, len(fires)))
    return fires


def test_early_fire_cadence_matches_reference_trajectory(spark):
    """W3 fire CADENCE (SURVEY §5.3.3, r12 verdict #5): on a crafted
    per-key sequence, BOTH the batch replay and the
    applyInPandasWithState streaming form must emit the reference
    trigger's exact trajectory — values AND order: partial at each
    counter>=50 crossing with reset-on-fire (overshoot discarded, so
    fire 2 lands at cum 135, not 115), FIRE_AND_PURGE final at
    watermark >= window end, strictly AFTER every partial
    (EarlyArrivalCount.scala:131-151). Streaming order is pinned by
    per-epoch capture: each partial fires in the micro-batch its
    triggering event arrives in (strictly increasing epochs), the final
    in a later epoch than all partials."""
    threshold = 50
    counts = [20, 45, 10, 60, 5, 30, 25]  # cums 20,65,75,135,140,170,195
    expected = _fire_jump_oracle(counts, threshold)
    assert expected == [(65, False, 0), (135, False, 1),
                        (195, False, 2), (195, True, 3)]

    base = datetime(2024, 3, 1, 0, 0, 0)
    # explicit micro-batch assignment (chunk column drives the range
    # chunker — ts alone would lump every event into chunk 0 because
    # the far-future sentinel stretches the ts range): the counts that
    # trigger fires 0/1/2 land in chunks 0/1/2, the watermark-advancing
    # sentinel alone in chunk 3.
    chunk_of = [0, 0, 1, 1, 2, 2, 2]
    rows = [
        (7, base + timedelta(seconds=10 * i), c, chunk_of[i])
        for i, c in enumerate(counts)
    ]
    # watermark-advancing sentinel (different cell, zero count: below
    # threshold, so it contributes no fires of its own)
    rows.append((999, base + timedelta(hours=2), 0, 3))
    arrivals = spark.createDataFrame(
        rows, "cell int, ts timestamp, passenger_cnt int, grp int"
    )

    # --- batch replay: trajectory per window, ordered by fire_seq
    batch = [
        r
        for r in early_fire_counts(
            arrivals.drop("grp"), threshold=threshold
        ).collect()
        if r.cell == 7
    ]
    by_window = {}
    for r in batch:
        by_window.setdefault(str(r.window_end), []).append(r)
    assert len(by_window) == 3  # 15m/5m windows over a <5m burst
    for fires in by_window.values():
        fires.sort(key=lambda r: r.fire_seq)
        assert [(r.cnt, r.is_final, r.fire_seq) for r in fires] == expected

    # --- streaming form: per-epoch emission capture
    chunk_dir = replay.write_replay_chunks(
        arrivals, n_chunks=4, order_col="grp"
    )
    emissions: list[tuple[int, tuple]] = []

    def record(batch_df, epoch_id):
        for r in batch_df.collect():
            if r.cell == 7:
                emissions.append(
                    (
                        int(epoch_id),
                        (str(r.window_end), r.cnt, r.is_final, r.fire_seq),
                    )
                )

    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "cell int, ts timestamp, passenger_cnt int, grp int",
            max_files_per_trigger=1,
        )
        fired = streaming_early_fire_counts(
            stream.drop("grp").withWatermark("ts", "60 seconds"),
            threshold=threshold,
        )
        q = write_foreach_batch_stream(fired, record, "early_cadence")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_by_window: dict[str, list] = {}
        for epoch, (w_end, cnt, is_final, seq) in emissions:
            stream_by_window.setdefault(w_end, []).append(
                (epoch, cnt, is_final, seq)
            )
        assert set(stream_by_window) == set(by_window)
        for w_end, rows_ in stream_by_window.items():
            # arrival (epoch) order IS trajectory order: values, flags
            # and fire_seq in emission order must equal the oracle...
            in_epoch_order = sorted(rows_, key=lambda x: (x[0], x[3]))
            assert [
                (cnt, fin, seq) for _, cnt, fin, seq in in_epoch_order
            ] == expected
            # ...each partial in a strictly LATER epoch than the one
            # before (its triggering event arrives in a later chunk),
            # and the final strictly after every partial
            epochs = [e for e, _, fin, _ in in_epoch_order if not fin]
            assert epochs == sorted(set(epochs)), (
                "partial fires out of arrival order or batched together"
            )
            final_epoch = [e for e, _, fin, _ in in_epoch_order if fin]
            assert len(final_epoch) == 1
            assert final_epoch[0] > max(epochs)
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_streaming_ivf_dedup_gate_equals_batch_and_store_replay_safe(
    spark, sf_dir
):
    """Chunked replay of embeddings through the gate-then-ingest body
    must produce decisions identical to the batch 3-slice replay (the
    registered dedup_ivf_stream_gate / its DuckDB oracle): verdicts,
    dup_of and cosines row-for-row. The STORE must equal a full
    streaming_ivf_index ingest and stay byte-identical when a chunk is
    re-applied; re-gated DECISIONS may only flip new -> near_dup
    (documented at-least-once monotonicity), never the reverse."""
    from flink_streaming_demo_spark.plans.vector_queries import (
        NEARDUP_THRESHOLD,
        N_CENTROIDS,
        dedup_ivf_stream_gate,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_ivf_dedup_gate,
        write_foreach_batch_stream,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % 3).cast("int").alias("grp"),
    )
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    chunk_dir = replay.write_replay_chunks(emb, n_chunks=3, order_col="grp")
    root = tempfile.mkdtemp(prefix="ivfgate_")
    cells = ParquetUpsertSink(root + "/cells", ["vec_id"])
    decisions = ParquetUpsertSink(root + "/decisions", ["vec_id"])
    body = streaming_ivf_dedup_gate(
        cells, decisions, centroids, threshold=NEARDUP_THRESHOLD
    )
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "vec_id long, embedding array<float>, grp int",
            max_files_per_trigger=1,
        )
        q = write_foreach_batch_stream(
            stream.drop("grp"), body, "ivf_gate"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        want = sorted(
            tuple(r) for r in dedup_ivf_stream_gate(spark, sf_dir).collect()
        )
        got = sorted(
            tuple(r)
            for r in decisions.read(spark)
            .select(
                "vec_id",
                F.pmod(F.col("vec_id"), F.lit(3)).cast("int").alias("slice"),
                "verdict",
                "dup_of",
                "cos_sim",
            )
            .collect()
        )
        assert got == want
        # store replay safety: re-applying a chunk leaves it unchanged
        before = sorted(
            (r.vec_id, r.centroid_id, float(r.nrm))
            for r in cells.read(spark).collect()
        )
        body(
            emb.filter(F.col("grp") == 1).drop("grp"), epoch_id=99
        )
        after = sorted(
            (r.vec_id, r.centroid_id, float(r.nrm))
            for r in cells.read(spark).collect()
        )
        assert after == before
        # decision monotonicity under replay: new -> near_dup allowed
        # (batch-mates now admitted), near_dup -> new never; an existing
        # near_dup's (dup_of, cos_sim) may be RE-POINTED, but only at a
        # batch-mate with cosine >= the original (attribution moves
        # toward more similarity, never less)
        regated = {
            r.vec_id: (r.verdict, r.dup_of, r.cos_sim)
            for r in decisions.read(spark).collect()
        }
        original = {
            v: (verd, dup_of, cos) for v, _, verd, dup_of, cos in want
        }
        for vid, (verd, _dup_of, cos) in regated.items():
            if original[vid][0] == "near_dup":
                assert verd == "near_dup", vid
                assert cos >= original[vid][2], vid
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


def test_ivf_topk_view_empty_query_set_returns_empty_frame(spark, sf_dir):
    """Degenerate serving input: an EMPTY query set must yield an empty,
    correctly-typed result (the probed-cell list is empty; a bare
    isin() raises, so the view pins the filter to false)."""
    from flink_streaming_demo_spark.plans.vector_queries import N_CENTROIDS
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        ivf_topk_view,
        streaming_ivf_index,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    root = tempfile.mkdtemp(prefix="ivf_empty_")
    cells = ParquetUpsertSink(root + "/cells", ["vec_id"], n_buckets=4)
    try:
        streaming_ivf_index(cells, centroids)(
            emb.limit(20), epoch_id=0
        )
        out = ivf_topk_view(
            spark, cells, emb.filter(F.lit(False)), centroids, k=3
        )
        assert out.collect() == []
        assert [f.name for f in out.schema.fields] == [
            "query_id", "rank", "neighbor_id", "score",
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ivf_topk_view_never_written_store_returns_empty_frame(
    spark, sf_dir
):
    """A serving read arriving BEFORE the first non-empty micro-batch
    (the maintainer skips empty batches, so the store path may not
    exist yet) must return an empty, correctly-typed frame instead of
    raising PATH_NOT_FOUND."""
    from flink_streaming_demo_spark.plans.vector_queries import N_CENTROIDS
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import ivf_topk_view
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    root = tempfile.mkdtemp(prefix="ivf_unwritten_")
    try:
        cells = ParquetUpsertSink(root + "/never_written", ["vec_id"])
        out = ivf_topk_view(
            spark, cells, emb.limit(3), centroids, k=3
        )
        assert out.collect() == []
        assert [f.name for f in out.schema.fields] == [
            "query_id", "rank", "neighbor_id", "score",
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_ivf_dedup_gate_rejects_bad_decisions_sink(spark, sf_dir):
    """Wiring-time sink validation (hard AND, not a vacuous OR): a
    decisions sink without foreach_batch or with wrong key_cols must
    fail at construction, not mid-stream on the first non-empty
    batch."""
    import pytest as _pytest

    from flink_streaming_demo_spark.plans.vector_queries import N_CENTROIDS
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_ivf_dedup_gate,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    root = tempfile.mkdtemp(prefix="ivf_badsink_")
    try:
        cells = ParquetUpsertSink(root + "/cells", ["vec_id"])

        class NotASink:
            path = root + "/x"  # path alone must NOT satisfy the guard

        with _pytest.raises(TypeError, match="decisions"):
            streaming_ivf_dedup_gate(cells, NotASink(), centroids, 0.4)
        wrong_key = ParquetUpsertSink(root + "/d", ["vec_id", "slice"])
        with _pytest.raises(ValueError, match="key_cols"):
            streaming_ivf_dedup_gate(cells, wrong_key, centroids, 0.4)
        with _pytest.raises(ValueError, match="cells_sink"):
            streaming_ivf_dedup_gate(
                _KeylessStoreSink(),
                ParquetUpsertSink(root + "/d", ["vec_id"]),
                centroids, 0.4,
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_reindex_ivf_store_serves_retrained_centroids(spark, sf_dir):
    """Blue/green reindex: after ingesting under seed centroids,
    retraining (the sim_ivf_kmeans Lloyd trajectory) and reindexing
    into a NEW store, the view over the new store must equal the batch
    ivf_topk under the TRAINED centroids row-for-row — and an in-place
    refresh (same path) is refused."""
    from flink_streaming_demo_spark.operators import similarity as SIM
    from flink_streaming_demo_spark.plans.vector_queries import (
        IVF_NPROBE,
        KMEANS_ITERS,
        N_CENTROIDS,
        N_QUERIES,
        TOP_K,
    )
    from flink_streaming_demo_spark.schemas import load_table
    from flink_streaming_demo_spark.streaming.pipelines import (
        ivf_topk_view,
        reindex_ivf_store,
        streaming_ivf_index,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    seeds = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    root = tempfile.mkdtemp(prefix="ivf_reindex_")
    try:
        blue = ParquetUpsertSink(root + "/blue", ["vec_id"], n_buckets=4)
        streaming_ivf_index(blue, seeds)(emb, epoch_id=0)
        trained = SIM.kmeans_centroids(emb, seeds, n_iterations=KMEANS_ITERS)
        with pytest.raises(ValueError, match="NEW store path"):
            reindex_ivf_store(spark, blue, blue, trained)
        green = ParquetUpsertSink(root + "/green", ["vec_id"], n_buckets=4)
        reindex_ivf_store(spark, blue, green, trained)
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        want = [
            tuple(r)
            for r in SIM.ivf_topk(
                queries, emb, trained, k=TOP_K, nprobe=IVF_NPROBE
            ).orderBy("query_id", "rank").collect()
        ]
        got = [
            tuple(r)
            for r in ivf_topk_view(
                spark, green, queries, trained,
                k=TOP_K, nprobe=IVF_NPROBE,
            ).orderBy("query_id", "rank").collect()
        ]
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_crossdoc_dedup_gate_equals_batch_and_replay_safe(
    spark, sf_dir
):
    """Chunked replay of the planted corpus through the lexical
    gate-then-ingest body must produce decisions identical to the batch
    3-slice replay (the registered dedup_crossdoc_stream_gate / its
    DuckDB oracle): verdicts, match_id, span_tokens, n_matches
    row-for-row. Both STORES (docs, winnow fp index) must stay
    byte-identical when a chunk is re-applied (append-only immutable
    docs — the BM25-postings replay argument); re-gated DECISIONS may
    only flip new -> dup_span (documented at-least-once monotonicity),
    never the reverse, and an existing dup row's span_tokens/n_matches
    may only strengthen toward the larger admitted corpus."""
    from flink_streaming_demo_spark.plans.text_queries import (
        _planted_corpus,
        dedup_crossdoc_stream_gate,
    )
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_crossdoc_dedup_gate,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    corpus = _planted_corpus(spark, sf_dir).select(
        "doc_id", "text", (F.col("doc_id") % 3).cast("int").alias("grp")
    )
    chunk_dir = replay.write_replay_chunks(corpus, n_chunks=3, order_col="grp")
    root = tempfile.mkdtemp(prefix="crossdoc_gate_")
    docs = ParquetUpsertSink(root + "/docs", ["doc_id"])
    fps = ParquetUpsertSink(root + "/fps", ["doc_id", "fp"])
    decisions = ParquetUpsertSink(root + "/decisions", ["doc_id"])
    body = streaming_crossdoc_dedup_gate(docs, fps, decisions)
    try:
        stream = replay.read_replay_stream(
            spark,
            chunk_dir,
            "doc_id long, text string, grp int",
            max_files_per_trigger=1,
        )
        q = write_foreach_batch_stream(
            stream.drop("grp"), body, "crossdoc_gate"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        want = sorted(
            tuple(r)
            for r in dedup_crossdoc_stream_gate(spark, sf_dir).collect()
        )
        got = sorted(
            tuple(r)
            for r in decisions.read(spark)
            .select(
                "doc_id",
                F.pmod(F.col("doc_id"), F.lit(3)).cast("int").alias("slice"),
                "verdict",
                "match_id",
                "span_tokens",
                "n_matches",
            )
            .collect()
        )
        assert got == want
        # store replay safety: re-applying a chunk leaves both stores
        # unchanged (byte-identical re-upserts of immutable rows)
        docs_before = sorted(
            (r.doc_id, r.text) for r in docs.read(spark).collect()
        )
        fps_before = sorted(
            (r.doc_id, r.fp) for r in fps.read(spark).collect()
        )
        body(corpus.filter(F.col("grp") == 1).drop("grp"), epoch_id=99)
        assert sorted(
            (r.doc_id, r.text) for r in docs.read(spark).collect()
        ) == docs_before
        assert sorted(
            (r.doc_id, r.fp) for r in fps.read(spark).collect()
        ) == fps_before
        # decision monotonicity under replay: new -> dup_span allowed
        # (batch-mates and later slices now admitted), dup_span -> new
        # never; an existing dup row may be re-pointed only at an
        # equal-or-longer run with equal-or-more distinct partners
        regated = {
            r.doc_id: (r.verdict, r.span_tokens, r.n_matches)
            for r in decisions.read(spark).collect()
        }
        original = {
            d: (verd, span, nm) for d, _, verd, _, span, nm in want
        }
        for doc, (verd, span, nm) in regated.items():
            if original[doc][0] == "dup_span":
                assert verd == "dup_span", doc
                assert span >= original[doc][1], doc
                assert nm >= original[doc][2], doc
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_crossdoc_dedup_gate_rejects_bad_sinks(spark):
    """Wiring-time sink validation (hard AND, not a vacuous OR): a
    non-store-backed docs/fps sink, wrong key_cols anywhere, or a
    decisions sink without foreach_batch must all fail at construction,
    not mid-stream on the first non-empty batch."""
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_crossdoc_dedup_gate,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    root = tempfile.mkdtemp(prefix="crossdoc_badsink_")
    try:
        docs = ParquetUpsertSink(root + "/docs", ["doc_id"])
        fps = ParquetUpsertSink(root + "/fps", ["doc_id", "fp"])
        dec = ParquetUpsertSink(root + "/dec", ["doc_id"])

        class NotASink:
            path = root + "/x"  # path alone must NOT satisfy the guard

        with pytest.raises(TypeError, match="docs_sink"):
            streaming_crossdoc_dedup_gate(NotASink(), fps, dec)
        with pytest.raises(ValueError, match="fps_sink"):
            streaming_crossdoc_dedup_gate(
                docs, ParquetUpsertSink(root + "/f2", ["fp"]), dec
            )
        with pytest.raises(ValueError, match="decisions_sink"):
            streaming_crossdoc_dedup_gate(
                docs, fps, ParquetUpsertSink(root + "/d2", ["doc_id", "s"])
            )
        with pytest.raises(ValueError, match="fps_sink"):
            streaming_crossdoc_dedup_gate(docs, _KeylessStoreSink(), dec)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_crossdoc_admitted_view_is_corpus_minus_flagged(spark, sf_dir):
    """The gate's serving view must equal the full corpus minus the
    docs the trajectory flagged (the gate ingests everything; decisions
    are a separate keyed table), and must return empty/pass-through
    frames for never-written stores instead of raising."""
    from flink_streaming_demo_spark.plans.text_queries import (
        _planted_corpus,
        dedup_crossdoc_stream_gate,
    )
    from flink_streaming_demo_spark.streaming.pipelines import (
        crossdoc_admitted_view,
        streaming_crossdoc_dedup_gate,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    corpus = _planted_corpus(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="crossdoc_view_")
    docs = ParquetUpsertSink(root + "/docs", ["doc_id"])
    fps = ParquetUpsertSink(root + "/fps", ["doc_id", "fp"])
    dec = ParquetUpsertSink(root + "/dec", ["doc_id"])
    try:
        # never-written stores: typed empty, then docs pass-through
        empty = crossdoc_admitted_view(spark, docs, dec)
        assert empty.collect() == []
        assert [f.name for f in empty.schema.fields] == ["doc_id", "text"]
        body = streaming_crossdoc_dedup_gate(docs, fps, dec)
        for i in range(3):
            body(
                corpus.filter(F.col("doc_id") % 3 == i).select(
                    "doc_id", "text"
                ),
                epoch_id=i,
            )
        flagged = {
            r.doc_id
            for r in dedup_crossdoc_stream_gate(spark, sf_dir)
            .filter(F.col("verdict") == "dup_span")
            .collect()
        }
        assert flagged, "planted corpus must flag cross-doc dups"
        kept = {r.doc_id for r in crossdoc_admitted_view(spark, docs, dec).collect()}
        everyone = {r.doc_id for r in corpus.collect()}
        assert kept == everyone - flagged
    finally:
        shutil.rmtree(root, ignore_errors=True)
