"""DuckDBUpsertSink: the K2 sink contract against a real transactional
SQL store (reference: sinks/ElasticsearchUpsertSink.scala:42-83). The
contract tests run the SAME batch sequences through the parquet,
in-memory and DuckDB sinks and require identical final states — the
interface, not the backend, defines the semantics — and the epoch
ledger's exactly-once upgrade is pinned end-to-end on the cross-doc
gate, whose parquet-backed decisions are documented at-least-once."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_streaming_demo_spark.streaming.sinks import (
    DuckDBUpsertSink,
    InMemoryUpsertSink,
    ParquetUpsertSink,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="ducksink_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


_BATCHES = [
    # (rows, epoch) — multiple rows per key in one batch (order_col
    # arbitration), key updates across batches, null orders
    ([(1, "a", 3), (1, "b", 7), (2, "x", 1)], 0),
    ([(2, "y", None), (3, "z", 5), (3, "zz", 5)], 1),
    ([(1, "c", 2)], 2),  # lower order than the stored 7: still replaces
    #  (cross-batch is last-write-wins; order_col arbitrates WITHIN batch)
]
_SCHEMA = "k bigint, v string, o int"


def _run(spark, sink):
    for rows, epoch in _BATCHES:
        sink.foreach_batch(spark.createDataFrame(rows, _SCHEMA), epoch)


def test_duckdb_sink_matches_parquet_and_memory(spark, root):
    """Backend-agnostic contract: identical batch sequences produce
    identical final keyed states across all three sinks."""
    duck = DuckDBUpsertSink(root + "/s.duckdb", ["k"], order_col="o")
    parq = ParquetUpsertSink(root + "/parq", ["k"], order_col="o")
    mem = InMemoryUpsertSink(["k"], order_col="o")
    for s in (duck, parq, mem):
        _run(spark, s)
    want = sorted(tuple(r) for r in parq.read(spark).collect())
    got = sorted(tuple(r) for r in duck.read(spark).collect())
    mem_state = sorted(
        (d["k"], d["v"], d["o"]) for d in mem.snapshot()
    )
    assert got == want == mem_state
    # schema round-trips exactly (DDL via the meta table, not pandas
    # dtype inference)
    assert duck.read(spark).schema == spark.createDataFrame(
        [], _SCHEMA
    ).schema


def test_duckdb_sink_epoch_ledger_is_exactly_once(spark, root):
    """A replayed committed epoch is a transactional NO-OP — even with
    DIFFERENT content (the crash-replay case the parquet sink's
    at-least-once contract cannot absorb); a new epoch still merges."""
    sink = DuckDBUpsertSink(
        root + "/e.duckdb", ["k"], epoch_exactly_once=True
    )
    sink.foreach_batch(
        spark.createDataFrame([(1, "first")], "k bigint, v string"), 0
    )
    sink.foreach_batch(
        spark.createDataFrame([(1, "replayed")], "k bigint, v string"), 0
    )
    assert [tuple(r) for r in sink.read(spark).collect()] == [(1, "first")]
    sink.foreach_batch(
        spark.createDataFrame([(1, "second")], "k bigint, v string"), 1
    )
    assert [tuple(r) for r in sink.read(spark).collect()] == [(1, "second")]


def test_duckdb_sink_validates_layout_and_types(spark, root):
    """Reuse with a different schema/key layout fails fast (the
    ParquetUpsertSink meta contract); complex column types are rejected
    at first write — the store targets scalar decision/checkpoint
    tables."""
    sink = DuckDBUpsertSink(root + "/v.duckdb", ["k"])
    sink.foreach_batch(
        spark.createDataFrame([(1, "a")], "k bigint, v string"), 0
    )
    with pytest.raises(ValueError, match="created"):
        DuckDBUpsertSink(root + "/v.duckdb", ["k", "v"]).foreach_batch(
            spark.createDataFrame([(1, "a")], "k bigint, v string"), 1
        )
    with pytest.raises(ValueError, match="created"):
        sink.foreach_batch(
            spark.createDataFrame([(1, 2.0)], "k bigint, v double"), 1
        )
    with pytest.raises(TypeError, match="scalar"):
        DuckDBUpsertSink(root + "/t.duckdb", ["k"]).foreach_batch(
            spark.createDataFrame(
                [(1, [1.0, 2.0])], "k bigint, emb array<double>"
            ),
            0,
        )


def test_crossdoc_gate_decisions_exactly_once_with_duckdb_sink(
    spark, sf_dir, root
):
    """The upgrade the gate contracts document as out-of-scope for the
    parquet sink, made real: with the DuckDB decisions sink in
    epoch-exactly-once mode, re-applying an already-committed batch
    leaves the decisions EXACTLY as first written — no monotone
    new -> dup_span flips — while the (idempotent) fps/docs stores
    still converge byte-identically."""
    from flink_streaming_demo_spark.plans.text_queries import (
        _planted_corpus,
    )
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_crossdoc_dedup_gate,
    )

    corpus = _planted_corpus(spark, sf_dir)
    docs = ParquetUpsertSink(root + "/docs", ["doc_id"])
    fps = ParquetUpsertSink(root + "/fps", ["doc_id", "fp"])
    dec = DuckDBUpsertSink(
        root + "/dec.duckdb", ["doc_id"], epoch_exactly_once=True
    )
    body = streaming_crossdoc_dedup_gate(docs, fps, dec)
    for i in range(3):
        body(
            corpus.filter(F.col("doc_id") % 3 == i).select(
                "doc_id", "text"
            ),
            epoch_id=i,
        )
    first = sorted(tuple(r) for r in dec.read(spark).collect())
    # crash-replay epoch 1: against the now-complete store the parquet
    # sink would flip some slice-1 'new' rows to 'dup_span'; the epoch
    # ledger makes the whole decision write a no-op instead
    body(
        corpus.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text"),
        epoch_id=1,
    )
    assert sorted(tuple(r) for r in dec.read(spark).collect()) == first
    assert os.path.exists(docs.path)


def test_duckdb_sink_in_a_real_update_stream(spark, sf_dir, root):
    """K3 through the transactional backend: the running-total update
    stream (key = cell) wired via write_update_stream into the DuckDB
    sink must converge to the batch result — the same contract the
    in-memory and parquet convergence tests pin, now against the SQL
    store (timestamps included, exercising the TIMESTAMP type map)."""
    from flink_streaming_demo_spark.plans.taxi_apps import (
        total_arrival_count,
    )
    from flink_streaming_demo_spark.sources.taxi import synthetic_taxi_rides
    from flink_streaming_demo_spark.streaming import replay
    from flink_streaming_demo_spark.streaming.sinks import (
        write_update_stream,
    )

    rides = synthetic_taxi_rides(spark, sf_dir).filter(
        F.col("ride_id") % 5 == 0
    )
    chunk_dir = replay.write_replay_chunks(rides, n_chunks=4, order_col="ts")
    sink = DuckDBUpsertSink(root + "/k3.duckdb", ["cell"])
    schema = (
        "ride_id long, ts timestamp, is_start boolean, lon double, "
        "lat double, passenger_cnt int"
    )
    try:
        stream = replay.read_replay_stream(
            spark, chunk_dir, schema, max_files_per_trigger=1
        )
        q = write_update_stream(
            total_arrival_count(stream), sink, "k3_duck", "update"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r.cell: (r.cnt, r.max_ts) for r in sink.read(spark).collect()
        }
        expected = {
            r.cell: (r.cnt, r.max_ts)
            for r in total_arrival_count(rides).collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_duckdb_sink_keys_not_first_schema(spark, root):
    """Regression (r15 review): latest_per_key reorders its output to
    (key_cols..., values...), so a batch whose key column is NOT the
    leftmost must still land values in the right store columns — with
    adjacent same-typed columns the misalignment would be a silent
    swap, not an error."""
    sink = DuckDBUpsertSink(root + "/kn.duckdb", ["k"], order_col="o")
    sink.foreach_batch(
        spark.createDataFrame(
            [("va", 1, "vb", 2), ("vc", 1, "vd", 9)],
            "s1 string, k bigint, s2 string, o int",
        ),
        0,
    )
    assert [tuple(r) for r in sink.read(spark).collect()] == [
        ("vc", 1, "vd", 9)
    ]
