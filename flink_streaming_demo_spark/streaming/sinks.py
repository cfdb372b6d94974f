"""Idempotent keyed upsert sinks (K2-K4; reference:
sinks/ElasticsearchUpsertSink.scala:42-83).

The reference's sink contract: per record, insert-if-absent else update,
keyed by ``indexKey(record)`` — "last write wins per key". Combined with
update output mode this is what turns a stream of partial results into a
converged materialized view (SURVEY §3.3: "the sink, not the engine,
provides the refinement semantics").

Spark-first realization: ``writeStream.foreachBatch`` + key-based merge.
Three implementations:

* ``InMemoryUpsertSink`` — driver-side dict; tests and demos.
* ``DuckDBUpsertSink`` — the same contract against a real TRANSACTIONAL
  SQL store (PRIMARY KEY + INSERT OR REPLACE in one transaction), with
  an optional epoch ledger that upgrades replayed micro-batches from
  at-least-once to exactly-once — the concrete form of the "swap in a
  MERGE-capable backend" note below, honest about its driver-resident
  scale class (decision/checkpoint/config tables).
* ``ParquetUpsertSink`` — keyed merge into a hash-bucket-partitioned
  parquet table, 8 buckets by default. The sink runs each micro-batch's
  plan exactly once: its first action is an eager cut of the batch that
  also observes which buckets the batch touches. Each micro-batch then
  rewrites ONLY those bucket partitions (dynamic partition overwrite),
  as one file per touched bucket, so merge cost is O(touched buckets),
  not O(table) — the jar-free shape of a Delta/Iceberg
  ``MERGE INTO``; at production scale the same ``foreachBatch`` body
  targets a real MERGE-capable store (or an OpenSearch bulk-upsert
  client) — the sink interface is the contract, the store is pluggable.
  Unlike the reference's one-synchronous-RPC-per-record flush
  (bulk.flush.max.actions=1, blocking get() — reference:
  sinks/ElasticsearchUpsertSink.scala:57,80), batches are merged set-wise
  per micro-batch: idempotent under micro-batch replay, which is exactly
  Spark's at-least-once foreachBatch contract.

Ordering within a micro-batch: a single micro-batch can legitimately hold
SEVERAL rows for one key — e.g. the early-fire append stream emits multiple
fires for one (cell, window_end) with increasing ``fire_seq`` (reference:
examples/EarlyArrivalCount.scala:185-188 — each fire is a fresh upsert and
the LAST one must win). When ``order_col`` is given, the row with the
maximum ``order_col`` per key wins (``max_by``); without it the sinks fall
back to an arbitrary row per key, which is only safe when batch rows per
key are identical (plain update-mode aggregates).

Key policies from the reference:
* K3 (running total): key = cell (reference: examples/TotalArrivalCount.scala:123-126)
* K4 (windowed): key = (cell, window_end) (reference:
  examples/SlidingArrivalCount.scala:135-138, EarlyArrivalCount.scala:185-188)
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, Observation, functions as F

#: partition column for the bucketed parquet store (never exposed to readers)
BUCKET_COL = "__kb"


class InMemoryUpsertSink:
    """Driver-side keyed upsert store for tests/demos."""

    def __init__(self, key_cols: list[str], order_col: str | None = None):
        self.key_cols = list(key_cols)
        self.order_col = order_col
        self.rows: dict[tuple, dict] = {}
        self._lock = threading.Lock()

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # within batch: the shared winner rule (latest_per_key), columns
        # back in batch-schema order; cross-batch: the later micro-batch
        # always wins, same as the parquet sink's anti-join
        latest = latest_per_key(batch_df, self.key_cols, self.order_col)
        rows = latest.select(*batch_df.columns).collect()
        best = {tuple(r[k] for k in self.key_cols): r.asDict() for r in rows}
        with self._lock:
            self.rows.update(best)

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.rows.values())


def latest_per_key(
    batch_df: DataFrame, key_cols: list[str], order_col: str | None
) -> DataFrame:
    """One (winning) row per key within a micro-batch — the winner rule
    ALL upsert sinks share. Without ``order_col``: arbitrary row (only
    safe when batch rows per key are identical). With it: order by
    struct(order_col, value tuple) — struct ordering is field-by-field
    with nulls smallest, so a non-null order beats a null one, a higher
    order wins, and TIED (or all-null) orders fall back to the
    lexicographically greatest value tuple. The ordering struct itself
    is never null, so max_by's null-skip behavior never engages."""
    if order_col is None:
        return batch_df.dropDuplicates(key_cols)
    val_cols = [c for c in batch_df.columns if c not in key_cols]
    picked = batch_df.groupBy(*key_cols).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in val_cols]),
            F.struct(
                F.col(order_col).alias("__o"),
                *[F.col(c) for c in val_cols],
            ),
        ).alias("__latest"),
    )
    latest = F.col("__latest")
    return picked.select(
        *key_cols,
        *[latest.getField(c).alias(c) for c in val_cols],
    )


class ParquetUpsertSink:
    """Keyed upsert into a bucket-partitioned parquet table.

    Layout: ``path/__kb=<bucket>/part-*.parquet`` with
    ``bucket = pmod(hash(key_cols), n_buckets)``. A micro-batch merge:

    1. cut the batch (eager ``localCheckpoint``) and, in the same job,
       observe the set of buckets it touches; an empty batch stops here,
       and every later step reads the cut, so the batch's plan runs once,
    2. reduce the batch to one (latest) row per key,
    3. read ONLY the bucket partitions the batch touches (partition-pruned
       scan — untouched buckets are never read),
    4. anti-join out superseded old rows, union the fresh rows,
    5. dynamic-partition-overwrite: only the touched ``__kb=`` directories
       are replaced; every other partition's files are left byte-identical.

    Each merge clusters the merged rows by bucket, so every touched bucket
    holds exactly one file afterwards. The first write adds no shuffle:
    its dedup exchange hash-partitions on ``key_cols`` with the same
    Murmur3 hash as the bucket, so when ``spark.sql.shuffle.partitions``
    divides ``n_buckets`` each bucket lands in one file; otherwise a
    bucket may start with several files until its first merge.

    ``n_buckets`` bounds per-partition size at scale (pick ~table_size /
    target_partition_size); 8 by default, the count every package store
    uses. Every file costs a fixed write, so a larger count makes each
    merge that touches all buckets slower. A store created with one
    ``n_buckets`` must be reused with the same value; the layout check
    raises when the store records another.
    """

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        order_col: str | None = None,
        n_buckets: int = 8,
    ):
        self.path = path
        self.key_cols = list(key_cols)
        self.order_col = order_col
        self.n_buckets = int(n_buckets)

    # metadata file name; leading underscore keeps it out of parquet scans
    META_FILE = "_upsert_meta.json"

    def _check_layout(self) -> None:
        """Fail fast when reusing a store with an incompatible layout.

        A table written by a different sink (no ``__kb=`` dirs) would make
        the pruned read fail confusingly; a different ``n_buckets`` would
        SILENTLY duplicate keys (the old row lives in a bucket that is
        never anti-joined). Both are unrecoverable layout errors.
        """
        meta_path = os.path.join(self.path, self.META_FILE)
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if (meta.get("n_buckets") != self.n_buckets
                    or meta.get("key_cols") != self.key_cols):
                raise ValueError(
                    f"upsert store at {self.path} was created with "
                    f"n_buckets={meta.get('n_buckets')}, "
                    f"key_cols={meta.get('key_cols')}; this sink uses "
                    f"n_buckets={self.n_buckets}, key_cols={self.key_cols}. "
                    "Reuse the original parameters or start a new path."
                )
        else:
            bucket_dirs = [
                e for e in os.listdir(self.path)
                if e.startswith(BUCKET_COL + "=")
            ]
            if not bucket_dirs:
                raise ValueError(
                    f"existing table at {self.path} has no {BUCKET_COL}= "
                    "bucket partitions — it was not written by "
                    "ParquetUpsertSink; refusing to merge into an "
                    "unbucketed store."
                )
            # Pre-meta store: the directory names still bound the original
            # n_buckets from below — a bucket index >= ours proves the
            # store was written with MORE buckets, the exact silent-key-
            # duplication case meta exists to catch.
            max_idx = max(
                int(e.split("=", 1)[1]) for e in bucket_dirs
            )
            if max_idx >= self.n_buckets:
                raise ValueError(
                    f"upsert store at {self.path} has bucket dir index "
                    f"{max_idx} but this sink uses n_buckets="
                    f"{self.n_buckets}; it was created with a larger "
                    "bucket count. Reuse the original parameters or "
                    "start a new path."
                )
            import warnings

            warnings.warn(
                f"upsert store at {self.path} predates {self.META_FILE}; "
                f"bucket dirs are consistent with n_buckets="
                f"{self.n_buckets} (max index {max_idx}) but a SMALLER "
                "original bucket count cannot be ruled out — stamping "
                "current parameters into meta.",
                stacklevel=2,
            )

    def _write_meta(self) -> None:
        with open(os.path.join(self.path, self.META_FILE), "w") as f:
            json.dump(
                {"n_buckets": self.n_buckets, "key_cols": self.key_cols}, f
            )

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # The door cut: the sink's one action on the incoming frame runs
        # its plan (a micro-batch's stateful plan, in a stream) exactly
        # once and observes the touched buckets on the way; everything
        # below reads ``batch``, never ``batch_df``. A re-run would
        # re-commit the state store and re-count its metrics. An empty
        # batch returns here, even the first one: a partitioned write of
        # an empty frame emits no part files. LOCAL-MODE ASSUMPTION, as
        # for the merge cut below: the cut's blocks live in executor
        # block managers, so on a cluster an executor lost before the
        # write fails the micro-batch, and only a restart replays it.
        bucket = F.pmod(
            F.hash(*[F.col(k) for k in self.key_cols]), F.lit(self.n_buckets)
        )
        obs = Observation()
        batch = batch_df.observe(
            obs, F.collect_set(bucket).alias("b")
        ).localCheckpoint()
        touched = list(obs.get["b"] or [])
        if not touched:
            return
        fresh = latest_per_key(
            batch, self.key_cols, self.order_col
        ).withColumn(BUCKET_COL, bucket)
        if not os.path.exists(self.path):
            # First write: nothing reads the path, no merge — write the
            # fresh rows straight in (r15: the staging round-trip below
            # is pure overhead here).
            fresh.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                self.path
            )
            self._write_meta()
            return
        self._check_layout()
        old = spark.read.parquet(self.path).filter(
            F.col(BUCKET_COL).isin(touched)
        )
        keep = old.join(
            batch.select(*self.key_cols), on=self.key_cols, how="left_anti"
        )
        # Materialize the merged (touched-buckets-only) rows BEFORE the
        # overwrite: Spark refuses to overwrite a path its plan reads
        # from, and the write must not consume half-replaced input. The
        # localCheckpoint cut (r15) serves both — the write's plan is a
        # checkpointed RDD, not the path — replacing the previous
        # staging-parquet write + re-read (one extra full write AND scan
        # of the merged rows per micro-batch). Staged volume is still
        # O(touched buckets), not O(table), in block-manager
        # memory-and-disk instead of a second parquet copy; the crash
        # window is unchanged (the dynamic partition overwrite itself
        # was never atomic across buckets — replayed micro-batches
        # re-converge the store either way). LOCAL-MODE ASSUMPTION
        # (r16 ADVICE): localCheckpoint blocks live in executor block
        # managers, so on a multi-executor cluster an executor lost
        # between this checkpoint and the overwrite makes the merge
        # unrecoverable mid-batch (the old staging parquet was
        # re-readable). A cluster deployment should reinstate an
        # on-disk staging write here; in this engine's local[{n}]
        # harness the executor IS the driver, so the window is moot.
        # Clustering by bucket gives one file per touched bucket, whatever
        # partitions the store scan and the batch arrived in; without it
        # each merge adds files to a bucket instead of replacing them.
        merged = (
            keep.unionByName(fresh).repartition(BUCKET_COL).localCheckpoint()
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(self.path)
        )
        if not os.path.exists(os.path.join(self.path, self.META_FILE)):
            self._write_meta()

    def read(self, spark) -> DataFrame:
        return spark.read.parquet(self.path).drop(BUCKET_COL)


def write_update_stream(result: DataFrame, sink, query_name: str,
                        output_mode: str = "update"):
    """Attach an upsert sink to a streaming result (K2 wiring)."""
    return (
        result.writeStream.outputMode(output_mode)
        .queryName(query_name)
        .foreachBatch(sink.foreach_batch)
        .start()
    )


# Spark simpleString -> DuckDB column type for the SQL-backed sink.
# Scalar types only: the transactional store targets decision /
# checkpoint / contract-counter tables, which are scalar by design.
_DUCK_TYPES = {
    "tinyint": "TINYINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


class DuckDBUpsertSink:
    """Keyed upsert into a TRANSACTIONAL SQL store (DuckDB file) — the
    K2 contract (reference: sinks/ElasticsearchUpsertSink.scala:42-83)
    realized against a real MERGE-capable backend, proving the sink
    interface is backend-agnostic: same ``foreach_batch`` / ``read`` /
    ``key_cols`` / ``order_col`` surface as ParquetUpsertSink, same
    within-batch winner rule (shared ``latest_per_key``), last write
    wins per key via PRIMARY KEY + ``INSERT OR REPLACE`` inside one
    transaction.

    What the transaction buys (and parquet cannot): with
    ``epoch_exactly_once=True`` the sink records each committed
    ``epoch_id`` in a ledger table IN THE SAME TRANSACTION as the data
    merge, so a crash-replayed micro-batch of an already-committed
    epoch is a NO-OP — upgrading at-least-once sinks (e.g. the dedup
    gates' decision tables, where a replay can monotonically flip
    verdicts) to exactly-once. This is precisely the "epoch guard +
    transactional store" upgrade the gate contracts document as out of
    scope for the parquet sink.

    Scale stamp (honest): the store is DRIVER-resident — the batch's
    winning rows come to the driver (``collect``) and reads fan back
    out through ``createDataFrame``. That is the right shape for
    dimension/config-sized tables (decision ledgers, contract counters,
    checkpoints — the reference's ES index is the same class), NOT for
    data-sized state; at 100 TB the same ``foreach_batch`` body targets
    a distributed MERGE store (Delta/Iceberg ``MERGE INTO``, OpenSearch
    bulk upsert) through this identical interface. Complex column types
    are rejected at first write.
    """

    TABLE = "upsert_data"

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        order_col: str | None = None,
        epoch_exactly_once: bool = False,
    ):
        self.path = path
        self.key_cols = list(key_cols)
        self.order_col = order_col
        self.epoch_exactly_once = bool(epoch_exactly_once)

    # -- schema plumbing -----------------------------------------------------

    def _ensure_tables(self, con, batch_df: DataFrame) -> list[str]:
        """Create data/meta/ledger tables on first write; validate the
        schema + key layout on reuse (the ParquetUpsertSink meta
        contract). Returns the stored column order."""
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in batch_df.schema.fields
        )
        have = con.execute(
            "SELECT count(*) FROM information_schema.tables "
            f"WHERE table_name = '{self.TABLE}'"
        ).fetchone()[0]
        if not have:
            cols = []
            for f in batch_df.schema.fields:
                t = _DUCK_TYPES.get(f.dataType.simpleString())
                if t is None:
                    raise TypeError(
                        f"DuckDBUpsertSink supports scalar columns only; "
                        f"column {f.name!r} has type "
                        f"{f.dataType.simpleString()!r}"
                    )
                cols.append(f"{f.name} {t}")
            pk = ", ".join(self.key_cols)
            con.execute(
                f"CREATE TABLE {self.TABLE} ({', '.join(cols)}, "
                f"PRIMARY KEY ({pk}))"
            )
            con.execute(
                "CREATE TABLE upsert_meta (schema_ddl VARCHAR, "
                "key_cols VARCHAR, order_col VARCHAR)"
            )
            con.execute(
                "INSERT INTO upsert_meta VALUES (?, ?, ?)",
                [ddl, json.dumps(self.key_cols),
                 json.dumps(self.order_col)],
            )
            con.execute(
                "CREATE TABLE upsert_epochs (epoch_id BIGINT PRIMARY KEY)"
            )
        else:
            stored_ddl, stored_keys, stored_order = con.execute(
                "SELECT schema_ddl, key_cols, order_col FROM upsert_meta"
            ).fetchone()
            if (
                stored_ddl != ddl
                or json.loads(stored_keys) != self.key_cols
                or json.loads(stored_order) != self.order_col
            ):
                raise ValueError(
                    f"DuckDB upsert store at {self.path} was created "
                    f"with schema [{stored_ddl}], key_cols "
                    f"{stored_keys}, order_col {stored_order}; this "
                    f"sink/batch uses [{ddl}], {self.key_cols}, "
                    f"{self.order_col}. Reuse the original parameters "
                    "or start a new path."
                )
        return [f.name for f in batch_df.schema.fields]

    # -- contract surface ----------------------------------------------------

    def _epoch_committed(self, epoch_id: int) -> bool:
        """True when the ledger already holds ``epoch_id`` — checked
        BEFORE the batch's Spark job runs, so a crash-replayed committed
        epoch (the exact case the ledger exists for) skips the whole
        computation, not just the insert."""
        import duckdb

        if not os.path.exists(self.path):
            return False
        con = duckdb.connect(self.path, read_only=True)
        try:
            have = con.execute(
                "SELECT count(*) FROM information_schema.tables "
                "WHERE table_name = 'upsert_epochs'"
            ).fetchone()[0]
            if not have:
                return False
            return bool(
                con.execute(
                    "SELECT count(*) FROM upsert_epochs WHERE epoch_id = ?",
                    [int(epoch_id)],
                ).fetchone()[0]
            )
        finally:
            con.close()

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        import duckdb

        if self.epoch_exactly_once and self._epoch_committed(epoch_id):
            return
        # The winning rows come back in batch-SCHEMA column order:
        # latest_per_key reorders its output to (key_cols..., values...),
        # so a keys-not-first schema would otherwise zip values into the
        # wrong INSERT columns (silently, when adjacent types coincide).
        cols = [f.name for f in batch_df.schema.fields]
        rows = [
            tuple(r)
            for r in latest_per_key(batch_df, self.key_cols, self.order_col)
            .select(*cols)
            .collect()
        ]
        if not rows:
            return
        con = duckdb.connect(self.path)
        try:
            self._ensure_tables(con, batch_df)
            con.execute("BEGIN TRANSACTION")
            try:
                if self.epoch_exactly_once:
                    # re-check inside the transaction: the cheap
                    # pre-check above races with itself only in theory
                    # (one driver), but correctness must not rest on it
                    seen = con.execute(
                        "SELECT count(*) FROM upsert_epochs "
                        "WHERE epoch_id = ?",
                        [int(epoch_id)],
                    ).fetchone()[0]
                    if seen:
                        con.execute("ROLLBACK")
                        return
                    con.execute(
                        "INSERT INTO upsert_epochs VALUES (?)",
                        [int(epoch_id)],
                    )
                ph = ", ".join("?" for _ in cols)
                con.executemany(
                    f"INSERT OR REPLACE INTO {self.TABLE} "
                    f"({', '.join(cols)}) VALUES ({ph})",
                    rows,
                )
                con.execute("COMMIT")
            except Exception:
                con.execute("ROLLBACK")
                raise
        finally:
            con.close()

    def read(self, spark) -> DataFrame:
        """The stored table as a Spark frame with the EXACT schema the
        writes carried (DDL round-trips through the meta table, so int
        widths / nullability semantics survive the pandas-free path)."""
        import duckdb

        if not os.path.exists(self.path):
            raise FileNotFoundError(self.path)
        con = duckdb.connect(self.path, read_only=True)
        try:
            ddl = con.execute(
                "SELECT schema_ddl FROM upsert_meta"
            ).fetchone()[0]
            rows = con.execute(f"SELECT * FROM {self.TABLE}").fetchall()
        finally:
            con.close()
        return spark.createDataFrame(rows, schema=ddl)
