"""Count-driven early-firing window aggregation (W3) — the one operator in
the reference with no built-in Spark equivalent (SURVEY §2.4, §7.3).

Reference semantics (EarlyCountTrigger; reference:
examples/EarlyArrivalCount.scala:117-160):

* per (key, window), a counter accumulates passenger counts
  (`personCnt`, reference: EarlyArrivalCount.scala:129-131);
* each time the counter reaches ``threshold`` (50, reference:
  EarlyArrivalCount.scala:58), FIRE a *partial* result — the current pane
  total — and reset the counter (reference: EarlyArrivalCount.scala:133-141);
* at watermark >= window end, FIRE_AND_PURGE the final result
  (reference: EarlyArrivalCount.scala:144-151).

The fire points are inherently sequential (each fire re-bases the next
threshold), so this is NOT expressible as an ANSI-SQL aggregation — it is
the engine's one custom stateful operator. Its fire loop is written once,
``fire_fold``, and run by both executions:

* batch: ``applyInPandas`` per (cell, window) — folds the pane's events in
  event-time order from a zero counter, then appends the final (this
  module);
* streaming: ``applyInPandasWithState`` with event-time timeout
  (streaming/early_trigger.py) — folds each micro-batch's events from the
  (counter, total, seq) carried in keyed state.

Scale: groups are (cell, window) — bounded at ~100k cells x 3 live panes;
each group's pane events fit trivially in an Arrow batch. One shuffle on the
group key, same as the plain windowed aggregate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from flink_streaming_demo_spark.operators.windows import assign_sliding_windows

DEFAULT_THRESHOLD = 50  # reference: examples/EarlyArrivalCount.scala:58

FIRE_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("window_end", T.TimestampType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("is_final", T.BooleanType(), False),
        T.StructField("fire_seq", T.IntegerType(), False),
    ]
)


def fire_fold(
    cell, w_end, counts, counter: int, total: int, seq: int, threshold: int
) -> tuple[list[tuple], int, int, int]:
    """Advance one (cell, window) pane's trigger over ``counts`` (passenger
    counts, already in replay order) from the carried (counter, total,
    seq). Returns the partial fires it emits, as FIRE_SCHEMA tuples, and
    the new (counter, total, seq)."""
    fires: list[tuple] = []
    for cnt in counts:
        c = int(cnt)
        total += c
        counter += c
        if counter >= threshold:
            fires.append((cell, w_end, total, False, seq))
            seq += 1
            counter = 0
    return fires, counter, total, seq


def _replay_group(pdf: pd.DataFrame, threshold: int) -> pd.DataFrame:
    """Replay one (cell, window) pane in event-time order, emitting the
    reference trigger's fire sequence."""
    pdf = pdf.sort_values(["ts", "passenger_cnt"], kind="mergesort")
    cell = int(pdf["cell"].iloc[0])
    w_end = pdf["w_end"].iloc[0]
    fires, _, total, seq = fire_fold(
        cell, w_end, pdf["passenger_cnt"], 0, 0, 0, threshold
    )
    fires.append((cell, w_end, total, True, seq))
    return pd.DataFrame(
        fires, columns=["cell", "window_end", "cnt", "is_final", "fire_seq"]
    )


def early_fire_counts(
    arrivals: DataFrame,
    threshold: int = DEFAULT_THRESHOLD,
    window_secs: int = 900,
    slide_secs: int = 300,
) -> DataFrame:
    """Batch-exact early-fire emission sequence.

    Input: (cell, ts, passenger_cnt) arrival events (see
    plans/taxi_apps.arrival_events). Output: every partial fire and the
    final fire per (cell, window), with fire_seq ordering.

    Plan (the 100 TB-shaped split): a pane whose TOTAL is below the
    threshold can never fire a partial — its entire emission is the single
    final row, i.e. a plain built-in windowed aggregate. Only panes with
    total >= threshold need the sequential replay, and those are routed
    through ``applyInPandas``; everywhere realistic they are a tiny
    fraction, so the Python path touches almost nothing and the rest stays
    in whole-stage codegen.
    """
    from pyspark.sql import functions as F

    windowed = assign_sliding_windows(
        arrivals, "ts", window_secs, slide_secs
    )
    # Lazy-checkpointed (r15, guide §2.4): ``totals`` feeds BOTH the
    # below-threshold final rows and the above-threshold key list, and
    # the two consumers prune different columns, so the optimizer plans
    # the whole scan->explode->aggregate subtree TWICE (three input
    # scans per run counting the raw-row leg). The checkpoint computes
    # the pane aggregate once — per (cell, window) rows, the same
    # intermediate the pair-list checkpoints in operators/dedup.py
    # bound, orders of magnitude below the raw events it aggregates.
    totals = windowed.groupBy("cell", "w_start", "w_end").agg(
        F.sum("passenger_cnt").cast("bigint").alias("total")
    ).localCheckpoint(eager=False)
    small = totals.filter(F.col("total") < threshold).select(
        F.col("cell"),
        F.col("w_end").alias("window_end"),
        F.col("total").alias("cnt"),
        F.lit(True).alias("is_final"),
        F.lit(0).alias("fire_seq"),
    )
    big_keys = totals.filter(F.col("total") >= threshold).select(
        "cell", "w_start"
    )
    # Semi join to the (few) above-threshold panes; AQE picks broadcast when
    # big_keys is small, which is the realistic case.
    big = windowed.join(big_keys, ["cell", "w_start"], "left_semi")

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _replay_group(pdf, threshold)

    fired = big.groupBy("cell", "w_start").applyInPandas(
        apply_fn, FIRE_SCHEMA
    )
    return fired.unionByName(small.select(*[f.name for f in
                                            FIRE_SCHEMA.fields]))


def sql_fire_jump(expanded: str, threshold: int = DEFAULT_THRESHOLD) -> str:
    """DuckDB CTE chain replaying the fire sequence as an iterated jump
    over the pane's cumulative sum: fire 0 = first event with cum >= T;
    fire k+1 = first event with cum >= fire_k + T (the reset-to-zero
    discards overshoot, so the EMITTED total at fire k IS the jump value
    s_k); the final row carries the pane total with fire_seq = #partials.

    ``expanded`` names a relation with (cell, w_start, ts, passenger_cnt).
    Embed after ``WITH RECURSIVE ...`` and select from ``fire_rows``
    (cell, w_start, cnt, is_final, fire_seq). Shared by the registered
    oracle (plans/taxi_queries.py) and the hypothesis property test that
    pins it against the Python replay on arbitrary event sequences.
    """
    return f"""ev AS (
        -- running pane total in event-time order; ties on (ts, cnt) are
        -- permutation-invariant for the cumulative-sum SEQUENCE, so the
        -- fire points below are deterministic across engines
        SELECT cell, w_start,
               CAST(SUM(passenger_cnt) OVER (
                   PARTITION BY cell, w_start
                   ORDER BY ts, passenger_cnt
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM {expanded}
    ),
    pane AS (
        SELECT cell, w_start, MAX(cum) AS total FROM ev GROUP BY cell, w_start
    ),
    fires AS (
        -- fire 0: first event where the pane's running count reaches T
        SELECT p.cell, p.w_start, 0 AS fire_seq,
               (SELECT MIN(e.cum) FROM ev e
                WHERE e.cell = p.cell AND e.w_start = p.w_start
                  AND e.cum >= {threshold}) AS fire_cum
        FROM pane p
        WHERE p.total >= {threshold}
        UNION ALL
        -- fire k+1: counter resets to 0 at fire k (overshoot discarded),
        -- so the next fire is the first cum >= fire_cum + T
        SELECT cell, w_start, fire_seq + 1, nxt
        FROM (
            SELECT f.cell, f.w_start, f.fire_seq,
                   (SELECT MIN(e.cum) FROM ev e
                    WHERE e.cell = f.cell AND e.w_start = f.w_start
                      AND e.cum >= f.fire_cum + {threshold}) AS nxt
            FROM fires f
        )
        WHERE nxt IS NOT NULL
    ),
    fire_rows AS (
        SELECT cell, w_start, fire_cum AS cnt, FALSE AS is_final,
               CAST(fire_seq AS INT) AS fire_seq
        FROM fires
        UNION ALL
        SELECT p.cell, p.w_start, p.total, TRUE,
               CAST(COALESCE((SELECT MAX(f.fire_seq) + 1 FROM fires f
                              WHERE f.cell = p.cell
                                AND f.w_start = p.w_start), 0) AS INT)
        FROM pane p
    )"""
