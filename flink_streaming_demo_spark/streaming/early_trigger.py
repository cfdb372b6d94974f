"""Streaming count-driven early firing via ``applyInPandasWithState``
(W3 exact semantics; reference: examples/EarlyArrivalCount.scala:117-160).

Maps the reference trigger's callbacks onto Spark's grouped-state API:

| Flink trigger (reference)                         | Here                        |
|---------------------------------------------------|-----------------------------|
| keyed `personCnt` state (EarlyArrivalCount:129)   | GroupState (counter, total) |
| onElement: bump, FIRE at >= 50, reset (:131-141)  | early_fire.fire_fold        |
| registerEventTimeTimer(window end) (:126)         | setTimeoutTimestamp(w_end)  |
| onEventTime: FIRE_AND_PURGE (:144-151)            | timeout branch: final+remove|

Partial fires share the (cell, window_end) upsert key with the final fire,
so a K4 sink (sinks.py) progressively overwrites partials — observable
behavior identical to the reference (SURVEY §3.3).

Caveat (documented divergence): within one micro-batch, events are replayed
in event-time order; across micro-batches, order follows arrival. With
jitter bounded by the watermark delay this matches the reference's unordered
mode, whose trigger also sees arrival order, not event order
(reference: sources/TaxiRideSource.scala:171-263).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from flink_streaming_demo_spark.operators.early_fire import (
    DEFAULT_THRESHOLD,
    FIRE_SCHEMA,
    fire_fold,
)
from flink_streaming_demo_spark.operators.windows import assign_sliding_windows

STATE_SCHEMA = T.StructType(
    [
        T.StructField("counter", T.LongType()),
        T.StructField("total", T.LongType()),
        T.StructField("fire_seq", T.IntegerType()),
    ]
)


def streaming_early_fire_counts(
    arrivals: DataFrame,
    threshold: int = DEFAULT_THRESHOLD,
    window_secs: int = 900,
    slide_secs: int = 300,
) -> DataFrame:
    """Input: *watermarked* streaming (cell, ts, passenger_cnt) arrivals.
    Output stream of partial + final fires (FIRE_SCHEMA)."""
    windowed = assign_sliding_windows(arrivals, "ts", window_secs, slide_secs)

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        cell, w_start = key
        w_end = pd.Timestamp(w_start) + pd.Timedelta(seconds=window_secs)
        if state.hasTimedOut:
            counter, total, seq = state.get
            state.remove()
            yield pd.DataFrame(
                [(cell, w_end, total, True, seq)],
                columns=[f.name for f in FIRE_SCHEMA.fields],
            )
            return
        counter, total, seq = state.get if state.exists else (0, 0, 0)
        fires: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "passenger_cnt"], kind="mergesort")
            new, counter, total, seq = fire_fold(
                cell, w_end, pdf["passenger_cnt"], counter, total, seq,
                threshold,
            )
            fires += new
        state.update((counter, total, seq))
        # Event-time timer for the final FIRE_AND_PURGE at watermark >= end
        # (reference: examples/EarlyArrivalCount.scala:126,144-151).
        state.setTimeoutTimestamp(int(w_end.timestamp() * 1000))
        if fires:
            yield pd.DataFrame(
                fires, columns=[f.name for f in FIRE_SCHEMA.fields]
            )

    return windowed.groupBy("cell", "w_start").applyInPandasWithState(
        fn,
        FIRE_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
