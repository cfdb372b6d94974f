"""Watermark-sealed keyed folds: streaming SCD2 and the streaming throttle.

Batch twins: plans/event_queries.py:events_scd2_type_history and
operators/throttle.py:throttle_kept_events. Both fold each key's events
in EVENT-TIME order, (ts, event_id), but micro-batches deliver arrival
order, so ``sealed_fold`` buffers each key's events in ``GroupState`` and
folds only the prefix the watermark has sealed.

The seal rule: a row is folded once ``ts < watermark``, never at
``ts == watermark`` — a watermark promises only that no OLDER row will
arrive, so a row with the same ts and a smaller event_id may still come
in a later micro-batch. With delivery jitter bounded by the watermark
delay (streaming/replay.py), the fold therefore sees exactly the batch
order and emits the batch's rows (tests/test_streaming.py pins both).

State per key: the operator's carry (the open SCD2 interval, or the
last KEPT throttle time) plus the jitter horizon's buffered rows, never
history. Output is append-only: SCD2 emits CLOSED intervals (the open
one lives in state), the throttle emits KEPT events.
"""

from __future__ import annotations

from collections.abc import Iterator
from operator import itemgetter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_streaming_demo_spark.operators.throttle import (
    OUT_SCHEMA as THROTTLE_SCHEMA,
    THROTTLE_GAP_SECS,
)

SCD2_SCHEMA = (
    "user_id long, event_type string, version int, valid_from timestamp, "
    "valid_to timestamp, is_current boolean"
)


def _ts(us: int) -> pd.Timestamp:
    return pd.to_datetime(us, unit="us")


def sealed_fold(
    events: DataFrame,
    key_cols: list[str],
    buf_cols: list[str],
    carry_fields: str,
    step,
    out_schema: str,
    watermark_delay: str,
) -> DataFrame:
    """Fold each ``key_cols`` group's sealed rows, in (ts, event_id)
    order, through ``step(key, carry, row) -> (carry, out_row | None)``.
    ``row`` is ``(ts_us, event_id, *buf_cols)``; ``key`` is passed as
    Spark gives it; ``carry`` is shaped like ``carry_fields`` (DDL), or
    None before the key's first fold (an explicit state flag: a NULL
    carry field can be a legal value). ``out_schema`` is DDL too."""
    bufs = "".join(
        f", buf_{c} array<{events.schema[c].dataType.simpleString()}>"
        for c in buf_cols
    )
    state_schema = (
        f"buf_ts array<bigint>, buf_eid array<bigint>{bufs}, "
        f"has_carry boolean, {carry_fields}"
    )
    n_buf = 2 + len(buf_cols)
    no_carry = (None,) * len(T.StructType.fromDDL(carry_fields).fields)
    cols = T.StructType.fromDDL(out_schema).fieldNames()

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            saved = state.get
            pending = list(zip(*saved[:n_buf]))
            carry = tuple(saved[n_buf + 1:]) if saved[n_buf] else None
        else:
            pending, carry = [], None
        if not state.hasTimedOut:
            for pdf in pdfs:
                ts_us = pdf["ts"].astype("int64") // 1000
                pending.extend(
                    (int(t), int(e), *rest)
                    for t, e, *rest in zip(
                        ts_us, pdf["event_id"], *(pdf[c] for c in buf_cols)
                    )
                )
        wm_ms = state.getCurrentWatermarkMs()
        pending.sort(key=itemgetter(0, 1))
        out, held = [], []
        for row in pending:
            # STRICT inequality: the seal rule (module docstring).
            if row[0] < wm_ms * 1000:
                carry, emit = step(key, carry, row)
                if emit is not None:
                    out.append(emit)
            else:
                held.append(row)
        state.update(
            (
                *([r[i] for r in held] for i in range(n_buf)),
                carry is not None,
                *(no_carry if carry is None else carry),
            )
        )
        if held:
            # wake when the watermark seals the earliest held row; must
            # be strictly beyond the current watermark
            state.setTimeoutTimestamp(max(held[0][0] // 1000 + 1, wm_ms + 1))
        if out:
            yield pd.DataFrame(out, columns=cols)

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _scd2_step(key, carry, row):
    """Carry: the open interval (open_type, open_from in micros,
    version)."""
    t_us, _eid, etype = row
    if carry is None:
        return (etype, t_us, 1), None
    open_type, open_from, version = carry
    if etype == open_type:
        return carry, None
    closed = (key[0], open_type, version, _ts(open_from), _ts(t_us), False)
    return (etype, t_us, version + 1), closed


def streaming_scd2(
    events: DataFrame, watermark_delay: str = "60 seconds"
) -> DataFrame:
    """Input: streaming (user_id, event_id, ts, event_type). Output:
    append stream of CLOSED SCD2 intervals (SCD2_SCHEMA), identical to
    the batch builder's valid_to-not-null rows once the watermark passes
    the closing change."""
    return sealed_fold(
        events,
        ["user_id"],
        ["event_type"],
        "open_type string, open_from bigint, version int",
        _scd2_step,
        SCD2_SCHEMA,
        watermark_delay,
    )


def streaming_throttle(
    events: DataFrame,
    gap_secs: int = THROTTLE_GAP_SECS,
    watermark_delay: str = "60 seconds",
) -> DataFrame:
    """Input: streaming (event_id, user_id, event_type, ts). Output:
    append stream of KEPT events, identical to the batch
    throttle_kept_events once the watermark passes them."""
    gap_us = int(gap_secs) * 1_000_000

    def step(key, carry, row):
        t_us, eid = row
        if carry is not None and t_us <= carry[0] + gap_us:
            return carry, None
        return (t_us,), (eid, key[0], key[1], _ts(t_us))

    return sealed_fold(
        events,
        ["user_id", "event_type"],
        [],
        "last_kept_us bigint",
        step,
        THROTTLE_SCHEMA,
        watermark_delay,
    )
