"""Batch pipelines for the reference's three demo applications.

Each pipeline is a plain DataFrame transformation chain and the one
definition of its app: batch queries, the Structured Streaming forms
(streaming/pipelines.py runs these same functions on a stream) and, below,
the DuckDB oracle twins all start from it. Spark plans these as:
scan -> Filter+Project (fused into one whole-stage-codegen span, with the
bbox predicate pushed to the parquet scan) -> partial HashAggregate ->
Exchange hashpartitioning(cell) -> final HashAggregate. The exchange is the
analogue of the reference's ``keyBy`` (reference:
examples/TotalArrivalCount.scala:77); everything upstream of it is the
operator chain Flink builds by fusion (SURVEY §4.1).

Scale notes (100 TB): cell cardinality is bounded at 100k
(reference: utils/NycGeoUtils.scala:37-38), so the aggregation state is tiny
regardless of input size; map-side partial aggregation reduces the shuffle to
at most ``partitions x 100k`` rows. No joins, no skew risk beyond hot cells,
which AQE handles.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_streaming_demo_spark.functions import geo

# Column-expression constants (r15): the geo/window expression trees the
# three apps share are df-independent (unresolved attribute refs by
# name), so they are built ONCE per process and reused. Building them
# Column-op-by-Column-op on every query construction cost hundreds of
# py4j gateway round trips per build — pure driver latency inside the
# bench's timed region (and the driver's). lru_cache rather than import-
# time module constants because Column construction needs a live JVM
# gateway; the cached Columns stay valid for the life of that JVM
# (local mode: the process).


@lru_cache(maxsize=None)
def _arrival_exprs() -> tuple:
    return (
        ~F.col("is_start"),
        geo.is_in_nyc(F.col("lon"), F.col("lat")),
        geo.grid_cell(F.col("lon"), F.col("lat")).alias("cell"),
        F.col("ts"),
        F.col("passenger_cnt"),
    )


def arrival_events(rides: DataFrame) -> DataFrame:
    """Shared stateless prefix of all three demo apps:

    F1 — keep ride END events (reference: examples/TotalArrivalCount.scala:65)
    F2 — NYC bbox filter, intended semantics
         (reference: examples/TotalArrivalCount.scala:67, impl
         utils/NycGeoUtils.scala:48-54 — see functions/geo.py fidelity notes)
    P1 — project to (cell, ts, passenger_cnt)
         (reference: examples/TotalArrivalCount.scala:70-73)
    """
    is_end, bbox, cell, ts, cnt = _arrival_exprs()
    return rides.filter(is_end).filter(bbox).select(cell, ts, cnt)


@lru_cache(maxsize=None)
def _total_exprs() -> tuple:
    aggs = (
        F.max("ts").alias("max_ts"),
        F.sum("passenger_cnt").cast("bigint").alias("cnt"),
    )
    out = (
        F.col("cell"),
        F.col("max_ts"),
        geo.cell_center_lon(F.col("cell")).alias("center_lon"),
        geo.cell_center_lat(F.col("cell")).alias("center_lat"),
        F.col("cnt"),
    )
    return aggs, out


def total_arrival_count(rides: DataFrame) -> DataFrame:
    """App 1 — running total arrivals per location, batch analogue.

    A1 keyBy + A2 keyed running fold (reference:
    examples/TotalArrivalCount.scala:75-80) maintain
    ``(cell, max(time), sum(passengerCnt))`` per cell and emit continuously;
    the batch analogue is the final value of that running aggregate. P2
    re-attaches the cell center (reference: examples/TotalArrivalCount.scala:83-84).
    The streaming variant (update output mode) re-emits changed cells per
    micro-batch — see streaming/pipelines.py.
    """
    total_aggs, total_out = _total_exprs()
    return arrival_events(rides).groupBy("cell").agg(*total_aggs).select(
        *total_out
    )


@lru_cache(maxsize=None)
def _sliding_exprs(window: str, slide: str) -> tuple:
    win = F.window(F.col("ts"), window, slide)
    agg_expr = F.sum("passenger_cnt").cast("bigint").alias("cnt")
    out = (
        F.col("cell"),
        F.col("window.end").alias("window_end"),
        geo.cell_center_lon(F.col("cell")).alias("center_lon"),
        geo.cell_center_lat(F.col("cell")).alias("center_lat"),
        F.col("cnt"),
    )
    return win, agg_expr, out


def sliding_arrival_count(
    rides: DataFrame, window: str = "15 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """App 2 — arrivals per location per sliding event-time window.

    W1 sliding window (reference: examples/SlidingArrivalCount.scala:85,
    15 min / 5 min at :53-54) + W2 full-window sum emitting
    ``(cell, window.getEnd, sum)`` (reference:
    examples/SlidingArrivalCount.scala:87-93). Spark's ``window()`` expands
    each event into its 3 overlapping panes and aggregates incrementally —
    same result as Flink's buffered ``.apply``, better physical plan
    (SURVEY §4.1). ``window.end`` is exclusive-end, same as Flink's
    ``window.getEnd``.
    """
    win, agg_expr, out = _sliding_exprs(window, slide)
    agg = (
        arrival_events(rides)
        .groupBy(win, F.col("cell"))
        .agg(agg_expr)
    )
    return agg.select(*out)


# ---------------------------------------------------------------------------
# DuckDB oracle twins (ANSI SQL over the same parquet-backed views)
# ---------------------------------------------------------------------------

def _arrivals_cte(rides_sql: str) -> str:
    """``WITH`` prefix defining ``rides`` and ``arrivals`` (cell, ts,
    passenger_cnt), the SQL twin of ``arrival_events``. Every taxi oracle
    starts from it. It says RECURSIVE so that a caller may append a
    recursive CTE (the early-fire oracle); DuckDB accepts the keyword
    over plain CTEs too."""
    cell = geo.sql_grid_cell("lon", "lat")
    bbox = geo.sql_is_in_nyc("lon", "lat")
    return f"""
        WITH RECURSIVE rides AS ({rides_sql}),
        arrivals AS (
            SELECT {cell} AS cell, ts, passenger_cnt
            FROM rides
            WHERE NOT is_start AND {bbox}
        )
    """


def _panes_cte(rides_sql: str) -> str:
    """``_arrivals_cte`` plus ``expanded`` (cell, ts, passenger_cnt,
    w_start): each arrival in its 3 overlapping 15m/5m panes. DuckDB has
    no Spark-style ``window()`` table function, so a generate_series
    cross join does the expansion (SURVEY §7.4). ``time_bucket`` with a
    5-minute width aligns on epoch boundaries exactly like Spark's window
    start rule ``ts - (ts - epoch) % slide``."""
    return f"""
        {_arrivals_cte(rides_sql)},
        expanded AS (
            SELECT
                cell,
                ts,
                passenger_cnt,
                time_bucket(INTERVAL '5 minutes', ts)
                    - g.k * INTERVAL '5 minutes' AS w_start
            FROM arrivals, generate_series(0, 2) AS g(k)
        )
    """


def total_arrival_count_sql(rides_sql: str) -> str:
    return f"""
        {_arrivals_cte(rides_sql)}
        SELECT
            cell,
            MAX(ts) AS max_ts,
            {geo.sql_cell_center_lon('cell')} AS center_lon,
            {geo.sql_cell_center_lat('cell')} AS center_lat,
            CAST(SUM(passenger_cnt) AS BIGINT) AS cnt
        FROM arrivals
        GROUP BY cell
    """


def sliding_arrival_count_sql(rides_sql: str) -> str:
    """Sliding 15m/5m window oracle over ``_panes_cte``."""
    return f"""
        {_panes_cte(rides_sql)}
        SELECT
            cell,
            w_start + INTERVAL '15 minutes' AS window_end,
            {geo.sql_cell_center_lon('cell')} AS center_lon,
            {geo.sql_cell_center_lat('cell')} AS center_lat,
            CAST(SUM(passenger_cnt) AS BIGINT) AS cnt
        FROM expanded
        GROUP BY cell, w_start
    """
