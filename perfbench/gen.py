"""Seeded input generator for the benchmark (numpy + pyarrow, one process).

The engine under test only ever sees the files written here.

Streaming inputs are taxi-ride events in the reference's record shape
(ride_id, ts, is_start, lon, lat, passenger_cnt, travel_dist), chunked by
delivery time: each event is delivered ``ts + jitter`` with the jitter a
truncated Gaussian in [0, 60] s (mu = sigma = 30 s, the reference's
getNormalDelayMsecs family), so no event is ever behind a 60 s watermark.
Each chunk holds one minute of delivery time and becomes one micro-batch.
A closing sentinel chunk carries one in-bbox, zero-passenger END event two
hours past the data, which pushes the watermark past every real window.

Batch inputs are the ten star-schema / events / documents / embeddings
tables the registered queries read, generated at a chosen scale with the
column names, types and value shapes of the fixed test data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Grid of the reference (utils/NycGeoUtils.scala:26-38).
LON_WEST, LAT_NORTH = -74.05, 41.0
DELTA_LON, DELTA_LAT = 0.0014, 0.00125
CELL_CNT_X, CELL_CNT_Y = 250, 400
N_CELLS = CELL_CNT_X * CELL_CNT_Y

# Event time starts here (the reference's data window starts 2013-01-01).
T0_US = 1_356_998_400_000_000
CHUNK_US = 60_000_000
MAX_DELAY_US = 60_000_000
SENTINEL_AFTER_US = 2 * 3600 * 1_000_000

RIDES_SCHEMA = pa.schema(
    [
        ("ride_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("is_start", pa.bool_()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("passenger_cnt", pa.int16()),
        ("travel_dist", pa.float32()),
    ]
)


def _cell_location(rng, cells):
    """A point strictly inside each grid cell (never on a cell border)."""
    x = cells % CELL_CNT_X
    y = cells // CELL_CNT_X
    u = rng.uniform(0.1, 0.9, len(cells))
    v = rng.uniform(0.1, 0.9, len(cells))
    lon = LON_WEST + (x + u) * DELTA_LON
    lat = LAT_NORTH - (y + v) * DELTA_LAT
    return lon, lat


def ride_chunks(seed: int, rows_per_chunk: int, n_chunks: int
                ) -> list[pa.Table]:
    """``n_chunks`` delivery-ordered chunks of ride events, then the
    closing sentinel chunk (so ``n_chunks + 1`` tables).

    About ``rows_per_chunk`` events are delivered per chunk: half START,
    half END, in grid cells drawn uniformly, 2% of them outside the NYC
    bounding box so the bbox filter has work. Rides start before the
    first chunk as needed so every chunk holds both kinds of event."""
    rng = np.random.default_rng(seed)
    span_us = n_chunks * CHUNK_US
    lead_us = 30 * 60_000_000  # longest ride
    n_rides = rows_per_chunk * (span_us + lead_us) // CHUNK_US // 2
    start = T0_US - lead_us + rng.integers(0, span_us + lead_us, n_rides)
    dur = rng.integers(60_000_000, lead_us, n_rides)
    ride_id = np.arange(n_rides, dtype=np.int64)
    pax = rng.integers(1, 7, n_rides).astype(np.int16)
    dist = rng.uniform(0.3, 20.0, n_rides).astype(np.float32)

    ts = np.concatenate([start, start + dur])
    is_start = np.concatenate(
        [np.ones(n_rides, bool), np.zeros(n_rides, bool)]
    )
    ids = np.concatenate([ride_id, ride_id])
    cells = rng.integers(0, N_CELLS, 2 * n_rides)
    lon, lat = _cell_location(rng, cells)
    outside = rng.random(2 * n_rides) < 0.02
    lon = np.where(outside, lon - 0.5, lon)
    passengers = np.concatenate([pax, pax])
    travel = np.concatenate([np.full(n_rides, -1.0, np.float32), dist])

    jitter = np.clip(
        rng.normal(MAX_DELAY_US / 2, MAX_DELAY_US / 2, len(ts)),
        0,
        MAX_DELAY_US,
    ).astype(np.int64)
    delivered = ts + jitter
    keep = (ts >= T0_US) & (delivered < T0_US + span_us)
    order = np.argsort(delivered[keep], kind="stable")
    cols = {
        "ride_id": ids[keep][order],
        "ts": ts[keep][order],
        "is_start": is_start[keep][order],
        "lon": lon[keep][order],
        "lat": lat[keep][order],
        "passenger_cnt": passengers[keep][order],
        "travel_dist": travel[keep][order],
    }
    chunk_of = (delivered[keep][order] - T0_US) // CHUNK_US
    bounds = np.searchsorted(chunk_of, np.arange(n_chunks + 1))
    table = pa.table(cols, schema=RIDES_SCHEMA)
    chunks = [
        table.slice(bounds[i], bounds[i + 1] - bounds[i])
        for i in range(n_chunks)
    ]
    sentinel_ts = T0_US + span_us + SENTINEL_AFTER_US
    chunks.append(sentinel_table(sentinel_ts, n_rides))
    return chunks


def sentinel_table(ts_us: int, ride_id: int) -> pa.Table:
    """One in-bbox END event with zero passengers at ``ts_us``. It must
    pass the pipeline's filters: they are pushed below the watermark node,
    so a filtered-out event would never move the watermark."""
    return pa.table(
        {
            "ride_id": [ride_id],
            "ts": [ts_us],
            "is_start": [False],
            "lon": [-73.71],
            "lat": [40.51],
            "passenger_cnt": np.array([0], np.int16),
            "travel_dist": np.array([1.0], np.float32),
        },
        schema=RIDES_SCHEMA,
    )


def sentinel_ts_us(n_chunks: int) -> int:
    return T0_US + n_chunks * CHUNK_US + SENTINEL_AFTER_US


def write_chunks(chunks: list[pa.Table], out_dir: str, mtime0: float
                 ) -> list[str]:
    """Write each chunk as one parquet file with modification times in
    replay order (the file-stream source picks the oldest file first)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, t in enumerate(chunks):
        path = os.path.join(out_dir, f"chunk_{i:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (mtime0 + i, mtime0 + i))
        paths.append(path)
    return paths


# --- batch tables ------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "green", "large", "cold", "dark"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "cog"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window data column join small line customer query order sort "
    "group filter big vector stream"
).split()

_DAY_US = 86_400_000_000
_D1995 = 788_918_400_000_000  # 1995-01-01
_D2024 = 1_704_067_200_000_000  # 2024-01-01


def _money(values):
    return np.round(values, 2)


def _ts(values_us):
    return pa.array(values_us, pa.timestamp("us"))


def batch_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten tables the registered queries read; ``scale`` = 0.01 gives
    the row counts of the fixed sf0.01 test data (60 k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(50, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * scale))
    n_doc = max(20, int(50_000 * scale))
    n_vec = max(20, int(50_000 * scale))

    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": rng.choice(names, n_part),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": _money(900.0 + (np.arange(n_part) % 1000) * 0.1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(
                _D1995 + rng.integers(0, 4 * 365, n_ord) * _DAY_US
            ),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng.uniform(900.0, 105000.0, n_line)),
            "l_discount": _money(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": _money(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(
                _D1995 + rng.integers(1, 7 * 365, n_line) * _DAY_US
            ),
        }
    )
    ev_ts = np.sort(rng.integers(0, 31 * _DAY_US, n_ev)) + _D2024
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": _money(np.minimum(rng.exponential(50.0, n_ev), 490.0))
            + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for i in range(n_doc):
        # every tenth document repeats an earlier one with a small edit,
        # so the dedup queries find near-duplicates
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(8, 80))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], np.int64),
        }
    )
    centers = rng.normal(0.0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_vec, 64))).astype(
        np.float32
    )
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_batch_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
