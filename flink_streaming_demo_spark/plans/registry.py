"""Central query registry: name -> (spark callable, DuckDB oracle SQL).

Every operator claimed as implemented (SURVEY §2) registers here; the driver
runs the Spark callable and the oracle SQL side-by-side at sf0.01 and
hash-compares results. Column names/aliases must match exactly on both sides
(the compare sorts columns by name before hashing).

Registration is decentralized: each plans/operators module calls
``register(name, fn, sql)`` at import time; this module imports them all.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def register(
    name: str,
    fn: Callable[[SparkSession, str], DataFrame],
    sql: str | None = None,
) -> None:
    """Add a named query. ``sql=None`` -> non-SQL-expressible op; the driver
    records a weaker rows-only check for it. Names are unique: a second
    registration under the same name is always a bug (a copy-pasted
    register block or a module re-executing under a second sys.modules
    identity) and would silently shadow the first, so it raises."""
    if name in QUERIES:
        raise ValueError(f"duplicate query registration: {name!r}")
    QUERIES[name] = fn
    if sql is not None:
        ORACLE_SQL[name] = sql


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from flink_streaming_demo_spark.plans import (  # noqa: F401
        vector_queries,
        tpch_rest,
        tpch_queries,
        tpch_more,
        text_queries,
        taxi_queries,
        event_queries,
        sampling_queries,
    )


# The correctness driver checks the FIRST 50 queries that queries()
# returns. DRIVER_WINDOW goes first; everything else follows in
# registration order. Policy: never-driver-checked queries lead, then the
# oldest driver evidence (CORRECTNESS_r*.json); `python tools/coverage.py
# --suggest-window` prints the next window in that order, and
# tests/test_registry_window.py enforces it.
DRIVER_WINDOW = [
    "embedding_stats",
    "label_centroid_distance",
    "dedup_crossdoc_stream_gate",
    "sim_kcenter_coreset",
    "sim_bm25_topk",
    "sim_hybrid_rrf",
    "sim_hybrid_ndcg",
    "sim_bm25_maxp",
    "tpch_q2_min_cost_supplier",
    "tpch_q4_order_priority",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q12_ship_speed",
    "tpch_q16_parts_supplier",
    "tpch_q20_excess_supply",
    "tpch_q21_waiting_orders",
    "star_customers_without_orders",
    "tpch_q22_global_sales_opportunity",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "text_quality_scores",
    "text_token_counts",
    "lang_id_scores",
    "doc_fingerprints",
    "dedup_clusters",
    "multimodal_features",
    "dedup_simhash",
    "dedup_simhash64",
    "tfidf_top_terms",
    "text_chunk_documents",
    "decon_eval_overlap",
    "taxi_end_events",
    "taxi_cell_centers",
    "taxi_total_arrival_count",
    "taxi_sliding_arrival_count",
    "taxi_trip_etl",
    "events_hourly_counts",
    "events_asof_latest_order",
    "events_pivot_type_counts",
    "events_approx_distinct_users",
    "events_user_type_arrays",
    "events_value_stats",
    "events_json_props",
    "events_hist_rolling_quantiles",
    "events_cms_rolling_counts",
    "sample_hash_split",
    "dedup_semantic",
    "embedding_quantize",
    "pipeline_embedding_dedup",
    "embedding_dim_profile",
]


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registration dict in DRIVER order: DRIVER_WINDOW first, then
    everything else in registration order. Computed at ACCESS time, not
    only at import time: if a consumer imports a plans module directly
    (tests do), that module's ``from registry import register`` runs this
    module's body mid-import, and Python hands ``_load_all`` back the
    PARTIALLY-initialized plans module from sys.modules — its
    registrations then land after the import-time ordering and would
    push window queries out of the driver's first-50 slice. Re-deriving
    the order here (after a completing ``_load_all``) is immune to that
    import-order corruption; __spark_entry__.queries() calls this."""
    _load_all()
    ordered = {n: QUERIES[n] for n in DRIVER_WINDOW if n in QUERIES}
    ordered.update({n: f for n, f in QUERIES.items() if n not in ordered})
    return ordered


def _apply_window_order() -> None:
    ordered = ordered_queries()
    QUERIES.clear()
    QUERIES.update(ordered)


_load_all()
_apply_window_order()
