"""Physical-plan structural guards: automated form of the anti-pattern
sweep (no non-broadcast cartesian joins; filters reach the parquet scan).

Plan-only — queries are analyzed and planned, never executed — so the
sweep is cheap. Iterative queries (connected components, k-means) run
driver-side loops during CONSTRUCTION and are exercised elsewhere; the
sweep covers the declarative surface.
"""

from __future__ import annotations

import pytest

from flink_streaming_demo_spark.plans import registry

# Queries whose construction runs jobs (checkpointed iteration loops) or
# that are intentionally broadcast-nested-loop (documented small-side
# cross joins in similarity scoring).
_SKIP_CONSTRUCTION = {"dedup_clusters", "sim_ivf_kmeans",
                      "pipeline_clean_corpus",
                      # k-means training (checkpointed loop) runs at
                      # construction; the trained-cell join shape is
                      # guarded by test_semantic_dedup_pair_join_is_equi
                      "dedup_semantic", "pipeline_embedding_dedup",
                      # pagerank checkpoints each iteration at construction
                      "graph_pagerank_neardup",
                      # these run the CC loop at construction
                      "decon_split_by_cluster", "pipeline_keep_decisions",
                      # these build IVF upsert stores (parquet merges)
                      # at construction; the view/gate plan shapes are
                      # pinned by the streaming≡batch tests
                      "sim_ivf_stream_topk", "dedup_ivf_stream_gate"}


def _plan(spark, name, sf_dir) -> str:
    df = registry.QUERIES[name](spark, sf_dir)
    qe = df._jdf.queryExecution()
    return qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.mark.slow
def test_no_unbroadcast_cartesian_products(spark, sf_dir):
    """CartesianProduct (non-broadcast all-pairs) must never appear in a
    registered query plan; BroadcastNestedLoopJoin is allowed only where
    a small side is broadcast by construction (similarity scoring)."""
    offenders = {}
    for name in registry.QUERIES:
        if name in _SKIP_CONSTRUCTION:
            continue
        plan = _plan(spark, name, sf_dir)
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
    assert not offenders, offenders


def test_filters_reach_parquet_scans(spark, sf_dir):
    """Scan-adjacent predicates must appear in PushedFilters — a scan
    reading everything for a filtered query is the classic silent
    scale-killer."""
    expectations = {
        # l_quantity/l_discount predicates push; (l_shipdate is derived
        # from the nano column post-scan, legitimately not pushable)
        "tpch_q6_revenue_forecast": "PushedFilters: [",
        # doc_id % 50 partition of documents pushes IsNotNull at minimum
        "decon_eval_overlap": "PushedFilters: [",
        # vec_id < N_QUERIES on the query side
        "sim_topk_cosine": "LessThan(vec_id",
    }
    for name, needle in expectations.items():
        plan = _plan(spark, name, sf_dir)
        assert needle in plan, f"{name}: {needle!r} missing from scan"


def test_quality_scan_prunes_columns(spark, sf_dir):
    """text_token_counts projects 2 columns — ReadSchema must not drag
    the full documents row (source/lang/n_chars stay unread)."""
    plan = _plan(spark, "text_token_counts", sf_dir)
    start = plan.index("ReadSchema")
    read_schema = plan[start:plan.index("\n", start)]
    assert "text" in read_schema and "doc_id" in read_schema
    for unread in ("source", "lang", "n_chars"):
        assert unread not in read_schema, (unread, read_schema)


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    """The click->error interval join must plan as an equi join on
    user_id (broadcast or sort-merge) with the time-range as a join
    condition — never a nested-loop/cartesian over the fact rows."""
    plan = _plan(spark, "events_error_after_click", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) \
        or ("ShuffledHashJoin" in plan)


def test_semantic_dedup_pair_join_is_equi(spark, sf_dir):
    """SemDeDup's within-cluster pair stage must be an equi join on
    centroid_id; the only nested-loop joins allowed are the k-row
    centroid broadcast cross joins of the assignment step."""
    from pyspark.sql import functions as F

    from flink_streaming_demo_spark.operators import similarity as SIM
    from flink_streaming_demo_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    df = SIM.semantic_dedup(emb, cents, threshold=0.4)
    qe = df._jdf.queryExecution()
    plan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    # pair stage: equi join keyed on centroid_id
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_random_projection_is_map_only(spark, sf_dir):
    """The 8x64 literal projection must compile to a shuffle-free scan:
    no Exchange anywhere, and the vec_id predicate pushed to parquet."""
    plan = _plan(spark, "embedding_random_projection", sf_dir)
    assert "Exchange" not in plan
    assert "LessThan(vec_id" in plan


def test_weighted_topk_never_single_partition(spark, sf_dir):
    """The two-level weighted top-K must keep every window partitioned
    (source x salt, then source) — a SinglePartition exchange would be
    the whole-corpus sort this plan exists to avoid."""
    plan = _plan(spark, "sample_weighted_topk", sf_dir)
    assert "SinglePartition" not in plan


def test_token_entropy_shuffles_on_doc_token(spark, sf_dir):
    """Entropy's heavy shuffle must be keyed by (doc_id, token) with
    map-side partial aggregation ahead of it."""
    plan = _plan(spark, "text_token_entropy", sf_dir)
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_scd2_single_user_shuffle(spark, sf_dir):
    """Both SCD2 window passes (change detect, interval close) must share
    one hashpartitioning(user_id) exchange — a second shuffle would mean
    the windows lost their common partitioning."""
    plan = _plan(spark, "events_scd2_type_history", sf_dir)
    # formatted mode: node list shows "(n) Exchange", details show the
    # hashpartitioning argument separately
    assert plan.count(") Exchange") == 1, plan[:2000]
    assert "hashpartitioning(user_id" in plan


def test_temporal_join_is_equi_on_user(spark, sf_dir):
    """The point-in-time join must key on user_id (equi) with the
    interval bounds as join conditions — a nested-loop over events x
    versions would be the time-cross this plan exists to avoid."""
    plan = _plan(spark, "events_temporal_scd2_join", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("BroadcastHashJoin" in plan)


def test_incremental_dedup_broadcasts_incoming_side(spark, sf_dir):
    """The base corpus must reach both probes via map-side joins: the
    incoming batch is broadcast, so no SortMergeJoin shuffles the base
    content hashes or band keys."""
    plan = _plan(spark, "dedup_incremental", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bpe_segment_apply_is_map_only(spark, sf_dir):
    """The BPE apply pass claims map-only: its plan may broadcast the
    merge row but must not shuffle the corpus (no non-broadcast
    Exchange after the scan feeding the segment expressions)."""
    from flink_streaming_demo_spark.operators import bpe as BPE
    from flink_streaming_demo_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = BPE.bpe_train_merges(docs.select("text"))
    df = BPE.bpe_segment(docs, merges)
    qe = df._jdf.queryExecution()
    plan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # The only shuffles allowed are over the 6-row MERGE TABLE (its
    # orderBy + collect_list aggregation); no exchange may carry corpus
    # columns (doc_id / text / segs).
    import re

    for m in re.finditer(r"\((\d+)\) Exchange\n(Input[^\n]*)", plan):
        cols = m.group(2)
        assert not re.search(r"\b(doc_id|text|segs)#", cols), cols
    assert "CartesianProduct" not in plan


def test_strip_dup_spans_no_cartesian_and_pruned_scan(spark, sf_dir):
    """Span stripping joins on the gram key (equi) and must read only
    (doc_id, text) from the parquet scan."""
    plan = _plan(spark, "text_strip_dup_spans", sf_dir)
    assert "CartesianProduct" not in plan
    assert "ReadSchema" in plan, "no ReadSchema marker in plan:\n" + plan[:800]
    assert "lang" not in plan.split("ReadSchema")[1][:200]


# Queries allowed to carry a Window with an empty partition spec, each
# with the justification for why its input is bounded by construction
# (the guard's contract: a single-partition sort is acceptable ONLY over
# a table whose row count is a small constant or grows sub-linearly in
# corpus size).
_UNPARTITIONED_WINDOW_ALLOWED = {
    "text_heavy_hitters": (
        "rank window runs AFTER the >=0.5%-share filter: input is the "
        "handful of viral tokens (<=200 rows at any corpus size by the "
        "share bound 1/0.005)"
    ),
    "events_daily_moving_avg": (
        "lag/7-day-rolling windows over the per-DAY aggregate: rows = "
        "distinct calendar days (~365/year regardless of event volume); "
        "an ordered rolling window over days is the query's semantics"
    ),
    "events_daily_anomaly": (
        "trailing-week baseline over the per-DAY aggregate: same "
        "distinct-days bound as events_daily_moving_avg"
    ),
    "sample_token_budget": (
        "cumulative prefix sums over the per-SOURCE control table in "
        "capping-threshold order: rows = distinct sources (a recipe has "
        "tens of sources at any corpus size), and the ordered cumsum IS "
        "the closed-form water-level selection; the full-width pass is "
        "the partitioned per-source token aggregate"
    ),
    "events_lateness_profile": (
        "watermark cummax over the per-ARRIVAL-MINUTE aggregate: rows = "
        "distinct minutes (~526k/year regardless of event volume), and "
        "the cumulative max over ordered minutes IS the watermark's "
        "definition; the full-width passes (per-minute MAX, final "
        "profile) are partitioned aggregations"
    ),
    "events_watermark_delay_tradeoff": (
        "same per-arrival-minute watermark cummax as "
        "events_lateness_profile (shared operators/lateness primitive); "
        "the candidate-delay explode and its aggregation are partitioned"
    ),
    "text_zipf_fit": (
        "rank assignment over the top-100 control table AFTER the "
        "distributed TakeOrdered truncation — the windowed input is "
        "exactly ZIPF_TOP_N rows at any corpus size; the vocab count "
        "and head extraction are partial-aggregated/partition-parallel"
    ),
    "tpch_running_revenue": (
        "cumulative sum over the per-DAY control table: rows = distinct "
        "ship dates (the calendar — ~2.5k for TPC-H, grows with time, "
        "never with volume), and the fact scan partial-aggregates to "
        "one row per day BEFORE the ordered pass; the fold itself is "
        "exact integer cents"
    ),
    "sim_bm25_topk": (
        "rank attachment over the TakeOrderedAndProject head — the "
        "windowed input is exactly k rows at any corpus size; the "
        "distributed partial top-k does the heavy lifting"
    ),
    "sim_hybrid_rrf": (
        "same k-row-head rank attachment; the fusion input is two "
        "bounded top-N lists to begin with"
    ),
    "sim_hybrid_ndcg": (
        "composes sim_hybrid_rrf (k-row-head window) and the dense "
        "top-k; its own folds are 1-row aggregates"
    ),
    "sim_bm25_maxp": (
        "global rank over the TakeOrdered k-row head; the per-doc "
        "argmax window IS partitioned (by doc_id)"
    ),
}


@pytest.mark.slow
def test_no_unpartitioned_windows_anywhere(spark, sf_dir):
    """Registry-wide guard (r6 verdict #3): no registered query may plan
    a Window with an empty partition spec — Spark executes that as ONE
    task sorting every row (`WindowExec: No Partition Defined`), the
    canonical silent 100x-scale straggler. Bounded-input exceptions are
    allowlisted above with a justification."""
    from flink_streaming_demo_spark.plancheck import (
        iter_unpartitioned_windows,
    )

    offenders = {}
    for name in registry.QUERIES:
        if name in _SKIP_CONSTRUCTION:
            continue
        df = registry.QUERIES[name](spark, sf_dir)
        hits = iter_unpartitioned_windows(df)
        if hits and name not in _UNPARTITIONED_WINDOW_ALLOWED:
            offenders[name] = hits[0][:120]
    assert not offenders, offenders
    # allowlist hygiene: every allowlisted query still HAS one (drop the
    # entry when the query is fixed) and is still registered
    for name in _UNPARTITIONED_WINDOW_ALLOWED:
        assert name in registry.QUERIES, name
        df = registry.QUERIES[name](spark, sf_dir)
        assert iter_unpartitioned_windows(df), (
            f"{name} no longer has an unpartitioned window — remove it "
            "from the allowlist"
        )


def test_rfm_plan_stays_linear(spark, sf_dir):
    """events_user_rfm chains THREE rank machines, each referencing its
    input 3x — unchecked, the plan multiplied to 2,346 nodes / 212
    parquet scans (r11 bench audit). The localCheckpoint between stages
    must keep the FINAL plan linear: a handful of nodes reading the
    checkpointed RDD, never a re-derived event scan per score."""
    plan = _plan(spark, "events_user_rfm", sf_dir)
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")
    assert len(plan.splitlines()) < 400


def test_pca_iterations_run_on_checkpoint(spark, sf_dir):
    """embedding_pca_top_component's power iterations must run over the
    checkpointed 4,160-row covariance matrix (Scan ExistingRDD), not
    re-embed the data-sized covariance derivation per matvec (330
    parquet scans before the r11 fix)."""
    plan = _plan(spark, "embedding_pca_top_component", sf_dir)
    assert "Scan ExistingRDD" in plan
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")


def test_throttle_is_partition_fold_not_per_group(spark, sf_dir):
    """The throttle fold must run as mapInPandas over key-sorted
    partitions (one Python call per Arrow batch), never as the per-group
    applyInPandas form whose per-group round-trips cost 40x at
    thousands of small groups (r11). The partition sort is load-bearing
    for correctness — the streaming dict fold assumes key-clustered,
    time-ordered rows — so both the operator and the order are pinned."""
    plan = _plan(spark, "events_throttle_kept", sf_dir)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Sort" in plan  # the within-partition (key, ts, id) sort


def test_plan_snapshot_artifact_diffs_against_anchor(tmp_path):
    """``tools/plans.py snapshot`` writes a bench-JSON-shaped artifact
    whose plan_fingerprint/plan_nodes maps ``diff`` accepts. Shape-only
    (no Spark): a crafted snapshot pair must diff with exit 0 when
    identical and exit 1 on a changed fingerprint."""
    import json

    from tools import plans as cli

    snap = {
        "metric": "plan_snapshot",
        "plan_fingerprint": {"q1": "abc", "q2": "def"},
        "plan_nodes": {"q1": "Scan>Filter", "q2": "Scan>HashAggregate"},
    }
    a = tmp_path / "anchor.json"
    b = tmp_path / "fresh.json"
    a.write_text(json.dumps(snap))
    b.write_text(json.dumps(snap))
    assert cli.main(["diff", str(a), str(b)]) == 0

    snap2 = dict(snap)
    snap2["plan_fingerprint"] = {"q1": "abc", "q2": "CHANGED"}
    snap2["plan_nodes"] = {"q1": "Scan>Filter", "q2": "Scan>Sort"}
    b.write_text(json.dumps(snap2))
    assert cli.main(["diff", str(a), str(b)]) == 1


def test_plan_audit_flags_on_crafted_sidecars(tmp_path, monkeypatch):
    """``tools/plans.py audit`` exit codes on crafted sidecars (no
    Spark): a CartesianProduct fails; more than NODE_LIMIT nodes fails;
    an ALLOW entry waives only the node/scan flags, never the cartesian
    one; a clean sidecar passes."""
    import json

    from tools import plans as cli

    def audit(plan_nodes) -> int:
        path = tmp_path / "sidecar.json"
        path.write_text(json.dumps({"plan_nodes": plan_nodes}))
        return cli.main(["audit", str(path)])

    clean = "Project>HashAggregate>Exchange>FileSourceScan"
    big = ">".join(["Project"] * cli.NODE_LIMIT + ["FileSourceScan"])
    cart = "Project>CartesianProduct>FileSourceScan>FileSourceScan"
    assert audit({"q": clean}) == 0
    assert audit({"q": cart}) == 1
    assert audit({"q": big}) == 1
    monkeypatch.setitem(cli.ALLOW, "q", "bounded lineage")
    assert audit({"q": big}) == 0
    assert audit({"q": cart}) == 1
    assert audit({"q": big.replace("Project", "CartesianProduct", 1)}) == 1


def test_plan_dump_shows_checkpoint_cut_scans(spark, sf_dir):
    """``tools/plans.py dump`` (``full_plan``) must show the parquet scan
    under a lazy ``localCheckpoint`` cut that a plain explain hides, and
    restore ``localCheckpoint`` afterwards."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from flink_streaming_demo_spark.schemas import load_table
    from tools import plans as cli

    orig = CDF.localCheckpoint

    def build():
        cut = load_table(spark, sf_dir, "orders").localCheckpoint(eager=False)
        return cut.groupBy("o_custkey").count()

    assert "Scan parquet" not in build()._jdf.queryExecution().toString()
    txt = cli.full_plan(build)
    assert txt.startswith("# full-tree dump")
    assert "Scan parquet" in txt
    assert CDF.localCheckpoint is orig


def test_ivf_batch_single_assignment(spark, sf_dir):
    """sim_ivf_batch_topk's plan-width guard (r13 verdict #5): the
    whole query batch must be answered in ONE plan with exactly one
    corpus-assignment subtree — 4 bounded parquet scans (query-table
    derivation, corpus, 2x the K-row centroid filter), ONE broadcast
    equi-join on centroid_id for the ranking stage, and no
    cartesian/sort-merge stage anywhere. A second corpus assignment or
    an SMJ here means the batch is being re-scored per query."""
    import re

    plan = _plan(spark, "sim_ivf_batch_topk", sf_dir)
    # formatted explain prints each node in the tree AND a detail
    # section; count tree nodes only
    nodes = re.findall(r"\(\d+\) ([A-Za-z ]+?)\s*$", plan, re.M)
    assert nodes.count("Scan parquet") == 4, nodes
    assert nodes.count("BroadcastHashJoin") == 1, nodes
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the two allowed BNLJs are the broadcast-K centroid scorings
    assert nodes.count("BroadcastNestedLoopJoin") == 2, nodes
