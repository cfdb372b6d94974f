"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...}, "sf": ...}

The stdout line is kept deliberately SMALL (~1.1 KB): the recording
harness captures only the TAIL of stdout (r8 lesson: inlining the full
plan-node sequences grew the line past the capture window and the round
recorded `parsed: null`). Everything bulky but diagnostic — per-query
plan fingerprints, full plan-node sequences, best-of-N spread — goes to
the `bench_details.json` sidecar next to this file. The sidecar itself
is UNTRACKED (gitignored) as of r11: every bench run — the driver's
included — rewrites it, and a tracked file the driver stomps recreated
working-tree churn each round (r10 verdict #6). The committed,
deliberately-refreshed copies are `bench_anchor.json` (headline set,
idle box) and `bench_anchor_all.json` (full registry, idle box,
SPARK_GRAFT_BENCH_ALL=1): refresh = run on an idle box, then
`cp bench_details[_all].json bench_anchor[_all].json` and commit. Plan
regressions stay diffable round-over-round via
`tools/plans.py diff <anchor> <fresh sidecar>`.

Each query is forced end-to-end with the noop sink (full materialization,
no collect/driver overhead). Each query runs once for warmup, then
BEST-OF-3 measured runs are reported (r6 verdict #4: the per-round series
must be robust to co-tenant load; the min is the least-contended sample,
and per-query spread plus os.getloadavg() markers ship in the JSON so a
noisy round is diagnosable instead of arguable). The baseline's published
numbers (BASELINE.md: 1.5M events/s/core) are steady-state throughput of
a long-running job, so excluding one-time JVM/codegen/Python-worker
warmup is the comparable protocol — scans, shuffles and aggregation all
re-execute on every measured run (nothing is cached).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family (taxi apps incl. the stateful
# early-fire op, joins/aggs on the star schema, sessionization windows,
# dedup, ANN, text, multimodal plumbing).
HEADLINE = [
    "taxi_total_arrival_count",
    "taxi_sliding_arrival_count",
    "taxi_early_arrival_fires",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume_customer",
    "tpch_q21_waiting_orders",
    "events_sessionization",
    "events_asof_latest_order",
    "events_value_stats",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_neardup",
    "sim_topk_cosine",
    "sim_ann_lsh",
    "text_quality_scores",
    "text_token_counts",
    "multimodal_features",
    "pipeline_clean_corpus",
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry_mod
    from flink_streaming_demo_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Opt-in diagnostics: SPARK_GRAFT_BENCH_ALL=1 times EVERY registered
    # query instead of the frozen HEADLINE set, and marks the metric so
    # the output can never be mistaken for (or compared against) the
    # cross-round headline series. stdout stays one JSON line either way.
    bench_all = os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1"
    names = list(qs) if bench_all else HEADLINE
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    from flink_streaming_demo_spark.plancheck import plan_fingerprint

    def cpu_calibration_sec() -> float:
        """Fixed-work single-thread CPU loop (200k chained sha256 of a
        32-byte digest). Pure compute, no allocation growth, no I/O —
        its wall time moves with the box's effective per-core speed
        (co-tenant load, frequency scaling), giving every round's bench
        an absolute yardstick: if this number shifts round-over-round,
        a uniform wall-time shift is the BOX, not the code (the r8→r9
        +65% ambiguity this field exists to kill)."""
        import hashlib

        t0 = time.perf_counter()
        h = b"x" * 32
        for _ in range(200_000):
            h = hashlib.sha256(h).digest()
        return time.perf_counter() - t0

    calib_before = round(cpu_calibration_sec(), 4)
    load_before = [round(x, 2) for x in os.getloadavg()]
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    plan_fps: dict[str, str] = {}
    plan_nodes: dict[str, str] = {}
    for name in names:
        # Plan-shape fingerprint taken before the fingerprinted plan
        # executes: the initial physical plan (node-name sequence) is
        # deterministic, so a new exchange / lost broadcast / lost
        # codegen span diffs round-over-round instead of being inferred
        # from wall time. (For iterative queries — e.g. the BPE trainers
        # — merely BUILDING the DataFrame runs real jobs via
        # localCheckpoint, so this is not free of all execution; it is
        # only pre-execution of the final fingerprinted plan.)
        try:
            plan_fps[name], plan_nodes[name] = plan_fingerprint(
                qs[name](spark, sf_dir)
            )
        except Exception as e:  # streaming-only or non-plannable query
            plan_fps[name] = f"err:{type(e).__name__}"
            plan_nodes[name] = ""  # keep the two maps key-symmetric
        run_once(name)  # warmup: codegen compile + Python worker spin-up
        samples = sorted(run_once(name) for _ in range(n_runs))
        timings[name] = round(samples[0], 3)
        spread[name] = round(samples[-1] - samples[0], 3)
    load_after = [round(x, 2) for x in os.getloadavg()]
    calib_after = round(cpu_calibration_sec(), 4)

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    metric = (
        "all_queries_total_wall_sec"
        if bench_all
        else "headline_queries_total_wall_sec"
    )
    summary = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        # bench-all mode times the whole registry (~140 queries); that
        # map only fits in the sidecar, not the size-bounded stdout line.
        "queries": timings if not bench_all else {"n_queries": len(timings)},
        "sf": float(sf) if sf else sf_dir,
        "protocol": f"best_of_{n_runs}_after_warmup",
        "loadavg_1_5_15_before": load_before,
        "loadavg_1_5_15_after": load_after,
        # absolute box-speed yardstick (see cpu_calibration_sec)
        "calib_sha256_200k_sec": [calib_before, calib_after],
        # Effective parallelism (r16, VERDICT r15 #4): the session runs
        # local[$SPARK_GRAFT_CPUS], so an 8-core scaling run must say 8
        # here even on a 32-core box — sched_getaffinity alone reported
        # the box, not the session.
        "cpus": min(
            int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
            len(os.sched_getaffinity(0)),
        ),
        "details": (
            "bench_details_all.json" if bench_all else "bench_details.json"
        ),
    }
    # SPARK_GRAFT_DETAILS_DIR redirects the sidecar (the smoke test uses
    # a temp dir). The in-repo default is untracked since r11 — see the
    # module docstring — so even driver runs leave the tree clean; only
    # an explicit anchor refresh (cp to bench_anchor*.json) touches git.
    details_path = os.path.join(
        os.environ.get(
            "SPARK_GRAFT_DETAILS_DIR",
            os.path.dirname(os.path.abspath(__file__)),
        ),
        summary["details"],
    )
    with open(details_path, "w") as f:
        json.dump(
            {
                **summary,
                "queries": timings,
                "plan_fingerprint": plan_fps,
                "plan_nodes": plan_nodes,
                "spread_max_minus_min_sec": spread,
            },
            f,
            indent=1,
        )
        f.write("\n")
    line = json.dumps(summary)
    # Hard guard on the r8 failure mode: the recorder keeps only the
    # last ~2000 chars of stdout, so the one JSON line must stay well
    # under that even with Spark progress-bar noise preceding it.
    # A real raise, not `assert` — assert is stripped under -O, which
    # would silently reopen the failure mode in optimized runs.
    if len(line) >= 1700:
        raise RuntimeError(f"bench stdout line too long: {len(line)}")
    print(line)

    # Anchor refresh gate (r13 verdict #6): committed anchors are the
    # cross-round plan/wall comparison base, so they may only be
    # refreshed from an IDLE-box run. SPARK_GRAFT_UPDATE_ANCHOR=1 copies
    # the fresh sidecar over bench_anchor[_all].json — and REFUSES when
    # loadavg-5min exceeded an idle threshold at either end of the run
    # (a co-tenant round would silently become the yardstick). The
    # threshold is normalized by core count (r14 ADVICE): an absolute
    # "load 2" is idle on a 32-core box but 100% busy on 2 cores, so
    # "idle" means load5 <= max(2, 0.25 * cpus) — the max() keeps the
    # original contract on small hosts where Spark's own JVM threads
    # alone push load past a strict quarter-of-cores line. The manual
    # `cp` path still exists but the gated mode is the documented
    # refresh ritual.
    if os.environ.get("SPARK_GRAFT_UPDATE_ANCHOR") == "1":
        import shutil

        cpus = len(os.sched_getaffinity(0))
        idle_ceiling = max(2.0, 0.25 * cpus)
        load5 = max(load_before[1], load_after[1])
        if load5 > idle_ceiling:
            raise RuntimeError(
                f"anchor refresh refused: loadavg-5min {load5} > "
                f"{idle_ceiling} (0.25 x {cpus} cpus) — re-run on an "
                "idle box (anchors must be least-contended samples)"
            )
        anchor = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "bench_anchor_all.json" if bench_all else "bench_anchor.json",
        )
        # A refresh must never change the anchor's SCALE: an sf0.001
        # smoke run silently replacing the sf0.1 yardstick corrupts
        # every cross-round wall comparison (r15 near-miss — exactly
        # that happened on the first gated run of this round).
        if os.path.exists(anchor):
            with open(anchor) as f:
                anchored = json.load(f)
            anchored_sf = anchored.get("sf")
            if anchored_sf is not None and summary["sf"] != anchored_sf:
                raise RuntimeError(
                    f"anchor refresh refused: run sf {summary['sf']} != "
                    f"anchored sf {anchored_sf} — refresh from the same "
                    "scale the anchor measures"
                )
            # Calibration guard (r15): loadavg misses co-tenants that
            # steal cycles without queuing runnable threads — an "idle"
            # r15 run measured calib 0.163 s vs the anchor's 0.095 s
            # (71% slower single-core) and would have replaced the
            # fast anchor with a contended sample. Refuse when this
            # run's slowest calibration is > 1.25x the anchor's
            # slowest: an anchor may only be replaced from a box at
            # least roughly as fast as the one that set it.
            anc_calib = anchored.get("calib_sha256_200k_sec")
            if anc_calib:
                run_worst = max(calib_before, calib_after)
                if run_worst > 1.25 * max(anc_calib):
                    raise RuntimeError(
                        f"anchor refresh refused: calibration "
                        f"{run_worst:.4f}s > 1.25x anchored "
                        f"{max(anc_calib):.4f}s — the box is slower "
                        "than the anchor's sample (hidden co-tenancy); "
                        "re-run when calibration recovers"
                    )
        shutil.copyfile(details_path, anchor)
        print(f"anchor updated: {anchor} (loadavg5 {load5})",
              file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
