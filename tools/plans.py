"""Physical-plan tools: audit, snapshot, diff and dump.

    python tools/plans.py audit [bench_anchor_all.json]
    python tools/plans.py snapshot SF_DIR [plan_snapshot.json]
    python tools/plans.py diff OLD.json NEW.json
    python tools/plans.py dump SF_DIR QUERY [QUERY ...]

All four read or write the bench-JSON shape that bench.py records: a
``plan_fingerprint`` map (query -> hash of the initial physical plan) and
a ``plan_nodes`` map (query -> '>'-separated preorder node names), both
from ``plancheck.plan_fingerprint``.

* ``audit`` flags the plan-geometry failure modes this repo has hit, per
  query of a full-surface sidecar (bench_details_all.json or
  bench_anchor_all.json): ``CartesianProduct`` anywhere (every intended
  cross join is a bounded broadcast, which plans as
  BroadcastNestedLoopJoin); more than NODE_LIMIT plan nodes or
  SCAN_LIMIT parquet scans (operators that reference their input k times
  multiply the upstream subtree ~k^n when chained n deep); more than
  BNLJ_LIMIT BroadcastNestedLoopJoins (a broadcast frame re-derived
  inside a loop). SortMergeJoin is reported but never fails. Exit 1 when
  any hard flag fires or the file has no plan_nodes, else 0.
* ``snapshot`` builds every registered query's DataFrame, fingerprints
  its plan without executing it, and writes a sidecar that ``diff`` reads
  (default plan_snapshot.json, untracked). Iterative queries still run
  the checkpoint jobs their construction needs. Fingerprints depend on
  input statistics, so snapshot at the SF of the file you diff against
  (sf0.1 for bench_anchor_all.json). Exit 1 if any query failed to
  build, else 0.
* ``diff`` compares the fingerprints of two sidecars and prints a
  node-level unified diff for each changed query; queries in only one
  file are listed as added/removed. Exit 0 when every shared
  fingerprint matches (or OLD has none), 1 otherwise.
* ``dump`` prints the FULL formatted physical plan of registered queries
  with ``localCheckpoint`` patched to the identity, so checkpoint-cut
  subtrees (``Scan ExistingRDD`` stubs in a plain explain) show every
  scan, exchange and join. ``full_plan(build)`` is the same for any
  frame-building callback.

Wrong arguments exit 2.
"""

from __future__ import annotations

import argparse
import difflib
import json
import os
import sys
from collections import Counter
from contextlib import contextmanager

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Both lineage blow-ups seen so far (2,346 and 3,672 nodes) trip these
# limits at half their size; healthy iterative plans sit well under 100
# nodes and no legitimate plan reads more than ~15 parquet scans.
NODE_LIMIT = 150
SCAN_LIMIT = 20
BNLJ_LIMIT = 40

# name -> justification for exceeding the NODE/SCAN limits. An ALLOW
# entry waives ONLY those two flags: CartesianProduct and BNLJ fan-out
# are never waivable, so a later regression of those classes on an
# allowed query still fails the audit.
ALLOW: dict[str, str] = {}
_WAIVABLE = ("plan nodes", "parquet scans")


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def audit(path: str) -> int:
    nodes_by_q = _load(path).get("plan_nodes") or {}
    if not nodes_by_q:
        print(f"{path}: no plan_nodes recorded (run with "
              "SPARK_GRAFT_BENCH_ALL=1?)")
        return 1

    hard, info = [], []
    for name, nodes in sorted(nodes_by_q.items()):
        if not nodes or nodes.startswith("err:"):
            continue
        parts = nodes.split(">")
        c = Counter(p.split("[")[0] for p in parts)
        scans = sum(v for k, v in c.items() if k.startswith("FileSourceScan"))
        flags = []
        if c.get("CartesianProduct"):
            flags.append(f"CartesianProduct x{c['CartesianProduct']}")
        if len(parts) > NODE_LIMIT:
            flags.append(f"{len(parts)} plan nodes (> {NODE_LIMIT})")
        if scans > SCAN_LIMIT:
            flags.append(f"{scans} parquet scans (> {SCAN_LIMIT})")
        if c.get("BroadcastNestedLoopJoin", 0) > BNLJ_LIMIT:
            flags.append(
                f"BroadcastNestedLoopJoin x{c['BroadcastNestedLoopJoin']}"
            )
        if flags and name in ALLOW:
            waived = [f for f in flags if any(w in f for w in _WAIVABLE)]
            flags = [f for f in flags if f not in waived]
            if waived:
                info.append(
                    (name, f"allowed ({ALLOW[name]}): " + "; ".join(waived))
                )
        if flags:
            hard.append((name, "; ".join(flags)))
        elif c.get("SortMergeJoin"):
            info.append((name, f"smj x{c['SortMergeJoin']}"))

    print(f"audited {len(nodes_by_q)} plans from {path}")
    print(f"hard flags: {len(hard)}")
    for name, why in hard:
        print(f"  x {name}: {why}")
    print(f"info (SortMergeJoin present, fine on large-large): {len(info)}")
    for name, why in info:
        print(f"  ~ {name}: {why}")
    return 1 if hard else 0


def _spark(app_name: str):
    from flink_streaming_demo_spark.session import get_spark

    spark = get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def snapshot(sf_dir: str, out_path: str) -> int:
    import __spark_entry__ as entry_mod
    from flink_streaming_demo_spark.plancheck import plan_fingerprint

    spark = _spark("plan-snapshot")
    plan_fps: dict[str, str] = {}
    plan_nodes: dict[str, str] = {}
    for name, fn in entry_mod.queries().items():
        try:
            plan_fps[name], plan_nodes[name] = plan_fingerprint(
                fn(spark, sf_dir)
            )
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            plan_fps[name] = f"err:{type(e).__name__}"
            plan_nodes[name] = ""
    with open(out_path, "w") as f:
        json.dump(
            {
                "metric": "plan_snapshot",
                "sf_dir": sf_dir,
                "n_queries": len(plan_fps),
                "plan_fingerprint": plan_fps,
                "plan_nodes": plan_nodes,
            },
            f,
            indent=1,
        )
        f.write("\n")
    n_err = sum(1 for v in plan_fps.values() if v.startswith("err:"))
    print(f"{len(plan_fps)} plans fingerprinted ({n_err} errors) -> {out_path}")
    return 1 if n_err else 0


def diff(old_path: str, new_path: str) -> int:
    old, new = _load(old_path), _load(new_path)
    a_fp, a_nodes = old.get("plan_fingerprint", {}), old.get("plan_nodes", {})
    b_fp, b_nodes = new.get("plan_fingerprint", {}), new.get("plan_nodes", {})
    if not a_fp:
        print(f"{old_path}: no plan_fingerprint field — nothing to diff; "
              f"{new_path} is the baseline for next time")
        return 0
    changed = 0
    for name in sorted(set(a_fp) | set(b_fp)):
        if name not in a_fp:
            print(f"[added]   {name}: {b_fp[name]}")
            continue
        if name not in b_fp:
            print(f"[removed] {name}: {a_fp[name]}")
            continue
        if a_fp[name] == b_fp[name]:
            continue
        changed += 1
        print(f"[CHANGED] {name}: {a_fp[name]} -> {b_fp[name]}")
        for line in difflib.unified_diff(
            a_nodes.get(name, "").split(">"),
            b_nodes.get(name, "").split(">"),
            old_path, new_path, lineterm="", n=2,
        ):
            print(f"    {line}")
    same = len(set(a_fp) & set(b_fp)) - changed
    print(f"{same} unchanged, {changed} changed")
    return 1 if changed else 0


@contextmanager
def no_checkpoints():
    """Temporarily make DataFrame.localCheckpoint the identity. Patches
    the CLASSIC DataFrame class, the concrete implementation in Spark 4:
    patching the abstract ``pyspark.sql.DataFrame`` base does nothing."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    orig = CDF.localCheckpoint
    CDF.localCheckpoint = lambda self, eager=True: self  # type: ignore
    try:
        yield
    finally:
        CDF.localCheckpoint = orig


def full_plan(build) -> str:
    """Build a DataFrame with checkpoints disabled and return its
    formatted physical plan, prefixed with a provenance header."""
    with no_checkpoints():
        df = build()
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    return (
        "# full-tree dump: localCheckpoint patched to identity "
        "(tools/plans.py dump) so checkpoint-cut subtrees are "
        "visible; runtime plans cut here\n" + txt
    )


def dump(sf_dir: str, names: list[str]) -> int:
    from flink_streaming_demo_spark.plans.registry import QUERIES

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    spark = _spark("plan-dump")
    for name in names:
        print(f"## {name}")
        print(full_plan(lambda: QUERIES[name](spark, sf_dir)))
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        prog="tools/plans.py",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("audit")
    p.add_argument("path", nargs="?", default="bench_anchor_all.json")
    p = sub.add_parser("snapshot")
    p.add_argument("sf_dir")
    p.add_argument("out_path", nargs="?", default="plan_snapshot.json")
    p = sub.add_parser("diff")
    p.add_argument("old_path")
    p.add_argument("new_path")
    p = sub.add_parser("dump")
    p.add_argument("sf_dir")
    p.add_argument("names", nargs="+")
    a = ap.parse_args(argv)
    if a.cmd == "audit":
        return audit(a.path)
    if a.cmd == "snapshot":
        return snapshot(a.sf_dir, a.out_path)
    if a.cmd == "diff":
        return diff(a.old_path, a.new_path)
    return dump(a.sf_dir, a.names)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
