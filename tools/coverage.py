"""Union-of-rounds correctness coverage report.

The external driver checks the first 50 registered queries per round
(CORRECTNESS_r{N}.json). Registration order rotates per round (see
plans/registry.py), so per-query proof accumulates across rounds. This
tool unions every CORRECTNESS_r*.json (latest round wins per query) and
reports, per registered query: the last round it was checked, its status
then, and whether its implementation has CHANGED SINCE that check — the
evidence the rotation policy rests on. Changed-since = any file in the
registering module's import closure WITHIN the package (so shared
operators/ and functions/ helpers count, not just the plans module)
differs from the commit that recorded that round's CORRECTNESS file,
per ``git diff`` against the working tree.

Usage: python tools/coverage.py [--assert-reproven] [--suggest-window]

It needs a git work tree (a clone or a ``git worktree``); elsewhere it
prints one line saying so and exits 2.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PKG = "flink_streaming_demo_spark"
REGISTRY = f"{PKG}.plans.registry"


def _module_file(repo: str, mod: str) -> str | None:
    """Repo-relative .py path for a package module name, if it exists."""
    rel = mod.replace(".", "/")
    for cand in (f"{rel}.py", f"{rel}/__init__.py"):
        if os.path.exists(os.path.join(repo, cand)):
            return cand
    return None


def _module_imports(repo: str, mod: str, src: str) -> set[str]:
    """Package-internal module names ``mod``'s source imports, via
    ``ast.parse`` (a regex misses parenthesized multi-line import lists —
    exactly the form long `from pkg import (a, b, ...)` blocks use, which
    silently under-reported closure staleness)."""
    deps: set[str] = set()

    # Walk EVERY node, including function bodies: several query
    # functions import their operator module lazily (e.g. text_queries'
    # classify/bpe/sampling imports), and those imports ARE semantics —
    # a change there changes query output. A staleness audit must
    # over-report (re-check something fresh) rather than under-report
    # (skip something stale); the module-level-only walk silently did
    # the latter.
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == PKG or a.name.startswith(PKG + "."):
                    deps.add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                # relative import: resolve against mod's package
                base = mod.split(".")[: -node.level]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            if module == PKG or module.startswith(PKG + "."):
                deps.add(module)
                # `from pkg.x import y` where y is a submodule
                for a in node.names:
                    deps.add(f"{module}.{a.name}")
    return deps


def import_closure(repo: str, mod: str, memo: dict[str, set[str]]) -> set[str]:
    """Transitive set of repo-relative package files ``mod`` depends on,
    by static parse of the package-internal import statements.

    Computed by BFS with a per-call visited set; ``memo`` caches only
    COMPLETE closures. The earlier recursive form seeded ``memo[mod] =
    set()`` as a cycle guard and then memoized whatever a module's
    closure looked like mid-recursion, so for import cycles (the
    plans <-> operators lazy imports) the module that closed the cycle
    was cached with an incomplete closure and every later caller
    inherited it — the reported closure (and the ledger fingerprint
    built from it) depended on which query was asked about FIRST
    (r15 finding: coverage.py's own main computed a different
    closure_exec_fp than tools/parity.py for the same module, so
    --assert-reproven rejected ledger entries parity.py had just
    written).

    The search stops at ``plans/registry.py``: it is pure wiring and its
    ``_load_all`` imports every plans module, so following it made every
    query's closure the whole package. The registry file itself is left
    out too; its edits never change query semantics."""
    if mod in memo:
        return memo[mod]
    files: set[str] = set()
    seen = {mod, REGISTRY}
    queue = [mod]
    while queue:
        cur = queue.pop()
        if cur != mod and cur in memo:
            # memo holds only COMPLETE closures (top-level results), so
            # folding one in and skipping its subtree is safe — without
            # this the BFS re-parsed the shared closure once per query,
            # ~queries x files parses across a coverage run (r15 review)
            files |= memo[cur]
            continue
        f = _module_file(repo, cur)
        if f is None:
            continue
        files.add(f)
        with open(os.path.join(repo, f)) as fh:
            src = fh.read()
        try:
            deps = _module_imports(repo, cur, src)
        except SyntaxError:
            # Unparseable file: its own bytes still count toward the
            # closure (closure_exec_fp hashes them raw), but its deps
            # are unknowable — leave the rest of the BFS intact.
            continue
        for d in deps:
            if d not in seen:
                seen.add(d)
                queue.append(d)
    memo[mod] = files
    return files


def changed_files_since(repo: str, commit: str) -> set[str]:
    out = subprocess.run(
        ["git", "diff", "--name-only", commit],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout
    return {line.strip() for line in out.splitlines() if line.strip()}


# --- Executable-content fingerprints (r13 verdict #3) -------------------------
#
# The churn advisory counted ANY textual diff in a closure file, so one
# docstring edit in operators/scale.py marked every sketch query stale —
# ~100 false alarms in r13, too noisy to act on per-row. Churn now
# compares EXECUTABLE content only: the AST with docstrings dropped
# (comments never reach the AST), so comment/docstring-only edits no
# longer stale their importers.

def exec_fingerprint(src: str) -> str | None:
    """md5 over the docstring-stripped AST dump of ``src``; None when
    the source does not parse (callers treat unparseable as changed —
    the audit must over-report, never under-report)."""
    import hashlib

    try:
        tree = ast.parse(src)
    except SyntaxError:
        return None
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(
                node,
                (
                    ast.Module,
                    ast.FunctionDef,
                    ast.AsyncFunctionDef,
                    ast.ClassDef,
                ),
            )
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            node.body = body[1:] or [ast.Pass()]
    return hashlib.md5(
        ast.dump(tree, include_attributes=False).encode()
    ).hexdigest()


def _worktree_exec_fp(repo: str, relpath: str,
                      memo: dict[str, str | None]) -> str | None:
    if relpath not in memo:
        path = os.path.join(repo, relpath)
        if not os.path.exists(path):
            memo[relpath] = None
        else:
            with open(path) as fh:
                memo[relpath] = exec_fingerprint(fh.read())
    return memo[relpath]


def _blob_exec_fp(repo: str, commit: str, relpath: str,
                  memo: dict[tuple[str, str], str | None]) -> str | None:
    key = (commit, relpath)
    if key not in memo:
        out = subprocess.run(
            ["git", "show", f"{commit}:{relpath}"],
            cwd=repo, capture_output=True, text=True,
        )
        memo[key] = (
            exec_fingerprint(out.stdout) if out.returncode == 0 else None
        )
    return memo[key]


def closure_exec_fp(repo: str, mod: str,
                    closure_memo: dict[str, set[str]],
                    fp_memo: dict[str, str | None]) -> str:
    """One fingerprint for a query module's whole import closure
    (registry.py excluded, see import_closure): the ledger key that makes
    a parity re-proof verifiably 'against the current code'."""
    import hashlib

    files = sorted(import_closure(repo, mod, closure_memo))
    parts = []
    for f in files:
        fp = _worktree_exec_fp(repo, f, fp_memo)
        if fp is None:
            # Unparseable or absent: fall back to the raw bytes so two
            # DIFFERENT broken states of the same file get different
            # closure fingerprints — a shared constant would let
            # --assert-reproven accept a ledger entry recorded against
            # a different version of the file (r14 ADVICE).
            path = os.path.join(repo, f)
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    fp = "raw:" + hashlib.md5(fh.read()).hexdigest()
            else:
                fp = "absent"
        parts.append(f"{f}:{fp}")
    return hashlib.md5("\n".join(parts).encode()).hexdigest()


LEDGER_PATH = "parity_ledger.json"


def load_ledger(repo: str) -> dict:
    path = os.path.join(repo, LEDGER_PATH)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def round_commit(repo: str, rnd: int) -> str:
    """Last commit touching that round's CORRECTNESS file — the round
    snapshot boundary. When the file is still untracked (the CURRENT
    round, audited at round close before the snapshot commit), fall back
    to HEAD: the driver wrote the file against the working tree, so
    changed-since-HEAD is the right staleness set. The old None return
    made every query print "(round commit unknown)" exactly when the
    audit matters most (r10 verdict #4)."""
    out = subprocess.run(
        ["git", "log", "-1", "--format=%H", "--",
         f"CORRECTNESS_r{rnd:02d}.json"],
        cwd=repo, capture_output=True, text=True,
    ).stdout.strip()
    return out or "HEAD"


def in_git_work_tree(repo: str) -> bool:
    """True when ``repo`` is the top of a git work tree (a clone or a
    ``git worktree``). A ``git archive`` copy is not: there every
    ``git diff`` exits 129, and a copy nested in some other work tree
    would diff against that tree's history instead."""
    out = subprocess.run(
        ["git", "rev-parse", "--show-toplevel"],
        cwd=repo, capture_output=True, text=True,
    )
    return out.returncode == 0 and os.path.realpath(
        out.stdout.strip()
    ) == os.path.realpath(repo)


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not in_git_work_tree(repo):
        print(
            f"tools/coverage.py: {repo} is not a git work tree; run it "
            "in a clone or a `git worktree` checkout",
            file=sys.stderr,
        )
        return 2
    from flink_streaming_demo_spark.plans.registry import ORACLE_SQL, QUERIES

    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            for name, row in json.load(f).items():
                if name not in latest or rnd >= latest[name][0]:
                    latest[name] = (rnd, row)

    # changed-files set per checked round (one git call per round)
    changed_by_round: dict[int, set[str]] = {}
    for rnd in {r for r, _ in latest.values()}:
        changed_by_round[rnd] = changed_files_since(repo, round_commit(repo, rnd))

    memo: dict[str, set[str]] = {}

    wt_fp_memo: dict[str, str | None] = {}
    blob_fp_memo: dict[tuple[str, str], str | None] = {}
    commit_by_round = {
        rnd: round_commit(repo, rnd) for rnd in changed_by_round
    }

    def _exec_changed(relpath: str, rnd: int) -> bool:
        """True when the file's EXECUTABLE content differs from the
        round commit (docstring/comment-only churn does not count);
        unparseable or absent on either side counts as changed."""
        old = _blob_exec_fp(repo, commit_by_round[rnd], relpath,
                            blob_fp_memo)
        new = _worktree_exec_fp(repo, relpath, wt_fp_memo)
        if old is None or new is None:
            return True
        return old != new

    def stale_files(name: str, rnd: int) -> set[str]:
        """Package files of the query's import closure whose EXECUTABLE
        content changed since its round (HEAD-relative for an untracked
        current-round file)."""
        changed = changed_by_round[rnd]
        closure = import_closure(repo, QUERIES[name].__module__, memo)
        return {
            f for f in closure & changed if _exec_changed(f, rnd)
        }

    never, red, weak, green = [], [], [], []
    for name in QUERIES:
        if name not in latest:
            never.append(name)
            continue
        rnd, row = latest[name]
        if row.get("err") == "no_oracle" or name not in ORACLE_SQL:
            # rows-only check by design (custom stateful / sketch ops)
            weak.append((name, rnd))
            continue
        if row.get("err"):
            red.append((name, rnd, row["err"]))
        elif not (row.get("rows_match") and row.get("schema_match")):
            red.append((name, rnd, "rows/schema mismatch"))
        elif not row.get("hash_match"):
            red.append((name, rnd, "hash mismatch"))
        else:
            green.append((name, rnd))

    stale = []
    for name, rnd in green + weak:
        s = stale_files(name, rnd)
        if s:
            stale.append((name, rnd, ", ".join(sorted(s))))

    print(f"registered: {len(QUERIES)}  with-oracle: {len(ORACLE_SQL)}")
    print(f"green (hash-proven, latest check): {len(green)}")
    print(f"rows-only by design (no oracle): {len(weak)}")
    for name, rnd in weak:
        print(f"  ~ {name} (r{rnd})")
    print(f"red at latest check: {len(red)}")
    for name, rnd, why in red:
        print(f"  x {name} (r{rnd}): {why}")
    print(
        f"stale (implementation changed since last check): {len(stale)}"
    )
    for name, rnd, why in stale:
        print(f"  ! {name} (r{rnd}): {why}")
    print(f"never driver-checked: {len(never)}")
    for name in never:
        print(f"  ? {name}")

    # Closure-churn window check (r12 verdict #6): a stale query OUTSIDE
    # the upcoming driver window stays stale silently for at least one
    # more round — exactly how the widest-fan-in queries (the mixture
    # pair imports 18 modules each) drift. The window is the first 50
    # registered names (what the driver will check next round), so this
    # is the actionable subset of the `!` list above: either front these
    # in the window or re-prove them locally (tools/parity.py) and note
    # the displacement next to the window.
    window_head = set(list(QUERIES)[:50])
    unrefreshed = [
        (name, rnd, why)
        for name, rnd, why in stale
        if name not in window_head
    ]
    print(
        "stale AND not in the upcoming 50-slot window "
        f"(churn will NOT be driver-re-greened next round): "
        f"{len(unrefreshed)}"
    )
    for name, rnd, why in unrefreshed:
        n_mods = why.count(",") + 1
        print(f"  !! {name} (r{rnd}, closure churn in {n_mods} files)")

    # --assert-reproven (r13 verdict #3): the close ritual's mechanical
    # form of "every !! row was re-proven at sf0.01 this round". A `!!`
    # row passes only when parity_ledger.json (written by
    # tools/parity.py on every [OK]) holds an entry recorded at sf0.01
    # whose closure fingerprint equals the CURRENT executable content of
    # the query's import closure — a re-proof from before the churn, or
    # at the wrong SF, does not count. Exit 1 on any miss, so the close
    # notes can cite the invocation as a pass/fail check.
    if "--assert-reproven" in sys.argv:
        ledger = load_ledger(repo)
        missing = []
        for name, rnd, _why in unrefreshed:
            entry = ledger.get(name)
            fp = closure_exec_fp(
                repo, QUERIES[name].__module__, memo, wt_fp_memo
            )
            if (
                entry is None
                or entry.get("closure_fp") != fp
                or "sf0.01" not in entry.get("sfs", [])
            ):
                missing.append(name)
        if missing:
            print(
                f"ASSERT-REPROVEN FAILED: {len(missing)} churned rows "
                f"lack a current sf0.01 parity re-proof: "
                f"{', '.join(sorted(missing))}"
            )
            return 1
        print(
            f"assert-reproven OK: all {len(unrefreshed)} churned "
            f"out-of-window rows re-proven at sf0.01 against current "
            f"executable content"
        )

    # Age view: how many rounds ago each query's latest driver row was
    # recorded — the input the next round's window rotation is built
    # from (never-checked first, then oldest-first). "Current round" =
    # max round seen across all CORRECTNESS files.
    if latest:
        cur = max(r for r, _ in latest.values())
        by_age: dict[int, list[str]] = {}
        for name in QUERIES:
            if name in latest:
                by_age.setdefault(cur - latest[name][0], []).append(name)
        print("age (rounds since last driver row):")
        for age in sorted(by_age, reverse=True):
            names = by_age[age]
            label = ", ".join(names) if age >= 2 else f"{len(names)} queries"
            print(f"  {age} rounds: {len(names):3d}  {label if age >= 2 else label}")

    # --suggest-window: emit the next 50-slot window as a ready-to-paste
    # DRIVER_WINDOW for plans/registry.py — never-checked first (in
    # registration order), then oldest-driver-row-first. The
    # window-hygiene test in tests/test_registry_window.py then enforces
    # the result.
    if "--suggest-window" in sys.argv:
        slots = 50
        order = [n for n in QUERIES if n in never]
        if latest:
            aged = sorted(
                (n for n in QUERIES if n in latest),
                key=lambda n: (latest[n][0], list(QUERIES).index(n)),
            )
            order += aged
        print(f"\n# suggested window ({slots} slots)")
        print("DRIVER_WINDOW = [")
        for n in order[:slots]:
            tag = "never-checked" if n in never else f"r{latest[n][0]}"
            print(f'    "{n}",  # {tag}')
        print("]")
    return 1 if red else 0


if __name__ == "__main__":
    sys.exit(main())
