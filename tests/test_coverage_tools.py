"""Unit guards for the coverage tool's executable-content churn filter
and the parity re-proof ledger key (r13 verdict #3): the advisory must
ignore comment/docstring-only edits and the ledger fingerprint must
move exactly when executable content moves."""

from __future__ import annotations

from tools.coverage import exec_fingerprint


BASE = '''
"""Module docstring."""

def f(x):
    """f docstring."""
    # a comment
    return x + 1


class C:
    """C docstring."""

    def m(self):
        return 2
'''


def test_docstring_and_comment_edits_do_not_change_fp():
    cosmetically_edited = BASE.replace(
        '"""Module docstring."""', '"""A rewritten module docstring."""'
    ).replace('"""f docstring."""', '"""new words."""').replace(
        "# a comment", "# an entirely different comment"
    )
    assert exec_fingerprint(BASE) == exec_fingerprint(cosmetically_edited)


def test_code_edit_changes_fp():
    changed = BASE.replace("return x + 1", "return x + 2")
    assert exec_fingerprint(BASE) != exec_fingerprint(changed)


def test_docstring_only_body_keeps_valid_ast():
    src = 'def g():\n    """only a docstring."""\n'
    fp = exec_fingerprint(src)
    assert fp is not None
    # stripping must not change whether the function is otherwise empty
    assert fp == exec_fingerprint(
        'def g():\n    """different docstring."""\n'
    )
    assert fp == exec_fingerprint("def g():\n    pass\n")


def test_unparseable_returns_none():
    assert exec_fingerprint("def broken(:") is None


def _write_pkg(root, files: dict[str, str]) -> None:
    import os

    for rel, src in files.items():
        path = os.path.join(root, "flink_streaming_demo_spark", rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(src)


_CYCLE_FILES = {
    "__init__.py": "",
    "plans/__init__.py": "",
    "operators/__init__.py": "",
    # a imports b at module level; b lazily imports a (the repo's real
    # plans <-> operators shape); c imports only b.
    "plans/a.py": "from flink_streaming_demo_spark.operators import b\n",
    "operators/b.py": (
        "def f():\n"
        "    from flink_streaming_demo_spark.plans import a\n"
        "    return a\n"
    ),
    "plans/c.py": "from flink_streaming_demo_spark.operators import b\n",
}


def test_import_closure_is_order_independent_across_cycles(tmp_path):
    """Regression (r15): the recursive cycle guard memoized the module
    that CLOSED a cycle with an incomplete closure, so the answer for a
    module depended on which module was asked about first. The closure
    of each module must be identical whatever the query order."""
    from tools.coverage import import_closure

    root = str(tmp_path)
    _write_pkg(root, _CYCLE_FILES)
    mods = [
        "flink_streaming_demo_spark.plans.a",
        "flink_streaming_demo_spark.operators.b",
        "flink_streaming_demo_spark.plans.c",
    ]
    import itertools

    baseline = {m: import_closure(root, m, {}) for m in mods}
    # b and a are mutually reachable, so both closures span the cycle
    assert (
        "flink_streaming_demo_spark/plans/a.py"
        in baseline["flink_streaming_demo_spark.operators.b"]
    )
    assert (
        "flink_streaming_demo_spark/operators/b.py"
        in baseline["flink_streaming_demo_spark.plans.c"]
    )
    for order in itertools.permutations(mods):
        memo: dict[str, set[str]] = {}
        for m in order:
            assert import_closure(root, m, memo) == baseline[m], (
                f"closure of {m} differs when queried in order {order}"
            )


def test_closure_fp_distinguishes_broken_file_versions(tmp_path):
    """Regression (r14 ADVICE): an unparseable closure file must not
    collapse to a shared constant in the ledger fingerprint — two
    different broken states (and the absent state) must all differ."""
    from tools.coverage import closure_exec_fp

    import os

    root = str(tmp_path)
    _write_pkg(root, _CYCLE_FILES)
    mod = "flink_streaming_demo_spark.plans.a"
    dep = os.path.join(
        root, "flink_streaming_demo_spark", "operators", "b.py"
    )

    with open(dep, "w") as f:
        f.write("def broken(:  # v1\n")
    fp_broken1 = closure_exec_fp(root, mod, {}, {})
    with open(dep, "w") as f:
        f.write("def broken(:  # v2\n")
    fp_broken2 = closure_exec_fp(root, mod, {}, {})
    assert fp_broken1 != fp_broken2


def test_import_closure_stops_at_the_registry(tmp_path):
    """The registry imports every plans module to register them, so a
    closure that follows it is the whole package for every query, and
    any edit anywhere invalidates every parity-ledger proof. A query
    module's closure must hold what it imports, not its registry's
    other modules, and not the registry file itself."""
    from tools.coverage import import_closure

    root = str(tmp_path)
    _write_pkg(root, {
        "__init__.py": "",
        "plans/__init__.py": "",
        "plans/registry.py": (
            "def _load_all():\n"
            "    from flink_streaming_demo_spark.plans import sibling\n"
        ),
        "plans/query.py": (
            "from flink_streaming_demo_spark.plans.registry import "
            "register\n"
            "from flink_streaming_demo_spark.plans import helper\n"
        ),
        "plans/helper.py": "",
        "plans/sibling.py": "",
    })
    closure = import_closure(
        root, "flink_streaming_demo_spark.plans.query", {}
    )
    assert closure == {
        "flink_streaming_demo_spark/plans/query.py",
        "flink_streaming_demo_spark/plans/helper.py",
        "flink_streaming_demo_spark/plans/__init__.py",
    }


def test_coverage_tool_outside_a_git_work_tree_exits_2(tmp_path):
    """A `git archive` copy has no .git: the tool must say in one line
    that it needs a git work tree and exit 2, not die on `git diff`."""
    import glob
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    copy = tmp_path / "copy"
    ignore = shutil.ignore_patterns("__pycache__")
    for d in ("tools", "flink_streaming_demo_spark"):
        shutil.copytree(os.path.join(repo, d), copy / d, ignore=ignore)
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")) + [
        os.path.join(repo, "parity_ledger.json")
    ]:
        shutil.copy(f, copy)
    # stop git's upward search at tmp_path, so no enclosing work tree
    # can stand in for the missing one
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(tmp_path))
    for args in ([], ["--assert-reproven"]):
        out = subprocess.run(
            [sys.executable, "tools/coverage.py", *args],
            cwd=copy, env=env, capture_output=True, text=True, timeout=300,
        )
        lines = (out.stdout + out.stderr).strip().splitlines()
        assert out.returncode == 2, lines[-5:]
        assert len(lines) == 1 and "git work tree" in lines[0], lines[-5:]
