"""Guards for the driver-window policy (plans/registry.py).

The driver checks the first 50 names that ``queries()`` returns, and
``registry.DRIVER_WINDOW`` decides which names those are. These tests
make the two ways that can go wrong loud:

* a stale window — the never-driver-checked set (per the committed
  CORRECTNESS_r*.json union, the same computation as tools/coverage.py)
  and the stalest rows must sit inside the first 50 registered names;
* a window that is written but not applied — the driver-visible order
  must start with DRIVER_WINDOW, whatever module is imported first.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_SLOTS = 50


def _driver_checked_names() -> set[str]:
    names: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as f:
            names.update(json.load(f))
    return names


def test_never_checked_queries_lead_the_window():
    from flink_streaming_demo_spark.plans import registry

    registered = list(registry.ordered_queries())
    never = set(registered) - _driver_checked_names()
    head = set(registered[:DRIVER_SLOTS])
    missed = never - head
    assert not missed, (
        f"{len(missed)} never-driver-checked queries are OUTSIDE the "
        f"first {DRIVER_SLOTS} registered names (the driver's window): "
        f"{sorted(missed)}. Add them to the front of "
        f"DRIVER_WINDOW in plans/registry.py."
    )


def test_driver_window_is_applied():
    from flink_streaming_demo_spark.plans import registry

    # the DRIVER-visible order must start with the window (restricted to
    # names that are actually registered)
    window = registry.DRIVER_WINDOW
    expected_head = [n for n in window if n in registry.QUERIES]
    assert expected_head
    assert list(registry.ordered_queries())[: len(expected_head)] == (
        expected_head
    )


def test_window_names_resolve_and_are_unique():
    from flink_streaming_demo_spark.plans import registry

    window = registry.DRIVER_WINDOW
    assert len(window) == len(set(window)), "duplicate names in window"
    assert len(window) <= DRIVER_SLOTS, (
        f"window has {len(window)} names but the driver only checks "
        f"{DRIVER_SLOTS}; the tail would silently get no row"
    )
    unknown = [n for n in window if n not in registry.QUERIES]
    assert not unknown, f"window names not registered (typo?): {unknown}"


STALENESS_CEILING = 5  # max rounds a query's driver evidence may age


def _latest_round_per_query() -> tuple[dict[str, int], int]:
    latest: dict[str, int] = {}
    newest_round = 0
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        newest_round = max(newest_round, rnd)
        with open(path) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest, newest_round


def test_stale_queries_forced_into_window():
    """Staleness ceiling (r11 verdict #2): the hygiene test above forces
    NEVER-checked queries into the window, but displacement of old rows
    was legal and unguarded — that is exactly how four queries reached
    age-5 evidence by r11. Fail if any registered query's latest driver
    row is older than STALENESS_CEILING rounds and the query is not among
    the first DRIVER_SLOTS driver-order names (where the upcoming
    round would refresh it)."""
    from flink_streaming_demo_spark.plans import registry

    latest, newest_round = _latest_round_per_query()
    registered = list(registry.ordered_queries())
    head = set(registered[:DRIVER_SLOTS])
    # age is measured against the UPCOMING round (newest committed row
    # + 1): a query last checked in r6 is 6 rounds stale when the r12
    # window is being composed.
    upcoming = newest_round + 1
    stale = [
        n
        for n in registered
        if n in latest
        and upcoming - latest[n] > STALENESS_CEILING
        and n not in head
    ]
    assert not stale, (
        f"{len(stale)} queries have driver evidence older than "
        f"{STALENESS_CEILING} rounds and are NOT in the driver window's "
        f"first {DRIVER_SLOTS} slots: "
        f"{sorted((n, latest[n]) for n in stale)}. Front them in "
        f"DRIVER_WINDOW in plans/registry.py."
    )


def test_order_survives_plans_module_imported_first():
    """Regression for the circular-import failure modes: importing a
    plans module BEFORE the registry runs the registry body mid-import.
    Two things can break: (a) ordering corruption — the partially
    initialized module's registrations land AFTER the import-time window
    ordering, silently pushing window queries out of the driver's
    first-50 slice; (b) a hard ImportError — any plans->plans
    module-level import sees a partially initialized sibling (the r11
    MaxP lesson: the chunk constants had to move to functions/text.py).
    EVERY plans module is pinned as the first import in its own
    subprocess, because each one triggers a different _load_all
    interleaving."""
    import pkgutil
    import subprocess
    import sys

    import flink_streaming_demo_spark.plans as plans_pkg

    # Enumerate dynamically so a future plans module cannot silently
    # escape this coverage (r11 ADVICE): every module in the package
    # except the registry itself and non-registering helpers is pinned.
    modules = sorted(
        m.name
        for m in pkgutil.iter_modules(plans_pkg.__path__)
        if m.name != "registry"
    )
    assert len(modules) >= 8, modules
    for mod in modules:
        code = (
            "import sys; sys.path.insert(0, %r)\n"
            "import flink_streaming_demo_spark.plans.%s\n"
            "import __spark_entry__ as e\n"
            "from flink_streaming_demo_spark.plans import registry\n"
            "names = list(e.queries())\n"
            "window = [n for n in registry.DRIVER_WINDOW if n in names]\n"
            "assert names[:len(window)] == window, names[:10]\n"
            "print('OK', len(names))\n"
        ) % (REPO, mod)
        r = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, timeout=300,
        )
        assert r.returncode == 0, (mod, r.stderr[-2000:])
        assert r.stdout.startswith("OK"), mod
