"""Property-based tests (hypothesis): the distributed operators must
match independent, obviously-correct Python models on randomized inputs —
a different proof shape than the fixture tests (which pin known cases)
and the DuckDB oracles (which replicate the algorithm in SQL).

Example counts are kept small: every example runs real Spark jobs.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_streaming_demo_spark.operators import dedup, sampling

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference model: min-id component label per node, plain union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        for n in (a, b):
            parent.setdefault(n, n)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    members: dict[int, list[int]] = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in members.values() for n in ms}


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),
            st.integers(min_value=0, max_value=25),
        ),
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
    )
    if not edges:
        df = df.filter("id_a <> id_a")
    got = {
        r.node: r.component
        for r in dedup.connected_components(df).collect()
    }
    want = _union_find_components(edges)
    assert got == want


@given(
    tokens=st.lists(st.integers(min_value=1, max_value=500), max_size=30),
    capacity=st.sampled_from([100, 1000]),
    n_chunks=st.sampled_from([1, 4, 16]),
)
@settings(**_SETTINGS)
def test_pack_greedy_matches_python_model(spark, tokens, capacity, n_chunks):
    rows = [(i, t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows or [(0, 1)], "doc_id long, n_tokens long")
    if not rows:
        df = df.filter("doc_id < 0")
    got = {
        r.doc_id: r.bin_id
        for r in sampling.pack_greedy(
            df, "n_tokens", capacity, n_chunks=n_chunks
        ).collect()
    }
    cum = 0
    want = {}
    for i, t in enumerate(tokens):
        want[i] = cum // capacity
        cum += t
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=50),
        ),
        max_size=40,
    ),
    n=st.sampled_from([1, 3, 10]),
    n_salts=st.sampled_from([1, 5]),
)
@settings(**_SETTINGS)
def test_cap_per_group_matches_python_model(spark, rows, n, n_salts):
    data = [(i, g, s) for i, (g, s) in enumerate(rows)]
    df = spark.createDataFrame(
        data or [(0, "a", 0)], "doc_id long, grp string, score long"
    )
    if not data:
        df = df.filter("doc_id < 0")
    got = {
        r.doc_id: r.rank
        for r in sampling.cap_per_group(
            df,
            "grp",
            [F.col("score").desc(), F.col("doc_id").asc()],
            n,
            n_salts=n_salts,
        ).collect()
    }
    want = {}
    by_group: dict[str, list[tuple[int, int]]] = {}
    for i, g, s in data:
        by_group.setdefault(g, []).append((i, s))
    for members in by_group.values():
        ordered = sorted(members, key=lambda t: (-t[1], t[0]))
        for rank, (i, _) in enumerate(ordered[:n], start=1):
            want[i] = rank
    assert got == want


def _winnow_fp_set(text: str) -> set[int]:
    """Reference model of functions/text.winnow_fp_sets: rightmost-minimum
    per window over md5 k-gram hashes, distinct selected values."""
    import hashlib

    from flink_streaming_demo_spark.functions.text import (
        WINNOW_K,
        WINNOW_W,
        _WINNOW_P,
    )

    toks = text.split(" ")
    if len(toks) < WINNOW_K:
        return set()
    hs = [
        int(hashlib.md5(
            " ".join(toks[i:i + WINNOW_K]).encode()
        ).hexdigest()[:8], 16) % _WINNOW_P
        for i in range(len(toks) - WINNOW_K + 1)
    ]
    positions = set()
    for i in range(max(len(hs) - WINNOW_W + 1, 1)):
        win = hs[i:i + WINNOW_W]
        if not win:
            continue
        mn = min(win)
        positions.add(i + len(win) - 1 - win[::-1].index(mn))
    return {hs[p] for p in positions}


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=0,
            max_size=12,
        ),
        max_size=12,
    ),
    min_shared=st.sampled_from([1, 2, 3]),
    max_fp_df=st.sampled_from([3, 64]),
)
@settings(**_SETTINGS)
def test_winnow_pairs_matches_brute_force(spark, docs, min_shared, max_fp_df):
    """winnow_pairs (explode + DF cap + equi-join) must equal the
    brute-force all-pairs count of shared (non-stop) fingerprint values —
    the tiny vocabulary forces organic overlaps and viral fingerprints
    that exercise the stop-list cap."""
    texts = [" ".join(toks) for toks in docs]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows or [(0, "x")], "doc_id long, text string")
    if not rows:
        df = df.filter("doc_id < 0")
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in dedup.winnow_pairs(
            df, min_shared=min_shared, max_fp_df=max_fp_df
        ).collect()
    }
    sets = {i: _winnow_fp_set(t) for i, t in enumerate(texts)}
    doc_freq: dict[int, int] = {}
    for fps in sets.values():
        for fp in fps:
            doc_freq[fp] = doc_freq.get(fp, 0) + 1
    kept = {
        i: {fp for fp in fps if doc_freq[fp] <= max_fp_df}
        for i, fps in sets.items()
    }
    want = {}
    for a in kept:
        for b in kept:
            if a < b:
                shared = len(kept[a] & kept[b])
                if shared >= min_shared:
                    want[(a, b)] = shared
    assert got == want


@given(
    names=st.lists(
        st.text(alphabet="abcdefg", min_size=3, max_size=10),
        min_size=1,
        max_size=6,
        unique=True,
    ),
    edit=st.tuples(
        st.sampled_from(["sub", "ins", "del"]),
        st.integers(min_value=0, max_value=9),
        st.sampled_from("abcdefgZ"),
    ),
)
@settings(**_SETTINGS)
def test_fuzzy_link_property_finds_any_single_edit(spark, names, edit):
    """SymSpell guarantee: for ANY clean name and ANY single edit
    (substitution, insertion, or deletion), fuzzy_link links the dirty
    form back to its origin — blocking never loses a distance-1 pair."""
    kind, pos, ch = edit
    origin = names[0]
    p = pos % len(origin)
    if kind == "sub":
        dirty_name = origin[:p] + ch + origin[p + 1:]
    elif kind == "ins":
        dirty_name = origin[:p] + ch + origin[p:]
    else:
        dirty_name = origin[:p] + origin[p + 1:]
    clean = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)],
        "clean_id long, clean_name string",
    )
    dirty = spark.createDataFrame(
        [(100, dirty_name)], "dirty_id long, dirty_name string"
    )
    got = dedup.fuzzy_link(dirty, clean, max_distance=1).collect()
    assert any(r.clean_id == 0 for r in got), (origin, dirty_name)
    # every reported match really is within distance 1
    assert all(r.edit_distance <= 1 for r in got)


# --- BPE trainer vs plain-Python reference -----------------------------------

def _py_bpe(word_counts: dict[str, int], n_merges: int):
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (pa, pb), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((pa, pb, c))
        nv: dict[tuple[str, ...], int] = {}
        for sym, c2 in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == pa and sym[i + 1] == pb:
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c2
        vocab = nv
    return merges


@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_bpe_trainer_matches_python_model(spark, words, n_merges):
    """Random tiny corpora over a 3-letter alphabet — maximal pair
    collisions and tie-breaks — must reproduce the reference BPE
    exactly, merge by merge."""
    from flink_streaming_demo_spark.operators.bpe import bpe_train_merges

    counts: dict[str, int] = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    got = [
        (r.pa, r.pb, r.pair_count)
        for r in bpe_train_merges(docs, n_merges=n_merges)
        .orderBy("rank")
        .collect()
    ]
    assert got == _py_bpe(counts, n_merges)


# --- Cross-doc span stripping vs plain-Python reference ----------------------

@given(
    docs_tokens=st.lists(
        st.lists(
            st.sampled_from(["w0", "w1", "w2", "w3"]),
            min_size=1,
            max_size=14,
        ),
        min_size=2,
        max_size=5,
    ),
)
@settings(**_SETTINGS)
def test_strip_dup_spans_matches_python_model(spark, docs_tokens):
    """Random corpora over a 4-token vocabulary (dense n-gram overlap)
    must match a direct Python computation of covered positions, span
    islands, and residue — with n=3 so short docs still collide."""
    import hashlib

    from flink_streaming_demo_spark.plans.text_queries import strip_dup_spans

    n = 3
    texts = {i + 1: toks for i, toks in enumerate(docs_tokens)}
    grams: dict[str, set[int]] = {}
    for d, toks in texts.items():
        for i in range(len(toks) - n + 1):
            grams.setdefault(" ".join(toks[i:i + n]), set()).add(d)
    dup = {g for g, ds in grams.items() if len(ds) >= 2}
    want = {}
    for d, toks in texts.items():
        covered = set()
        for i in range(len(toks) - n + 1):
            if " ".join(toks[i:i + n]) in dup:
                covered.update(range(i + 1, i + n + 1))
        spans = sum(1 for j in covered if j - 1 not in covered)
        kept = " ".join(
            tok for j, tok in enumerate(toks, start=1) if j not in covered
        )
        want[d] = (
            len(toks),
            len(covered),
            spans,
            hashlib.md5(kept.encode()).hexdigest(),
        )
    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in texts.items()],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.dup_token_count, r.n_spans, r.kept_hash)
        for r in strip_dup_spans(df, n=n).collect()
    }
    assert got == want


# --- True throttle vs plain-Python reference ---------------------------------

@given(
    offsets=st.lists(
        st.integers(min_value=0, max_value=2000),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    gap=st.integers(min_value=1, max_value=900),
)
@settings(**_SETTINGS)
def test_throttle_matches_python_model(spark, offsets, gap):
    """Random dense bursts: the distributed fold must keep exactly the
    greedy sequential set (each kept event restarts the clock)."""
    from datetime import datetime, timedelta

    from flink_streaming_demo_spark.operators.throttle import (
        throttle_kept_events,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (i, 1, "click", base + timedelta(seconds=off))
        for i, off in enumerate(sorted(offsets))
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = sorted(r.event_id for r in throttle_kept_events(df, gap).collect())
    want, last = [], None
    for i, off in enumerate(sorted(offsets)):
        if last is None or off > last + gap:
            want.append(i)
            last = off
    assert got == want


def _py_fire_replay(events: list[tuple[int, int]], threshold: int):
    """Reference model of the EarlyCountTrigger (reference:
    EarlyArrivalCount.scala:117-160): counter accumulates per event in
    (ts, cnt) order, fires the RUNNING TOTAL when counter >= T, resets
    the counter to 0 (overshoot discarded); one final row with the pane
    total and fire_seq = number of partials."""
    rows = []
    counter = total = seq = 0
    for _, cnt in sorted(events):
        total += cnt
        counter += cnt
        if counter >= threshold:
            rows.append((total, False, seq))
            seq += 1
            counter = 0
    rows.append((total, True, seq))
    return rows


@given(
    panes=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=100),  # ts
                st.integers(min_value=0, max_value=30),  # passenger_cnt
            ),
            min_size=1,
            max_size=25,
        ),
        min_size=1,
        max_size=4,
    ),
    threshold=st.integers(min_value=1, max_value=40),
)
@settings(max_examples=60, deadline=None)
def test_fire_jump_oracle_matches_python_replay(panes, threshold):
    """The recursive-CTE jump recurrence (operators/early_fire.
    sql_fire_jump — the registered taxi_early_arrival_fires oracle) must
    emit EXACTLY the Python trigger replay on arbitrary event sequences:
    zero-count events, ties, overshoot, multi-pane. Pure DuckDB vs
    Python — no Spark — so it affords real example counts; this is the
    independent-proof leg for the r8 oracle upgrade that made the fires
    query hash-checked."""
    import duckdb

    from flink_streaming_demo_spark.operators.early_fire import (
        sql_fire_jump,
    )

    con = duckdb.connect()
    values = ", ".join(
        f"({cell}, TIMESTAMP '2024-01-01 00:00:00', {ts}, {cnt})"
        for cell, evs in enumerate(panes)
        for ts, cnt in evs
    )
    con.execute(
        f"CREATE TABLE expanded AS SELECT * FROM (VALUES {values}) "
        "t(cell, w_start, ts, passenger_cnt)"
    )
    got = {}
    for cell, cnt, is_final, seq in con.execute(
        f"WITH RECURSIVE {sql_fire_jump('expanded', threshold)} "
        "SELECT cell, cnt, is_final, fire_seq FROM fire_rows "
        "ORDER BY cell, fire_seq"
    ).fetchall():
        got.setdefault(cell, []).append((cnt, is_final, seq))
    for cell, evs in enumerate(panes):
        assert got[cell] == _py_fire_replay(evs, threshold), (
            cell, evs, threshold,
        )


def _md5_pos(key, j: int, modulus: int) -> int:
    """Python model of operators/scale._sketch_pos: 60 bits of
    md5('<j>:<key>') mod modulus."""
    import hashlib

    h = hashlib.md5(f"{j}:{key}".encode()).hexdigest()
    return int(h[:15], 16) % modulus


@given(
    keys=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1,
                  max_size=60),
    probes=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1,
                    max_size=30),
)
@settings(**_SETTINGS)
def test_bloom_matches_python_bit_model(spark, keys, probes):
    """The Spark Bloom expressions must equal an independent Python model
    of the same arithmetic (word table AND membership verdicts) — not
    just DuckDB, which shares the SQL-ish formulation; this model shares
    only the spec. Includes both present probes (must be True) and
    arbitrary probes (must match the model bit-for-bit)."""
    from flink_streaming_demo_spark.operators import scale

    m_bits, k, wb = 512, 5, 63
    words: dict[int, int] = {}
    for key in set(keys):
        for j in range(k):
            pos = _md5_pos(key, j, m_bits)
            words[pos // wb] = words.get(pos // wb, 0) | (1 << (pos % wb))

    def model_member(key) -> bool:
        return all(
            words.get(
                _md5_pos(key, j, m_bits) // wb, 0
            ) >> (_md5_pos(key, j, m_bits) % wb) & 1
            for j in range(k)
        )

    df = spark.createDataFrame([(k_,) for k_ in keys], "key long")
    sketch = scale.bloom_partial(df, [], "key", m_bits=m_bits, k=k)
    got_words = {r.word: r.bits for r in sketch.collect()}
    assert got_words == words
    probe_df = spark.createDataFrame(
        [(p,) for p in set(probes) | set(keys)], "key long"
    )
    got = {
        r.key: r.maybe_member
        for r in scale.bloom_maybe_contains(
            sketch, probe_df, [], "key", m_bits=m_bits, k=k
        ).collect()
    }
    assert got == {p: model_member(p) for p in set(probes) | set(keys)}


@given(
    keys=st.lists(st.integers(min_value=0, max_value=100), min_size=1,
                  max_size=80),
)
@settings(**_SETTINGS)
def test_cms_matches_python_counter_model(spark, keys):
    """CMS grid and point estimates vs a plain-Python model of the same
    row-salted hashing; and est >= exact from collections.Counter."""
    from collections import Counter

    from flink_streaming_demo_spark.operators import scale

    depth, width = 3, 32
    grid: dict[tuple[int, int], int] = {}
    for key in keys:
        for j in range(depth):
            c = _md5_pos(key, j, width)
            grid[(j, c)] = grid.get((j, c), 0) + 1

    def model_est(key) -> int:
        return min(
            grid.get((j, _md5_pos(key, j, width)), 0) for j in range(depth)
        )

    df = spark.createDataFrame([(k_,) for k_ in keys], "key long")
    sketch = scale.cms_partial(df, [], "key", depth=depth, width=width)
    assert {(r.row, r.col): r.cnt for r in sketch.collect()} == grid
    probe_df = spark.createDataFrame(
        [(p,) for p in set(keys)], "key long"
    )
    got = {
        r.key: r.cms_count
        for r in scale.cms_estimate(
            sketch, probe_df, [], "key", depth=depth, width=width
        ).collect()
    }
    exact = Counter(keys)
    for p in set(keys):
        assert got[p] == model_est(p)
        assert got[p] >= exact[p]


@given(
    values=st.lists(
        st.floats(min_value=-10.0, max_value=600.0, allow_nan=False),
        min_size=2, max_size=80,
    ),
    q=st.sampled_from([0.25, 0.5, 0.9, 0.99]),
)
@settings(**_SETTINGS)
def test_hist_quantile_matches_python_model(spark, values, q):
    """Histogram bins and interpolated quantile vs a plain-Python model
    of the identical clamp/floor/cumulative arithmetic (covers values
    outside [lo, hi) clamping into edge bins)."""
    from flink_streaming_demo_spark.operators import scale

    lo, hi, n_bins = 0.0, 512.0, 16
    width = (hi - lo) / n_bins
    bins: dict[int, int] = {}
    for v in values:
        b = min(max(int((v - lo) // width), 0), n_bins - 1)
        bins[b] = bins.get(b, 0) + 1
    n = len(values)
    target = q * n
    cum = 0
    model = None
    for b in sorted(bins):
        before, cum = cum, cum + bins[b]
        if cum >= target and before < target:
            model = round(
                lo + (b + (target - before) / bins[b]) * width, 6
            )
            break

    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    sketch = scale.hist_partial(df, [], "v", lo, hi, n_bins)
    assert {(r.bin): r.cnt for r in sketch.collect()} == bins
    got = scale.hist_quantiles(sketch, [], [q], lo, hi, n_bins).collect()
    assert len(got) == 1 and got[0].hist_quantile == model


def _kmv_model(keys: set, k: int) -> list[float]:
    import hashlib

    fr = sorted(
        int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16) / 16.0 ** 15
        for x in keys
    )
    return fr[:k]


@given(
    a=st.sets(st.integers(min_value=0, max_value=10_000), max_size=60),
    b=st.sets(st.integers(min_value=0, max_value=10_000), max_size=60),
    k=st.sampled_from([4, 8, 16]),
)
@settings(**_SETTINGS)
def test_kmv_set_ops_matches_python_model(spark, a, b, k):
    """kmv_set_ops replays a pure-Python model of the Beyer et al.
    estimator exactly (union sketch, membership counts, integer-div
    intersection) on arbitrary small key sets — including the exact
    regime (|A ∪ B| < k), the estimated regime, and empty sides."""
    from flink_streaming_demo_spark.operators import scale

    if not a or not b:
        return
    rows = [("a", x) for x in a] + [("b", x) for x in b]
    df = spark.createDataFrame(rows, "g string, key long")
    got = scale.kmv_set_ops(
        scale.kmv_partial(df, ["g"], "key", k=k), "g", k=k
    ).collect()
    assert len(got) == 1
    r = got[0]
    sk_a, sk_b = _kmv_model(a, k), _kmv_model(b, k)
    u = sorted(set(sk_a) | set(sk_b))[:k]
    k_int = sum(1 for x in u if x in sk_a and x in sk_b)
    if len(u) < k:
        want_union = len(u)
        want_inter = k_int
    else:
        want_union = int((k - 1) / u[-1])
        want_inter = (k_int * want_union) // k
    assert r.union_distinct == want_union
    assert r.intersect_distinct == want_inter
    assert abs(r.jaccard - round(k_int / len(u), 6)) < 1e-12


def _py_lateness_profile(
    events: list[tuple[str, int, int]], epochs: list[int]
) -> dict[str, tuple[int, int, int, int, int]]:
    """Reference model for operators/lateness: events = (type, ets_us,
    epoch); wm at epoch e = max ets over strictly earlier epochs."""
    from flink_streaming_demo_spark.operators.lateness import (
        DROP_THRESHOLD_S,
    )

    out: dict[str, list[int]] = {}
    for typ, ets, ep in events:
        earlier = [e2 for (_, e2, p2) in events if p2 < ep]
        wm = max(earlier) if earlier else None
        late_s = max(0, (wm - ets) // 1_000_000) if wm is not None else 0
        is_late = wm is not None and wm > ets
        agg = out.setdefault(typ, [0, 0, 0, 0, 0])
        agg[0] += 1
        agg[1] += 1 if is_late else 0
        agg[2] = max(agg[2], late_s)
        agg[3] += late_s
        agg[4] += 1 if late_s > DROP_THRESHOLD_S else 0
    return {t: tuple(v) for t, v in out.items()}


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=400_000_000),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_lateness_epoch_profile_and_merge_match_model(spark, events):
    """The per-epoch lateness profile must match the Python model, and
    folding per-epoch partials through merge_profiles (the streaming
    maintainer's algebra) must land on the same result as the one-shot
    profile — associativity of the SUM/MAX merge over epoch order."""
    from flink_streaming_demo_spark.operators import lateness as L

    df = spark.createDataFrame(
        [(t, e, p) for (t, e, p) in events],
        "event_type string, ets_us long, epoch int",
    )
    late = L.lateness_vs_epoch_watermark(df, "epoch")
    got = {
        r.event_type: (
            r.n_events, r.n_late, r.max_late_s, r.sum_late_s,
            r.n_dropped_60s,
        )
        for r in L.lateness_profile_ints(late).collect()
    }
    assert got == _py_lateness_profile(events, sorted({p for *_, p in events}))
    # streaming algebra: fold epoch partials in order with the
    # store-carried watermark, exactly what the monitor body does
    acc = None
    wm = None
    for ep in sorted({p for *_, p in events}):
        batch = df.filter(F.col("epoch") == ep)
        part = L.lateness_profile_ints(
            L.lateness_vs_fixed_watermark(batch, wm)
        )
        acc = part if acc is None else L.merge_profiles(acc, part)
        batch_max = batch.agg(F.max("ets_us")).first()[0]
        wm = batch_max if wm is None else max(wm, batch_max)
    folded = {
        r.event_type: (
            r.n_events, r.n_late, r.max_late_s, r.sum_late_s,
            r.n_dropped_60s,
        )
        for r in acc.collect()
    }
    assert folded == got


_GRAM_TEXT = st.text(
    alphabet=st.sampled_from(list("ab |é¢")),  # spaces + unicode + runs
    max_size=24,
)


@given(texts=st.lists(_GRAM_TEXT, max_size=8))
@settings(**_SETTINGS)
@pytest.mark.slow
def test_vectorized_gram_twins_match_expression_forms(spark, texts):
    """The Arrow extraction twins must match their expression forms on
    ADVERSARIAL text — consecutive/leading/trailing spaces (empty
    tokens), unicode, empty strings — not just the single-space corpus:
    shingle_rows vs explode(shingles), _token_gram_rows vs posexplode
    (_guarded_ngrams), winnow_fingerprint_stats vs winnow_fingerprints.
    This pins py_token_grams' split(' ') convention (keep empties,
    UTF-8 hashing) against Spark's split semantics."""
    from flink_streaming_demo_spark.functions import text as TX
    from flink_streaming_demo_spark.operators.dedup import (
        SHINGLE_N,
        _token_gram_rows,
        shingle_rows,
        shingles,
        tokens,
    )
    from flink_streaming_demo_spark.plans.text_queries import (
        SPAN_N,
        _guarded_ngrams,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows or [(0, "x")], "doc_id long, text string"
    )
    if not rows:
        df = df.filter("doc_id < 0")

    old_sh = df.filter(
        F.size(tokens(F.col("text"))) >= SHINGLE_N
    ).select("doc_id", F.explode(shingles(F.col("text"))).alias("shingle"))
    new_sh = shingle_rows(df, "doc_id")
    assert old_sh.exceptAll(new_sh).count() == 0
    assert new_sh.exceptAll(old_sh).count() == 0

    old_ng = df.select(
        "doc_id",
        F.posexplode(_guarded_ngrams(F.col("text"), SPAN_N)).alias(
            "pos0", "gram"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("s"), "gram")
    new_ng = _token_gram_rows(df, SPAN_N)
    assert old_ng.exceptAll(new_ng).count() == 0
    assert new_ng.exceptAll(old_ng).count() == 0

    old_wf = TX.winnow_fingerprints(df)
    new_wf = TX.winnow_fingerprint_stats(df)
    assert old_wf.exceptAll(new_wf).count() == 0
    assert new_wf.exceptAll(old_wf).count() == 0


def _strip_model(texts: list[str], n: int) -> dict[int, tuple]:
    """Reference model of strip_dup_spans: brute-force gram index,
    coverage by any >= 2-doc gram window, gaps-and-islands span count,
    md5 of the space-joined residue."""
    import hashlib

    grams: dict[str, set[int]] = {}
    toks_by_doc = {}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        toks_by_doc[i] = toks
        for s in range(len(toks) - n + 1):
            grams.setdefault(" ".join(toks[s : s + n]), set()).add(i)
    out = {}
    for i, toks in toks_by_doc.items():
        nt = len(toks)
        covered = [False] * nt
        for s in range(nt - n + 1):
            if len(grams[" ".join(toks[s : s + n])]) >= 2:
                for j in range(s, s + n):
                    covered[j] = True
        spans = sum(
            1
            for j in range(nt)
            if covered[j] and (j == 0 or not covered[j - 1])
        )
        kept = " ".join(t for t, c in zip(toks, covered) if not c)
        out[i] = (
            nt,
            sum(covered),
            spans,
            hashlib.md5(kept.encode()).hexdigest(),
        )
    return out


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=14
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_strip_dup_spans_matches_brute_force(spark, docs):
    """The vectorized gram pass + numpy interval sweep must equal the
    brute-force coverage model on tiny-alphabet corpora that force
    organic cross-doc repeats, overlapping spans, and fully-covered
    docs (n = 3 keeps windows short enough to overlap)."""
    from flink_streaming_demo_spark.plans.text_queries import (
        strip_dup_spans,
    )

    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (
            r.n_tokens,
            r.dup_token_count,
            r.n_spans,
            r.kept_hash,
        )
        for r in strip_dup_spans(df, n=3).collect()
    }
    assert got == _strip_model(texts, 3)


def _gate_model(vecs, slices, n_cent, threshold):
    """Reference model for cell_neardup_gate's slice replay: nearest
    centroid by round-6 cosine (centroid_id tiebreak), candidates =
    strictly-earlier-slice same-cell vectors, verdict near_dup iff some
    candidate's round-6 cosine >= threshold, dup_of = max-cosine
    candidate with lowest-id tiebreak. Plain python floats: integer
    vector components keep dots exact, so both engines see identical
    doubles before the shared round-6 grid."""
    import math

    def dot(a, b):
        return float(sum(x * y for x, y in zip(a, b)))

    def cos(a, b):
        return round(
            dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))), 6
        )

    cents = list(range(n_cent))

    def cell_of(v):
        return max(cents, key=lambda c: (cos(v, vecs[c]), -c))

    cells = {i: cell_of(v) for i, v in enumerate(vecs)}
    out = {}
    for i, v in enumerate(vecs):
        cands = [
            (cos(v, vecs[j]), j)
            for j in range(len(vecs))
            if slices[j] < slices[i] and cells[j] == cells[i]
        ]
        hits = [(c, j) for c, j in cands if c >= threshold]
        if not hits:
            out[i] = ("new", -1, None)
        else:
            c, j = max(hits, key=lambda t: (t[0], -t[1]))
            out[i] = ("near_dup", j, c)
    return out


@given(
    comps=st.lists(
        st.tuples(*(st.integers(min_value=0, max_value=9),) * 4),
        min_size=3,
        max_size=14,
    ),
    slice_seed=st.integers(min_value=0, max_value=1000),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_cell_neardup_gate_matches_python_model(spark, comps, slice_seed):
    from flink_streaming_demo_spark.operators import similarity as SIM

    # no zero vectors (norms must be positive); integer components keep
    # the pre-round doubles bit-identical between engines
    vecs = [(c0 + 1, c1, c2, c3) for c0, c1, c2, c3 in comps]
    slices = [(i * 7 + slice_seed) % 3 for i in range(len(vecs))]
    n_cent, threshold = 2, 0.4
    want = _gate_model(vecs, slices, n_cent, threshold)

    df = spark.createDataFrame(
        [
            (i, [float(x) for x in v], slices[i])
            for i, v in enumerate(vecs)
        ],
        "vec_id long, embedding array<double>, slice int",
    )
    cent = df.filter(F.col("vec_id") < n_cent).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    got = {}
    for k in sorted(set(slices)):
        batch = df.filter(F.col("slice") == k).select("vec_id", "embedding")
        prior = df.filter(F.col("slice") < k).select("vec_id", "embedding")
        store = (
            SIM.assign_to_centroids(prior, cent, 1)
            if prior.head(1)
            else None
        )
        for r in SIM.cell_neardup_gate(
            batch, store, cent, threshold
        ).collect():
            got[r.vec_id] = (r.verdict, r.dup_of, r.cos_sim)
    assert got == want


# --- Cross-doc exact-substring spans vs brute-force diagonal model -----------

def _check_cross_doc_vs_brute_force(spark, docs_tokens, min_span):
    """Shared brute-force oracle for cross_doc_spans/strip at ANY
    min_span operating point: a direct O(L^2)-per-pair diagonal scan —
    for every doc b and every higher-priority doc a < b, matched-token
    runs of >= min_span on each alignment diagonal cover positions of
    b; the union of covered positions forms the maximal spans. The
    viral caps are lifted so the model can ignore them."""
    texts = {i + 1: toks for i, toks in enumerate(docs_tokens)}
    want = set()
    for b, tb in texts.items():
        covered: set[int] = set()
        for a, ta in texts.items():
            if a >= b:
                continue
            for d in range(-(len(tb) - 1), len(ta)):
                j = max(0, -d)
                run = 0
                while j <= len(tb):
                    i = j + d
                    if (
                        j < len(tb)
                        and 0 <= i < len(ta)
                        and tb[j] == ta[i]
                    ):
                        run += 1
                    else:
                        if run >= min_span:
                            covered.update(
                                range(j - run + 1, j + 1)
                            )  # 1-based
                        run = 0
                    j += 1
        for start in sorted(covered):
            if start - 1 in covered:
                continue
            end = start
            while end + 1 in covered:
                end += 1
            want.add((b, start, end, end - start + 1))
    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in texts.items()],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup.cross_doc_spans(
            df, min_span=min_span, max_fp_df=10**6, max_gram_df=10**6
        ).collect()
    }
    assert got == want
    # the strip form must agree with the same covered-position model:
    # per doc (n_tokens, covered count, island count, residue hash)
    import hashlib

    want_strip = {}
    covered_by_doc = {
        b: {
            j
            for (bb, st, en, _n) in want
            if bb == b
            for j in range(st, en + 1)
        }
        for b in texts
    }
    for b, tb in texts.items():
        cov = covered_by_doc[b]
        kept = " ".join(
            t for j, t in enumerate(tb, start=1) if j not in cov
        )
        want_strip[b] = (
            len(tb),
            len(cov),
            sum(1 for j in cov if j - 1 not in cov),
            hashlib.md5(kept.encode()).hexdigest(),
        )
    got_strip = {
        r.doc_id: (r.n_tokens, r.dup_token_count, r.n_spans, r.kept_hash)
        for r in dedup.cross_doc_strip(
            df, min_span=min_span, max_fp_df=10**6, max_gram_df=10**6
        ).collect()
    }
    assert got_strip == want_strip


@given(
    docs_tokens=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]),
            min_size=1,
            max_size=18,
        ),
        min_size=2,
        max_size=4,
    ),
)
@settings(**_SETTINGS)
def test_cross_doc_spans_matches_brute_force(spark, docs_tokens):
    """min_span = 6 is exactly the winnow detection guarantee
    (W + K - 1), so the index stage may not miss any qualifying pair;
    a 3-token vocabulary makes shared >= 6-runs dense at 18-token
    docs. Model: _check_cross_doc_vs_brute_force."""
    _check_cross_doc_vs_brute_force(spark, docs_tokens, min_span=6)


@given(
    docs_tokens=st.lists(
        st.lists(
            # heavily skewed vocabulary: long shared runs are common,
            # so the min_span = 25 operating point gets dense POSITIVE
            # coverage (a uniform vocab would almost never share a
            # 25-token run and the test would only exercise negatives)
            st.sampled_from(["a", "a", "a", "a", "b"]),
            min_size=1,
            max_size=60,
        ),
        min_size=2,
        max_size=3,
    ),
)
@settings(**_SETTINGS)
def test_cross_doc_spans_matches_brute_force_min_span_25(
    spark, docs_tokens
):
    """Second min_span operating point (r14 verdict #6): the contract
    is parameterized but every green row exercises 12 — Lee et al.
    production uses ~50. min_span = 25 >> the winnow guarantee of 6, so
    this pins that the guard + detection hold when the qualifying-run
    bar sits far above the index's detection floor (every >= 25-run
    still shares a fingerprint; shorter shared runs produce candidate
    pairs whose diagonals must then be FILTERED, exercising the
    run-length cut)."""
    _check_cross_doc_vs_brute_force(spark, docs_tokens, min_span=25)
