"""Behavioral tests for dedup operators on crafted fixtures (the testdata
corpus has no organic duplicates; these pin down semantics)."""

from __future__ import annotations

from flink_streaming_demo_spark.operators import dedup


def _corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),     # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog tail"),  # near dup
        (4, "completely different words entirely here now folks"),
        (5, "short text"),                                       # < 3 tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark):
    out = dedup.exact_dedup(_corpus(spark)).select("doc_id").collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == [1, 3, 4, 5]  # 2 dropped (dup of 1)


def test_exact_dedup_groups_counts(spark):
    groups = {
        r.keep_id: r.n_copies
        for r in dedup.exact_dedup_groups(_corpus(spark)).collect()
    }
    assert groups[1] == 2
    assert groups[3] == 1


def test_minhash_finds_near_dup_pair(spark):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(_corpus(spark), threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical text
    assert (1, 3) in pairs  # near dup collides in some band
    assert not any({a, b} == {1, 4} for a, b in pairs)  # unrelated docs


def test_ngram_jaccard_exact_values(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(_corpus(spark), threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # doc1 has 7 shingles, doc3 has 8, sharing 7 -> 7/8
    assert abs(pairs[(1, 3)] - 7 / 8) < 1e-9
    assert not any({a, b} == {1, 4} for a, b in pairs)


def test_short_docs_excluded(spark):
    pairs = dedup.minhash_lsh_pairs(_corpus(spark), threshold=0.0).collect()
    assert not any(5 in (r.id_a, r.id_b) for r in pairs)


def test_simhash_neardup_identical_pair(spark):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_neardup_pairs(_corpus(spark)).collect()
    }
    assert pairs[(1, 2)] == 0  # identical text -> identical simhash
    assert not any({a, b} == {1, 4} for a, b in pairs)  # unrelated docs
    assert all(h <= 1 for h in pairs.values())


def test_simhash64_banded_recall_equals_brute_force(spark):
    """The 4x16-band equi-join must find EXACTLY the pairs a brute-force
    all-pairs hamming <= 3 scan finds (pigeonhole recall), on a corpus
    with identical, near, and unrelated docs."""
    from itertools import combinations

    from flink_streaming_demo_spark.functions.text import simhash64_agg

    df = _corpus(spark)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash64_neardup_pairs(df, max_hamming=3).collect()
    }
    sigs = {r.doc_id: r.simhash for r in simhash64_agg(df).collect()}
    want = {}
    for a, b in combinations(sorted(sigs), 2):
        h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
        if h <= 3:
            want[(a, b)] = h
    assert got == want
    assert got[(1, 2)] == 0  # identical text -> hamming 0
    assert not any({a, b} == {1, 4} for a, b in got)  # unrelated docs


def test_simhash64_bands_encode_signature(spark):
    """bands[k] must be exactly bits 16k+1..16k+16 of the signature string
    (the hamming computation depends on it)."""
    from flink_streaming_demo_spark.functions.text import simhash64_agg

    for r in simhash64_agg(_corpus(spark)).collect():
        assert len(r.simhash) == 64
        for k in range(4):
            assert r.bands[k] == int(r.simhash[16 * k:16 * (k + 1)], 2)


def test_simhash64_radius_guard(spark):
    import pytest

    with pytest.raises(NotImplementedError):
        dedup.simhash64_neardup_pairs(_corpus(spark), max_hamming=4)


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_connected_components_chain(spark):
    """A path graph exercises the O(log n) rounds: 1-2-3-4-5-6-7-8 is one
    component with min 1, even though no pair connects 1 to 8 directly."""
    edges = _pairs_df(spark, [(i, i + 1) for i in range(1, 8)] + [(10, 11)])
    got = {
        r.node: r.component
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {**{i: 1 for i in range(1, 9)}, 10: 10, 11: 10}


def test_connected_components_direction_and_dups(spark):
    """Pair direction and duplicate/reflexive edges must not matter."""
    edges = _pairs_df(
        spark, [(5, 3), (3, 5), (3, 1), (5, 5), (7, 9), (9, 7)]
    )
    got = {
        r.node: r.component
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {1: 1, 3: 1, 5: 1, 7: 7, 9: 7}


def test_connected_components_empty(spark):
    edges = _pairs_df(spark, []).filter("id_a > 0")
    assert dedup.connected_components(edges).count() == 0


def test_dedup_clusters_one_survivor_per_chain(spark):
    """A~B, B~C (no A~C pair) must keep exactly ONE of {A, B, C} — the
    per-pair anti-join would keep two."""
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4)], "doc_id long"
    )
    pairs = _pairs_df(spark, [(1, 2), (2, 3)])
    rows = {
        r.doc_id: (r.cluster_id, r.is_survivor)
        for r in dedup.dedup_clusters(docs, pairs).collect()
    }
    assert rows == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        4: (4, True),
    }
    n_survivors = sum(1 for _, s in rows.values() if s)
    assert n_survivors == 2  # one per cluster: {1,2,3} and {4}


def test_repeated_ngram_spans_counts(spark):
    """Cross-doc 4-grams are reported with doc/occurrence counts;
    single-doc and sub-length spans are not."""
    from flink_streaming_demo_spark.plans.text_queries import (
        repeated_ngram_spans,
    )
    import hashlib

    shared = "a b c d"
    docs = spark.createDataFrame(
        [
            (0, "a b c d x y z w"),       # shared once
            (1, "q a b c d a b c d"),     # shared twice (within-doc repeat)
            (2, "u v w x"),               # no overlap with others
            (3, "a b c"),                 # too short for 4-grams
        ],
        "doc_id long, text string",
    )
    out = {
        r.gram_hash: r for r in repeated_ngram_spans(docs, n=4).collect()
    }
    key = hashlib.md5(shared.encode()).hexdigest()
    assert key in out
    assert out[key].n_docs == 2
    assert out[key].n_occurrences == 3
    assert out[key].first_doc == 0
    # "b c d a" etc. appear only inside doc 1 -> excluded (n_docs < 2)
    only_cross_doc = all(r.n_docs >= 2 for r in out.values())
    assert only_cross_doc
    assert hashlib.md5(b"u v w x").hexdigest() not in out


def test_source_overlap_matrix_counts_and_cap(spark):
    from flink_streaming_demo_spark.operators.dedup import (
        source_overlap_matrix,
    )

    docs = spark.createDataFrame(
        [
            ("A", "w x y z"),        # shingles: "w x y", "x y z"
            ("B", "w x y q"),        # shares "w x y" with A
            ("C", "p q r s"),        # no overlap with A/B
            ("D", "w x y z"),        # identical to A
        ],
        "source string, text string",
    )
    out = {
        (r.source_a, r.source_b): r
        for r in source_overlap_matrix(docs).collect()
    }
    assert out[("A", "B")].n_shared == 1
    assert out[("A", "D")].n_shared == 2
    assert out[("A", "D")].overlap_coef == 1.0
    assert ("A", "C") not in out and ("B", "C") not in out
    # "w x y" lives in 3 sources; cap 2 removes it -> only A-D overlap
    # survives (via "x y z").
    capped = {
        (r.source_a, r.source_b): r.n_shared
        for r in source_overlap_matrix(
            docs, max_shingle_sources=2
        ).collect()
    }
    assert capped == {("A", "D"): 1}


def test_chunk_minhash_catches_partial_dup_doc_level_misses(spark):
    """A doc embedding one copied 64-token section of another scores
    below the doc-level Jaccard threshold, but the chunk pair hits
    est_jaccard 1.0 — run both ops over the same two docs."""
    from pyspark.sql import functions as F

    from flink_streaming_demo_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from flink_streaming_demo_spark.plans.text_queries import (
        CHUNK_OVERLAP,
        CHUNK_TOKENS,
        _CHUNK_STRIDE,
    )

    section = " ".join(f"s{i}" for i in range(CHUNK_TOKENS))
    filler = " ".join(f"u{i}" for i in range(3 * _CHUNK_STRIDE))
    docs = spark.createDataFrame(
        [(1, section), (2, filler + " " + section)],
        "doc_id long, text string",
    )
    assert minhash_lsh_pairs(docs).count() == 0  # doc level: no pair

    chunks = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, greatest(size(toks) - "
                    f"{CHUNK_OVERLAP}, 1), {_CHUNK_STRIDE}), "
                    f"s -> slice(toks, s, {CHUNK_TOKENS}))"
                )
            ).alias("chunk_idx", "chunk_toks"),
        )
        .select(
            (F.col("doc_id") * 100 + F.col("chunk_idx")).alias("chunk_uid"),
            F.concat_ws(" ", "chunk_toks").alias("text"),
        )
    )
    hits = minhash_lsh_pairs(chunks, id_col="chunk_uid").filter(
        (F.col("id_a") / 100).cast("bigint")
        != (F.col("id_b") / 100).cast("bigint")
    )
    got = hits.collect()
    assert any(
        r.id_a == 100 and r.id_b == 203 and r.est_jaccard == 1.0
        for r in got
    ), got


def test_pagerank_matches_numpy_power_iteration(spark):
    """3-iteration PageRank on a planted graph (3-leaf star + separate
    edge) equals an explicit numpy replay of the same recurrence."""
    import numpy as np

    from flink_streaming_demo_spark.operators import graph

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r for r in graph.pagerank(edges).collect()}
    nodes = [0, 1, 2, 3, 10, 11]
    idx = {v: i for i, v in enumerate(nodes)}
    adj = np.zeros((6, 6))
    for a, b in [(0, 1), (0, 2), (0, 3), (10, 11)]:
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1
    deg = adj.sum(axis=1)
    r = np.full(6, 1 / 6)
    for _ in range(graph.ITERATIONS):
        r = (1 - graph.DAMPING) / 6 + graph.DAMPING * (adj.T @ (r / deg))
    for v in nodes:
        assert got[v].degree == int(deg[idx[v]])
        assert abs(got[v].pr - r[idx[v]]) < 2e-6, v
    # the star center out-ranks the pendant pair; mass sums to ~1
    assert got[0].pr > got[10].pr
    assert abs(sum(x.pr for x in got.values()) - 1.0) < 1e-5


def test_fuzzy_link_full_recall_on_planted_typos(spark, sf_dir):
    """Symmetric-deletion blocking guarantees distance<=1 recall: every
    planted dirty record links back to its origin, and every match is a
    verified distance-1 pair with contiguous ranks."""
    from flink_streaming_demo_spark.plans.text_queries import (
        link_fuzzy_customers,
    )

    out = link_fuzzy_customers(spark, sf_dir).toPandas()
    n_dirty = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter("c_custkey % 7 = 0")
        .count()
    )
    assert out["dirty_id"].nunique() == n_dirty  # no dirty row unmatched
    assert (out["edit_distance"] == 1).all()
    by_dirty = out.groupby("dirty_id")
    for did, grp in by_dirty:
        assert (did - 10_000_000) in set(grp["clean_id"]), did
        assert sorted(grp["match_rank"]) == list(range(1, len(grp) + 1))


def test_split_leakage_accounts_for_all_neardup_pairs(spark, sf_dir):
    """The 3x3 split cells partition the exact near-dup pair set, and
    the planted copies do leak across splits (the condition the audit
    exists to expose: per-key hash splitting cannot see near-dups)."""
    from flink_streaming_demo_spark.plans.text_queries import (
        decon_split_leakage,
        dedup_minhash_lsh,
    )

    cells = decon_split_leakage(spark, sf_dir).collect()
    n_pairs = dedup_minhash_lsh(spark, sf_dir).count()
    assert sum(r.n_pairs for r in cells) == n_pairs
    assert all(r.is_leak == (r.split_a != r.split_b) for r in cells)
    assert sum(r.n_pairs for r in cells if r.is_leak) > 0


def test_cluster_keyed_split_eliminates_leakage(spark, sf_dir):
    """Under the cluster-keyed split, no near-dup pair straddles splits:
    only diagonal cells appear, and they still account for every pair."""
    from flink_streaming_demo_spark.plans.text_queries import (
        decon_split_by_cluster,
        dedup_minhash_lsh,
    )

    cells = decon_split_by_cluster(spark, sf_dir).collect()
    assert all(not r.is_leak for r in cells)
    assert all(r.split_a == r.split_b for r in cells)
    n_pairs = dedup_minhash_lsh(spark, sf_dir).count()
    assert sum(r.n_pairs for r in cells) == n_pairs


def test_keep_decisions_agree_with_pipeline_output(spark, sf_dir):
    """The audit's kept set is exactly pipeline_clean_corpus's output,
    reasons follow the stage precedence, and every corpus doc gets
    exactly one decision row."""
    from flink_streaming_demo_spark.plans.text_queries import (
        _planted_corpus,
        pipeline_clean_corpus,
        pipeline_keep_decisions,
    )

    dec = pipeline_keep_decisions(spark, sf_dir).toPandas()
    assert len(dec) == _planted_corpus(spark, sf_dir).count()
    kept_audit = set(dec[dec.kept]["doc_id"])
    kept_pipeline = {
        r.doc_id for r in pipeline_clean_corpus(spark, sf_dir).collect()
    }
    assert kept_audit == kept_pipeline
    assert ((dec["reason"] == "kept") == dec["kept"]).all()
    assert (dec.loc[~dec.quality_pass, "reason"] == "quality").all()
    # planted exact copies never survive exact dedup
    from flink_streaming_demo_spark.plans.text_queries import (
        EXACT_OFFSET,
        NEAR_OFFSET,
    )

    exact_copy = dec[
        (dec.doc_id >= EXACT_OFFSET) & (dec.doc_id < NEAR_OFFSET)
    ]
    assert not exact_copy["kept"].any()


def test_incremental_dedup_verdict_classes(spark, sf_dir):
    """The three planted incoming classes must get their verdicts: exact
    copies -> exact_dup matched to their source doc; tail-appended near
    copies -> near_dup matched to their source; token-reversed docs ->
    never matched to their own source as exact."""
    from flink_streaming_demo_spark.plans.text_queries import (
        EXACT_OFFSET,
        NEAR_OFFSET,
        NEW_OFFSET,
        dedup_incremental,
    )

    rows = {r.doc_id: r for r in dedup_incremental(spark, sf_dir).collect()}
    exact_ids = [i for i in rows if EXACT_OFFSET <= i < NEAR_OFFSET]
    near_ids = [i for i in rows if NEAR_OFFSET <= i < NEW_OFFSET]
    new_ids = [i for i in rows if i >= NEW_OFFSET]
    assert exact_ids and near_ids and new_ids
    for i in exact_ids:
        assert rows[i].verdict == "exact_dup"
        assert rows[i].matched_base_id == i - EXACT_OFFSET
    for i in near_ids:
        assert rows[i].verdict == "near_dup"
        # matched_base_id is the MIN matching base doc; the source always
        # matches (tail-append keeps most shingles), but a naturally
        # similar base doc with a lower id may win the min.
        assert rows[i].matched_base_id <= i - NEAR_OFFSET
    # Reversed docs must never be exact dups; shingle order makes a
    # near-dup match against ANY base doc overwhelmingly unlikely, and a
    # planted check on the strongest candidate (its own source) is exact:
    for i in new_ids:
        assert rows[i].verdict != "exact_dup"
        if rows[i].verdict == "near_dup":
            assert rows[i].matched_base_id != i - NEW_OFFSET


def test_incremental_dedup_new_on_disjoint_vocab(spark):
    """A batch with fully disjoint vocabulary is all 'new'."""
    from flink_streaming_demo_spark.operators.dedup import (
        incremental_dedup_decisions,
    )

    base = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "c d e f g h i j")],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [(10, "q r s t u v w x"), (11, "a b c d e f g h")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in
           incremental_dedup_decisions(base, inc).collect()}
    # -1 sentinel (not NULL) for 'new': keeps the column exact int64 in
    # pandas/DuckDB regardless of batch contents (r8 dtype contract)
    assert got[10].verdict == "new" and got[10].matched_base_id == -1
    assert got[11].verdict == "exact_dup" and got[11].matched_base_id == 1


def test_fuzzy_link_long_names_beyond_64_chars(spark):
    """Regression: the deletion-variant suffix must not truncate — a
    92-char name with one inserted char must still share a block key
    with its clean form and link at distance 1."""
    from flink_streaming_demo_spark.operators.dedup import fuzzy_link

    clean_name = "x" * 40 + "abcdefghijklmnopqrstuvwxyz" * 2
    dirty_name = clean_name[:3] + "Q" + clean_name[3:]
    clean = spark.createDataFrame(
        [(1, clean_name)], "clean_id long, clean_name string"
    )
    dirty = spark.createDataFrame(
        [(2, dirty_name)], "dirty_id long, dirty_name string"
    )
    out = fuzzy_link(dirty, clean).collect()
    assert len(out) == 1 and out[0].edit_distance == 1


def test_drop_neardup_clusters_is_idempotent(spark, sf_dir):
    """Docstring contract: survivors contain no qualifying pair, so a
    second pass over the output must be a no-op — the property that
    makes the streaming compaction safe to run on any cadence."""
    from flink_streaming_demo_spark.plans.text_queries import _planted_corpus

    corpus = _planted_corpus(spark, sf_dir)
    once = dedup.drop_neardup_clusters(corpus, threshold=0.5)
    twice = dedup.drop_neardup_clusters(once, threshold=0.5)
    a = sorted(r.doc_id for r in once.select("doc_id").collect())
    b = sorted(r.doc_id for r in twice.select("doc_id").collect())
    assert a == b and len(a) > 0


def test_incremental_dedup_broadcast_gate(spark):
    """The broadcast hint on the incoming side is gated: verdicts are
    IDENTICAL whether the batch is broadcast or shuffled, and with the
    session threshold squeezed to 1 byte the auto mode must NOT plant a
    broadcast hint (so a huge batch degrades to an equi-join instead of
    OOMing executors)."""
    from flink_streaming_demo_spark.operators.dedup import (
        _fits_broadcast,
        incremental_dedup_decisions,
    )

    base = spark.createDataFrame(
        [(i, f"doc {i} body common tail words here {i}") for i in range(30)],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [(100, "doc 3 body common tail words here 3"),
         (101, "totally unrelated fresh vocabulary qqq zzz")],
        "doc_id long, text string",
    )
    want = {r.doc_id: (r.verdict, r.matched_base_id) for r in
            incremental_dedup_decisions(
                base, inc, broadcast_incoming=True).collect()}
    got = {r.doc_id: (r.verdict, r.matched_base_id) for r in
           incremental_dedup_decisions(
               base, inc, broadcast_incoming=False).collect()}
    assert want == got
    assert want[100][0] == "exact_dup" and want[101][0] == "new"
    # gate behavior: unknown stats (RDD-backed local df) -> never force;
    # parquet-backed stats -> broadcast iff within the threshold
    assert not _fits_broadcast(inc)
    import tempfile

    d = tempfile.mkdtemp(prefix="incgate_")
    inc.write.mode("overwrite").parquet(d)
    on_disk = spark.read.parquet(d)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        assert not _fits_broadcast(on_disk)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        assert _fits_broadcast(on_disk)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_containment_catches_subset_pairs_jaccard_misses(spark):
    """A chunk fully embedded in a longer doc must surface with
    containment ~ 1 while its Jaccard sits far below a usable
    threshold; two unrelated docs must not pair at all."""
    from flink_streaming_demo_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    base = " ".join(f"w{i}" for i in range(60))
    chunk = " ".join(f"w{i}" for i in range(20))      # 1/3 prefix
    other = " ".join(f"z{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, base), (2, chunk), (3, other)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r
        for r in ngram_containment_pairs(df, threshold=0.8).collect()
    }
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.containment == 1.0
    assert r.jaccard < 0.5
    # the same pair is invisible to a 0.5-Jaccard dedup
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert not jac


def test_best_survivors_prefers_longest_member(spark, sf_dir):
    """Quality-argmax survivor policy: for every planted near-dup
    cluster (original + tail-extended near copy) the policy must keep
    the LONGER near copy — provably different from the min-id policy —
    while exact-copy clusters (identical token counts) fall back to the
    min-id tie-break, making the two policies agree there."""
    from flink_streaming_demo_spark.plans.text_queries import (
        NEAR_OFFSET,
        dedup_best_survivors,
    )

    rows = dedup_best_survivors(spark, sf_dir).collect()
    assert rows
    near = [r for r in rows if r["best_id"] >= NEAR_OFFSET]
    assert near, "near-copy clusters must exist in the planted corpus"
    for r in near:
        assert r["policy_differs"], r
        assert r["best_tokens"] >= 3  # tail adds three tokens
    ties = [r for r in rows if not r["policy_differs"]]
    for r in ties:
        assert r["best_id"] == r["minid_id"]


def test_cross_source_matrix_accounts_every_pair(spark, sf_dir):
    """The source-pair matrix is a partition of the LSH pair list:
    cell counts must sum to the total number of near-dup pairs, and
    every cell must be canonically ordered (src_a <= src_b)."""
    from flink_streaming_demo_spark.operators import dedup as D
    from flink_streaming_demo_spark.plans.text_queries import (
        _planted_corpus,
        dedup_cross_source_matrix,
    )

    total = D.minhash_lsh_pairs(
        _planted_corpus(spark, sf_dir), threshold=0.5
    ).count()
    rows = dedup_cross_source_matrix(spark, sf_dir).collect()
    assert sum(r["n_pairs"] for r in rows) == total
    for r in rows:
        assert r["src_a"] <= r["src_b"]
        assert 0 <= r["n_exactish"] <= r["n_pairs"]
        assert r["min_est"] <= r["max_est"]


def test_exact_survivors_are_groups_keep_slice(spark, sf_dir):
    """Absorbs the retired dedup_exact_survivors row (r13 verdict #2):
    the survivor corpus returned by exact_dedup() must be exactly the
    (keep_id, text_hash) projection of exact_dedup_groups() on the same
    planted corpus — one driver oracle (dedup_exact_groups) then checks
    both frames."""
    from pyspark.sql import functions as F

    from flink_streaming_demo_spark.plans.text_queries import (
        _planted_corpus,
    )

    corpus = _planted_corpus(spark, sf_dir)
    survivors = dedup.exact_dedup(corpus).select(
        F.col("doc_id"), F.md5("text").alias("text_hash")
    )
    keep_slice = dedup.exact_dedup_groups(corpus).select(
        F.col("keep_id").alias("doc_id"), "text_hash"
    )
    assert survivors.exceptAll(keep_slice).count() == 0
    assert keep_slice.exceptAll(survivors).count() == 0


def test_cluster_size_histogram_planted(spark, sf_dir):
    """Absorbs the retired dedup_cluster_sizes row (r13 verdict #2): the
    cluster-size histogram is a pure two-level groupBy over the
    driver-checked dedup_clusters labels. Pin its invariants on the
    planted corpus: every doc is labeled (singletons form size-1
    clusters), the histogram mass equals the labeled-doc count, and the
    planted exact+near families guarantee multi-member sizes."""
    from pyspark.sql import functions as F

    from flink_streaming_demo_spark.plans.text_queries import (
        dedup_clusters,
    )

    labels = dedup_clusters(spark, sf_dir)
    hist = (
        labels.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .collect()
    )
    assert hist, "planted corpus must produce near-dup clusters"
    total_mass = sum(r.cluster_size * r.n_clusters for r in hist)
    assert total_mass == labels.count()
    assert any(r.cluster_size >= 2 for r in hist), (
        "planted exact/near families must form multi-member clusters"
    )


def test_cross_doc_spans_fixture(spark):
    """Pinned fixture for cross_doc_spans: the lowest-id doc owns a
    shared run; every later doc's occurrence becomes a maximal span;
    runs below min_span are ignored; disjoint docs emit nothing."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa"
    )
    rows = [
        (1, base + " quebec romeo sierra"),  # owner (min doc_id)
        (2, "xx yy " + base + " zz"),        # 16-token copy at offset 2
        (3, "totally different words with no overlap here at all"),
        (4, base),                            # whole doc is the copy
        (5, "p1 p2 p3 " + " ".join(base.split()[:11])),  # 11 < min_span
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in dedup.cross_doc_spans(df, min_span=12).collect()
    )
    assert got == [(2, 3, 18, 16), (4, 1, 16, 16)]


def test_cross_doc_strip_fixture(spark):
    """Pinned fixture for cross_doc_strip: the owner keeps its text
    (untouched hash), a partial copy loses exactly the copied run, a
    whole-copy doc strips to the empty residue, and untouched docs
    hash their original text."""
    import hashlib

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa"
    )
    rows = [
        (1, base + " quebec romeo sierra"),
        (2, "xx yy " + base + " zz"),
        (3, "totally different words with no overlap here at all"),
        (4, base),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.dup_token_count, r.n_spans, r.kept_hash)
        for r in dedup.cross_doc_strip(df, min_span=12).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got == {
        1: (19, 0, 0, md5(rows[0][1])),   # owner: untouched
        2: (19, 16, 1, md5("xx yy zz")),  # copied run stripped
        3: (9, 0, 0, md5(rows[2][1])),    # no overlap: untouched
        4: (16, 16, 1, md5("")),          # whole doc was the copy
    }


def test_cross_doc_spans_min_span_50_fixture(spark):
    """Deterministic pin at the Lee-et-al production operating point
    (min_span ~ 50, r14 verdict #6): a 55-token run shared with a
    higher-priority doc is reported as exactly one 55-token span of the
    lower-priority doc; a 49-token shared run stays BELOW the bar and
    must produce nothing — the qualifying-run cut, not the index
    detection floor, decides."""
    long_run = " ".join(f"tok{i}" for i in range(55))
    short_run = " ".join(f"sho{i}" for i in range(49))
    rows = [
        (1, long_run + " owner tail marker one"),
        (2, "copy lead-in words here " + long_run),
        (3, short_run + " other content entirely"),
        (4, "different head material " + short_run),
        (5, "no overlap with anything at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup.cross_doc_spans(df, min_span=50).collect()
    }
    # doc 2's copy of the 55-run starts after its 4 lead-in tokens
    assert got == {(2, 5, 59, 55)}


def test_cross_doc_gate_caps_are_causal(spark):
    """The gate's viral-fp cap is computed over each batch's CAUSAL
    frame (admitted store + batch), so the SAME incoming document can
    be flagged against a small store and cap-suppressed against a
    grown one — the per-slice semantics the registered oracle replays.
    Pinned deterministically by identical-text docs (they share every
    winnowed fingerprint, so each fp's document frequency equals the
    frame's doc count exactly)."""
    from flink_streaming_demo_spark.functions.text import winnow_fp_rows

    run = " ".join(f"w{i}" for i in range(20))  # 20 tokens >= min_span

    def frame(ids):
        return spark.createDataFrame(
            [(i, run) for i in ids], "doc_id long, text string"
        )

    def verdicts(base_ids, inc_ids, cap):
        base = frame(base_ids)
        got = dedup.cross_doc_gate_decisions(
            base, winnow_fp_rows(base), frame(inc_ids), max_fp_df=cap
        )
        return {r.doc_id: (r.verdict, r.span_tokens) for r in got.collect()}

    # small store: union frame df = 2 <= cap -> detected, full-run span
    assert verdicts([1], [10], cap=2) == {10: ("dup_span", 20)}
    # grown store, same incoming text: df = 4 > cap -> every fp dropped
    # on BOTH sides, no candidate pair, verdict downgrades to 'new' —
    # the documented viral-cap suppression, now state-dependent
    assert verdicts([1, 2, 3], [10], cap=2) == {10: ("new", 0)}
    # and with the cap at the boundary (== is KEPT, drop_viral_keys
    # contract) the grown store detects again
    assert verdicts([1, 2, 3], [10], cap=4) == {10: ("dup_span", 20)}


def test_cross_doc_gate_degenerate_docs_are_new(spark):
    """Null-text and sub-k-token docs produce no fingerprints and no
    anchor grams, so the gate must verdict them 'new' (not raise, not
    drop them from the decisions frame) on both sides of the store."""
    from flink_streaming_demo_spark.functions.text import winnow_fp_rows

    base = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(20))), (2, None), (3, "ab")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(10, None), (11, "xy"), (12, " ".join(f"w{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.verdict
        for r in dedup.cross_doc_gate_decisions(
            base, winnow_fp_rows(base), incoming
        ).collect()
    }
    assert got == {10: "new", 11: "new", 12: "dup_span"}


def test_cross_doc_gate_multi_partner_stats(spark):
    """Focused pin for the r16 decisions rewrite (best run and partner
    count fused into one window pass): an incoming doc matched by
    SEVERAL admitted partners must report n_matches = number of
    distinct partners (size(collect_set) == countDistinct) and
    match_id = the LOWEST-id partner on span ties — the exact tuple the
    former separate groupBy(countDistinct) + second join produced."""
    from flink_streaming_demo_spark.functions.text import winnow_fp_rows

    run = " ".join(f"w{i}" for i in range(20))
    base = spark.createDataFrame(
        [(i, run) for i in (7, 3, 5)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.verdict, r.match_id, r.span_tokens, r.n_matches)
        for r in dedup.cross_doc_gate_decisions(
            base, winnow_fp_rows(base),
            spark.createDataFrame([(10, run)], "doc_id long, text string"),
            max_fp_df=10,
        ).collect()
    }
    assert got == {10: ("dup_span", 3, 20, 3)}


def test_cross_doc_gate_replay_does_not_double_count_caps(spark):
    """Regression (r15 review): a crash-replayed batch sits on BOTH
    sides of the gate's causal union, and counting its fingerprint/gram
    rows twice could push a key over the viral cap that the original
    gating kept — silently flipping committed dup_span verdicts back to
    'new'. The caps must count DISTINCT (doc, ...) rows: 3 admitted
    docs sharing every fingerprint re-gated as a 2-doc replay reads
    df = 3 (kept at cap 4), not 3 + 2 = 5 (dropped)."""
    from flink_streaming_demo_spark.functions.text import winnow_fp_rows

    run = " ".join(f"w{i}" for i in range(20))
    base = spark.createDataFrame(
        [(i, run) for i in (1, 2, 3)], "doc_id long, text string"
    )
    replayed = base.filter("doc_id >= 2")
    got = {
        r.doc_id: r.verdict
        for r in dedup.cross_doc_gate_decisions(
            base, winnow_fp_rows(base), replayed, max_fp_df=4
        ).collect()
    }
    assert got == {2: "dup_span", 3: "dup_span"}
