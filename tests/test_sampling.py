"""Behavioral tests for sampling/splitting/packing operators: split
determinism and stability under data growth, cap semantics, packing
bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_streaming_demo_spark.operators import sampling


def test_hash_split_deterministic_and_stable(spark):
    """The split of a given key never changes — including when more data
    arrives (the property rand()-based splits lack)."""
    a = spark.range(0, 500).select(
        F.col("id"), sampling.hash_split(F.col("id")).alias("split")
    )
    b = spark.range(0, 1000).select(
        F.col("id"), sampling.hash_split(F.col("id")).alias("split")
    )
    small = {r.id: r.split for r in a.collect()}
    big = {r.id: r.split for r in b.collect()}
    assert all(big[k] == v for k, v in small.items())
    # all three splits materialize with roughly the requested proportions
    from collections import Counter

    c = Counter(big.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.7 < c["train"] / 1000 < 0.9


def test_cap_per_group_keeps_top_n(spark):
    df = spark.createDataFrame(
        [(i, "s" + str(i % 2), i * 10) for i in range(10)],
        "doc_id long, source string, score long",
    )
    out = sampling.cap_per_group(
        df, "source", [F.col("score").desc(), F.col("doc_id")], 2
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.doc_id)
    # top-2 scores per source: s0 -> 8,6; s1 -> 9,7
    assert sorted(by_src["s0"]) == [6, 8]
    assert sorted(by_src["s1"]) == [7, 9]
    assert all(r.rank <= 2 for r in out)


def test_hash_split_streaming_equals_batch(spark):
    """The split is a pure expression of the key, so streaming ingest
    labels rows exactly as a batch pass would — per-split counts from a
    chunked replay equal the batch groupBy."""
    import shutil

    from flink_streaming_demo_spark.streaming import replay

    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 100).alias("v")
    )
    chunk_dir = replay.write_replay_chunks(df, n_chunks=4, order_col="id")
    try:
        stream = replay.read_replay_stream(
            spark, chunk_dir, "id long, v long"
        )
        counts = (
            stream.withColumn("split", sampling.hash_split(F.col("id")))
            .groupBy("split")
            .count()
        )
        q = (
            counts.writeStream.format("memory")
            .queryName("split_t")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r.split: r["count"] for r in spark.table("split_t").collect()}
        want = {
            r.split: r["count"]
            for r in df.withColumn(
                "split", sampling.hash_split(F.col("id"))
            )
            .groupBy("split")
            .count()
            .collect()
        }
        assert got == want and set(got) == {"train", "val", "test"}
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


def test_cap_per_group_matches_naive_single_window(spark):
    """The two-level (salted partial top-N, then final rank) plan must
    return exactly the naive whole-group window's rows AND rank values,
    for several n/n_salts combinations including n_salts=1."""
    from pyspark.sql import Window

    rows = [(i, "s" + str(i % 3), (i * 37) % 100) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    for n in (1, 7, 100):
        for n_salts in (1, 4, 16):
            got = sorted(
                (r.doc_id, r.rank)
                for r in sampling.cap_per_group(
                    df, "source", order, n, n_salts=n_salts
                ).collect()
            )
            w = Window.partitionBy("source").orderBy(*order)
            want = sorted(
                (r.doc_id, r.rank)
                for r in df.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= n)
                .collect()
            )
            assert got == want, (n, n_salts)


def test_pack_greedy_matches_naive_single_window(spark):
    """Hierarchical offset binning (chunked cumsum + broadcast prefix)
    must produce bit-identical bin ids to the naive whole-partition
    window, with and without a partition column, for several chunk
    counts (including more chunks than rows)."""
    from pyspark.sql import Window

    rows = [
        (i, "s" + str(i % 2), 300 + (i * 97) % 500) for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long"
    )
    cap = 1000
    for part in (None, "source"):
        parts = [part] if part else []
        w = (
            Window.partitionBy(*parts)
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        naive = F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(cap)
        ).cast("long")
        want = {
            r.doc_id: r.bin_id
            for r in df.withColumn("bin_id", naive).collect()
        }
        for n_chunks in (1, 3, 16, 500):
            got = {
                r.doc_id: r.bin_id
                for r in sampling.pack_greedy(
                    df, "n_tokens", cap, part_col=part,
                    n_chunks=n_chunks,
                ).collect()
            }
            assert got == want, (part, n_chunks)


def test_pack_greedy_bounds(spark):
    """Offset binning invariants: bins are contiguous in order_col, no doc
    is split, and each bin's total exceeds capacity by less than the
    straddling row's tokens (i.e. total - capacity < max token count in
    the bin; sub-capacity bins always pass)."""
    rows = [(i, 300 + (i * 97) % 500) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    cap = 1000
    packed = sampling.pack_greedy(df, "n_tokens", cap).collect()
    bins = {}
    for r in sorted(packed, key=lambda r: r.doc_id):
        bins.setdefault(r.bin_id, []).append(r.n_tokens)
    # bin ids are dense and assigned in doc order
    assert sorted(bins) == list(range(len(bins)))
    for toks in bins.values():
        assert sum(toks) - cap < max(toks)
    # every doc appears exactly once
    assert sum(len(v) for v in bins.values()) == 50


def test_temperature_weights_flatten_mixture(spark, sf_dir):
    """α=0.5 must pull every source's share toward uniform: sources
    under the uniform share gain, sources over it lose; shares stay a
    distribution and keep fractions are valid probabilities."""
    from flink_streaming_demo_spark.plans.sampling_queries import (
        sample_temperature_weights,
    )

    rows = sample_temperature_weights(spark, sf_dir).collect()
    assert rows
    uniform = 1.0 / len(rows)
    assert abs(sum(r.natural_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0.0 < r.keep_frac <= 1.0
        if r.natural_share < uniform - 1e-9:
            assert r.temp_share > r.natural_share, r
        elif r.natural_share > uniform + 1e-9:
            assert r.temp_share < r.natural_share, r


def test_weighted_topk_matches_brute_force(spark, sf_dir):
    """The two-level (salted local top-K -> global top-K) plan selects
    exactly the brute-force smallest-key documents per source, with
    length bias baked into the key."""
    from flink_streaming_demo_spark.plans.sampling_queries import (
        _WTOPK_K,
        sample_weighted_topk,
    )

    out = sample_weighted_topk(spark, sf_dir).toPandas()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "source",
            "doc_id",
            "n_chars",
            (
                sampling.hash_bucket(F.col("doc_id")).cast("double")
                / F.col("n_chars").cast("double")
            ).alias("k"),
        )
        .toPandas()
    )
    for src, grp in docs.groupby("source"):
        expect = list(
            grp.sort_values(["k", "doc_id"]).head(_WTOPK_K)["doc_id"]
        )
        got = list(
            out[out.source == src].sort_values("rank")["doc_id"]
        )
        assert got == expect, src
    # ranks are 1..K per source
    assert set(out["rank"]) <= set(range(1, _WTOPK_K + 1))


def test_exact_global_ntile_matches_builtin(spark):
    """exact_global_ntile is bit-identical to NTILE OVER (ORDER BY ...)
    on adversarial shapes: heavy ties, n % tiles != 0, n < tiles, desc,
    negative values, a skewed column — while its plan contains no
    single-partition window (the whole point)."""
    import random

    from pyspark.sql import Window

    rng = random.Random(7452)
    cases = [
        # (n_rows, tiles, value_pool, desc)
        (97, 4, list(range(10)), False),       # heavy ties, n%tiles=1
        (100, 7, list(range(-5, 5)), True),    # negatives, desc
        (3, 4, [1, 1, 2], False),              # n < tiles
        (64, 4, [5], True),                    # ALL tied -> pure tiebreak
        (50, 3, [x / 7.0 for x in range(9)], False),  # doubles
        # skewed: values 2^k crowd the bottom of the [min, max] span,
        # so one range chunk holds most rows
        (300, 7, [float(2 ** k) for k in range(24)], False),
        (300, 7, [float(2 ** k) for k in range(24)], True),
    ]
    for n_rows, tiles, pool, desc in cases:
        rows = [(i, float(rng.choice(pool))) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "id long, v double").repartition(8)
        order = F.col("v").desc() if desc else F.col("v").asc()
        expect = df.select(
            "id", F.ntile(tiles).over(Window.orderBy(order, "id")).alias("t")
        )
        got = sampling.exact_global_ntile(
            df, tiles, "v", "id", desc=desc, n_chunks=5, out_col="t"
        ).select("id", "t")
        mism = got.join(expect, "id").filter(
            got["t"] != expect["t"]
        ).count()
        assert mism == 0, (n_rows, tiles, desc)
        # the whole point: no single-partition window in the plan
        from flink_streaming_demo_spark.plancheck import (
            iter_unpartitioned_windows,
        )

        assert not iter_unpartitioned_windows(got), (n_rows, tiles)


def test_exact_global_ntile_ranks_nulls_like_builtin(spark):
    """NULL order values must be RANKED (first asc / last desc, Spark's
    default null ordering), never dropped — the r7 advice flagged that
    a NULL chunk id silently fell out of the prefix equi-join."""
    from pyspark.sql import Window

    rows = [(0, None), (1, 3.0), (2, None), (3, 1.0), (4, 2.0), (5, 1.0)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(4)
    for desc in (False, True):
        order = F.col("v").desc() if desc else F.col("v").asc()
        expect = df.select(
            "id", F.ntile(3).over(Window.orderBy(order, "id")).alias("t")
        )
        got = sampling.exact_global_ntile(
            df, 3, "v", "id", desc=desc, n_chunks=4, out_col="t"
        ).select("id", "t")
        assert got.count() == len(rows), "NULL rows were dropped"
        mism = got.join(expect, "id").filter(
            got["t"] != expect["t"]
        ).count()
        assert mism == 0, desc


def test_exact_global_ntile_ranks_nans_like_builtin(spark):
    """NaN order values both SORT and COMPARE greater than every
    non-NaN value in Spark — so pre-r9 a NaN in the data made _gn_max
    NaN (poisoning the range arithmetic for every row) and NaN rows
    themselves compared past every chunk boundary and were mis-chunked.
    The dedicated NaN chunk plus NaN-excluded min/max bounds fix both;
    this pins the tiles against the built-in NTILE."""
    from pyspark.sql import Window

    nan = float("nan")
    rows = [
        (0, nan), (1, 3.0), (2, nan), (3, 1.0), (4, 2.0), (5, 1.0),
        (6, None), (7, 9.0), (8, nan), (9, 0.5),
    ]
    df = spark.createDataFrame(rows, "id long, v double").repartition(4)
    for desc in (False, True):
        order = F.col("v").desc() if desc else F.col("v").asc()
        expect = df.select(
            "id", F.ntile(3).over(Window.orderBy(order, "id")).alias("t")
        )
        got = sampling.exact_global_ntile(
            df, 3, "v", "id", desc=desc, n_chunks=4, out_col="t"
        ).select("id", "t")
        assert got.count() == len(rows), "NaN/NULL rows were dropped"
        mism = got.join(expect, "id").filter(
            got["t"] != expect["t"]
        ).count()
        assert mism == 0, desc


def test_token_budget_waterfilling_invariants(spark, sf_dir, monkeypatch):
    """The closed-form water level matches a bisection brute force:
    total allocation hits the budget exactly (when not all-capped),
    epochs never exceed the cap, and capped flags agree with
    epochs == cap."""
    from flink_streaming_demo_spark.plans import sampling_queries as SQ

    rows = SQ.sample_token_budget(spark, sf_dir).collect()
    cap, budget_frac = SQ._TB_CAP, SQ._TB_BUDGET
    avail = {r.source: r.avail_tokens for r in rows}
    B = float(int(budget_frac * sum(avail.values())))
    tot_alloc = sum(r.alloc_tokens for r in rows)
    assert abs(tot_alloc - B) / B < 1e-6, (tot_alloc, B)
    for r in rows:
        assert r.epochs <= cap + 1e-9
        assert (r.capped == 1) == (abs(r.epochs - cap) < 1e-9), r
    assert any(r.capped == 1 for r in rows)
    assert any(r.capped == 0 for r in rows)
    # brute-force the water level on the same inputs
    w = {s: float(int((a ** 0.5) * 1e6)) for s, a in avail.items()}
    lo, hi = 0.0, 1e18
    for _ in range(200):
        mid = (lo + hi) / 2
        t = sum(min(mid * w[s], cap * avail[s]) for s in avail)
        if t < B:
            lo = mid
        else:
            hi = mid
    lam = (lo + hi) / 2
    for r in rows:
        want = min(cap, lam * w[r.source] / avail[r.source])
        assert abs(r.epochs - want) < 1e-5, (r.source, r.epochs, want)


def test_token_budget_all_capped_and_none_capped(spark, monkeypatch):
    """Synthetic edges: a budget above sum(cap * avail) caps every
    source at exactly CAP epochs; uniform sources under a loose cap
    all land at budget_frac epochs, uncapped."""
    from flink_streaming_demo_spark.plans import sampling_queries as SQ

    def fake_t(spark_, sf_dir_, name_):
        assert name_ == "documents"
        rows = [
            (i * 100 + j, f"s{i}", "tok " * (5 * (i + 1)))
            for i in range(3)
            for j in range(4)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )

    monkeypatch.setattr(SQ, "t", fake_t)
    # all capped: budget 3x total >> cap 1.2
    monkeypatch.setattr(SQ, "_TB_BUDGET", 3.0)
    monkeypatch.setattr(SQ, "_TB_CAP", 1.2)
    got = SQ.sample_token_budget(spark, "ignored").collect()
    assert all(r.capped == 1 and abs(r.epochs - 1.2) < 1e-9 for r in got)
    # none capped: budget 1.1x, cap 10 — epochs spread around 1.1
    monkeypatch.setattr(SQ, "_TB_BUDGET", 1.1)
    monkeypatch.setattr(SQ, "_TB_CAP", 10.0)
    got = SQ.sample_token_budget(spark, "ignored").collect()
    assert all(r.capped == 0 for r in got)
    tot_alloc = sum(r.alloc_tokens for r in got)
    tot_avail = sum(r.avail_tokens for r in got)
    assert abs(tot_alloc - float(int(1.1 * tot_avail))) < 1.0


def test_reservoir_weighted_matches_reference_and_merges(spark, monkeypatch):
    """A-ES contract: (1) keys/ranks replay an independent Python
    computation of -ln(u)/w; (2) a dominant-weight doc always wins
    rank 1; (3) keep-the-k-smallest partials MERGE: reservoir(A ∪ B) ==
    top-k(reservoir(A) ∪ reservoir(B)) — the algebra that lets per-day
    partial reservoirs roll up."""
    import hashlib
    import math

    from flink_streaming_demo_spark.plans import sampling_queries as SQ

    rows = [
        (i, "s0", ("tok " * (1000 if i == 7 else 3)).strip())
        for i in range(40)
    ] + [
        (100 + i, "s1", ("tok " * (2 + i % 5)).strip()) for i in range(40)
    ]

    def fake_t(spark_, sf_dir_, name_):
        assert name_ == "documents"
        return spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )

    monkeypatch.setattr(SQ, "t", fake_t)
    got = SQ.sample_reservoir_weighted(spark, "ignored").collect()

    def ref_key(doc_id, n_tok):
        h = int(
            hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16
        ) % 1_000_000
        return -math.log((h + 0.5) / 1_000_000.0) / n_tok

    ref = {}
    for doc_id, source, text in rows:
        n_tok = len(text.split())
        ref.setdefault(source, []).append(
            (ref_key(doc_id, n_tok), doc_id, n_tok)
        )
    for source, lst in ref.items():
        lst.sort()
        mine = sorted(
            [r for r in got if r.source == source], key=lambda r: r.rank
        )
        assert [(r.doc_id, r.n_tok) for r in mine] == [
            (d, n) for _, d, n in lst[:5]
        ], source
        for r, (k, _, _) in zip(mine, lst[:5]):
            assert abs(r.race_key - round(k, 6)) < 1e-9
    # dominant weight always sampled first
    s0 = [r for r in got if r.source == "s0"]
    assert min(s0, key=lambda r: r.rank).doc_id == 7 or any(
        r.doc_id == 7 for r in s0
    )
    # merge algebra: split by doc parity, take per-half top-5 keys,
    # merged top-5 equals whole-data top-5
    for source, lst in ref.items():
        half_a = sorted(k for k in lst if k[1] % 2 == 0)[:5]
        half_b = sorted(k for k in lst if k[1] % 2 == 1)[:5]
        merged = sorted(half_a + half_b)[:5]
        assert merged == sorted(lst)[:5], source


def test_exact_global_rank_matches_builtin(spark):
    """exact_global_rank is bit-identical to ROW_NUMBER OVER (ORDER BY
    ...) on the same adversarial shapes the ntile test uses — ties,
    desc, NULLs, NaNs mixed in one frame — with no single-partition
    window in its plan, and count_col carries the total row count."""
    import random

    from pyspark.sql import Window

    rng = random.Random(7452)
    pool = [1.0, 2.0, 2.0, 5.0, -3.0, float("nan"), None]
    rows = [(i, rng.choice(pool)) for i in range(83)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(8)
    for desc in (False, True):
        order = F.col("v").desc() if desc else F.col("v").asc()
        expect = df.select(
            "id",
            F.row_number().over(Window.orderBy(order, "id")).alias("r"),
        )
        got = sampling.exact_global_rank(
            df, "v", "id", desc=desc, n_chunks=5, out_col="r",
            count_col="n",
        ).select("id", "r", "n")
        assert got.count() == len(rows), "rows dropped"
        mism = got.join(expect, "id").filter(
            got["r"] != expect["r"]
        ).count()
        assert mism == 0, desc
        assert got.select("n").distinct().collect()[0][0] == len(rows)
        from flink_streaming_demo_spark.plancheck import (
            iter_unpartitioned_windows,
        )

        assert not iter_unpartitioned_windows(got), desc


def test_epoch_shuffle_epochs_permute_differently(spark, sf_dir):
    """The epoch-shuffle serving order is (a) a true permutation of the
    corpus within each epoch and (b) genuinely different between
    epochs — the property 'same seed every epoch' silently loses."""
    from flink_streaming_demo_spark.plans.sampling_queries import (
        sample_epoch_shuffle,
    )

    out = sample_epoch_shuffle(spark, sf_dir).toPandas()
    n_docs = out.doc_id.nunique()
    for epoch, grp in out.groupby("epoch"):
        # permutation: every doc exactly once per epoch
        assert len(grp) == n_docs
        assert grp.doc_id.nunique() == n_docs
        # contiguous positions within each shard
        for _, sh in grp.groupby("shard"):
            assert sorted(sh.pos) == list(range(1, len(sh) + 1))
    order0 = out[out.epoch == 0].sort_values(["shard", "pos"]).doc_id.tolist()
    order1 = out[out.epoch == 1].sort_values(["shard", "pos"]).doc_id.tolist()
    assert order0 != order1, "epochs produced the identical order"


def test_interleave_sources_weight_proportional(spark, sf_dir):
    """In any prefix of the interleaved order, each source's share of
    slots tracks its weight share (the smooth-mixing contract): after
    slot k, source s has served ceil-ish k*w_s/W docs, so the deviation
    from proportionality is bounded by 1 slot per source."""
    from flink_streaming_demo_spark.plans.sampling_queries import (
        sample_interleave_sources,
    )

    out = (
        sample_interleave_sources(spark, sf_dir)
        .toPandas()
        .sort_values("global_pos")
    )
    weights = out.drop_duplicates("source").set_index("source").weight
    total_w = float(weights.sum())
    # check proportionality at a few prefix depths (before any source
    # exhausts its docs, interleave error is < 1 per source)
    per_src = out.groupby("source").size().min()
    depth = int(per_src * total_w / weights.max() / 2)
    prefix = out.head(depth)
    counts = prefix.groupby("source").size()
    for src, w in weights.items():
        got = counts.get(src, 0)
        expect = depth * float(w) / total_w
        assert abs(got - expect) <= 1.0 + 1e-9, (src, got, expect)
