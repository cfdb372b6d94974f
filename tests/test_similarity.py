"""Behavioral tests for similarity search on crafted vectors."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from flink_streaming_demo_spark.operators import similarity as SIM


def _vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
        (4, [2.0, 0.0, 0.0]),   # same direction as 0, larger norm
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_basics(spark):
    df = _vectors(spark)
    a = df.filter("vec_id = 0").select(F.col("embedding").alias("a"))
    pairs = a.crossJoin(df).select(
        "vec_id", SIM.cosine(F.col("a"), F.col("embedding")).alias("cos")
    )
    got = {r.vec_id: r.cos for r in pairs.collect()}
    assert abs(got[0] - 1.0) < 1e-12
    assert abs(got[4] - 1.0) < 1e-12       # scale-invariant
    assert abs(got[2]) < 1e-12             # orthogonal
    assert abs(got[3] + 1.0) < 1e-12       # opposite


def test_brute_force_topk_ordering(spark):
    df = _vectors(spark)
    out = SIM.brute_force_topk(df.filter("vec_id = 0"), df, k=4).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0] == 4      # cosine 1.0
    assert ranked[1] == 1      # ~0.994
    assert ranked[-1] == 3     # -1.0 last
    assert all(r.query_id == 0 for r in out)


def test_l2_norm(spark):
    df = _vectors(spark)
    norms = {
        r.vec_id: r.n
        for r in df.select(
            "vec_id", SIM.l2_norm(F.col("embedding")).alias("n")
        ).collect()
    }
    assert abs(norms[0] - 1.0) < 1e-12
    assert abs(norms[4] - 2.0) < 1e-12
    assert abs(norms[1] - math.sqrt(0.81 + 0.01)) < 1e-6  # float32 inputs


def test_lsh_bucket_recall_of_identical_direction(spark):
    df = _vectors(spark)
    sigs = df.select(
        "vec_id",
        SIM.lsh_hyperplane_signature("embedding", 8).alias("sig"),
    ).collect()
    by_id = {r.vec_id: r.sig for r in sigs}
    assert by_id[0] == by_id[4]  # same direction -> identical signature
    assert by_id[0] != by_id[3]  # opposite direction -> different signature


def test_kmeans_centroids_converges_to_cluster_means(spark):
    """Two tight direction-clusters, seeds one vector from each: Lloyd
    must assign each cluster to its seed and move centroids to the
    per-dim means (rounded to 6)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.8, 0.2, 0.0, 0.0]),
        (10, [0.0, 0.0, 1.0, 0.0]),
        (11, [0.0, 0.0, 0.9, 0.1]),
        (12, [0.0, 0.0, 0.8, 0.2]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = df.filter(F.col("vec_id").isin(0, 10)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cent = {
        r.centroid_id: r.embedding
        for r in SIM.kmeans_centroids(df, seeds, n_iterations=2).collect()
    }
    import numpy as np

    want0 = np.round(np.mean([rows[i][1] for i in range(3)], axis=0), 6)
    want10 = np.round(np.mean([rows[i][1] for i in range(3, 6)], axis=0), 6)
    assert np.allclose(cent[0], want0, atol=2e-6)
    assert np.allclose(cent[10], want10, atol=2e-6)


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    """A seed centroid that attracts no vectors must survive unchanged
    (k never shrinks)."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.01]),
        (2, [0.98, 0.02]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # seed 99 points away from every vector; seed 0 wins all assignments
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0]), (99, [-1.0, 0.0])],
        "centroid_id long, embedding array<float>",
    )
    cent = {
        r.centroid_id: r.embedding
        for r in SIM.kmeans_centroids(df, seeds, n_iterations=2).collect()
    }
    assert len(cent) == 2
    assert cent[99] == [-1.0, 0.0]  # untouched
    assert abs(cent[0][0] - 0.99) < 2e-6  # mean of the three x's


def _semdedup_fixture(spark):
    """Two well-separated directions with planted duplicates: cluster X
    = {0, 10, 11, 12} near (1,0,0), cluster Y = {1, 20, 21, 30} near
    (0,1,0); 30 is a Y-cluster member below the dup threshold, planted
    to verify non-dup cluster-mates survive."""
    rows = [
        (0, [1.0, 0.0, 0.0]),    # centroid seed for X-direction
        (1, [0.0, 1.0, 0.0]),    # centroid seed for Y-direction
        (10, [1.0, 0.01, 0.0]),
        (11, [0.99, 0.0, 0.01]),   # semantic dup of 10
        (12, [1.0, 0.02, 0.01]),   # semantic dup of 10 (and 11)
        (20, [0.0, 1.0, 0.02]),
        (21, [0.01, 0.99, 0.0]),   # semantic dup of 20
        (30, [0.0, 0.55, 0.84]),   # Y cluster, but cos < threshold
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_dedup_drops_within_cluster_dups(spark):
    df = _semdedup_fixture(spark)
    cents = df.filter("vec_id < 2").select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = SIM.semantic_dedup(df, cents, threshold=0.95)
    got = {r.vec_id: r for r in out.collect()}
    # Lowest id per semantic group survives; later members point at it.
    # Seeds 0 and 1 are corpus members AND each group's minimum.
    assert set(got) == {10, 11, 12, 20, 21}
    assert got[10].dup_of == 0
    assert got[11].dup_of == 0
    assert got[12].dup_of == 0
    assert got[20].dup_of == 1
    assert got[21].dup_of == 1
    assert 30 not in got           # below threshold: survives
    assert 0 not in got and 1 not in got   # group minima survive


def test_semantic_dedup_cluster_boundary_blocks_pairs(spark):
    # Two near-identical vectors forced into DIFFERENT clusters are not
    # candidates — the documented SemDeDup approximation.
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (10, [0.72, 0.69]),   # nearest: centroid 0
        (11, [0.69, 0.72]),   # nearest: centroid 1; cos(10,11) ~ 0.998
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = df.filter("vec_id < 2").select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = SIM.semantic_dedup(
        df.filter("vec_id >= 10"), cents, threshold=0.9
    )
    assert out.count() == 0


def test_semantic_dedup_max_cluster_cap(spark):
    df = _semdedup_fixture(spark)
    cents = df.filter("vec_id < 2").select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # Both clusters hold 4 members; a cap of 3 skips them entirely,
    # a cap of 4 changes nothing vs the uncapped run.
    assert SIM.semantic_dedup(df, cents, 0.95, max_cluster=3).count() == 0
    capped = SIM.semantic_dedup(df, cents, 0.95, max_cluster=4)
    assert {r.vec_id for r in capped.collect()} == {10, 11, 12, 20, 21}


def test_embedding_quantize_bounds(spark, sf_dir):
    """int8 reconstruction invariants: per-vector quantization error is
    bounded by scale/2 per dimension and cosine stays ~1."""
    from flink_streaming_demo_spark.plans.vector_queries import (
        embedding_quantize,
    )

    rows = embedding_quantize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # both columns are round-6 values: allow rounding slack
        assert r.max_abs_err <= r.scale / 2 + 1e-6, r
        assert r.cos_recon >= 0.999, r


def test_pipeline_embedding_dedup_partitions_corpus(spark, sf_dir):
    """Survivors + SemDeDup-dropped must exactly partition the corpus,
    and every survivor carries a valid cluster assignment."""
    from flink_streaming_demo_spark.plans.vector_queries import (
        N_CENTROIDS,
        dedup_semantic,
        pipeline_embedding_dedup,
    )
    from flink_streaming_demo_spark.schemas import load_table

    total = load_table(spark, sf_dir, "embeddings").count()
    survivors = pipeline_embedding_dedup(spark, sf_dir)
    dropped = dedup_semantic(spark, sf_dir)
    s_ids = {r.vec_id for r in survivors.collect()}
    d_ids = {r.vec_id for r in dropped.collect()}
    assert len(s_ids) + len(d_ids) == total
    assert not (s_ids & d_ids)
    assert all(
        0 <= r.centroid_id < N_CENTROIDS for r in survivors.collect()
    )


def test_dim_profile_invariants_and_exact_dim0(spark, sf_dir):
    """64 dims, each covering every vector; explicit-formula std agrees
    with a pandas recomputation at the rounded precision."""
    import numpy as np

    from flink_streaming_demo_spark.plans.vector_queries import (
        embedding_dim_profile,
    )

    out = embedding_dim_profile(spark, sf_dir).toPandas()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sorted(out["dim"]) == list(range(64))
    assert (out["n"] == n_vecs).all()
    assert ((out["vmin"] <= out["mean"]) & (out["mean"] <= out["vmax"])).all()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    v0 = np.array([e[0] for e in emb["embedding"]], dtype=np.float64)
    row = out[out.dim == 0].iloc[0]
    assert abs(row["mean"] - v0.mean()) < 1e-6
    assert abs(row["std"] - v0.std()) < 1e-6


def test_random_projection_matches_numpy(spark, sf_dir):
    """The literal-plane fold equals a numpy matmul with the same
    md5-derived plane components (to the rounded precision)."""
    import numpy as np

    from flink_streaming_demo_spark.operators import similarity as SIM
    from flink_streaming_demo_spark.plans.vector_queries import (
        DIMS,
        RP_DIMS,
        RP_PLANE_BASE,
        embedding_random_projection,
    )

    out = embedding_random_projection(spark, sf_dir).toPandas()
    planes = np.array(
        [
            [SIM.plane_component(RP_PLANE_BASE + p, i) for i in range(DIMS)]
            for p in range(RP_DIMS)
        ]
    )
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter("vec_id < 5")
        .toPandas()
    )
    for _, r in emb.iterrows():
        want = planes @ np.array(r["embedding"], dtype=np.float64)
        got = (
            out[out.vec_id == r["vec_id"]]
            .sort_values("dim")["value"]
            .to_numpy()
        )
        assert np.allclose(got, want, atol=2e-6)


def test_pq_encode_recovers_planted_codes(spark):
    """Corpus built from 2 distinct subvectors per subspace (m=2, dsub=2,
    ksub=2): after training, every vector must encode to the codes of the
    subvectors it was built from, and ADC distance between two vectors
    sharing all codes must be 0."""
    from flink_streaming_demo_spark.operators import similarity as SIM

    sub = {0: [0.0, 0.0], 1: [10.0, 10.0]}
    # vec_id 0/1 seed the codebooks; 2-5 are exact repeats of the seeds'
    # subvector combinations (including mixed ones).
    rows = [
        (0, sub[0] + sub[0]),
        (1, sub[1] + sub[1]),
        (2, sub[0] + sub[0]),
        (3, sub[1] + sub[1]),
        (4, sub[0] + sub[1]),
        (5, sub[1] + sub[0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = SIM.pq_train(emb, m=2, dsub=2, ksub=2, n_iterations=2)
    enc = {
        (r.vec_id, r.su): r.code
        for r in SIM.pq_encode(emb, cb, m=2, dsub=2).collect()
    }
    # same planted subvector -> same code within a subspace
    assert enc[(2, 0)] == enc[(0, 0)] and enc[(2, 1)] == enc[(0, 1)]
    assert enc[(4, 0)] == enc[(0, 0)] and enc[(4, 1)] == enc[(1, 1)]
    assert enc[(5, 0)] == enc[(1, 0)] and enc[(5, 1)] == enc[(0, 1)]
    # ADC: vec 2 (== vec 0's codes) is at integer-micro distance 0 from
    # query 0, and strictly closer than any vector with a differing code.
    top = SIM.pq_adc_topk(
        emb.filter("vec_id = 0"), emb, cb, k=5, m=2, dsub=2
    ).collect()
    by_rank = {r.rank: r for r in sorted(top, key=lambda r: r.rank)}
    assert by_rank[1].neighbor_id == 2 and by_rank[1].adc_micro == 0
    assert by_rank[2].adc_micro > 0


def test_pq_rerank_with_full_shortlist_equals_exact(spark, sf_dir):
    """With shortlist >= |corpus| the ADC prune keeps everything, so the
    rerank stage must reproduce brute_force_topk exactly."""
    from flink_streaming_demo_spark.operators import similarity as SIM
    from flink_streaming_demo_spark.schemas import load_table as t
    from pyspark.sql import functions as F

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    cb = SIM.pq_train(emb, n_iterations=1)
    got = SIM.pq_shortlist_rerank(
        queries, emb, cb, k=5, shortlist=10_000
    ).collect()
    want = SIM.brute_force_topk(queries, emb, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_ivfpq_with_all_cells_probed_equals_pure_adc(spark, sf_dir):
    """nprobe = #centroids means the cell filter admits every candidate,
    so IVF-PQ must reproduce the pure ADC ranking exactly."""
    from flink_streaming_demo_spark.operators import similarity as SIM
    from flink_streaming_demo_spark.schemas import load_table as t
    from pyspark.sql import functions as F

    emb = t(spark, sf_dir, "embeddings")
    n_cells = 4
    centroids = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    cb = SIM.pq_train(emb, n_iterations=1)
    queries = emb.filter(F.col("vec_id") < 3)
    got = SIM.ivfpq_topk(
        queries, emb, centroids, cb, k=5, nprobe=n_cells
    ).collect()
    want = SIM.pq_adc_topk(queries, emb, cb, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_joint_curation_is_intersection_of_legs(spark, sf_dir):
    """The joint verdict must be exactly: quality-passing exact keepers
    minus SemDeDup-dropped ids — no leg may leak."""
    from pyspark.sql import functions as F

    from flink_streaming_demo_spark.functions import text as TX
    from flink_streaming_demo_spark.operators import dedup as DD
    from flink_streaming_demo_spark.plans.vector_queries import (
        dedup_semantic,
        pipeline_joint_curation,
    )
    from flink_streaming_demo_spark.schemas import load_table

    got = {r.doc_id for r in
           pipeline_joint_curation(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    quality = docs.filter(TX.quality_pass(F.col("text")))
    keepers = {r.doc_id for r in DD.exact_dedup(quality).collect()}
    dropped = {r.vec_id for r in dedup_semantic(spark, sf_dir).collect()}
    assert got == keepers - dropped


def test_pq_train_seeds_full_codebook_on_offset_ids(spark):
    """Rank-based seeding: a corpus whose ids start at 5000 (and skip
    around) must still seed ksub codes 0..ksub-1 per subspace — the old
    `id < ksub` filter seeded NOTHING here. And on a contiguous 0-based
    corpus the seeds must equal the old behavior (code == vec_id), so
    every existing oracle trajectory is unchanged."""
    from pyspark.sql import functions as F

    from flink_streaming_demo_spark.operators import similarity as SIM

    rows = [
        (5000 + 17 * i, [float((i * 7 + d) % 5) for d in range(8)])
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = SIM.pq_train(emb, m=2, dsub=4, ksub=4, n_iterations=0)
    per_su = cb.groupBy("su").agg(
        F.sort_array(F.collect_list("code")).alias("codes")
    )
    for r in per_su.collect():
        assert r.codes == [0, 1, 2, 3], r
    # contiguous case: seed vectors are exactly the first-ksub subvectors
    emb0 = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(rows)],
        "vec_id long, embedding array<float>",
    )
    cb0 = SIM.pq_train(emb0, m=2, dsub=4, ksub=4, n_iterations=0)
    seeds = {(r.su, r.code): r.cvec for r in cb0.collect()}
    subs = SIM.subvectors(emb0.filter(F.col("vec_id") < 4), m=2, dsub=4)
    for r in subs.collect():
        assert seeds[(r.su, int(r.vec_id))] == r.svec


def test_hard_negatives_excludes_same_label_and_ranks(spark, sf_dir):
    """Every returned neighbor carries a label different from its
    query's, ranks are dense 1..k in descending-score order, and each
    returned (query, neighbor) score is >= the best same-scan cosine of
    any EXCLUDED same-label vector ranked below — i.e. the operator
    returns the top of the negative pool, not an arbitrary subset."""
    from flink_streaming_demo_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    labels = {r.vec_id: r.label for r in emb.collect()}
    got = SIM.hard_negatives(queries, emb, k=5).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert all(r.neighbor_label != labels[qid] for r in rows)
        assert all(r.neighbor_label == labels[r.neighbor_id] for r in rows)
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)
    # cross-check rank-1 against plain top-k restricted to other labels
    full = SIM.brute_force_topk(queries, emb, k=len(labels)).collect()
    for qid, rows in by_q.items():
        pool = [
            r for r in full
            if r.query_id == qid and labels[r.neighbor_id] != labels[qid]
        ]
        best = max(pool, key=lambda r: (r.score, -r.neighbor_id))
        assert rows[0].neighbor_id == best.neighbor_id
        assert abs(rows[0].score - best.score) < 1e-9


def test_recall_queries_grade_both_ann_tiers(spark, sf_dir):
    """Both approximate tiers carry a recall grade vs the same exact
    top-k: per-query recall in [0, 1], hits never exceed k, and every
    exact query id is graded (missing ids would silently inflate
    average recall)."""
    from flink_streaming_demo_spark.plans.vector_queries import (
        sim_ann_recall,
        sim_ivf_recall,
        sim_topk_cosine,
    )

    n_queries = (
        sim_topk_cosine(spark, sf_dir)
        .select("query_id")
        .distinct()
        .count()
    )
    for fn in (sim_ann_recall, sim_ivf_recall):
        rows = fn(spark, sf_dir).collect()
        assert len(rows) == n_queries, fn.__name__
        for r in rows:
            assert 0.0 <= r["recall"] <= 1.0
            assert 0 <= r["n_hits"] <= 5


def test_ivf_probe_pairs_reproduce_ivf_topk(spark, sf_dir):
    """The graded candidate frame must be a faithful superposition of
    every probe level: filtering probe_rank <= nprobe and ranking per
    query reproduces ivf_topk(nprobe) row-for-row — the invariant that
    lets sim_ivf_multiprobe_recall evaluate all levels in one pass."""
    from pyspark.sql import Window

    from flink_streaming_demo_spark.plans.vector_queries import (
        IVF_NPROBE,
        N_CENTROIDS,
        N_QUERIES,
        TOP_K,
    )
    from flink_streaming_demo_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    pairs = SIM.ivf_probe_pairs(queries, emb, centroids, max_probe=4)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    derived = (
        pairs.filter(F.col("probe_rank") <= IVF_NPROBE)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "score")
    )
    direct = SIM.ivf_topk(
        queries, emb, centroids, k=TOP_K, nprobe=IVF_NPROBE
    )
    key = lambda r: (r.query_id, r.rank)
    d_rows = sorted(derived.collect(), key=key)
    t_rows = sorted(direct.collect(), key=key)
    assert d_rows == t_rows and len(d_rows) > 0


def test_multiprobe_recall_monotone_in_nprobe(spark, sf_dir):
    """The recall/cost contract: more probes can only widen the
    candidate set, so recall@k is non-decreasing in nprobe and the
    max-probe level grades at least as high as single-probe."""
    from flink_streaming_demo_spark.plans.vector_queries import (
        MULTIPROBE_LEVELS,
        sim_ivf_multiprobe_recall,
    )

    rows = {
        r.nprobe: r
        for r in sim_ivf_multiprobe_recall(spark, sf_dir).collect()
    }
    assert set(rows) == set(MULTIPROBE_LEVELS)
    levels = sorted(rows)
    for lo, hi in zip(levels, levels[1:]):
        assert rows[lo].recall <= rows[hi].recall, (lo, hi)
    assert rows[levels[-1]].recall >= rows[levels[0]].recall
    for r in rows.values():
        assert 0.0 <= r.recall <= 1.0


def test_rankers_break_score_ties_on_ascending_neighbor_id(spark):
    """Every dense ranker shares one top-k tail: tied scores rank by
    ascending neighbor_id, and ranks run 1..k with no gaps. The corpus
    holds each of four base vectors ten times (ids i, i+4, ..., i+36),
    shuffled, so every query's duplicates tie at cosine 1.0 and more of
    them tie than k keeps."""
    import random

    dims = 64
    base = [
        [math.cos(0.7 * b + 0.13 * i) for i in range(dims)] for b in range(4)
    ]
    ids = list(range(40))
    random.Random(7).shuffle(ids)
    corpus = spark.createDataFrame(
        [(i, base[i % 4], (i // 4) % 2) for i in ids],
        "vec_id long, embedding array<float>, label int",
    )
    queries = corpus.filter("vec_id < 4")
    centroids = corpus.filter("vec_id < 4").select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    k = 3

    def dups(q, label=None):
        return [
            i for i in range(q % 4, 40, 4)
            if i != q and (label is None or (i // 4) % 2 != label)
        ][:k]

    rankers = {
        "brute_force_topk": SIM.brute_force_topk(queries, corpus, k=k),
        "lsh_bucketed_topk": SIM.lsh_bucketed_topk(queries, corpus, k=k),
        "ivf_topk": SIM.ivf_topk(queries, corpus, centroids, k=k),
        "pq_shortlist_rerank": SIM.pq_shortlist_rerank(
            queries, corpus, SIM.pq_train(corpus), k=k, shortlist=40
        ),
        "hard_negatives": SIM.hard_negatives(queries, corpus, k=k),
    }
    for name, df in rankers.items():
        got: dict[int, list] = {}
        for r in df.collect():
            got.setdefault(r.query_id, []).append(r)
        assert sorted(got) == [0, 1, 2, 3], name
        for q, rows in got.items():
            rows.sort(key=lambda r: r.rank)
            assert [r.rank for r in rows] == list(range(1, k + 1)), name
            assert all(r.score == 1.0 for r in rows), (name, rows)
            label = 0 if name == "hard_negatives" else None
            want = dups(q, label)
            assert [r.neighbor_id for r in rows] == want, (name, q, rows)
