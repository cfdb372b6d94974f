"""Registered queries for the embedding-similarity surface over
``embeddings`` (array<float> of 64 dims)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_demo_spark.operators import similarity as SIM
from flink_streaming_demo_spark.plans.registry import register
from flink_streaming_demo_spark.schemas import load_table as t

DIMS = 64
N_QUERIES = 5
TOP_K = 5


# --- Per-vector stats --------------------------------------------------------

def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dims"),
        F.round(SIM.l2_norm(F.col("embedding")), 6).alias("l2_norm"),
        F.round(
            F.element_at(F.col("embedding"), 1).cast("double"), 6
        ).alias("first_dim"),
    )


register(
    "embedding_stats",
    embedding_stats,
    f"""
    SELECT
        vec_id,
        label,
        CAST(len(embedding) AS INT) AS dims,
        ROUND({SIM.sql_l2_norm('embedding', DIMS)}, 6) AS l2_norm,
        ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_dim
    FROM embeddings
    """,
)


# --- Brute-force cosine top-k ------------------------------------------------

def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: top-5 cosine neighbors for the first 5 vectors.
    Broadcast queries x corpus scan; no Python in the scoring path."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return SIM.brute_force_topk(queries, emb, k=TOP_K)


register(
    "sim_topk_cosine",
    sim_topk_cosine,
    f"""
    WITH scored AS (
        SELECT
            q.vec_id AS query_id,
            c.vec_id AS neighbor_id,
            ROUND({SIM.sql_cosine('q.embedding', 'c.embedding', DIMS)}, 6)
                AS score
        FROM embeddings q
        JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, score
    FROM ranked WHERE rank <= {TOP_K}
    """,
)


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (contrastive-training staple): per query
    vector, the top-5 most-similar corpus vectors with a DIFFERENT
    label — nearest-boundary negatives. Same broadcast-queries x
    corpus-scan shape as sim_topk_cosine; the label predicate runs
    before ranking (operators/similarity.py:hard_negatives)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return SIM.hard_negatives(queries, emb, k=TOP_K)


register(
    "sim_hard_negatives",
    sim_hard_negatives,
    f"""
    WITH scored AS (
        SELECT
            q.vec_id AS query_id,
            c.vec_id AS neighbor_id,
            c.label AS neighbor_label,
            ROUND({SIM.sql_cosine('q.embedding', 'c.embedding', DIMS)}, 6)
                AS score
        FROM embeddings q
        JOIN embeddings c ON q.label <> c.label
        WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, neighbor_label, score
    FROM ranked WHERE rank <= {TOP_K}
    """,
)


# --- LSH-bucketed ANN (the scale path) ---------------------------------------

LSH_BITS = 4


def sql_lsh_signature(vec: str, n_bits: int, dims: int = DIMS) -> str:
    """DuckDB twin of operators.similarity.lsh_hyperplane_signature: the
    same precomputed md5-derived plane components embedded as literal
    lists (repr() of a double round-trips exactly), same sequential
    projection sum, same sign rule."""
    bits = []
    for p in range(n_bits):
        plane = "[" + ", ".join(
            repr(SIM.plane_component(p, i)) for i in range(dims)
        ) + "]"
        bits.append(f"""
            CASE WHEN list_sum(list_transform(generate_series(1, {dims}),
                i -> CAST({vec}[i] AS DOUBLE) * ({plane})[i])) >= 0
            THEN '1' ELSE '0' END""")
    return "(" + " || ".join(bits) + ")"


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: hyperplane-LSH bucket join + exact cosine rerank.

    The scale path for ANN (brief: "IVF or LSH-bucketed variant"): the cross
    join of sim_topk_cosine becomes an equi-join on the signature, cutting
    candidates ~2^bits; recall is tuned via LSH_BITS. Oracle replicates the
    signature arithmetic exactly, so this is fully hash-checked.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return SIM.lsh_bucketed_topk(queries, emb, k=TOP_K, n_bits=LSH_BITS)


register(
    "sim_ann_lsh",
    sim_ann_lsh,
    f"""
    WITH sigs AS (
        SELECT
            vec_id,
            embedding,
            {sql_lsh_signature('embedding', LSH_BITS)} AS bucket
        FROM embeddings
    ),
    scored AS (
        SELECT
            q.vec_id AS query_id,
            c.vec_id AS neighbor_id,
            ROUND({SIM.sql_cosine('q.embedding', 'c.embedding', DIMS)}, 6)
                AS score
        FROM sigs q
        JOIN sigs c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, score
    FROM ranked WHERE rank <= {TOP_K}
    """,
)


# --- Embedding-cosine near-duplicate pairs -----------------------------------

NEARDUP_THRESHOLD = 0.4
NEARDUP_BANDS = 2
NEARDUP_BITS = 3


def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup candidate pairs (id_a < id_b, cosine >=
    threshold), banded hyperplane-LSH blocking + exact rerank.

    Dedup tier 5 of the brief (exact / minhash / simhash / ngram /
    embedding-cosine), expressed as the SCALE path: candidates come from a
    band-key equi-join (N^2/2^bits per band), never the naive all-pairs
    cross join, and the oracle replicates the banding arithmetic so the
    approximate plan is still hash-checked exactly. (The naive cross join
    was ~100s at sf0.1; this runs the same rerank over ~1/4 the pairs.)
    """
    emb = t(spark, sf_dir, "embeddings")
    return SIM.embedding_neardup_pairs(
        emb,
        threshold=NEARDUP_THRESHOLD,
        n_bands=NEARDUP_BANDS,
        bits_per_band=NEARDUP_BITS,
    )


register(
    "dedup_embedding_neardup",
    dedup_embedding_neardup,
    f"""
    WITH sigs AS (
        SELECT
            vec_id,
            embedding,
            {SIM.sql_l2_norm('embedding', DIMS)} AS nrm,
            {sql_lsh_signature('embedding', NEARDUP_BANDS * NEARDUP_BITS)}
                AS sig
        FROM embeddings
    ),
    banded AS (
        SELECT
            vec_id,
            embedding,
            nrm,
            unnest(list_transform(generate_series(0, {NEARDUP_BANDS - 1}),
                b -> b::VARCHAR || ':'
                     || substr(sig, b * {NEARDUP_BITS} + 1, {NEARDUP_BITS})))
                AS bk
        FROM sigs
    ),
    cand AS (
        SELECT DISTINCT
            a.vec_id AS id_a, b.vec_id AS id_b,
            a.embedding AS vec_a, b.embedding AS vec_b,
            a.nrm AS norm_a, b.nrm AS norm_b
        FROM banded a
        JOIN banded b ON a.bk = b.bk AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim
    FROM (
        SELECT id_a, id_b,
            ROUND({SIM.sql_dot('vec_a', 'vec_b', DIMS)}
                  / (norm_a * norm_b), 6) AS cos_sim
        FROM cand
    )
    WHERE cos_sim >= {NEARDUP_THRESHOLD}
    """,
)


# --- Label-centroid similarity ----------------------------------------------

def label_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label (a 64-dim avg via posexplode + groupBy), then
    each vector's cosine to its own label centroid. The explode/re-collect is
    one shuffle keyed by (label, dim) — uniform, scales linearly."""
    emb = t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val")
    ).select("vec_id", "label", "dim", F.col("val").cast("double").alias("val"))
    centroids = (
        exploded.groupBy("label", "dim")
        .agg(F.avg("val").alias("cval"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "cval"))
            ).alias("pairs")
        )
        .select(
            "label",
            F.transform(F.col("pairs"), lambda p: p.cval).alias("centroid"),
        )
    )
    joined = emb.join(F.broadcast(centroids), "label")
    return joined.select(
        "vec_id",
        "label",
        F.round(
            SIM.dot(F.col("embedding"), F.col("centroid"))
            / (
                SIM.l2_norm(F.col("embedding"))
                * SIM.l2_norm(F.col("centroid"))
            ),
            4,
        ).alias("centroid_cosine"),
    )


register(
    "label_centroid_distance",
    label_centroid_distance,
    f"""
    WITH exploded AS (
        SELECT
            vec_id,
            label,
            i - 1 AS dim,
            CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, generate_series(1, {DIMS}) AS u(i)
    ),
    centroids AS (
        SELECT label, dim, AVG(val) AS cval
        FROM exploded
        GROUP BY label, dim
    ),
    cent_arr AS (
        SELECT label, list(cval ORDER BY dim) AS centroid
        FROM centroids
        GROUP BY label
    )
    SELECT
        e.vec_id,
        e.label,
        ROUND(
            {SIM.sql_dot('e.embedding', 'c.centroid', DIMS)}
            / ({SIM.sql_l2_norm('e.embedding', DIMS)}
               * {SIM.sql_l2_norm('c.centroid', DIMS)}), 4) AS centroid_cosine
    FROM embeddings e
    JOIN cent_arr c ON e.label = c.label
    """,
)


# --- IVF ANN (centroid-partitioned scale path) --------------------------------

N_CENTROIDS = 8
IVF_NPROBE = 2


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into N_CENTROIDS cells
    (centroids = deterministic seed vectors: vec_id < N_CENTROIDS), each
    query probes its 2 nearest cells, exact cosine rerank inside them."""
    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return SIM.ivf_topk(
        queries, emb, centroids, k=TOP_K, nprobe=IVF_NPROBE
    )


KMEANS_ITERS = 3


def sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k over TRAINED centroids: 3 Lloyd iterations
    (assign by rounded cosine, update = round-6 per-dim means) seeded
    from the deterministic picks (vec_id < N_CENTROIDS), then the same
    probe-2-cells + exact-rerank query as sim_ivf_topk. The oracle
    unrolls the identical iterations, so the green proves the DataFrame
    k-means trajectory, not just the final ANN ranking.

    Recall vs the exact sim_topk_cosine top-5 at sf0.01 (measured):
    23/25 for both trained and seed centroids, cell-size spread ~flat
    (max/mean 1.15 vs 1.12) — the synthetic corpus is near-uniform on
    the sphere, so Lloyd has little to reshape HERE; on real clustered
    embeddings (the 100 TB case) training is what keeps nprobe/k recall
    from collapsing, and this query proves the trajectory is
    engine-exact so that path is oracle-covered.
    """
    emb = t(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    cent = SIM.kmeans_centroids(emb, seeds, n_iterations=KMEANS_ITERS)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return SIM.ivf_topk(queries, emb, cent, k=TOP_K, nprobe=IVF_NPROBE)


register(
    "sim_ivf_kmeans",
    sim_ivf_kmeans,
    f"""
    WITH {SIM.sql_kmeans_cents(N_CENTROIDS, KMEANS_ITERS, DIMS)},
    cent AS (
        SELECT centroid_id, cvec AS c_vec FROM cent{KMEANS_ITERS}
    ),
    corp_scored AS (
        SELECT e.vec_id, e.embedding, centroid_id,
               ROUND({SIM.sql_cosine('e.embedding', 'c_vec', DIMS)}, 6)
                   AS c_score
        FROM embeddings e CROSS JOIN cent
    ),
    corp_cell AS (
        SELECT vec_id AS neighbor_id, embedding AS n_vec, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored
        ) WHERE c_rank = 1
    ),
    qry_cell AS (
        SELECT vec_id AS query_id, embedding AS q_vec, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored WHERE vec_id < {N_QUERIES}
        ) WHERE c_rank <= {IVF_NPROBE}
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND({SIM.sql_cosine('q_vec', 'n_vec', DIMS)}, 6) AS score
        FROM qry_cell JOIN corp_cell USING (centroid_id)
        WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, score
    FROM ranked WHERE rank <= {TOP_K}
    """,
)


register(
    "sim_ivf_topk",
    sim_ivf_topk,
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_vec
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    corp_scored AS (
        SELECT e.vec_id, e.embedding, centroid_id,
               ROUND({SIM.sql_cosine('e.embedding', 'c_vec', DIMS)}, 6)
                   AS c_score
        FROM embeddings e CROSS JOIN cent
    ),
    corp_cell AS (
        SELECT vec_id AS neighbor_id, embedding AS n_vec, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored
        ) WHERE c_rank = 1
    ),
    qry_cell AS (
        SELECT vec_id AS query_id, embedding AS q_vec, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored WHERE vec_id < {N_QUERIES}
        ) WHERE c_rank <= {IVF_NPROBE}
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND({SIM.sql_cosine('q_vec', 'n_vec', DIMS)}, 6) AS score
        FROM qry_cell JOIN corp_cell USING (centroid_id)
        WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, score
    FROM ranked WHERE rank <= {TOP_K}
    """,
)


# --- Batched IVF serving (dense twin of sim_bm25_batch_topk) ------------------

def _label_query_table(emb: DataFrame) -> DataFrame:
    """External query TABLE for batched dense retrieval: one synthetic
    query vector per label — the round-6 per-dimension label centroid
    (the label_centroid_distance construction). query_id = -(label + 1):
    negative ids can never collide with corpus vec_ids at any SF, so
    ivf_rank's self-pair exclusion never drops a legitimate neighbor of
    an external query."""
    return (
        emb.select("label", F.posexplode(SIM._to_double(F.col("embedding"))))
        .select(
            "label", F.col("pos").alias("dim"), F.col("col").alias("val")
        )
        .groupBy("label", "dim")
        .agg(F.round(F.avg("val"), 6).alias("qval"))
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "qval"))).alias(
                "pairs"
            )
        )
        .select(
            (-(F.col("label").cast("long") + 1)).alias("vec_id"),
            F.transform(F.col("pairs"), lambda p: p.qval).alias(
                "embedding"
            ),
        )
    )


def sim_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched dense retrieval over a query TABLE (r13 verdict #5, the
    serving symmetry of sim_bm25_batch_topk): one external query vector
    per label (the round-6 label centroid — a distillation/eval batch,
    NOT corpus members), every query answered in ONE plan through the
    shared ivf_topk -> ivf_rank tail. The corpus-side cell assignment
    (the dominant cost: corpus x K centroid scoring) is computed once
    and amortized across the whole batch — the point of batching — and
    the probed-cell union restricts the cell equi-join to the probed
    cells (broadcast build side = n_queries x nprobe rows). Plan-width
    guard: tests/test_plan_guards.py::test_ivf_batch_single_assignment
    pins one corpus assignment subtree and no cartesian stage."""
    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    queries = _label_query_table(emb)
    return SIM.ivf_topk(queries, emb, centroids, k=TOP_K, nprobe=IVF_NPROBE)


register(
    "sim_ivf_batch_topk",
    sim_ivf_batch_topk,
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_vec
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    qmeans AS (
        SELECT label, di,
               ROUND(AVG(CAST(embedding[di] AS DOUBLE)), 6) AS qval
        FROM embeddings, generate_series(1, {DIMS}) AS u(di)
        GROUP BY label, di
    ),
    queries AS (
        SELECT CAST(-(label + 1) AS BIGINT) AS query_id,
               list(qval ORDER BY di) AS q_vec
        FROM qmeans GROUP BY label
    ),
    corp_scored AS (
        SELECT e.vec_id, e.embedding, centroid_id,
               ROUND({SIM.sql_cosine('e.embedding', 'c_vec', DIMS)}, 6)
                   AS c_score
        FROM embeddings e CROSS JOIN cent
    ),
    corp_cell AS (
        SELECT vec_id AS neighbor_id, embedding AS n_vec, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored
        ) WHERE c_rank = 1
    ),
    qry_scored AS (
        SELECT q.query_id, q.q_vec, c.centroid_id,
               ROUND({SIM.sql_cosine('q.q_vec', 'c.c_vec', DIMS)}, 6)
                   AS c_score
        FROM queries q CROSS JOIN cent c
    ),
    qry_cell AS (
        SELECT query_id, q_vec, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM qry_scored
        ) WHERE c_rank <= {IVF_NPROBE}
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND({SIM.sql_cosine('q_vec', 'n_vec', DIMS)}, 6) AS score
        FROM qry_cell JOIN corp_cell USING (centroid_id)
        WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, score
    FROM ranked WHERE rank <= {TOP_K}
    """,
)


# --- Streaming IVF index round-trip (dense serving symmetry) ------------------

# Per-(kind, SF) store roots for the job-running registered queries,
# allocated once per PROCESS via mkdtemp: unique across concurrent
# processes/users (a fixed world-shared /tmp path would let a second
# run's rmtree delete the store a first run's returned lazy DataFrame
# is still scanning, and fails outright across users on shared hosts),
# while within one process repeated constructions reuse-and-rebuild the
# same path so bench warmups and parity stay deterministic.
_STORE_ROOTS: dict[tuple[str, str], str] = {}


def _store_root(kind: str, sf_dir: str) -> str:
    """Single-live-frame-per-kind constraint (r13 ADVICE): the
    reuse-and-rebuild rmtree below invalidates any still-live DataFrame
    a PRIOR construction of the same (kind, SF) returned in this
    process — parquet file listings are captured at read time, so
    re-collecting the old frame after a rebuild can hit
    FileNotFoundException. Callers must treat each construction's
    returned frame as superseding the previous one (the driver, bench,
    and parity all do: build -> consume -> discard)."""
    import shutil
    import tempfile

    key = (kind, os.path.basename(sf_dir.rstrip("/")))
    root = _STORE_ROOTS.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix=f"spark_graft_{kind}_{key[1]}_")
        _STORE_ROOTS[key] = root
    else:
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
    return root

IVF_STREAM_NPROBE = 3


def sim_ivf_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k served THROUGH the incremental cell store: ingest the
    embeddings table in three slices via the streaming index maintainer
    (streaming/pipelines.streaming_ivf_index — the dense-side twin of
    the BM25 index), then answer the standard query set from the store
    read view (ivf_topk_view), probing 3 cells. The oracle is the plain
    batch IVF SQL at nprobe=3: matching it proves the whole serving
    round-trip — per-slice centroid assignment, parquet upsert-store
    merges, probed-cell pruned read, and the shared ivf_rank tail —
    end-to-end, not just the in-memory plan.

    Construction runs the three store merges (a job-running build, like
    the iterative trainers); the store lives at a per-process mkdtemp
    root keyed by SF (_store_root) and is rebuilt fresh each
    construction, so repeated runs (bench warmups, parity) are
    deterministic and concurrent processes never clobber each other."""
    from flink_streaming_demo_spark.streaming.pipelines import (
        ivf_topk_view,
        streaming_ivf_index,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    root = _store_root("ivf_store", sf_dir)
    cells = ParquetUpsertSink(os.path.join(root, "cells"), ["vec_id"])
    body = streaming_ivf_index(cells, centroids)
    for i in range(3):
        body(emb.filter(F.col("vec_id") % 3 == i), epoch_id=i)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return ivf_topk_view(
        spark, cells, queries, centroids, k=TOP_K, nprobe=IVF_STREAM_NPROBE
    )


register(
    "sim_ivf_stream_topk",
    sim_ivf_stream_topk,
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_vec
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    corp_scored AS (
        SELECT e.vec_id, e.embedding, centroid_id,
               ROUND({SIM.sql_cosine('e.embedding', 'c_vec', DIMS)}, 6)
                   AS c_score
        FROM embeddings e CROSS JOIN cent
    ),
    corp_cell AS (
        SELECT vec_id AS neighbor_id, embedding AS n_vec, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored
        ) WHERE c_rank = 1
    ),
    qry_cell AS (
        SELECT vec_id AS query_id, embedding AS q_vec, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored WHERE vec_id < {N_QUERIES}
        ) WHERE c_rank <= {IVF_STREAM_NPROBE}
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND({SIM.sql_cosine('q_vec', 'n_vec', DIMS)}, 6) AS score
        FROM qry_cell JOIN corp_cell USING (centroid_id)
        WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, score
    FROM ranked WHERE rank <= {TOP_K}
    """,
)


# --- Ingest-time embedding near-dup gate over the IVF store -------------------


def dedup_ivf_stream_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-then-ingest dense dedup front: the embeddings table arrives
    in three slices (vec_id % 3 == 0, 1, 2, in order); each slice is
    verdicted against the already-admitted cell store (near_dup iff an
    admitted nearest-cell mate has cosine >= NEARDUP_THRESHOLD, dup_of =
    the max-cosine mate, lowest-id tiebreak) and then ingested via the
    streaming IVF maintainer. The dense twin of dedup_incremental: the
    oracle replays the slice order declaratively (candidates = same
    cell, strictly earlier slice), so a green row proves the whole
    gate-then-ingest trajectory — per-slice store states included — not
    just a single batch verdict.

    Construction runs the three gate+merge rounds (job-running build);
    stores live at a per-process mkdtemp root keyed by SF, rebuilt
    fresh per construction (the sim_ivf_stream_topk pattern)."""
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_ivf_dedup_gate,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    root = _store_root("ivf_gate", sf_dir)
    cells = ParquetUpsertSink(os.path.join(root, "cells"), ["vec_id"])
    decisions = ParquetUpsertSink(os.path.join(root, "decisions"), ["vec_id"])
    body = streaming_ivf_dedup_gate(
        cells, decisions, centroids, threshold=NEARDUP_THRESHOLD
    )
    for i in range(3):
        body(emb.filter(F.col("vec_id") % 3 == i), epoch_id=i)
    return decisions.read(spark).select(
        "vec_id",
        F.pmod(F.col("vec_id"), F.lit(3)).cast("int").alias("slice"),
        "verdict",
        "dup_of",
        "cos_sim",
    )


register(
    "dedup_ivf_stream_gate",
    dedup_ivf_stream_gate,
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_vec
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    assigned AS (
        SELECT vec_id, embedding, nrm, centroid_id,
               CAST(vec_id % 3 AS INT) AS slice
        FROM (
            SELECT e.vec_id, e.embedding,
                   {SIM.sql_l2_norm('e.embedding', DIMS)} AS nrm,
                   centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({SIM.sql_cosine('e.embedding', 'c_vec',
                                                      DIMS)}, 6) DESC,
                                centroid_id ASC
                   ) AS c_rank
            FROM embeddings e CROSS JOIN cent
        ) WHERE c_rank = 1
    ),
    cand AS (
        SELECT i.vec_id, m.vec_id AS member_id,
               ROUND({SIM.sql_dot('i.embedding', 'm.embedding', DIMS)}
                     / (i.nrm * m.nrm), 6) AS cos_sim
        FROM assigned i
        JOIN assigned m
          ON i.centroid_id = m.centroid_id AND m.slice < i.slice
    ),
    best AS (
        SELECT vec_id, member_id AS dup_of, cos_sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY cos_sim DESC, member_id ASC
            ) AS rk
            FROM cand WHERE cos_sim >= {NEARDUP_THRESHOLD}
        ) WHERE rk = 1
    )
    SELECT a.vec_id, a.slice,
           CASE WHEN b.vec_id IS NULL THEN 'new' ELSE 'near_dup' END
               AS verdict,
           CAST(COALESCE(b.dup_of, -1) AS BIGINT) AS dup_of,
           b.cos_sim
    FROM assigned a
    LEFT JOIN best b ON a.vec_id = b.vec_id
    """,
)


# --- SemDeDup: cluster-then-dedup semantic deduplication ---------------------

SEMDEDUP_THRESHOLD = 0.4


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-scoped embedding near-dup, Abbas et al. 2023):
    train centroids with the engine's Lloyd k-means (3 iterations, the
    sim_ivf_kmeans trajectory), assign each vector to its nearest
    centroid, and drop every vector with a lower-id cluster-mate at
    cosine >= threshold. Composes the two proven pieces — the k-means
    trajectory oracle and the rounded-cosine pair stage — into the
    pipeline the paper actually runs; the oracle replays both, so the
    cluster boundary effects (near-dups split across clusters are NOT
    candidates) are hash-checked too, not idealized away."""
    emb = t(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    cent = SIM.kmeans_centroids(emb, seeds, n_iterations=KMEANS_ITERS)
    return SIM.semantic_dedup(emb, cent, threshold=SEMDEDUP_THRESHOLD)


register(
    "dedup_semantic",
    dedup_semantic,
    f"""
    WITH {SIM.sql_kmeans_cents(N_CENTROIDS, KMEANS_ITERS, DIMS)},
    cent AS (
        SELECT centroid_id, cvec AS c_vec FROM cent{KMEANS_ITERS}
    ),
    assigned AS (
        SELECT vec_id, embedding, nrm, centroid_id
        FROM (
            SELECT e.vec_id, e.embedding,
                   {SIM.sql_l2_norm('e.embedding', DIMS)} AS nrm,
                   centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({SIM.sql_cosine('e.embedding', 'c_vec',
                                                      DIMS)}, 6) DESC,
                                centroid_id ASC
                   ) AS c_rank
            FROM embeddings e CROSS JOIN cent
        ) WHERE c_rank = 1
    ),
    pairs AS (
        SELECT a.centroid_id,
               a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND({SIM.sql_dot('a.embedding', 'b.embedding', DIMS)}
                     / (a.nrm * b.nrm), 6) AS cos_sim
        FROM assigned a
        JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    ),
    hits AS (
        SELECT * FROM pairs WHERE cos_sim >= {SEMDEDUP_THRESHOLD}
    )
    SELECT id_b AS vec_id, centroid_id, id_a AS dup_of, cos_sim
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY id_b ORDER BY id_a ASC
        ) AS _rn
        FROM hits
    ) WHERE _rn = 1
    """,
)


# --- Scalar int8 quantization (storage/ANN compression) ----------------------

def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization audit: scale =
    max|x|/127, q_i = floor(x_i/scale + 0.5) (explicit floor form so
    every IEEE engine rounds identically — no reliance on the engine's
    round-half mode), then report the reconstruction quality per vector
    (max abs error and cosine between original and dequantized). This is
    the compression step a 100 TB ANN index runs before storage: 4x
    smaller vectors, candidate scan on int8, exact rerank on the
    original floats — the audit columns are what you monitor to pick the
    quantization config. Pure array expressions; map-only, no shuffle.
    """
    emb = t(spark, sf_dir, "embeddings")
    with_q = (
        emb.select(
            "vec_id",
            F.transform(
                F.col("embedding"), lambda v: v.cast("double")
            ).alias("x"),
        )
        .withColumn(
            "scale",
            F.array_max(F.transform(F.col("x"), F.abs)) / F.lit(127.0),
        )
        .withColumn(
            "deq",
            F.transform(
                F.col("x"),
                lambda v: F.floor(v / F.col("scale") + F.lit(0.5)).cast(
                    "double"
                )
                * F.col("scale"),
            ),
        )
    )
    return with_q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round(
            F.array_max(
                F.zip_with("x", "deq", lambda a, b: F.abs(a - b))
            ),
            6,
        ).alias("max_abs_err"),
        F.round(
            SIM.dot(F.col("x"), F.col("deq"))
            / (SIM.l2_norm(F.col("x")) * SIM.l2_norm(F.col("deq"))),
            6,
        ).alias("cos_recon"),
    )


register(
    "embedding_quantize",
    embedding_quantize,
    f"""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, x,
               list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
        FROM base
    ),
    quant AS (
        SELECT vec_id, x, scale,
               list_transform(x, v -> floor(v / scale + 0.5) * scale)
                   AS deq
        FROM scaled
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           ROUND(list_max(list_transform(generate_series(1, {DIMS}),
                 i -> abs(x[i] - deq[i]))), 6) AS max_abs_err,
           ROUND({SIM.sql_dot('x', 'deq', DIMS)}
                 / ({SIM.sql_l2_norm('x', DIMS)}
                    * {SIM.sql_l2_norm('deq', DIMS)}), 6) AS cos_recon
    FROM quant
    """,
)


# --- End-to-end embedding dedup pipeline -------------------------------------

def pipeline_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-side end-to-end dedup pipeline (the embeddings
    analogue of pipeline_clean_corpus): train centroids with Lloyd
    k-means, assign every vector to its cell, drop SemDeDup losers
    (lower-id cluster-mate at cosine >= threshold), and emit the
    surviving corpus with its cluster assignment — the exact frame an
    ANN index or a training-mixture sampler consumes downstream.

    100 TB shape is the sum of its proven parts: k-means = linear
    assign/update iterations with broadcast centroids; SemDeDup bounds
    the quadratic term by cluster size; the final survivors step is a
    left_anti join against the (small) dropped list. One lineage, no
    collect anywhere."""
    emb = t(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    cent = SIM.kmeans_centroids(emb, seeds, n_iterations=KMEANS_ITERS)
    # ONE corpus-wide assignment pass, shared by the output's cluster
    # column and SemDeDup's in-cluster pair stage (it ran twice before).
    assigned = SIM.assign_to_centroids(emb, cent, 1)
    dropped = SIM.semantic_dedup(
        emb, cent, threshold=SEMDEDUP_THRESHOLD, assigned=assigned
    ).select("vec_id")
    return (
        emb.join(dropped, "vec_id", "left_anti")
        .join(assigned.select("vec_id", "centroid_id"), "vec_id")
        .select("vec_id", "label", "centroid_id")
    )


register(
    "pipeline_embedding_dedup",
    pipeline_embedding_dedup,
    f"""
    WITH {SIM.sql_kmeans_cents(N_CENTROIDS, KMEANS_ITERS, DIMS)},
    cent AS (
        SELECT centroid_id, cvec AS c_vec FROM cent{KMEANS_ITERS}
    ),
    assigned AS (
        SELECT vec_id, embedding, nrm, centroid_id
        FROM (
            SELECT e.vec_id, e.embedding,
                   {SIM.sql_l2_norm('e.embedding', DIMS)} AS nrm,
                   centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({SIM.sql_cosine('e.embedding', 'c_vec',
                                                      DIMS)}, 6) DESC,
                                centroid_id ASC
                   ) AS c_rank
            FROM embeddings e CROSS JOIN cent
        ) WHERE c_rank = 1
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a
        JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE ROUND({SIM.sql_dot('a.embedding', 'b.embedding', DIMS)}
                    / (a.nrm * b.nrm), 6) >= {SEMDEDUP_THRESHOLD}
    )
    SELECT e.vec_id, e.label, s.centroid_id
    FROM embeddings e
    JOIN assigned s ON s.vec_id = e.vec_id
    WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)


# --- Per-dimension corpus profile --------------------------------------------

def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std/min/max over the whole embedding column —
    the profiling pass that gates normalization/quantization decisions
    (and catches dead or exploding dimensions) before any vector op.
    Variance is computed explicitly as ``E[v^2] - E[v]^2`` from two
    unordered sums so Spark and DuckDB evaluate the identical formula
    (library stddev_pop implementations differ bitwise).

    100 TB shape: posexplode -> one partial-aggregated groupBy(dim):
    map-side combine collapses N*64 rows to 64 per task before the
    shuffle; the reduce side handles 64 rows total.
    """
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        )
    )
    n = F.count(F.lit(1)).cast("double")
    mean = F.sum("v") / n
    var = F.sum(F.col("v") * F.col("v")) / n - mean * mean
    return (
        ex.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(mean, 6).alias("mean"),
            F.round(F.sqrt(var), 6).alias("std"),
            F.round(F.min("v"), 6).alias("vmin"),
            F.round(F.max("v"), 6).alias("vmax"),
        )
        .select(F.col("dim").cast("int").alias("dim"), "n", "mean", "std",
                "vmin", "vmax")
    )


register(
    "embedding_dim_profile",
    embedding_dim_profile,
    f"""
    WITH ex AS (
        SELECT CAST(s.i - 1 AS INT) AS dim,
               CAST(e.embedding[s.i] AS DOUBLE) AS v
        FROM embeddings e
        CROSS JOIN generate_series(1, {DIMS}) AS s(i)
    )
    SELECT
        dim,
        CAST(COUNT(*) AS BIGINT) AS n,
        ROUND(SUM(v) / COUNT(*), 6) AS mean,
        ROUND(SQRT(SUM(v * v) / COUNT(*)
                   - (SUM(v) / COUNT(*)) * (SUM(v) / COUNT(*))), 6)
            AS std,
        ROUND(MIN(v), 6) AS vmin,
        ROUND(MAX(v), 6) AS vmax
    FROM ex
    GROUP BY dim
    """,
)


# --- Random projection (Johnson-Lindenstrauss dimensionality reduction) ------

RP_DIMS = 8
RP_PLANE_BASE = 1000  # plane_component namespace disjoint from LSH planes
RP_N = 50


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project 64-dim embeddings onto ``RP_DIMS`` deterministic
    md5-derived directions (the same plane_component generator the LSH
    family uses, in a disjoint index namespace) — the JL-style reduction
    that feeds cheaper downstream clustering/visualization. Returned
    long-form (vec_id, dim, value) for the first ``RP_N`` vectors.

    100 TB shape: the projection matrix is 8x64 literals compiled into
    the plan — map-only, no broadcast, no shuffle, full codegen; output
    is written partition-parallel. The vec_id filter is a pushed-down
    scan predicate, not a driver-side collect.
    """
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < RP_N)
    vec = F.col("embedding").cast("array<double>")
    cols = []
    for p in range(RP_DIMS):
        plane = F.array(
            *[
                F.lit(SIM.plane_component(RP_PLANE_BASE + p, i))
                for i in range(DIMS)
            ]
        )
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cols.append(F.round(proj, 6).alias(f"p{p}"))
    wide = emb.select("vec_id", *cols)
    stack = "stack({n}, {pairs}) AS (dim, value)".format(
        n=RP_DIMS,
        pairs=", ".join(f"{p}, p{p}" for p in range(RP_DIMS)),
    )
    return wide.select("vec_id", F.expr(stack)).select(
        "vec_id", F.col("dim").cast("int").alias("dim"), "value"
    )


def _sql_random_projection() -> str:
    parts = []
    for p in range(RP_DIMS):
        plane = "[" + ", ".join(
            repr(SIM.plane_component(RP_PLANE_BASE + p, i))
            for i in range(DIMS)
        ) + "]"
        parts.append(f"""
        SELECT vec_id, CAST({p} AS INT) AS dim,
               ROUND(list_sum(list_transform(generate_series(1, {DIMS}),
                   i -> CAST(embedding[i] AS DOUBLE) * ({plane})[i])), 6)
                   AS value
        FROM embeddings WHERE vec_id < {RP_N}""")
    return " UNION ALL ".join(parts)


register(
    "embedding_random_projection",
    embedding_random_projection,
    _sql_random_projection(),
)


# --- Product quantization: ADC top-k over trained codebooks ------------------

PQ_QUERY_ITERS = SIM.PQ_ITERS


def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-5 for the first 5 vectors: train per-subspace Lloyd
    codebooks (8 subspaces x 16 codes, 2 iterations, seeded vec_id < 16),
    encode the corpus to 8 4-bit codes, and rank neighbors by the exact
    integer ADC sum. The oracle unrolls the identical training
    iterations, so the green proves the whole PQ trajectory — codebooks,
    encoding, and compressed-domain ranking — not just the final list.

    Recall vs the exact sim_topk_cosine top-5 at sf0.01 (measured): 8/25
    for the pure compressed-domain ranking at 64x compression (8 int4
    codes vs 64 float32) — and param sweeps (ksub 16/32/64, 3 iters,
    m=4) stay in the 7-9/25 band, because the synthetic corpus is
    near-UNIFORM on the unit sphere (all norms 1.0): neighbors are
    near-equidistant, so quantization noise reshuffles ranks — PQ's
    documented worst case, not an implementation defect. The production
    answer is the ADC-shortlist + exact-rerank form (sim_pq_rerank
    below: 20/25 at a 10% scan fraction); on real clustered embeddings
    the ADC ordering itself is far tighter. At 100 TB PQ composes with
    the IVF cells (IVF-PQ) so the ADC scan is bounded per query AND 64x
    smaller than raw vectors.
    """
    emb = t(spark, sf_dir, "embeddings")
    cb = SIM.pq_train(emb, n_iterations=PQ_QUERY_ITERS)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return SIM.pq_adc_topk(queries, emb, cb, k=TOP_K)


register(
    "sim_pq_adc",
    sim_pq_adc,
    f"""
    WITH {SIM.sql_pq_cents(n_iterations=PQ_QUERY_ITERS)},
    cb AS (
        SELECT su, code, cvec FROM pcent{PQ_QUERY_ITERS}
    ),
    {SIM.sql_pq_enc_dt(N_QUERIES)},
    adc AS (
        SELECT d.query_id, e.vec_id AS neighbor_id,
               CAST(SUM(d.pd_micro) AS BIGINT) AS adc_micro
        FROM enc e
        JOIN dt d ON e.su = d.su AND e.code = d.code
        WHERE d.query_id <> e.vec_id
        GROUP BY d.query_id, e.vec_id
    )
    SELECT query_id, rank, neighbor_id, adc_micro FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_micro ASC, neighbor_id ASC
        ) AS rank
        FROM adc
    ) WHERE rank <= {TOP_K}
    """,
)


PQ_SHORTLIST = 50


def sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ shortlist + exact rerank: the ADC compressed-domain scan keeps
    the 50 closest candidates per query (a 10% scan fraction at sf0.01),
    then the exact cosine reranks only those. Measured recall vs the
    exact top-5 at sf0.01: 20/25 (vs 8/25 for pure ADC on this
    uniform-sphere corpus) — the standard PQ accuracy/scan-fraction
    trade, with the full trajectory (training, encoding, ADC, rerank)
    oracle-replayed."""
    emb = t(spark, sf_dir, "embeddings")
    cb = SIM.pq_train(emb, n_iterations=PQ_QUERY_ITERS)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return SIM.pq_shortlist_rerank(
        queries, emb, cb, k=TOP_K, shortlist=PQ_SHORTLIST
    )


register(
    "sim_pq_rerank",
    sim_pq_rerank,
    f"""
    WITH {SIM.sql_pq_cents(n_iterations=PQ_QUERY_ITERS)},
    cb AS (
        SELECT su, code, cvec FROM pcent{PQ_QUERY_ITERS}
    ),
    {SIM.sql_pq_enc_dt(N_QUERIES)},
    adc AS (
        SELECT d.query_id, e.vec_id AS neighbor_id,
               CAST(SUM(d.pd_micro) AS BIGINT) AS adc_micro
        FROM enc e
        JOIN dt d ON e.su = d.su AND e.code = d.code
        WHERE d.query_id <> e.vec_id
        GROUP BY d.query_id, e.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY adc_micro ASC, neighbor_id ASC
            ) AS srk
            FROM adc
        ) WHERE srk <= {PQ_SHORTLIST}
    ),
    rescored AS (
        SELECT s.query_id, s.neighbor_id,
               ROUND({SIM.sql_cosine('q.embedding', 'c.embedding', DIMS)}, 6)
                   AS score
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, rank, neighbor_id, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
        ) AS rank
        FROM rescored
    ) WHERE rank <= {TOP_K}
    """,
)


# --- IVF-PQ: cells bound candidates, codes bound bytes -----------------------

def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 for the first 5 vectors: seed IVF cells (vec_id <
    N_CENTROIDS, the sim_ivf_topk configuration) bound the candidates,
    trained PQ codebooks + integer ADC rank them. The oracle replays
    cell assignment, codebook training, encoding, and the ADC ranking
    end-to-end — the full billion-scale ANN query shape, hash-checked."""
    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    cb = SIM.pq_train(emb, n_iterations=PQ_QUERY_ITERS)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return SIM.ivfpq_topk(
        queries, emb, centroids, cb, k=TOP_K, nprobe=IVF_NPROBE
    )


register(
    "sim_ivfpq_topk",
    sim_ivfpq_topk,
    f"""
    WITH {SIM.sql_pq_cents(n_iterations=PQ_QUERY_ITERS)},
    cb AS (
        SELECT su, code, cvec FROM pcent{PQ_QUERY_ITERS}
    ),
    cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_vec
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    corp_scored AS (
        SELECT e.vec_id, centroid_id,
               ROUND({SIM.sql_cosine('e.embedding', 'c_vec', DIMS)}, 6)
                   AS c_score
        FROM embeddings e CROSS JOIN cent
    ),
    corp_cell AS (
        SELECT vec_id AS neighbor_id, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored
        ) WHERE c_rank = 1
    ),
    qry_cell AS (
        SELECT vec_id AS query_id, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored WHERE vec_id < {N_QUERIES}
        ) WHERE c_rank <= {IVF_NPROBE}
    ),
    cand AS (
        SELECT q.query_id, c.neighbor_id
        FROM qry_cell q
        JOIN corp_cell c USING (centroid_id)
        WHERE q.query_id <> c.neighbor_id
    ),
    {SIM.sql_pq_enc_dt(N_QUERIES)},
    adc AS (
        SELECT a.query_id, a.neighbor_id,
               CAST(SUM(d.pd_micro) AS BIGINT) AS adc_micro
        FROM cand a
        JOIN enc e ON e.vec_id = a.neighbor_id
        JOIN dt d ON d.query_id = a.query_id
                 AND d.su = e.su AND d.code = e.code
        GROUP BY a.query_id, a.neighbor_id
    )
    SELECT query_id, rank, neighbor_id, adc_micro FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_micro ASC, neighbor_id ASC
        ) AS rank
        FROM adc
    ) WHERE rank <= {TOP_K}
    """,
)


# --- PQ quantization distortion audit ----------------------------------------

def sim_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace reconstruction error of the trained PQ codebooks:
    each vector's squared L2 to its assigned code centroid (integer
    micro-units, the same quantity ADC sums), averaged per subspace.
    The codebook-quality audit a production index build emits — a
    subspace whose distortion is an outlier needs more codes or a
    different split. Exact integer sums / exact count, one division at
    the end — order-free on both engines."""
    emb = t(spark, sf_dir, "embeddings")
    cb = SIM.pq_train(emb, n_iterations=PQ_QUERY_ITERS)
    subs = SIM.subvectors(emb)
    assigned = SIM._pq_assign(subs, cb, "vec_id")
    scored = assigned.join(F.broadcast(cb), ["su", "code"]).select(
        "su",
        F.floor(SIM.sq_l2(F.col("svec"), F.col("cvec")) * F.lit(1000000.0))
        .cast("bigint")
        .alias("pd_micro"),
    )
    return scored.groupBy("su").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum("pd_micro").cast("double") / F.count(F.lit(1)), 2
        ).alias("avg_dist_micro"),
    )


register(
    "sim_pq_distortion",
    sim_pq_distortion,
    f"""
    WITH {SIM.sql_pq_cents(n_iterations=PQ_QUERY_ITERS)},
    cb AS (
        SELECT su, code, cvec FROM pcent{PQ_QUERY_ITERS}
    ),
    assigned AS (
        SELECT vec_id, su, svec, code FROM (
            SELECT s.vec_id, s.su, s.svec, c.code,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.su
                       ORDER BY ROUND({SIM.sql_sq_l2('s.svec', 'c.cvec', SIM.PQ_DSUB)}, 6) ASC,
                                c.code ASC
                   ) AS rk
            FROM subv s JOIN cb c ON s.su = c.su
        ) WHERE rk = 1
    ),
    scored AS (
        SELECT a.su,
               CAST(FLOOR({SIM.sql_sq_l2('a.svec', 'c.cvec', SIM.PQ_DSUB)}
                          * 1000000) AS BIGINT) AS pd_micro
        FROM assigned a
        JOIN cb c ON c.su = a.su AND c.code = a.code
    )
    SELECT su,
           COUNT(*) AS n_vectors,
           ROUND(CAST(CAST(SUM(pd_micro) AS BIGINT) AS DOUBLE)
                 / COUNT(*), 2) AS avg_dist_micro
    FROM scored
    GROUP BY su
    """,
)


# --- Joint text + vector curation (capstone composition) ---------------------

def pipeline_joint_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-AND-vector curation in one decision: a document survives iff
    it (a) passes the text quality gate, (b) is its content's exact-dedup
    keeper, and (c) its paired embedding (vec_id == doc_id in the
    testdata) is a SemDeDup survivor. This is the real curation join —
    textual signals and semantic-space signals vote on the SAME corpus —
    and every leg reuses an already-proven operator, so the oracle
    composes their existing CTEs verbatim.

    100 TB shape: three independent linear passes (scan + gate; hash
    groupBy; k-means/SemDeDup over the LSH-bounded cluster pairs) joined
    on the id at the end — no new shuffle classes."""
    from flink_streaming_demo_spark.functions import text as TX
    from flink_streaming_demo_spark.operators import dedup as DD

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    quality = docs.filter(TX.quality_pass(F.col("text")))
    kept_text = DD.exact_dedup(quality)
    sem_dropped = dedup_semantic(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id")
    )
    return (
        kept_text.join(sem_dropped, "doc_id", "left_anti")
        .select("doc_id", "source", TX.token_count(F.col("text"))
                .alias("n_tokens"))
    )


def _joint_curation_oracle() -> str:
    from flink_streaming_demo_spark.functions import text as TX
    from flink_streaming_demo_spark.plans.registry import ORACLE_SQL

    sem = ORACLE_SQL["dedup_semantic"]
    return f"""
    WITH q AS (
        SELECT doc_id, source, text FROM documents
        WHERE {TX.sql_quality_pass('text')}
    ),
    keepers AS (
        SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)
    ),
    sem_dropped AS (
        SELECT vec_id AS doc_id FROM ({sem})
    )
    SELECT q.doc_id, q.source,
           {TX.sql_token_count('q.text')} AS n_tokens
    FROM q
    JOIN keepers USING (doc_id)
    ANTI JOIN sem_dropped s ON s.doc_id = q.doc_id
    """


register("pipeline_joint_curation", pipeline_joint_curation,
         _joint_curation_oracle())


# --- ANN recall report (approximation quality as a checked query) -------------

def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN against the exact brute-force
    top-k, per query — the approximation-quality metric an ANN
    deployment monitors, promoted into the hash-checked surface so a
    recall regression (from a signature change, a bucketing bug, a
    plane-constant drift) fails the driver the same way a wrong join
    would. Composes the two registered pipelines; the oracle composes
    their registered SQL verbatim (registry.ORACLE_SQL), so both sides
    stay definitionally in sync with the queries they grade."""
    return _recall_vs_exact(spark, sf_dir, "sim_ann_lsh")


def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF (nprobe centroid-bucketed) ANN tier against
    the exact brute-force top-k, per query — sim_ann_recall's sibling
    for the trained-index tier, so BOTH approximate tiers carry a
    driver-checked quality grade (an IVF recall drop from a k-means
    seeding or nprobe-selection change fails the driver like a wrong
    join would)."""
    return _recall_vs_exact(spark, sf_dir, "sim_ivf_topk")


def _recall_vs_exact(
    spark: SparkSession, sf_dir: str, approx: str
) -> DataFrame:
    """(query_id, n_hits, recall): per query, the share of the exact
    brute-force top-k that the registered approximate query ``approx``
    also returns."""
    from flink_streaming_demo_spark.plans.registry import QUERIES

    # exact feeds BOTH the hits join and the per-query totals: the cut
    # (k x |Q| rows) stops the full brute-force top-k subtree from
    # executing once per consumer (r15).
    exact = (
        sim_topk_cosine(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    approx_df = QUERIES[approx](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx_df, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def _recall_oracle(approx: str) -> str:
    """DuckDB twin of ``_recall_vs_exact``, composing the registered
    oracle SQL of sim_topk_cosine and of ``approx`` verbatim."""
    from flink_streaming_demo_spark.plans.registry import ORACLE_SQL

    return f"""
    WITH exact_q AS ({ORACLE_SQL["sim_topk_cosine"]}),
    approx_q AS ({ORACLE_SQL[approx]}),
    hits AS (
        SELECT e.query_id, COUNT(*) AS n_hits
        FROM exact_q e
        JOIN approx_q a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    )
    SELECT e.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM exact_q e
    LEFT JOIN hits h ON h.query_id = e.query_id
    GROUP BY e.query_id, h.n_hits
    """


register("sim_ann_recall", sim_ann_recall, _recall_oracle("sim_ann_lsh"))
register("sim_ivf_recall", sim_ivf_recall, _recall_oracle("sim_ivf_topk"))


MULTIPROBE_MAX = 4
MULTIPROBE_LEVELS = (1, 2, 4)


def sim_ivf_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost knob, measured: recall@k against the exact
    brute-force top-k for nprobe = 1, 2 and 4 over the SAME index, in
    one pass. ``ivf_probe_pairs`` grades every candidate by which probe
    ring found it, so filtering ``probe_rank <= nprobe`` reproduces
    exactly the candidate set an nprobe-cell search scans — a 3-row
    report (nprobe, n_hits, recall) where recall rising with nprobe is
    the driver-checked contract (single-probe is the known recall cliff;
    multi-probe is the production mitigation, Jégou et al. 2011 IVF).

    Scale: the one data-sized stage is the broadcast-centroid assignment
    scan; per-level top-k ranks run on the (query, level)-partitioned
    candidate slice (bounded by max_probe/K of the corpus per query).
    """
    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    pairs = SIM.ivf_probe_pairs(queries, emb, centroids, MULTIPROBE_MAX)
    levels = spark.createDataFrame(
        [(n,) for n in MULTIPROBE_LEVELS], "nprobe int"
    )
    cand = pairs.join(
        F.broadcast(levels), F.col("probe_rank") <= F.col("nprobe")
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    topk = cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )
    # exact feeds the hits join AND the total-count leg — cut once (r15)
    exact = (
        sim_topk_cosine(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    hits = topk.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "nprobe"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    tot = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        levels.crossJoin(F.broadcast(tot))
        .join(hits, "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def _ivf_multiprobe_oracle() -> str:
    from flink_streaming_demo_spark.plans.registry import ORACLE_SQL

    levels_rows = ", ".join(f"({n})" for n in MULTIPROBE_LEVELS)
    return f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_vec
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    corp_scored AS (
        SELECT e.vec_id, e.embedding, centroid_id,
               ROUND({SIM.sql_cosine('e.embedding', 'c_vec', DIMS)}, 6)
                   AS c_score
        FROM embeddings e CROSS JOIN cent
    ),
    corp_cell AS (
        SELECT vec_id AS neighbor_id, embedding AS n_vec, centroid_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored
        ) WHERE c_rank = 1
    ),
    qry_cell AS (
        SELECT vec_id AS query_id, embedding AS q_vec, centroid_id,
               c_rank AS probe_rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_score DESC, centroid_id ASC
            ) AS c_rank
            FROM corp_scored WHERE vec_id < {N_QUERIES}
        ) WHERE c_rank <= {MULTIPROBE_MAX}
    ),
    levels(nprobe) AS (VALUES {levels_rows}),
    cand AS (
        SELECT l.nprobe, q.query_id, c.neighbor_id,
               ROUND({SIM.sql_cosine('q_vec', 'n_vec', DIMS)}, 6) AS score
        FROM qry_cell q
        JOIN corp_cell c USING (centroid_id)
        CROSS JOIN levels l
        WHERE q.probe_rank <= l.nprobe AND q.query_id <> c.neighbor_id
    ),
    mp_topk AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY nprobe, query_id
                ORDER BY score DESC, neighbor_id ASC
            ) AS rk
            FROM cand
        ) WHERE rk <= {TOP_K}
    ),
    exact_q AS ({ORACLE_SQL["sim_topk_cosine"]}),
    hits AS (
        SELECT nprobe, COUNT(*) AS n_hits
        FROM mp_topk t
        JOIN exact_q e
          ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
        GROUP BY nprobe
    ),
    tot AS (SELECT COUNT(*) AS n_exact FROM exact_q)
    SELECT l.nprobe,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                 / CAST(t.n_exact AS DOUBLE), 6) AS recall
    FROM levels l
    CROSS JOIN tot t
    LEFT JOIN hits h ON h.nprobe = l.nprobe
    """


register(
    "sim_ivf_multiprobe_recall",
    sim_ivf_multiprobe_recall,
    _ivf_multiprobe_oracle(),
)


# --- Distributed covariance / correlation matrix ------------------------------

def _cov_partials(batches):
    """Arrow-batched Gram partials for ``_cov_frame``: per batch, one
    numpy pass emits the 2080 upper-triangle quantized product sums
    (plus the per-dim quantized first moments, carried on the diagonal
    rows) as exact int64 partials. ``np.copysign(np.floor(np.abs(v*1e6)
    + 0.5), v)`` reproduces Spark's ROUND_HALF_UP of ``v*1e6`` exactly
    on this grid (verified exhaustively against BigDecimal HALF_UP of
    the shortest decimal repr for every near-boundary element at all
    three SFs). TWO loud per-batch guards, neither assumed:

    * HALF_UP fidelity: the copysign/floor trick only matches
      BigDecimal HALF_UP while |v*1e6| < 2^52 — past that, float64
      spacing exceeds 1, the +0.5 tie pushes representable odd
      integers UP where round-half-to-even (and Spark's round of an
      exact integer) would leave them, so parity breaks SILENTLY well
      before int64 overflows. Checked on max(|x|, |x|^2) per batch
      (products dominate once |x| > 1); bounds |x| to ~6.7e4.
    * int64 partial overflow: the worst-case bound
      rows * (max|x|^2 * 1e6 + 1) is checked against 2^62 per batch,
      covering any spark.sql.execution.arrow.maxRecordsPerBatch
      setting (default 10k; 0 = whole partition)."""
    import numpy as np
    import pandas as pd

    iu, ju = np.triu_indices(DIMS)
    for pdf in batches:
        vecs = pdf["e"].tolist()
        if not vecs:
            continue
        X = np.asarray(vecs, dtype=np.float64)
        peak = float(np.abs(X).max())
        if max(peak, peak * peak) * 1e6 >= float(2**52):
            raise ValueError(
                "covariance quantization leaves the HALF_UP-exact "
                f"float64 envelope: max|x|={peak:.3g} puts a product "
                "past 2^52 ulp-1 spacing, where floor(|v*1e6|+0.5) "
                "diverges from Spark's BigDecimal HALF_UP; rescale "
                "the embeddings"
            )
        if X.shape[0] * (peak * peak * 1e6 + 1.0) >= float(2**62):
            raise ValueError(
                "covariance int64 partial could overflow: "
                f"{X.shape[0]} rows with max|x|={peak:.3g} in one "
                "Arrow batch; lower spark.sql.execution.arrow."
                "maxRecordsPerBatch or rescale the embeddings"
            )
        S = np.zeros((DIMS, DIMS), dtype=np.int64)
        for s in range(0, X.shape[0], 512):
            C = X[s : s + 512]
            P = C[:, :, None] * C[:, None, :]
            S += (
                np.copysign(np.floor(np.abs(P * 1e6) + 0.5), P)
                .astype(np.int64)
                .sum(axis=0)
            )
        sx = (
            np.copysign(np.floor(np.abs(X * 1e6) + 0.5), X)
            .astype(np.int64)
            .sum(axis=0)
        )
        yield pd.DataFrame(
            {
                "i": (iu + 1).astype("int32"),
                "j": (ju + 1).astype("int32"),
                "sxy": S[iu, ju],
                "sx": np.where(iu == ju, sx[iu], np.int64(0)),
                "n": np.int64(X.shape[0]),
            }
        )


def _cov_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared second-moment frame for embedding_covariance, the PCA
    power iteration and embedding_isotropy: one row per upper-triangle
    pair (i <= j) with (i, j, n, c = raw covariance, vi, vj = raw
    variances), all doubles derived from EXACT order-free DECIMAL
    moment sums, so all consumers — and their oracle twins — start
    from bit-identical values.

    100 TB shape: ONE Arrow pass over the vectors (``mapInPandas``)
    computes per-batch 64x64 Gram partials in numpy and emits 2080
    upper-triangle rows per batch — the shuffle is O(batches), never
    O(N*2080), and the reduce side handles 2080 groups total. The
    first moments ride the diagonal rows of the same pass (no second
    scan). This replaced an N*2080 struct-explode through codegen that
    ran 9x slower at sf0.1 (r12): the Gram product is exactly the
    BLAS-shaped kernel the vectorized Python path is for. The 2080-row
    result is localCheckpointed because three tiny frames (sums,
    firsts, diag) re-reference it — without the cut the Python pass
    would re-run per reference.

    Determinism discipline: the order-sensitive float reductions (the
    product sums) are quantized to 1e-6 per element (ROUND_HALF_UP,
    reproduced bit-exactly in numpy — see ``_cov_partials``), summed
    exactly as int64 within a batch and as DECIMAL(38,0) across
    batches — order-independent on any engine, same trick as the
    sketch family's exact-integer harmonic sums — then a single
    identical double formula (cast, divide, subtract) derives the
    moments on both engines, where a plain double SUM would be
    partial-agg-order-dependent in the last ulp. The 1e6 quantum is
    deliberate: at grid*1e12 the product's double ulp (~2e-4 at
    magnitude 1e12) sits close enough to the 1.0 rounding grid that
    Spark (rounds the shortest decimal repr via BigDecimal) and DuckDB
    (rounds the binary value) disagree on ~1e-4 of values — at 1e6 the
    ulp is 1e-10 of the grid and the two rounding notions coincide; the
    ~1e-8 moment error this coarser quantum adds is invisible at the
    6-decimal output rounding."""
    emb = t(spark, sf_dir, "embeddings")
    # null vectors are dropped (none exist in any SF); the moment sums
    # and n then agree on the same row set
    e = emb.select(
        F.col("embedding").cast("array<double>").alias("e")
    ).filter(F.col("e").isNotNull())
    parts = e.mapInPandas(
        _cov_partials, schema="i int, j int, sxy long, sx long, n long"
    )
    sums = (
        parts.groupBy("i", "j")
        .agg(
            F.sum(F.col("sxy").cast("decimal(38,0)")).alias("sxy"),
            F.sum(F.col("sx").cast("decimal(38,0)")).alias("sx_diag"),
            F.sum("n").alias("n"),
        )
        .localCheckpoint(eager=False)
    )
    firsts = sums.filter(F.col("i") == F.col("j")).select(
        F.col("j").alias("d"), F.col("sx_diag").alias("sx_d")
    )
    # second moment of dim d = the sxy of its diagonal pair (d, d)
    diag = sums.filter(F.col("i") == F.col("j")).select(
        F.col("j").alias("d"), F.col("sxy").alias("sxx_d")
    )
    joined = (
        sums.join(
            F.broadcast(firsts).select(
                F.col("d").alias("i"), F.col("sx_d").alias("sx_i")
            ),
            "i",
        )
        .join(
            F.broadcast(firsts).select(
                F.col("d").alias("j"), F.col("sx_d").alias("sx_j")
            ),
            "j",
        )
        .join(
            F.broadcast(diag).select(
                F.col("d").alias("i"), F.col("sxx_d").alias("sxx_i")
            ),
            "i",
        )
        .join(
            F.broadcast(diag).select(
                F.col("d").alias("j"), F.col("sxx_d").alias("sxx_j")
            ),
            "j",
        )
    )
    n = F.col("n").cast("double")
    mi = F.col("sx_i").cast("double") / F.lit(1e6) / n
    mj = F.col("sx_j").cast("double") / F.lit(1e6) / n
    cov = F.col("sxy").cast("double") / F.lit(1e6) / n - mi * mj
    vi = F.col("sxx_i").cast("double") / F.lit(1e6) / n - mi * mi
    vj = F.col("sxx_j").cast("double") / F.lit(1e6) / n - mj * mj
    return joined.select(
        "i",
        "j",
        F.col("n").cast("bigint").alias("n_vecs"),
        cov.alias("c"),
        vi.alias("vi"),
        vj.alias("vj"),
    )


# DuckDB twin of _cov_frame: CTE chain ending in `cov(i, j, n, c, vi,
# vj)`. MATERIALIZED: cov is multi-referenced downstream (the PCA
# oracle unions its mirror), and DuckDB re-plans non-materialized CTEs
# per reference.
_MI = "(CAST(sx_i AS DOUBLE) / 1e6 / CAST(n AS DOUBLE))"
_MJ = "(CAST(sx_j AS DOUBLE) / 1e6 / CAST(n AS DOUBLE))"
_SQL_COV_CTES = f"""
    pairs AS MATERIALIZED (
        SELECT i.i AS i, j.j AS j,
               CAST(ROUND(CAST(e.embedding[i.i] AS DOUBLE)
                          * CAST(e.embedding[j.j] AS DOUBLE) * 1e6, 0)
                    AS DECIMAL(38,0)) AS xyq
        FROM embeddings e
        CROSS JOIN (SELECT UNNEST(generate_series(1, {DIMS})) AS i) i
        CROSS JOIN (SELECT UNNEST(generate_series(1, {DIMS})) AS j) j
        WHERE j.j >= i.i
    ),
    sums AS MATERIALIZED (
        SELECT i, j, SUM(xyq) AS sxy, COUNT(*) AS n
        FROM pairs GROUP BY i, j
    ),
    firsts AS (
        SELECT d.d AS d,
               SUM(CAST(ROUND(CAST(e.embedding[d.d] AS DOUBLE) * 1e6, 0)
                        AS DECIMAL(38,0))) AS sx_d
        FROM embeddings e
        CROSS JOIN (SELECT UNNEST(generate_series(1, {DIMS})) AS d) d
        GROUP BY 1
    ),
    diag AS (
        SELECT j AS d, sxy AS sxx_d FROM sums WHERE i = j
    ),
    joined AS (
        SELECT s.i, s.j, s.n, s.sxy,
               fi.sx_d AS sx_i, fj.sx_d AS sx_j,
               di.sxx_d AS sxx_i, dj.sxx_d AS sxx_j
        FROM sums s
        JOIN firsts fi ON fi.d = s.i
        JOIN firsts fj ON fj.d = s.j
        JOIN diag di ON di.d = s.i
        JOIN diag dj ON dj.d = s.j
    ),
    cov AS MATERIALIZED (
        SELECT i, j, n,
               CAST(sxy AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
                   - {_MI} * {_MJ} AS c,
               CAST(sxx_i AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
                   - {_MI} * {_MI} AS vi,
               CAST(sxx_j AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
                   - {_MJ} * {_MJ} AS vj
        FROM joined
    )"""


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 64x64 covariance + correlation matrix of the embedding
    columns (upper triangle, 2080 pairs) — the one-pass second-moment
    profile behind whitening, PCA and redundant-dimension pruning.
    Computation, scale shape and float-determinism discipline: see
    ``_cov_frame`` (shared with embedding_pca_top_component)."""
    f = _cov_frame(spark, sf_dir)
    return f.select(
        "i",
        "j",
        "n_vecs",
        F.round(F.col("c"), 6).alias("cov"),
        F.when(
            (F.col("vi") > 0) & (F.col("vj") > 0),
            F.round(F.col("c") / F.sqrt(F.col("vi") * F.col("vj")), 6),
        ).alias("corr"),
    )


register(
    "embedding_covariance",
    embedding_covariance,
    f"""
    WITH {_SQL_COV_CTES}
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST(n AS BIGINT) AS n_vecs,
           ROUND(c, 6) + 0.0 AS cov,
           CASE WHEN vi > 0 AND vj > 0
                THEN ROUND(c / SQRT(vi * vj), 6) + 0.0
           END AS corr
    FROM cov
    """,
)


# --- PCA top component via engine-replayable power iteration -------------------

PCA_ITERS = 3


def embedding_pca_top_component(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dominant principal component of the embedding covariance by
    FIXED-ITERATION power method — distributed PCA with every float
    step engine-replayable: start from the exact unit vector v0 = 1/8
    (1/sqrt(64), exact in double), repeat v <- normalize(C v) three
    times, emit the 64 loadings plus the dominant-eigenvalue estimate
    (the final pre-normalization norm, a Rayleigh-quotient surrogate).

    100 TB shape: the ONLY data-sized pass is _cov_frame's single scan;
    the iteration runs entirely on 64-row control frames (matvec =
    broadcast join of the 4096-entry matrix against the 64-row vector,
    then a per-row fold), so iterations cost nothing at any N — the
    textbook split of "one heavy sufficient-statistics pass, cheap
    driver-sized refinement" (same stance as the logreg trainer).

    Determinism discipline: each matvec component and each norm is an
    ORDERED sequential fold over the index-sorted term list
    (F.aggregate / list_reduce — the PSI pattern), because a 64-term
    plain SUM is partial-agg-order-dependent in the last ulp and the
    iteration would AMPLIFY that wobble through the normalizations;
    the covariance inputs are already bit-identical from _cov_frame's
    DECIMAL sums. sqrt and the divisions are single IEEE ops."""
    f = _cov_frame(spark, sf_dir)
    # Cut the iteration's lineage at the 4160-row symmetric matrix:
    # without this, every matvec's plan re-embeds the ENTIRE covariance
    # derivation (measured in the r11 full-surface bench: 3,672 plan
    # nodes, 330 parquet scans, 12.1 s at sf0.1 — the one data-sized
    # pass re-derived per iteration instead of once). localCheckpoint
    # materializes bit-identical doubles, so the ordered folds and the
    # oracle's MATERIALIZED fullm CTE are unaffected.
    full = f.select("i", "j", "c").unionByName(
        f.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    ).localCheckpoint(eager=False)
    v = full.select(F.col("i").alias("dim")).distinct().select(
        "dim", F.lit(0.125).alias("val")
    )
    fold = lambda col: F.aggregate(
        F.array_sort(F.collect_list(col)),
        F.lit(0.0),
        lambda acc, x: acc + x["term"],
    )
    norm = None
    for _ in range(PCA_ITERS):
        terms = full.join(
            F.broadcast(v), full.j == F.col("dim")
        ).select(
            "i",
            F.struct(
                F.col("j"), (F.col("c") * F.col("val")).alias("term")
            ).alias("e"),
        )
        w = terms.groupBy("i").agg(fold(F.col("e")).alias("w"))
        norm = w.select(
            F.struct(F.col("i"), (F.col("w") * F.col("w")).alias("term"))
            .alias("e")
        ).agg(F.sqrt(fold(F.col("e"))).alias("nrm"))
        # Checkpoint the 64-row vector too: each iteration otherwise
        # re-embeds the previous iterations' matvec subtree, stacking
        # ~90 plan nodes per round (285 total at 3 iterations flagged by
        # the tightened r12 plan audit). Bit-identical doubles; the
        # final plan is one iteration deep regardless of PCA_ITERS.
        v = w.crossJoin(F.broadcast(norm)).select(
            F.col("i").alias("dim"),
            (F.col("w") / F.col("nrm")).alias("val"),
        ).localCheckpoint(eager=False)
    return v.crossJoin(F.broadcast(norm)).select(
        F.col("dim"),
        F.round(F.col("val"), 6).alias("loading"),
        F.round(F.col("nrm"), 6).alias("eigval"),
    )


def _pca_oracle() -> str:
    it = """
    w{t} AS MATERIALIZED (
        SELECT f.i AS dim,
               list_reduce(list(f.c * v.val ORDER BY f.j),
                           (a, b) -> a + b) AS w
        FROM fullm f JOIN v{p} v ON v.dim = f.j
        GROUP BY f.i
    ),
    n{t} AS (
        SELECT SQRT(list_reduce(list(w * w ORDER BY dim),
                                (a, b) -> a + b)) AS nrm
        FROM w{t}
    ),
    v{t} AS MATERIALIZED (
        SELECT dim, w / nrm AS val FROM w{t} CROSS JOIN n{t}
    )"""
    chain = ",".join(
        it.format(t=k + 1, p=k) for k in range(PCA_ITERS)
    )
    return f"""
    WITH {_SQL_COV_CTES},
    fullm AS MATERIALIZED (
        SELECT i, j, c FROM cov
        UNION ALL
        SELECT j AS i, i AS j, c FROM cov WHERE i != j
    ),
    v0 AS (SELECT DISTINCT i AS dim, 0.125 AS val FROM fullm),
    {chain}
    SELECT CAST(v.dim AS INT) AS dim,
           ROUND(v.val, 6) + 0.0 AS loading,
           ROUND(n.nrm, 6) + 0.0 AS eigval
    FROM v{PCA_ITERS} v CROSS JOIN n{PCA_ITERS} n
    """


register(
    "embedding_pca_top_component",
    embedding_pca_top_component,
    _pca_oracle(),
)


# --- MMR diverse top-k (greedy maximal marginal relevance) ----------------------

MMR_K = 5
MMR_LAMBDA = 0.7  # relevance weight
MMR_MU = 0.3      # diversity weight (explicit constant, NOT 1-λ: the
                  # float 1-0.7 is 0.30000000000000004 and the oracle
                  # must subtract the *same* literal)


def sim_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse top-k by greedy Maximal Marginal Relevance: step t picks
    argmax over unselected candidates of λ·rel(q,c) − μ·max_{s∈S}
    sim(c,s) — the de-duplicating retrieval used for eval-set and
    few-shot example selection, where plain top-k returns k near-copies
    of the same neighborhood. k fixed at 5 over the 5 standard query
    vectors; ties break on cand_id.

    Engine-replayable iteration (the PCA/BPE stance): every cosine is
    the ordered zip_with fold (SIM.cosine ≡ sql_cosine), the per-step
    argmax is a rounded-nothing raw-double comparison on bit-identical
    values, and the oracle replays all 5 selections via chained
    MATERIALIZED CTEs — the full greedy TRAJECTORY hash-checks, not
    just the final set.

    100 TB shape: the single data-sized pass is the relevance scan
    (broadcast queries × corpus, same tier as sim_topk_cosine),
    localCheckpointed once; each step then updates the candidate
    pool's running max-similarity INCREMENTALLY against the ONE new
    pick per query (r15: max over a growing set == greatest of the
    previous max and the newest similarity — max of doubles is
    order-independent, so values are bit-identical to the re-aggregated
    form) — per-step cost is one broadcast join of ≤ |Q| picked rows
    against the pool, no per-step groupBy shuffle, no corpus rescan
    (the pool carries cvec, so the pick needs no join back to the
    embeddings), and state is k vectors per query. The step count is
    FIXED, so every checkpoint is lazy: the whole trajectory builds
    without running a job and materializes in dependency order inside
    the consumer's action."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cvec")
    )
    pool = (
        q.crossJoin(c)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            "cvec",
            SIM.cosine(F.col("qvec"), F.col("cvec")).alias("rel"),
            # running max_{s in selected} sim(c, s); NULL before the
            # first selection so the first greatest() is exactly the
            # first similarity (cosine can be negative — a 0.0 floor
            # would be wrong).
            F.lit(None).cast("double").alias("msim"),
        )
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("mmr"), F.asc("cand_id")
    )
    sel = None
    for step in range(1, MMR_K + 1):
        mmr = F.lit(MMR_LAMBDA) * F.col("rel") - F.lit(MMR_MU) * (
            F.lit(0.0) if step == 1 else F.col("msim")
        )
        pick = (
            pool.withColumn("mmr", mmr)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "query_id",
                F.col("cand_id").alias("sel_id"),
                F.col("cvec").alias("svec"),
                "rel",
                "mmr",
                F.lit(step).alias("step"),
            )
            .localCheckpoint(eager=False)
        )
        sel = pick if sel is None else sel.unionByName(pick)
        if step < MMR_K:
            pool = (
                pool.join(
                    F.broadcast(
                        pick.select("query_id", "sel_id", "svec")
                    ),
                    "query_id",
                )
                .filter(F.col("cand_id") != F.col("sel_id"))
                .select(
                    "query_id",
                    "cand_id",
                    "cvec",
                    "rel",
                    F.greatest(
                        "msim", SIM.cosine(F.col("cvec"), F.col("svec"))
                    ).alias("msim"),
                )
                .localCheckpoint(eager=False)
            )
    return sel.select(
        "query_id",
        "step",
        "sel_id",
        F.round("mmr", 6).alias("mmr_score"),
        F.round("rel", 6).alias("rel"),
    )


def _mmr_oracle() -> str:
    lam, mu = repr(MMR_LAMBDA), repr(MMR_MU)
    steps = []
    for t in range(2, MMR_K + 1):
        p = t - 1
        mmr_expr = (
            f"{lam} * c.rel - {mu} * "
            f"MAX({SIM.sql_cosine('c.cvec', 's.svec', DIMS)})"
        )
        steps.append(f"""
    sel{t} AS MATERIALIZED (
        SELECT * FROM sel{p}
        UNION ALL
        SELECT p.query_id, p.cand_id AS sel_id, e.embedding AS svec,
               p.rel, p.mmr, {t} AS step
        FROM (
            SELECT query_id, cand_id, rel, mmr FROM (
                SELECT c.query_id, c.cand_id, c.rel,
                       {mmr_expr} AS mmr,
                       ROW_NUMBER() OVER (PARTITION BY c.query_id
                           ORDER BY {mmr_expr} DESC, c.cand_id ASC)
                           AS rn
                FROM cands c JOIN sel{p} s ON s.query_id = c.query_id
                WHERE NOT EXISTS (
                    SELECT 1 FROM sel{p} x
                    WHERE x.query_id = c.query_id
                      AND x.sel_id = c.cand_id)
                GROUP BY c.query_id, c.cand_id, c.rel
            ) WHERE rn = 1
        ) p JOIN embeddings e ON e.vec_id = p.cand_id
    )""")
    chain = ",".join(steps)
    return f"""
    WITH cands AS MATERIALIZED (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               c.embedding AS cvec,
               {SIM.sql_cosine('q.embedding', 'c.embedding', DIMS)} AS rel
        FROM embeddings q
        JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    sel1 AS MATERIALIZED (
        SELECT query_id, cand_id AS sel_id, cvec AS svec, rel,
               {lam} * rel - {mu} * 0.0 AS mmr, 1 AS step
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY {lam} * rel - {mu} * 0.0 DESC, cand_id ASC)
                  AS rn
              FROM cands) WHERE rn = 1
    ),
    {chain}
    SELECT query_id, step, sel_id,
           ROUND(mmr, 6) + 0.0 AS mmr_score,
           ROUND(rel, 6) + 0.0 AS rel
    FROM sel{MMR_K}
    """


register("sim_mmr_diverse_topk", sim_mmr_diverse_topk, _mmr_oracle())


# --- k-center coreset (farthest-point / Gonzalez selection) --------------------

KC_K = 5


def sim_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (Gonzalez farthest-point) coreset over the
    embeddings: seed with the smallest vec_id, then each step adds the
    point FARTHEST (squared L2) from its nearest already-selected
    center — the 2-approximation coreset behind diversity-driven data
    pruning (the D4/SemDeDup "keep the spread, drop the middle"
    policy). Emits (step, sel_id, radius): the radius column is the
    coverage radius sequence — THE quality curve of the coreset (every
    unselected point is within radius[k] of some center).

    Same engine-replayable-trajectory stance as sim_mmr_diverse_topk:
    squared-L2 is the ordered index fold (sq_l2 ≡ sql_sq_l2), the
    per-step argmax compares raw bit-identical doubles with an id
    tiebreak, and the oracle replays all selections via chained
    MATERIALIZED CTEs.

    100 TB shape: each step is ONE corpus scan against ≤ k broadcast
    centers plus a global top-1 — k scans total for k centers, the
    canonical trade of Gonzalez; no pairwise matrix ever materializes.
    The per-step min-distance is an ARRAY FOLD, not a join (r10 verdict
    #5): the selected centers ride along as a single-row broadcast
    array-of-vectors and `array_min(transform(centers, ...))` evaluates
    all ≤ k distances per row IN the scan — one row per point per scan,
    zero fan-out, and the rows×centers groupBy shuffle the old join
    shape paid is gone entirely. min over IEEE doubles is
    order-insensitive (distances are never NaN), so the collect_list
    ordering cannot wobble the fold and the oracle is unchanged."""
    emb = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("embedding")
    )
    seed = emb.orderBy(F.asc("vec_id")).limit(1).select(
        "vec_id",
        F.col("embedding").alias("svec"),
        F.lit(0.0).alias("radius"),
        F.lit(1).alias("step"),
    )
    sel = seed.localCheckpoint(eager=False)
    for step in range(2, KC_K + 1):
        avail = emb.join(
            sel.select(F.col("vec_id")), "vec_id", "left_anti"
        )
        centers = sel.agg(F.collect_list("svec").alias("centers"))
        dmin = avail.crossJoin(F.broadcast(centers)).select(
            "vec_id",
            "embedding",
            F.array_min(
                F.transform(
                    F.col("centers"),
                    lambda c: SIM.sq_l2(F.col("embedding"), c),
                )
            ).alias("dmin"),
        )
        # global argmax as TakeOrdered (per-partition top-1 + driver
        # merge), NOT an unpartitioned row_number window (one-task sort)
        pick = (
            dmin.orderBy(F.desc("dmin"), F.asc("vec_id"))
            .limit(1)
            .select(
                "vec_id",
                F.col("embedding").alias("svec"),
                F.col("dmin").alias("radius"),
                F.lit(step).alias("step"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return sel.select(
        "step",
        F.col("vec_id").alias("sel_id"),
        F.round("radius", 6).alias("radius"),
    )


def _kcenter_oracle() -> str:
    steps = []
    for t in range(2, KC_K + 1):
        p = t - 1
        steps.append(f"""
    sel{t} AS MATERIALIZED (
        SELECT * FROM sel{p}
        UNION ALL
        SELECT vec_id, embedding AS svec, dmin AS radius, {t} AS step
        FROM (
            SELECT e.vec_id, e.embedding,
                   MIN({SIM.sql_sq_l2('e.embedding', 's.svec', DIMS)})
                       AS dmin,
                   ROW_NUMBER() OVER (ORDER BY
                       MIN({SIM.sql_sq_l2('e.embedding', 's.svec', DIMS)})
                           DESC,
                       e.vec_id ASC) AS rn
            FROM embeddings e CROSS JOIN sel{p} s
            WHERE NOT EXISTS (SELECT 1 FROM sel{p} x
                              WHERE x.vec_id = e.vec_id)
            GROUP BY e.vec_id, e.embedding
        ) WHERE rn = 1
    )""")
    chain = ",".join(steps)
    return f"""
    WITH sel1 AS MATERIALIZED (
        SELECT vec_id, embedding AS svec, 0.0 AS radius, 1 AS step
        FROM embeddings
        ORDER BY vec_id ASC LIMIT 1
    ),
    {chain}
    SELECT step, vec_id AS sel_id, ROUND(radius, 6) + 0.0 AS radius
    FROM sel{KC_K}
    """


register("sim_kcenter_coreset", sim_kcenter_coreset, _kcenter_oracle())


# --- Representation isotropy (participation ratio) ------------------------------

def embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective dimensionality of the embedding space WITHOUT an
    eigendecomposition: the participation ratio PR = tr(C)^2 / ||C||_F^2
    equals (Σλ)^2 / Σλ^2 for symmetric C — the standard isotropy /
    representation-collapse diagnostic (PR ≈ d for isotropic
    embeddings, PR ≈ 1 when one direction dominates). Both invariants
    come straight off the shared ``_cov_frame`` upper triangle:
    tr = Σ c_ii, ||C||_F^2 = Σ c_ii^2 + 2·Σ_{i<j} c_ij^2.

    Determinism: the two 2080-term reductions run as ORDERED folds over
    the (i,j)-sorted term array (the PSI pattern) — cheap at 64 dims,
    and the one place a plain SUM's partial-agg order could wobble the
    last ulp before the 6-decimal rounding. One data-sized pass (the
    covariance scan), then a 1-row closed form."""
    f = _cov_frame(spark, sf_dir)
    terms = f.select(
        "n_vecs",
        F.struct(
            F.col("i"),
            F.col("j"),
            F.when(F.col("i") == F.col("j"), F.col("c")).otherwise(
                F.lit(0.0)
            ).alias("tr_term"),
            (
                F.col("c") * F.col("c")
                * F.when(F.col("i") == F.col("j"), F.lit(1.0)).otherwise(
                    F.lit(2.0)
                )
            ).alias("f_term"),
        ).alias("e"),
    )
    fold = lambda field: F.aggregate(
        F.array_sort(F.collect_list("e")),
        F.lit(0.0),
        lambda acc, x: acc + x[field],
    )
    agg = terms.groupBy("n_vecs").agg(
        fold("tr_term").alias("trace"),
        fold("f_term").alias("frob_sq"),
    )
    pr = F.col("trace") * F.col("trace") / F.col("frob_sq")
    return agg.select(
        F.lit(DIMS).alias("n_dims"),
        F.col("n_vecs"),
        F.round("trace", 6).alias("trace"),
        F.round("frob_sq", 6).alias("frob_sq"),
        F.round(pr, 6).alias("participation_ratio"),
        F.round(pr / F.lit(float(DIMS)), 6).alias("isotropy_fraction"),
    )


register(
    "embedding_isotropy",
    embedding_isotropy,
    f"""
    WITH {_SQL_COV_CTES},
    terms AS (
        SELECT n,
               CASE WHEN i = j THEN c ELSE 0.0 END AS tr_term,
               c * c * (CASE WHEN i = j THEN 1.0 ELSE 2.0 END) AS f_term,
               i, j
        FROM cov
    ),
    folded AS (
        SELECT n,
               list_reduce(list(tr_term ORDER BY i, j),
                           (a, b) -> a + b) AS trace,
               list_reduce(list(f_term ORDER BY i, j),
                           (a, b) -> a + b) AS frob_sq
        FROM terms GROUP BY n
    )
    SELECT {DIMS} AS n_dims,
           CAST(n AS BIGINT) AS n_vecs,
           ROUND(trace, 6) + 0.0 AS trace,
           ROUND(frob_sq, 6) + 0.0 AS frob_sq,
           ROUND(trace * trace / frob_sq, 6) + 0.0
               AS participation_ratio,
           ROUND(trace * trace / frob_sq / {float(DIMS)!r}, 6) + 0.0
               AS isotropy_fraction
    FROM folded
    """,
)


# --- Hybrid retrieval: BM25 lexical + dense cosine, RRF-fused ----------------
#
# The retrieval tier of an LLM-data stack (operators/retrieval.py for the
# scale analysis). The hybrid query is item 0: its text supplies the
# lexical side's fixed term bag, its embedding the dense side's query
# vector (documents.doc_id and embeddings.vec_id are 1:1 by fixture
# construction); item 0 itself is excluded from both candidate lists.

from flink_streaming_demo_spark.operators import retrieval as RETR

BM25_TERMS = ("spark", "window", "dup")  # common/common/rare: df ~390/390/25
BM25_K = 10
HYBRID_POOL = 50  # per-list candidate depth feeding the fusion
HYBRID_K = 10
HYBRID_QUERY_ID = 0


def sim_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a fixed 3-term query under BM25 (k1=1.2,
    b=0.75). The rare term's idf dominates, so ranking is decided by
    tf/length normalization among rare-term docs — a real BM25 ordering,
    not a degenerate one."""
    docs = t(spark, sf_dir, "documents")
    return RETR.bm25_topk(docs, BM25_TERMS, k=BM25_K)


register(
    "sim_bm25_topk",
    sim_bm25_topk,
    f"""
    WITH {RETR.sql_bm25_ctes(BM25_TERMS)}
    SELECT doc_id, rank, n_terms, score
    FROM bm25_ranked WHERE rank <= {BM25_K}
    """,
)


# Batched retrieval: overlapping bags over the same 3-term vocabulary
# (common/common/rare), including single-term and full-bag queries, so
# per-query df sharing and the union-term pivot are both exercised.
BM25_BATCH_QUERIES = (
    (1, ("spark", "window")),
    (2, ("spark", "dup")),
    (3, ("window", "dup")),
    (4, ("spark", "window", "dup")),
    (5, ("dup",)),
)


def sim_bm25_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query BM25 top-10 for a 5-query batch — the batched-retrieval
    shape an eval/distillation pipeline runs (operators/retrieval.py
    ``bm25_batch_topk``): corpus tokenized once, per-term df shared
    across queries, per-query rank window partitioned by query_id."""
    docs = t(spark, sf_dir, "documents")
    return RETR.bm25_batch_topk(docs, BM25_BATCH_QUERIES, k=BM25_K)


register(
    "sim_bm25_batch_topk",
    sim_bm25_batch_topk,
    f"""
    WITH {RETR.sql_bm25_batch_ctes(BM25_BATCH_QUERIES)}
    SELECT query_id, rank, doc_id, n_terms, score
    FROM bm25_batch_ranked WHERE rank <= {BM25_K}
    """,
)


def _hybrid_lists(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two bounded candidate lists the hybrid tier shares: BM25
    top-50 (query doc excluded from the index) and dense cosine top-50
    for the query embedding, both as (doc_id, rank). Single-sourced so
    the fusion query and its nDCG grader score the SAME frames — the
    grader derives its dense ground truth as the top-10 PREFIX of the
    dense pool instead of re-scanning the corpus."""
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    lex = RETR.bm25_topk(
        docs, BM25_TERMS, k=HYBRID_POOL, exclude_id=HYBRID_QUERY_ID
    )
    q = emb.filter(F.col("vec_id") == HYBRID_QUERY_ID)
    vec = SIM.brute_force_topk(q, emb, k=HYBRID_POOL).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return lex, vec


def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 top-50 (terms of doc 0's query bag) and dense
    cosine top-50 (embedding of vec 0), fused by reciprocal-rank fusion
    (1/(60+rank) per list) into a top-10. Both candidate lists are
    bounded, so the fusion join is broadcast-size regardless of corpus
    scale; rank 0 in an output column means "outside that list's
    top-50"."""
    lex, vec = _hybrid_lists(spark, sf_dir)
    return RETR.rrf_fuse(lex, vec, k=HYBRID_K)


# The hybrid oracles' shared CTE block (lexical head + dense pool) —
# single-sourced like the BM25 fragments so the two graders' candidate
# arithmetic can never drift.
_SQL_HYBRID_LIST_CTES = f"""
    {RETR.sql_bm25_ctes(BM25_TERMS, exclude_id=HYBRID_QUERY_ID)},
    lex_head AS (
        SELECT doc_id, rank FROM bm25_ranked WHERE rank <= {HYBRID_POOL}
    ),
    vec_scored AS (
        SELECT c.vec_id AS doc_id,
               ROUND({SIM.sql_cosine('q.embedding', 'c.embedding', DIMS)}, 6)
                   AS score
        FROM embeddings q
        JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id = {HYBRID_QUERY_ID}
    ),
    vec_head AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY score DESC, doc_id ASC
            ) AS rank
            FROM vec_scored
        ) WHERE rank <= {HYBRID_POOL}
    )
"""

register(
    "sim_hybrid_rrf",
    sim_hybrid_rrf,
    f"""
    WITH {_SQL_HYBRID_LIST_CTES}
    {RETR.sql_rrf_select('lex_head', 'vec_head', HYBRID_K)}
    """,
)


def sim_hybrid_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the RRF-fused hybrid list graded against the dense
    exact top-10 as binary relevance — the fusion-quality metric a
    hybrid-search deployment monitors, promoted into the hash-checked
    surface like the ANN recall graders (a fusion regression fails the
    driver the same way a wrong join would). DCG's positional sum is an
    ORDERED fold over the 10 fused ranks (the isotropy list_reduce
    pattern); the log2 discount is written ln(2)/ln(rank+1) on BOTH
    engines so no log2 builtin divergence can enter. All frames are
    bounded top-k lists — every join is broadcast-size at any corpus
    scale, and the dense ground truth is the top-10 PREFIX of the
    fusion's own dense pool (one corpus scan, not two; the prefix
    equivalence holds because both rank by the same rounded score with
    the same neighbor_id tie-break — the oracle derives dense10 from
    vec_head the same way)."""
    lex, vec_pool = _hybrid_lists(spark, sf_dir)
    # the dense pool feeds the fusion AND the ideal-ranking leg; the
    # cut (50-row list) stops the corpus-scan top-k from executing
    # once per consumer (r15)
    vec_pool = vec_pool.localCheckpoint(eager=False)
    fused = RETR.rrf_fuse(lex, vec_pool, k=HYBRID_K).select(
        "doc_id", "rank"
    )
    dense = vec_pool.filter(F.col("rank") <= HYBRID_K).select(
        "doc_id", F.col("rank").alias("ideal_rank")
    )
    rel = fused.join(
        dense.select("doc_id", F.lit(1.0).alias("rel")), "doc_id", "left"
    ).select("rank", F.coalesce("rel", F.lit(0.0)).alias("rel"))
    discount = F.log(F.lit(2.0)) / F.log(
        (F.col("rank") + F.lit(1)).cast("double")
    )
    dcg_df = rel.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("rank").alias("r"),
                        (F.col("rel") * discount).alias("v"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        ).alias("dcg"),
        F.sum("rel").cast("int").alias("hits"),
    )
    ideal_discount = F.log(F.lit(2.0)) / F.log(
        (F.col("ideal_rank") + F.lit(1)).cast("double")
    )
    idcg_df = dense.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ideal_rank").alias("r"),
                        ideal_discount.alias("v"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        ).alias("idcg")
    )
    return dcg_df.crossJoin(idcg_df).select(
        F.lit(HYBRID_K).alias("k"),
        "hits",
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


register(
    "sim_hybrid_ndcg",
    sim_hybrid_ndcg,
    f"""
    WITH {_SQL_HYBRID_LIST_CTES},
    hybrid AS (
        {RETR.sql_rrf_select('lex_head', 'vec_head', HYBRID_K)}
    ),
    dense10 AS (
        SELECT doc_id, rank FROM vec_head WHERE rank <= {HYBRID_K}
    ),
    rel AS (
        SELECT h.rank AS rank,
               CASE WHEN d.doc_id IS NULL THEN 0.0 ELSE 1.0 END AS rel
        FROM hybrid h LEFT JOIN dense10 d ON h.doc_id = d.doc_id
    ),
    folded AS (
        SELECT list_reduce(
                   list(rel * (ln(2.0) / ln(CAST(rank + 1 AS DOUBLE)))
                        ORDER BY rank),
                   (a, b) -> a + b) AS dcg,
               CAST(SUM(rel) AS INT) AS hits
        FROM rel
    ),
    ideal AS (
        SELECT list_reduce(
                   list(ln(2.0) / ln(CAST(rank + 1 AS DOUBLE))
                        ORDER BY rank),
                   (a, b) -> a + b) AS idcg
        FROM dense10
    )
    SELECT {HYBRID_K} AS k, hits,
           ROUND(dcg, 6) AS dcg,
           ROUND(idcg, 6) AS idcg,
           ROUND(dcg / idcg, 6) AS ndcg
    FROM folded CROSS JOIN ideal
    """,
)


# --- Passage-level retrieval (BM25-MaxP) -------------------------------------
#
# Chunk-grid builders from the shared function library (the same source
# text_chunk_documents uses) so the passage grid — shape, not just
# constants — can never drift, and WITHOUT a plans->plans import, which
# breaks when a plans module is imported before the registry
# (registry._load_all then runs mid-import and this module would see a
# partially initialized sibling).

from flink_streaming_demo_spark.functions import text as TXF


def sim_bm25_maxp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level BM25 with MaxP document aggregation — the RAG
    retrieval shape (Dai & Callan 2019): score ~64-token overlapping
    chunks (the same grid as text_chunk_documents), rank each document
    by its BEST chunk, return the top-10 docs with the winning passage
    index. The chunk corpus is the index, so df/avgdl are chunk-level
    statistics; scoring runs through the same bm25_scores tail as the
    doc-level query, generic in the id columns. Per-doc argmax is a
    doc-partitioned window (bounded chunks per doc); the global top-k
    is TakeOrderedAndProject."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(TXF.chunk_windows_expr("toks"))
        ).alias("chunk_idx", "chunk_toks"),
    )
    lengths = chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk_toks").alias("dl"),
        "chunk_toks",
    )
    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        lengths.select(
            "doc_id",
            "chunk_idx",
            "dl",
            F.explode(
                F.filter(
                    F.col("chunk_toks"), lambda x: x.isin(*BM25_TERMS)
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "chunk_idx", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return RETR.bm25_maxp_rank(tf, stats, BM25_TERMS, k=BM25_K)


_MAXP_PIVOT, _MAXP_SUM = RETR.sql_bm25_pivot(BM25_TERMS)
_MAXP_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)

register(
    "sim_bm25_maxp",
    sim_bm25_maxp,
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS sp FROM documents
    ),
    starts AS (
        SELECT doc_id, sp,
               {TXF.sql_chunk_starts('sp')} AS start_pos
        FROM toks
    ),
    chunks AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY start_pos
               ) - 1 AS chunk_idx,
               {TXF.sql_chunk_slice('sp', 'start_pos')} AS chunk
        FROM starts
    ),
    cstats AS (
        SELECT COUNT(*) AS n_docs, SUM(len(chunk)) AS sum_dl FROM chunks
    ),
    ctf AS (
        SELECT doc_id, chunk_idx, dl, term, COUNT(*) AS tf
        FROM (
            SELECT doc_id, chunk_idx, len(chunk) AS dl,
                   unnest(chunk) AS term
            FROM chunks
        )
        WHERE term IN ({_MAXP_IN})
        GROUP BY doc_id, chunk_idx, dl, term
    ),
    cdf AS (
        SELECT term, COUNT(*) AS df FROM ctf GROUP BY term
    ),
    cscored AS (
        SELECT c.doc_id, c.chunk_idx, c.term,
               {RETR.sql_bm25_term_score()} AS s
        FROM ctf c
        JOIN cdf d USING (term)
        CROSS JOIN cstats s
    ),
    cpivot AS (
        SELECT doc_id, chunk_idx,
               {_MAXP_PIVOT},
               CAST(COUNT(*) AS INT) AS n_terms
        FROM cscored GROUP BY doc_id, chunk_idx
    ),
    cbest AS (
        SELECT doc_id, best_chunk_idx, n_terms, score FROM (
            SELECT doc_id,
                   CAST(chunk_idx AS INT) AS best_chunk_idx,
                   n_terms,
                   ROUND({_MAXP_SUM}, 6) AS score,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY ROUND({_MAXP_SUM}, 6) DESC, chunk_idx ASC
                   ) AS rn
            FROM cpivot
        ) WHERE rn = 1
    )
    SELECT doc_id, rank, best_chunk_idx, n_terms, score FROM (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY score DESC, doc_id ASC
               ) AS INT) AS rank,
               best_chunk_idx, n_terms, score
        FROM cbest
    ) WHERE rank <= {BM25_K}
    """,
)
