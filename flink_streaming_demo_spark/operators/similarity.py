"""Similarity search over embedding columns (array<float>).

Not in the reference; required by the north-star brief. Two tiers:

* **brute-force cosine top-k** — the exact baseline. Queries (small) are
  broadcast against the corpus; dot products are pure array expressions
  (zip_with + aggregate — JVM-side, no Python); top-k per query via a
  row_number window on the rounded score. Cost O(|Q| x |C| x d): right for
  |Q| small or as the rerank stage.
* **LSH-bucketed (scale path)** — deterministic hyperplane signs using the
  md5-derived pseudo-random plane family (seeded, engine-reproducible):
  bucket on the sign bit-string, search within bucket (+ optional multi-probe).
  Cuts the candidate set by ~2^bits; used before brute-force rerank at scale.

Determinism: elementwise products are summed in index order (sequential
IEEE adds) on both engines; floats are cast to double *before* multiply;
final scores rounded to 6 places before ranking so ranking ties break on
vec_id identically everywhere.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (deterministic IEEE)."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_to_double(a), lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# Column-expression constants (r15): the dot/norm lambda trees are
# df-independent when their inputs are plain column names, so the
# common call shapes are built once per process and reused — the
# Column-op form cost tens of py4j round trips per call site per query
# build (see plans/taxi_apps.py for the pattern rationale).


@lru_cache(maxsize=None)
def l2_norm_col(name: str) -> Column:
    """``l2_norm(F.col(name))`` built once per process."""
    return l2_norm(F.col(name))


@lru_cache(maxsize=None)
def cosine_score_col(
    vec_a: str, vec_b: str, norm_a: str, norm_b: str, ndigits: int = 6
) -> Column:
    """``round(dot(vec_a, vec_b) / (norm_a * norm_b), ndigits)`` over
    column NAMES, built once per process."""
    return F.round(
        dot(F.col(vec_a), F.col(vec_b)) / (F.col(norm_a) * F.col(norm_b)),
        ndigits,
    )


# --- One scoring tail for the dense-retrieval rankers ------------------------
#
# Every (query, neighbor) ranker below is the same three steps: project
# each side to (id, vec, norm), score joined pairs with the rounded
# cosine, keep each query's top k. Each step has ONE body here, so the
# rounding and the neighbor_id tie rule cannot drift between rankers.

_SIDE_ID = {"q": "query_id", "c": "neighbor_id"}


def _side(
    df: DataFrame,
    side: str,
    *extra,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm: str | None = None,
) -> DataFrame:
    """One side of a scoring join: (query_id, q_vec, q_norm, *extra) for
    ``side="q"``, (neighbor_id, c_vec, c_norm, *extra) for ``"c"``. The
    norm is computed once per row here, not once per pair (|Q|+|C|
    norms instead of |Q|x|C|), unless ``norm`` names a column that
    already holds it (the IVF assignment's and cell store's ``nrm``)."""
    return df.select(
        F.col(id_col).alias(_SIDE_ID[side]),
        F.col(vec_col).alias(f"{side}_vec"),
        (l2_norm_col(vec_col) if norm is None else F.col(norm)).alias(
            f"{side}_norm"
        ),
        *extra,
    )


def _score(pairs: DataFrame, *keep: str) -> DataFrame:
    """(query_id, neighbor_id, *keep, score): the rounded cosine of
    every joined (q side, c side) pair."""
    return pairs.select(
        "query_id",
        "neighbor_id",
        *keep,
        cosine_score_col("q_vec", "c_vec", "q_norm", "c_norm").alias("score"),
    )


def _topk(scored: DataFrame, k: int, by: Column, *tail: str) -> DataFrame:
    """Per-query top-k: row_number over ``by`` with ties broken on
    ascending neighbor_id, so ranks are 1..k with no gaps on every
    engine. Returns (query_id, rank, neighbor_id, *tail)."""
    w = Window.partitionBy("query_id").orderBy(by, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", *tail)
    )


def _cosine_topk(pairs: DataFrame, k: int, *keep: str) -> DataFrame:
    """_score then _topk by descending score: (query_id, rank,
    neighbor_id, *keep, score)."""
    return _topk(_score(pairs, *keep), k, F.desc("score"), *keep, "score")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, neighbor_id, score).

    The query side is broadcast (ANN queries are few); the corpus is scanned
    once — a single narrow stage at any scale, no shuffle except the final
    per-query top-k, which is bounded by |Q| x k rows after the window
    filter's partial ranking.
    """
    q = _side(queries, "q", id_col=id_col, vec_col=vec_col)
    c = _side(corpus, "c", id_col=id_col, vec_col=vec_col)
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _cosine_topk(pairs, k)


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-cosine-similar corpus vectors with a DIFFERENT label —
    the negatives nearest the decision boundary, which carry the most
    gradient signal. Same physical shape as brute_force_topk (broadcast
    queries x one corpus scan, per-query bounded top-k), with the
    label-mismatch predicate applied BEFORE ranking so every returned
    rank is a usable negative: (query_id, rank, neighbor_id,
    neighbor_label, score)."""
    q = _side(
        queries, "q", F.col(label_col).alias("q_label"),
        id_col=id_col, vec_col=vec_col,
    )
    c = _side(
        corpus, "c", F.col(label_col).alias("neighbor_label"),
        id_col=id_col, vec_col=vec_col,
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_label") != F.col("neighbor_label"))
    )
    return _cosine_topk(pairs, k, "neighbor_label")


MAX_LSH_DIMS = 64


def plane_component(p: int, i: int) -> float:
    """Plane p's component for dimension i: md5(p:i) first 8 hex chars as an
    int, mapped to [-0.5, 0.5). (h % 1e6) is an exact integer and /1e6 and
    -0.5 round identically in every IEEE-double engine, so this Python
    value is bit-identical to the same formula evaluated in SQL."""
    import hashlib

    h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:8], 16)
    return (h % 1000000) / 1000000.0 - 0.5


def spark_lsh_signature_sql(vec_sql: str, n_bits: int = 8) -> str:
    """Spark-SQL text of the hyperplane signature over the vector
    expression ``vec_sql``. Doubles are serialized with repr() + 'D'
    (shortest round-trip form; Double.parseDouble restores the exact
    bits), so the embedded plane constants are identical to
    plane_component's Python values."""
    # Vectors may be shorter than MAX_LSH_DIMS; zip_with pads the short
    # side with nulls (nulling the whole sum), so both arrays are sliced
    # to the common length first. Dims beyond MAX_LSH_DIMS are ignored.
    vecd = (
        f"slice(transform({vec_sql}, v -> CAST(v AS DOUBLE)),"
        f" 1, {MAX_LSH_DIMS})"
    )
    bits = []
    for p in range(n_bits):
        plane = "array(" + ", ".join(
            f"{plane_component(p, i)!r}D" for i in range(MAX_LSH_DIMS)
        ) + ")"
        bits.append(
            f"IF(aggregate(zip_with({vecd}, slice({plane}, 1,"
            f" size({vecd})), (x, w) -> x * w), 0.0D,"
            " (acc, v) -> acc + v) >= 0, '1', '0')"
        )
    return "concat(" + ", ".join(bits) + ")"


def lsh_hyperplane_signature(vec_col: str, n_bits: int = 8) -> Column:
    """Deterministic random-hyperplane signature as a bit string: the sign
    of <v, plane_p> is bit p. ``vec_col`` is the COLUMN NAME (the whole
    expression is one F.expr — building it Column-op-by-Column-op cost
    ~300 py4j round-trips per bit).

    Plane components are row-independent CONSTANTS, so they are
    precomputed (plane_component) and embedded as literal arrays — the
    engine evaluates only the multiply-accumulate, not n_bits x dims md5
    digests per row. The projection keeps the sequential index-order sum,
    so values are reproducible anywhere IEEE doubles are.
    """
    return F.expr(spark_lsh_signature_sql(vec_col, n_bits))


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket, then
    exact cosine rerank. Scale path: bucket join replaces the cross join;
    recall traded via n_bits (fewer bits -> bigger buckets -> higher recall)."""
    bucket = lsh_hyperplane_signature(vec_col, n_bits).alias("bucket")
    q = _side(queries, "q", bucket, id_col=id_col, vec_col=vec_col)
    c = _side(corpus, "c", bucket, id_col=id_col, vec_col=vec_col)
    pairs = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _cosine_topk(pairs, k)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    n_bands: int = 2,
    bits_per_band: int | None = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded hyperplane-LSH blocking.

    The scale path for all-pairs near-dup: each vector gets n_bands band
    keys (disjoint bit-slices of one hyperplane signature); candidate pairs
    share >= 1 band (OR-amplification lifts recall over a single wider
    bucket); survivors get the exact sequential-order cosine and the
    threshold filter. Candidate count ~ N^2 / 2^bits_per_band per band vs
    N^2 for the naive cross join. Recall is tunable via (bands, bits) —
    e.g. cos 0.9 pairs collide with p ~ 0.87 at 2x3 bits; a production
    sweep would multi-probe or add bands for the last few points.

    Scale controls (round-6 probe findings, BENCH_NOTES.md):

    * The band join is id+key ONLY — embeddings re-attach to the deduped
      candidate list via two id equi-joins afterwards. Carrying the
      vectors through the band join multiplied shuffle bytes by the
      band fan-out (measured 14.4 GB -> ~0.4 GB at 20k vectors).
    * ``bits_per_band=None`` sizes the signature to the data:
      ceil(log2(N / 64)) bits per band (>= 3), keeping expected bucket
      size ~64 rows so candidates grow O(N), not O(N^2) — the knob a
      fixed-width config lacks. Costs one driver-side count().
    * ``max_bucket`` drops band-buckets larger than the cap before the
      join (broadcast anti-join), the stop-shingle move: a bucket that
      big means that band key does not discriminate — true near-dup
      pairs still collide in the OTHER bands with high probability.
    """
    if bits_per_band is None:
        import math

        n = df.count()
        bits_per_band = max(3, math.ceil(math.log2(max(n, 2) / 64.0)))
    total_bits = n_bands * bits_per_band
    sig = lsh_hyperplane_signature(vec_col, total_bits)
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.concat_ws(
            ":",
            b.cast("string"),
            F.substring(
                sig, b * F.lit(bits_per_band) + F.lit(1), F.lit(bits_per_band)
            ),
        ),
    )
    # Narrow band rows: id + band key only (vectors re-attach post-dedup).
    sides = df.select(F.col(id_col), F.explode(band_keys).alias("bk"))
    if max_bucket is not None:
        from flink_streaming_demo_spark.operators.dedup import drop_viral_keys

        sides = drop_viral_keys(sides, "bk", max_bucket)
    # FAN-OUT vs AQE (round-10 root cause of a 2.4x wall regression):
    # AQE coalesces shuffle reads by MAP-OUTPUT bytes, and the band rows
    # are tiny (id + short key), so both the band-join read and the
    # pair-dedup read collapse to ~1 partition — but the join FANS OUT
    # (output pairs >> input rows), so the entire exact rerank then runs
    # on one core. Pinning both exchanges with an explicit
    # repartition(N, keys) keeps them out of AQE coalescing (Spark
    # honors user-specified partition counts), restoring rerank
    # parallelism: sf0.1 best-of-3 2.32 s -> 0.96 s, identical output.
    # At real scale the pin is harmless — P is the session's tuned
    # shuffle parallelism, and band bytes there are large enough that
    # coalescing wouldn't have triggered anyway.
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sides = sides.repartition(p, "bk")
    a = sides.alias("a").hint("shuffle_hash")
    b = sides.alias("b").hint("shuffle_hash")
    cand_ids = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .repartition(p, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm_col(vec_col).alias("nrm"),
    )
    cand = cand_ids.join(
        vecs.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("vec_a"),
            F.col("nrm").alias("norm_a"),
        ),
        "id_a",
    ).join(
        vecs.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vec_b"),
            F.col("nrm").alias("norm_b"),
        ),
        "id_b",
    )
    return cand.select(
        "id_a",
        "id_b",
        cosine_score_col(
            "vec_a", "vec_b", "norm_a", "norm_b"
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


# --- ANSI-SQL twins ----------------------------------------------------------

def sql_dot(a: str, b: str, dims: int = 64) -> str:
    return f"""
        list_sum(list_transform(generate_series(1, {dims}),
            i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))
    """


def sql_l2_norm(a: str, dims: int = 64) -> str:
    return f"""
        sqrt(list_sum(list_transform(generate_series(1, {dims}),
            i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))
    """


def sql_cosine(a: str, b: str, dims: int = 64) -> str:
    return (
        f"({sql_dot(a, b, dims)} / ({sql_l2_norm(a, dims)} * "
        f"{sql_l2_norm(b, dims)}))"
    )


# --- IVF (inverted-file) ANN -------------------------------------------------

def assign_to_centroids(
    df: DataFrame,
    centroids: DataFrame,
    n_assign: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_rank: bool = False,
) -> DataFrame:
    """Assign each vector to its ``n_assign`` nearest centroids by cosine
    (rounded to 6 places; ties break on centroid_id). Centroids are
    broadcast (K is small by construction); the only shuffle is the
    per-vector rank window, one exchange on the vector id.
    ``keep_rank=True`` retains the 1-based nearness rank as ``c_rank``
    (the multi-probe path grades candidates by which probe ring found
    them)."""
    cent = centroids.select(
        F.col("centroid_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm_col(vec_col).alias("c_nrm"),
    )
    scored = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm_col(vec_col).alias("nrm"),
        )
        .crossJoin(F.broadcast(cent))
        .select(
            id_col,
            vec_col,
            "nrm",
            "centroid_id",
            cosine_score_col(vec_col, "c_vec", "nrm", "c_nrm").alias(
                "c_score"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("c_score"), F.asc("centroid_id")
    )
    assigned = scored.withColumn("c_rank", F.row_number().over(w)).filter(
        F.col("c_rank") <= n_assign
    )
    drop = ("c_score",) if keep_rank else ("c_score", "c_rank")
    return assigned.drop(*drop)


# r16 trainer-checkpoint note (VERDICT r15 #6, measured and REVERTED):
# collecting the per-iteration centroid/codebook tables to the driver
# and rebuilding them via createDataFrame — so broadcasts would read a
# local relation instead of a checkpointed RDD — measured consistently
# SLOWER than the eager localCheckpoint (same-session interleaved A/B
# at sf0.1, best-of-2 warm: sim_ivfpq_topk 9.11 s vs 7.71 s,
# sim_pq_rerank 7.07 vs 6.32, sim_pq_adc 6.99 vs 5.12).
# createDataFrame(rows) parallelizes to an RDD (NOT a JVM
# LocalRelation), so each broadcast build still runs a job and the
# round-trip adds per-row pickle conversion on top. Together with the
# r15 finding that LAZY checkpoints here are ~2x slower (they
# materialize nested inside broadcast builds), the eager checkpoint
# stands as the measured optimum for the iterative trainers.


def kmeans_centroids(
    corpus: DataFrame,
    seed_centroids: DataFrame,
    n_iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means over an embedding column, in pure DataFrame ops:
    per iteration, (1) assign every vector to its nearest centroid by
    rounded cosine (centroid_id tiebreak — the existing
    assign_to_centroids cell assignment), (2) update each centroid to
    the per-dimension mean of its members, rounded to 6 decimals so any
    IEEE-double engine replays the trajectory bit-for-bit. A cell that
    loses all members keeps its previous centroid (coalesce), so k never
    shrinks and the iteration stays deterministic.

    Scale: assignment is a broadcast(k centroids) x corpus scan + one
    rank window per vector; the update is an explode to (cell, dim, val)
    + partial-aggregated avg — both linear in corpus size with no
    all-pairs stage. Each iteration localCheckpoints the k-row centroid
    table, truncating the lineage the loop would otherwise stack.
    ``seed_centroids``: (centroid_id, vec_col) — deterministic picks
    here (the oracle replays them); a production run would seed from a
    sample. Returns (centroid_id, vec_col as array<double>).
    """
    cent = seed_centroids.select(
        "centroid_id", _to_double(F.col(vec_col)).alias(vec_col)
    ).localCheckpoint()
    for _ in range(n_iterations):
        assigned = assign_to_centroids(
            corpus, cent, 1, id_col, vec_col
        ).select(
            "centroid_id", F.posexplode(_to_double(F.col(vec_col)))
        ).select(
            "centroid_id", F.col("pos").alias("dim"), F.col("col").alias("val")
        )
        means = (
            assigned.groupBy("centroid_id", "dim")
            .agg(F.round(F.avg("val"), 6).alias("cval"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "cval"))
                ).alias("pairs")
            )
            .select(
                "centroid_id",
                F.transform(F.col("pairs"), lambda p: p.cval).alias("_mean"),
            )
        )
        cent = (
            cent.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("_mean", F.col(vec_col)).alias(vec_col),
            )
            .localCheckpoint()
        )
    return cent


def sql_kmeans_cents(
    k: int,
    n_iterations: int = 3,
    dims: int = 64,
    corpus: str = "embeddings",
) -> str:
    """DuckDB twin of kmeans_centroids seeded with ``vec_id < k``: CTE
    chain ``cent0 .. cent{n}`` unrolling the assign/update iterations
    (same rounded-cosine assignment, same round-6 means, same
    empty-cell coalesce). Embed inside WITH and select from
    ``cent{n_iterations}``."""
    parts = [
        f"""cent0 AS (
        SELECT vec_id AS centroid_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
        FROM {corpus} WHERE vec_id < {k}
    )"""
    ]
    for i in range(1, n_iterations + 1):
        p = i - 1
        cos = sql_cosine("e.embedding", "c.cvec", dims)
        parts.append(f"""assign{i} AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({cos}, 6) DESC, c.centroid_id ASC
                   ) AS rk
            FROM {corpus} e CROSS JOIN cent{p} c
        ) WHERE rk = 1
    )""")
        parts.append(f"""means{i} AS (
        SELECT centroid_id, di,
               ROUND(AVG(CAST(embedding[di] AS DOUBLE)), 6) AS cval
        FROM assign{i}, generate_series(1, {dims}) AS u(di)
        GROUP BY centroid_id, di
    )""")
        parts.append(f"""cent{i} AS (
        SELECT p.centroid_id, COALESCE(m.cvec, p.cvec) AS cvec
        FROM cent{p} p
        LEFT JOIN (
            SELECT centroid_id, list(cval ORDER BY di) AS cvec
            FROM means{i} GROUP BY centroid_id
        ) m USING (centroid_id)
    )""")
    return ",\n    ".join(parts)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors live in exactly one
    centroid cell; each query probes its ``nprobe`` nearest cells and
    reranks those cells' members with the exact cosine.

    The scale path complement to LSH bucketing: candidate count ~
    nprobe/K of the corpus per query instead of a full scan, and the
    cell join is an equi-join on centroid_id. A corpus vector has ONE
    cell, so a (query, neighbor) pair is generated at most once — no
    pair-dedup needed. Recall is tuned by nprobe (and at 100 TB the
    centroid set comes from a sampled k-means pass; here centroids are
    deterministic seed vectors so the DuckDB oracle reproduces the
    partition bit-for-bit).
    """
    corp = _ivf_side(corpus, centroids, 1, "c", id_col, vec_col)
    qry = _ivf_side(queries, centroids, nprobe, "q", id_col, vec_col)
    return ivf_rank(qry, corp, k)


def _ivf_side(
    df: DataFrame,
    centroids: DataFrame,
    n_assign: int,
    side: str,
    id_col: str,
    vec_col: str,
    *extra,
    keep_rank: bool = False,
) -> DataFrame:
    """``df`` assigned to its ``n_assign`` nearest cells, projected as
    one IVF scoring side: (query_id|neighbor_id, vec, norm, centroid_id,
    *extra), the norm reused from the assignment."""
    return _side(
        assign_to_centroids(
            df, centroids, n_assign, id_col, vec_col, keep_rank=keep_rank
        ),
        side,
        "centroid_id",
        *extra,
        id_col=id_col,
        vec_col=vec_col,
        norm="nrm",
    )


def ivf_rank(qry: DataFrame, corp: DataFrame, k: int) -> DataFrame:
    """Shared IVF scoring tail (the bm25_rank analogue for the dense
    side): cell equi-join + exact rounded cosine + per-query rank.
    ``qry``: (query_id, q_vec, q_norm, centroid_id) — one row per probed
    cell, broadcast (provably small: n_queries x nprobe). ``corp``:
    (neighbor_id, c_vec, c_norm, centroid_id) — one row per corpus
    vector. Both the batch ``ivf_topk`` and the streaming-store read
    view ``streaming/pipelines.ivf_topk_view`` rank through THIS
    function, so view floats equal batch floats bit-for-bit over
    identical frames (the streaming≡batch test pins it row-for-row)."""
    return _cosine_topk(_ivf_pairs(qry, corp), k)


def _ivf_pairs(qry: DataFrame, corp: DataFrame) -> DataFrame:
    """Cell equi-join of a broadcast IVF query side and a corpus side,
    self-pairs excluded."""
    return (
        F.broadcast(qry)
        .join(corp, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )


def cell_neardup_gate(
    batch: DataFrame,
    store: DataFrame | None,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Ingest-time embedding near-dup verdicts for an INCOMING batch
    against the ADMITTED corpus — the dense twin of
    ``operators/dedup.incremental_dedup_decisions`` (text), built on the
    IVF cell store: a new vector is a near-dup iff some already-admitted
    vector in its nearest centroid cell has rounded cosine >=
    ``threshold`` (the SemDeDup blocking rule applied incrementally).

    ``store``: (id_col, centroid_id, vec_col, nrm) rows of previously
    admitted vectors — exactly what ``streaming_ivf_index`` maintains;
    ``None`` = empty store (first batch), everything is 'new'.

    Returns (id_col, verdict 'near_dup'|'new', dup_of = the max-cosine
    admitted cell-mate with lowest-id tiebreak, -1 for 'new', cos_sim =
    its cosine, NULL for 'new').

    100 TB shape: the admitted corpus is never self-joined and never
    shuffled — the small incoming batch is assigned (broadcast-K scan)
    and then BROADCAST into a single equi-join on centroid_id against
    the store, so the gate is one store scan bounded to the batch's
    cells (with the store partitioned by centroid_id at real scale,
    partition-pruned). Self-pairs are excluded so re-gating an already
    admitted batch never matches a vector to itself.

    ``assigned``: optionally pass the batch's nearest-cell assignment
    (``assign_to_centroids(batch, centroids, 1)``, possibly
    checkpointed) so a gate-then-ingest caller assigns ONCE and feeds
    the same frame to both the gate and the store upsert.
    """
    if assigned is None:
        assigned = assign_to_centroids(batch, centroids, 1, id_col, vec_col)
    # verdicts key off the raw batch ids, NOT the assignment output:
    # with n_assign=1 the id sets are identical, and joining back to
    # ``batch`` keeps the assignment subtree (broadcast-K cross join +
    # rank window) out of the plan a second time
    batch_ids = batch.select(F.col(id_col))
    if store is None:
        return batch_ids.select(
            F.col(id_col),
            F.lit("new").alias("verdict"),
            F.lit(-1).cast("long").alias("dup_of"),
            F.lit(None).cast("double").alias("cos_sim"),
        )
    inc = assigned.select(
        F.col(id_col).alias("_in_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("nrm").alias("q_norm"),
        "centroid_id",
    )
    members = store.select(
        F.col(id_col).alias("member_id"),
        F.col(vec_col).alias("m_vec"),
        F.col("nrm").alias("m_norm"),
        "centroid_id",
    )
    scored = (
        F.broadcast(inc)
        .join(members, "centroid_id")
        .filter(F.col("_in_id") != F.col("member_id"))
        .select(
            "_in_id",
            "member_id",
            cosine_score_col("q_vec", "m_vec", "q_norm", "m_norm").alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    w = Window.partitionBy("_in_id").orderBy(
        F.desc("cos_sim"), F.asc("member_id")
    )
    best = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("_in_id"),
            F.col("member_id").alias("_dup_of"),
            F.col("cos_sim").alias("_cos"),
        )
    )
    return (
        batch_ids
        .join(best, F.col(id_col) == F.col("_in_id"), "left")
        .select(
            F.col(id_col),
            F.when(F.col("_dup_of").isNull(), F.lit("new"))
            .otherwise(F.lit("near_dup"))
            .alias("verdict"),
            F.coalesce(F.col("_dup_of"), F.lit(-1)).cast("long")
            .alias("dup_of"),
            F.col("_cos").alias("cos_sim"),
        )
    )


def ivf_probe_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    max_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scored IVF candidate pairs GRADED by probe ring: every (query,
    corpus-vector) pair reachable within the query's ``max_probe``
    nearest cells, carrying ``probe_rank`` = which ring (1-based) of the
    query's centroid list the pair's shared cell sits in. Filtering
    ``probe_rank <= n`` reproduces exactly the candidate set an
    nprobe=n IVF search scans, so ONE pass evaluates every probe level
    up to ``max_probe`` — the recall/cost knob (more probes = more
    candidates = higher recall) measured without re-running the index.

    Scale shape (same as ``ivf_topk``): centroid assignment is a
    broadcast(K) scan; corpus vectors live in exactly ONE cell, so a
    pair appears at most once and the cell join is an equi-join on
    centroid_id with the tiny (n_queries x max_probe)-row query side
    broadcast. Candidates ~ max_probe/K of the corpus per query —
    never all-pairs.
    """
    corp = _ivf_side(corpus, centroids, 1, "c", id_col, vec_col)
    qry = _ivf_side(
        queries, centroids, max_probe, "q", id_col, vec_col,
        F.col("c_rank").alias("probe_rank"), keep_rank=True,
    )
    return _score(_ivf_pairs(qry, corp), "probe_rank")


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster-then-dedup.

    Not in the reference (no embedding surface there); north-star brief
    tier "embedding-cosine near-dup", cluster-scoped variant following
    the SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): assign
    every vector to its nearest centroid, compare pairs ONLY within a
    cluster, and drop every vector that has a lower-id cluster-mate with
    cosine >= threshold (the lowest id in each semantic group survives).

    Returns the DROPPED rows: (id_col, centroid_id, dup_of, cos_sim)
    where dup_of is the smallest cluster-mate id above threshold and
    cos_sim its rounded cosine (ties on id order are impossible: dup_of
    is unique per dropped id).

    100 TB shape: the quadratic term is bounded by the cluster size, not
    the corpus — candidates ~ N * E[cluster] with k centroids chosen
    ~ N / target_cluster_size, so cost stays linear in N at a fixed
    target cluster size. Centroids broadcast (k rows); the pair stage is
    a self equi-join on centroid_id (one shuffle, AQE skew-split
    applies); ``max_cluster`` drops clusters larger than the cap before
    the join (the stop-shingle/viral-bucket move — a cluster that big
    means the centroid does not discriminate; tighten k instead).

    ``assigned``: optionally pass a precomputed assign_to_centroids(
    corpus, centroids, 1) frame — a caller that also needs the cell
    assignment (pipeline_embedding_dedup) then pays the corpus-wide
    broadcast-rank pass ONCE instead of twice.
    """
    if assigned is None:
        assigned = assign_to_centroids(
            corpus, centroids, 1, id_col, vec_col
        )
    if max_cluster is not None:
        from flink_streaming_demo_spark.operators.dedup import drop_viral_keys

        assigned = drop_viral_keys(assigned, "centroid_id", max_cluster)
    # Same FAN-OUT vs AQE pin as embedding_neardup_pairs: the assigned
    # rows are small (map-output KBs), so AQE coalesces the self-join's
    # shuffle read to ~1 partition while the join fans out to
    # sum(cluster^2) pairs — the whole cosine stage then runs one-core.
    # An explicit repartition(N, centroid_id) satisfies the join's
    # distribution requirement AND is exempt from AQE coalescing
    # (sf0.1: 2.52 s -> 0.65 s, identical output).
    assigned = assigned.repartition(
        int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        "centroid_id",
    )
    a = assigned.select(
        F.col("centroid_id"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("nrm").alias("norm_a"),
    )
    b = assigned.select(
        F.col("centroid_id"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("nrm").alias("norm_b"),
    )
    pairs = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "centroid_id",
            "id_a",
            "id_b",
            cosine_score_col("vec_a", "vec_b", "norm_a", "norm_b").alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    w = Window.partitionBy("id_b").orderBy(F.asc("id_a"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id_b").alias(id_col),
            "centroid_id",
            F.col("id_a").alias("dup_of"),
            "cos_sim",
        )
    )


# --- Product quantization (PQ) -----------------------------------------------
#
# The compression layer of large-scale ANN (Jegou et al. 2011, "Product
# Quantization for Nearest Neighbor Search"): split each d-dim vector into M
# subvectors, k-means each subspace to KSUB codes, store each vector as M
# small codes (here 8 x 4 bits vs 64 x float32 = 64x compression), and
# answer queries in the compressed domain via ADC (asymmetric distance
# computation: per-query lookup table of query-subvector -> centroid
# distances, summed over the M codes). At 100 TB this is what makes the
# corpus fit in memory; candidate bounding comes from composing with the
# IVF cells (ivf_topk) exactly as IVF-PQ does — PQ replaces the full-width
# rerank scan, IVF bounds which codes are scanned.

PQ_M = 8        # subspaces
PQ_DSUB = 8     # dims per subspace (PQ_M * PQ_DSUB = 64)
PQ_KSUB = 16    # codes per subspace (4-bit codes)
PQ_ITERS = 2    # Lloyd iterations per subspace


def sq_l2(a: Column, b: Column) -> Column:
    """Sequential-order squared L2 distance (deterministic IEEE)."""
    return F.aggregate(
        F.zip_with(
            _to_double(a), _to_double(b), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def subvectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
) -> DataFrame:
    """(id, su, svec): subspace su's dsub-dim slice, cast to double.
    Pure explode — M rows per vector, no shuffle."""
    return (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("su"),
        )
        .select(
            id_col,
            "su",
            _to_double(
                F.slice(F.col(vec_col), F.col("su") * dsub + 1, dsub)
            ).alias("svec"),
        )
    )


def _pq_assign(subs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Nearest per-subspace code for every (vector, subspace): broadcast
    the M x KSUB codebook, rank by rounded squared L2 (code tiebreak)."""
    scored = subs.join(F.broadcast(cents), "su").select(
        id_col,
        "su",
        "svec",
        "code",
        F.round(sq_l2(F.col("svec"), F.col("cvec")), 6).alias("d"),
    )
    w = Window.partitionBy(id_col, "su").orderBy(F.asc("d"), F.asc("code"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, "su", "svec", "code")
    )


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    ksub: int = PQ_KSUB,
    n_iterations: int = PQ_ITERS,
) -> DataFrame:
    """Per-subspace Lloyd k-means codebooks, (su, code, cvec), seeded from
    the ``ksub`` SMALLEST ids (code = rank - 1), so an oracle can replay
    the trajectory. Rank-based seeding works for sparse/offset id spaces
    — a corpus whose ids don't start at 0 still seeds exactly ksub codes
    per subspace (the previous ``id < ksub`` filter silently under-seeded
    there); on a contiguous 0-based id space the two are identical, so
    existing oracles replay unchanged. Same determinism contract as
    kmeans_centroids: rounded assignment distances, round-6 per-dim
    means, empty-code coalesce; each iteration localCheckpoints the
    M x KSUB codebook.

    All M subspaces train in ONE DataFrame pass per iteration (the
    subspace id is just another grouping key), so the iteration cost is
    a corpus scan + a broadcast join — not M separate jobs.
    """
    subs = subvectors(corpus, id_col, vec_col, m, dsub)
    # ksub smallest DISTINCT ids -> TakeOrderedAndProject after a
    # partial-agg distinct (no global sort); the row_number window runs
    # over the ksub-row result only. distinct() matches the oracle's
    # SELECT DISTINCT vec_id — a corpus with duplicate ids would
    # otherwise seed duplicate codes on the Spark side only.
    seed_ids = (
        corpus.select(id_col)
        .distinct()
        .orderBy(id_col)
        .limit(ksub)
        .withColumn(
            "code",
            (F.row_number().over(Window.orderBy(id_col)) - 1).cast("int"),
        )
    )
    cents = (
        subs.join(F.broadcast(seed_ids), id_col)
        .select("su", "code", F.col("svec").alias("cvec"))
        .localCheckpoint()
    )
    for _ in range(n_iterations):
        assigned = _pq_assign(subs, cents, id_col).select(
            "su", "code", F.posexplode("svec").alias("dim", "val")
        )
        means = (
            assigned.groupBy("su", "code", "dim")
            .agg(F.round(F.avg("val"), 6).alias("cval"))
            .groupBy("su", "code")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "cval"))
                ).alias("pairs")
            )
            .select(
                "su",
                "code",
                F.transform(F.col("pairs"), lambda p: p.cval).alias("_mean"),
            )
        )
        cents = (
            cents.join(means, ["su", "code"], "left")
            .select(
                "su",
                "code",
                F.coalesce("_mean", F.col("cvec")).alias("cvec"),
            )
            .localCheckpoint()
        )
    return cents


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
) -> DataFrame:
    """(id, su, code): each vector's nearest code per subspace — the
    compressed representation (M small ints per vector)."""
    subs = subvectors(corpus, id_col, vec_col, m, dsub)
    return _pq_assign(subs, codebooks, id_col).select(id_col, "su", "code")


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
) -> DataFrame:
    """ADC top-k in the compressed domain: per query, a distance table
    (query-subvector -> each code's squared L2, floored to integer
    micro-units so the M-way sum is an exact bigint — order-free across
    engines), joined against the encoded corpus and summed.

    Output: (query_id, rank, neighbor_id, adc_micro); self-pairs
    excluded, ties break on neighbor id.

    Scale: the codebook (M x KSUB rows) and distance table (|Q| x M x
    KSUB rows) are broadcast; the compressed corpus (M rows per vector)
    is scanned once — the only shuffle is the (query, neighbor) partial
    sum and the per-query top-k window, both bounded by |Q| x |C| sums
    of M integers, never full-width vectors. Compose with IVF cells to
    bound |C| per query (IVF-PQ) at 100 TB.
    """
    enc = pq_encode(corpus, codebooks, id_col, vec_col, m, dsub)
    dtable = _adc_table(queries, codebooks, id_col, vec_col, m, dsub)
    adc = (
        enc.join(F.broadcast(dtable), ["su", "code"])
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("pd_micro").alias("adc_micro"))
    )
    return _topk(adc, k, F.asc("adc_micro"), "adc_micro")


def _adc_table(
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    dsub: int,
) -> DataFrame:
    """Per-query ADC distance table (query_id, su, code, pd_micro): each
    query subvector's squared L2 to every code of its subspace, floored
    to integer micro-units so the M-way sum is exact in any order."""
    qsub = subvectors(queries, id_col, vec_col, m, dsub).select(
        F.col(id_col).alias("query_id"), "su", F.col("svec").alias("qvec")
    )
    return qsub.join(F.broadcast(codebooks), "su").select(
        "query_id",
        "su",
        "code",
        F.floor(sq_l2(F.col("qvec"), F.col("cvec")) * F.lit(1000000.0))
        .cast("bigint")
        .alias("pd_micro"),
    )


def sql_sq_l2(a: str, b: str, dims: int) -> str:
    return f"""
        list_sum(list_transform(generate_series(1, {dims}),
            i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
               * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))
    """


def sql_pq_cents(
    ksub: int = PQ_KSUB,
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    n_iterations: int = PQ_ITERS,
    corpus: str = "embeddings",
) -> str:
    """DuckDB twin of pq_train seeded from the ``ksub`` smallest ids
    (code = rank - 1, identical to ``vec_id < ksub`` on a contiguous
    0-based id space): CTE chain ``subv, pcent0 .. pcent{n}`` unrolling
    the per-subspace Lloyd iterations (rounded squared-L2 assignment
    with code tiebreak, round-6 per-dim means, empty-code coalesce).
    Embed inside WITH and select from ``pcent{n_iterations}``."""
    d = sql_sq_l2("s.svec", "c.cvec", dsub)
    parts = [
        f"""subv AS (
        SELECT vec_id, su,
               list_transform(embedding[su * {dsub} + 1 : su * {dsub} + {dsub}],
                   x -> CAST(x AS DOUBLE)) AS svec
        FROM {corpus}, generate_series(0, {m - 1}) AS g(su)
    )""",
        f"""pseed AS (
        SELECT vec_id,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
        FROM (SELECT DISTINCT vec_id FROM {corpus}
              ORDER BY vec_id LIMIT {ksub})
    )""",
        f"""pcent0 AS (
        SELECT s.su, p.code, s.svec AS cvec
        FROM subv s JOIN pseed p USING (vec_id)
    )""",
    ]
    for i in range(1, n_iterations + 1):
        p = i - 1
        parts.append(f"""passign{i} AS (
        SELECT vec_id, su, svec, code FROM (
            SELECT s.vec_id, s.su, s.svec, c.code,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.su
                       ORDER BY ROUND({d}, 6) ASC, c.code ASC
                   ) AS rk
            FROM subv s JOIN pcent{p} c ON s.su = c.su
        ) WHERE rk = 1
    )""")
        parts.append(f"""pmeans{i} AS (
        SELECT su, code, di, ROUND(AVG(svec[di]), 6) AS cval
        FROM passign{i}, generate_series(1, {dsub}) AS u(di)
        GROUP BY su, code, di
    )""")
        parts.append(f"""pcent{i} AS (
        SELECT p.su, p.code, COALESCE(mm.cvec, p.cvec) AS cvec
        FROM pcent{p} p
        LEFT JOIN (
            SELECT su, code, list(cval ORDER BY di) AS cvec
            FROM pmeans{i} GROUP BY su, code
        ) mm USING (su, code)
    )""")
    return ",\n    ".join(parts)


def pq_shortlist_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
) -> DataFrame:
    """The production PQ query shape: ADC prunes the corpus to a
    per-query shortlist in the compressed domain, then ONLY the
    shortlist is reranked with the exact full-width cosine.

    Output: (query_id, rank, neighbor_id, score) — same shape as
    brute_force_topk, so the two are directly comparable.

    Scale: the expensive exact stage touches |Q| x shortlist vectors
    instead of |Q| x |C| — here a 10% scan fraction; at 100 TB the
    shortlist join is an equi-join on the neighbor id against the
    (pruned) corpus, so full-width vectors are only shuffled for
    shortlist members.
    """
    short = pq_adc_topk(
        queries, corpus, codebooks, k=shortlist,
        id_col=id_col, vec_col=vec_col, m=m, dsub=dsub,
    ).select("query_id", "neighbor_id")
    q = _side(queries, "q", id_col=id_col, vec_col=vec_col)
    c = _side(corpus, "c", id_col=id_col, vec_col=vec_col)
    pairs = short.join(F.broadcast(q), "query_id").join(c, "neighbor_id")
    return _cosine_topk(pairs, k)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN query shape (Jegou et al.
    2011) — the IVF cells bound WHICH vectors are scanned (candidates ~
    nprobe/K of the corpus per query), and PQ bounds HOW MUCH is read
    per candidate (M 4-bit codes against a broadcast distance table,
    never the full-width vector). Output: (query_id, rank, neighbor_id,
    adc_micro), ties on neighbor id, self-pairs excluded.

    Scale: the corpus is touched twice, both times linearly — once to
    assign cells (broadcast centroids), once to encode (broadcast
    codebooks); the per-query candidate join is an equi-join on the
    probed cell id, and the ADC sum shuffles only (query, neighbor,
    integer) triples. Swapping the exact-rerank stage of ivf_topk for
    ADC is what makes the probe scan 64x narrower at 100 TB.
    """
    corp_cell = assign_to_centroids(corpus, centroids, 1, id_col, vec_col)
    qry_cell = assign_to_centroids(
        queries, centroids, nprobe, id_col, vec_col
    ).select(F.col(id_col).alias("query_id"), "centroid_id")
    cand = (
        qry_cell.join(
            corp_cell.select(
                F.col(id_col).alias("neighbor_id"), "centroid_id"
            ),
            "centroid_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    enc = pq_encode(corpus, codebooks, id_col, vec_col, m, dsub).select(
        F.col(id_col).alias("neighbor_id"), "su", "code"
    )
    dtable = _adc_table(queries, codebooks, id_col, vec_col, m, dsub)
    adc = (
        cand.join(enc, "neighbor_id")
        .join(F.broadcast(dtable), ["query_id", "su", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pd_micro").alias("adc_micro"))
    )
    return _topk(adc, k, F.asc("adc_micro"), "adc_micro")


def sql_pq_enc_dt(n_queries: int, dsub: int = PQ_DSUB) -> str:
    """Shared oracle CTEs for the PQ query family (sim_pq_adc,
    sim_pq_rerank, sim_ivfpq_topk): ``enc`` (each corpus vector's
    nearest code per subspace) and ``dt`` (per-query integer ADC
    distance table). Embed after sql_pq_cents' chain and a ``cb`` CTE —
    one definition so a change to the assignment tie-break or the
    micro-unit scale cannot silently diverge across the three
    oracles."""
    d_enc = sql_sq_l2("s.svec", "c.cvec", dsub)
    d_dt = sql_sq_l2("q.svec", "c.cvec", dsub)
    return f"""enc AS (
        SELECT vec_id, su, code FROM (
            SELECT s.vec_id, s.su, c.code,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.su
                       ORDER BY ROUND({d_enc}, 6) ASC,
                                c.code ASC
                   ) AS rk
            FROM subv s JOIN cb c ON s.su = c.su
        ) WHERE rk = 1
    ),
    dt AS (
        SELECT q.vec_id AS query_id, c.su, c.code,
               CAST(FLOOR({d_dt}
                          * 1000000) AS BIGINT) AS pd_micro
        FROM subv q JOIN cb c ON q.su = c.su
        WHERE q.vec_id < {n_queries}
    )"""
