"""Lexical BM25 retrieval and reciprocal-rank fusion (hybrid search).

A retrieval tier the LLM-data stack uses constantly: BM25 over an
inverted-index view of the corpus (the lexical side), fused with a dense
cosine top-k list (the vector side, ``operators/similarity.py``) via
reciprocal-rank fusion (RRF, Cormack et al. 2009: score = sum over lists
of 1/(K + rank), K = 60).

Scale notes (the 100 TB read):

* BM25 never materializes the full posting list x query cross product.
  The query-term filter runs INSIDE the token array (``filter`` before
  ``explode``), so only matching tokens leave the scan stage; the
  per-(doc, term) tf aggregation is map-side partial (a doc's repeated
  term combines within its task) and the shuffled tf table is bounded by
  |matched docs| x |query terms| rows.
* Corpus statistics (N, avgdl) are one global 1-row aggregate,
  broadcast; per-term document frequencies are a <= |query terms|-row
  frame, broadcast — no shuffle joins anywhere on the corpus side.
* The final top-k is ``orderBy(...).limit(k)`` = TakeOrderedAndProject
  (per-partition partial top-k, driver merges k-row heaps) — NOT a
  single-task global rank window. The rank column is attached by a
  row_number over the k surviving rows only (bounded head, the same
  allowlisted pattern as text_zipf_fit's top-100 window).
* RRF fuses two bounded top-N lists (N rows each), a broadcast-size
  full-outer join.

Cross-engine float determinism follows the house rules: every sum that
crosses engines is either a fixed-order scalar expression (the per-term
BM25 contributions are pivoted to columns and added in query-term list
order) or a single correctly-rounded operation (divisions); ``ln`` is
correctly rounded on both engines for these magnitudes (the proven
text_*_logprob precedent) and the final score is ROUND(..., 6) like
every similarity score in ``operators/similarity.py``.

Reference parity note: the reference repo (dataArtisans/flink-streaming-demo)
has no retrieval surface; this module belongs to the beyond-reference
LLM-pipeline tier (SURVEY §2.10 extensions).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60

_TERM_RE = re.compile(r"[a-z0-9_]+\Z")


def _check_terms(query_terms: Sequence[str]) -> list[str]:
    """Validate a query term bag: non-empty and duplicate-free (a repeated
    term would silently double-count its BM25 contribution in the pivot
    sum; an empty bag leaves the pivot's ``s_0`` column unresolved), and
    every term lexically safe to interpolate into the DuckDB oracle SQL
    (``[a-z0-9_]+`` — the corpus tokenizer emits nothing else, and the
    pattern rules out quote/injection breakage in the SQL twins)."""
    terms = list(query_terms)
    if not terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError(f"query_terms contains duplicates: {terms!r}")
    bad = [t for t in terms if not _TERM_RE.match(t)]
    if bad:
        raise ValueError(f"query terms must match [a-z0-9_]+: {bad!r}")
    return terms


def bm25_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Full inverted-index postings: one row per distinct (term, doc)
    with its term frequency and the doc's length — (term, doc_id, tf,
    dl). Linear in corpus tokens; the (doc, term) aggregation is
    map-side partial (a doc's repeated term combines within its task).
    This is the query-AGNOSTIC indexing pass the streaming maintainer
    upserts; the batch query path skips it and filters query terms
    inside the token array instead (``bm25_topk``)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
    )
    return (
        toks.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def _term_score_col(k1: float = BM25_K1, b: float = BM25_B):
    """The per-term BM25 contribution as ONE Column expression over the
    joined (tf, df, dl) x (n_docs, sum_dl) frame — the single source
    both the single-bag pivot (``bm25_scores``) and the batched
    per-position pivot (``bm25_batch_rank``) score through, so their
    floats are identical by construction (the Spark analogue of
    ``sql_bm25_term_score``)."""
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    norm = F.lit(1.0) - F.lit(b) + (F.lit(b) * F.col("dl")) / avgdl
    return idf * ((tf_d * F.lit(k1 + 1.0)) / (tf_d + F.lit(k1) * norm))


def bm25_scores(
    tf: DataFrame,
    stats: DataFrame,
    query_terms: Sequence[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """BM25 scoring over prepared frames, generic in the unit of
    retrieval (document, chunk, ...).

    ``tf``: id_cols + (dl, term, tf) already restricted to the query
    terms; ``stats``: one row (n_docs, sum_dl) over the FULL corpus of
    units. Returns id_cols + (n_terms, score); only units matching
    >= 1 query term appear. df counts units (for chunk retrieval that
    is chunk frequency — the standard choice when the chunk corpus IS
    the index), so ``tf`` rows must be one per (unit, term). The per-term
    contributions are pivoted to columns and summed in FIXED query-term
    order (cross-engine float discipline).
    """
    terms = _check_terms(query_terms)
    ids = list(id_cols)
    tf = tf.select(*ids, "dl", "term", "tf")
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))
    per_term = scored.select(
        *ids, "term", _term_score_col(k1, b).alias("s")
    )
    agg_cols = [
        F.max(F.when(F.col("term") == F.lit(t), F.col("s"))).alias(f"s_{i}")
        for i, t in enumerate(terms)
    ]
    per_unit = per_term.groupBy(*ids).agg(
        *agg_cols, F.count(F.lit(1)).cast("int").alias("n_terms")
    )
    score = F.coalesce(F.col("s_0"), F.lit(0.0))
    for i in range(1, len(terms)):
        score = score + F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
    return per_unit.select(
        *ids, "n_terms", F.round(score, 6).alias("score")
    )


def bm25_rank(
    tf: DataFrame,
    stats: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    exclude_id: int | None = None,
) -> DataFrame:
    """Shared BM25 scoring tail over prepared frames.

    ``tf``: (doc_id, dl, term, tf) already restricted to the query
    terms; ``stats``: one row (n_docs, sum_dl) over the FULL corpus.
    Both the batch path (``bm25_topk``) and the streaming index's
    read-time view build these frames differently but score through
    this one function, so their floats are identical by construction.

    ``exclude_id`` removes that doc before the df count and the
    candidate ranking (the hybrid query indexes everything except its
    own query document). Returns (doc_id, rank, n_terms, score); only
    docs matching >= 1 query term are candidates, rank ties break on
    doc_id ascending.
    """
    terms = list(query_terms)
    tf = tf.select("doc_id", "dl", "term", "tf")
    if exclude_id is not None:
        tf = tf.filter(F.col("doc_id") != F.lit(exclude_id))
    ranked = bm25_scores(tf, stats, terms, k1=k1, b=b)
    # TakeOrderedAndProject (partial top-k per partition), then a rank
    # window over the surviving k rows only.
    head = ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return head.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "rank", "n_terms", "score"
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude_id: int | None = None,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25.

    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b*dl/avgdl))
    with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)) — the Robertson/
    Lucene non-negative idf. The query-term filter runs INSIDE the token
    array, so non-matching tokens never explode; scoring happens in
    ``bm25_rank`` (shared with the streaming index's read-time view).
    """
    terms = _check_terms(query_terms)
    tf, stats = _bm25_frames(docs, terms, id_col, text_col)
    return bm25_rank(
        tf, stats, terms, k=k, k1=k1, b=b, exclude_id=exclude_id
    )


def _bm25_frames(
    docs: DataFrame, terms: Sequence[str], id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """The query front of ``bm25_topk`` and ``bm25_batch_topk``:
    (tf, stats) over one corpus scan. ``tf``: (doc_id, dl, term, tf),
    one row per (doc, query term); ``stats``: one row (n_docs, sum_dl)
    over the full corpus."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
    )
    lengths = toks.select("doc_id", F.size("toks").alias("dl"))
    # One global 1-row aggregate: partial-agg reduce, broadcast below.
    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    # Query-term filter inside the array: non-matching tokens never explode.
    tf = (
        toks.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode(
                F.filter(F.col("toks"), lambda x: x.isin(*terms))
            ).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf, stats


def check_query_bags(
    query_bags: Sequence[tuple[int, Sequence[str]]],
) -> tuple[list[tuple[int, list[str]]], list[str]]:
    """Validate a batch of term-bag queries and derive the union term
    list (deduped in first-appearance order — the fixed pivot order both
    engines sum in). Returns (bags, union_terms)."""
    bags = [(int(qid), _check_terms(ts)) for qid, ts in query_bags]
    if not bags:
        raise ValueError("query_bags must be non-empty")
    if len({qid for qid, _ in bags}) != len(bags):
        raise ValueError("duplicate query_id in query_bags")
    union_terms: list[str] = []
    for _, ts in bags:
        for t in ts:
            if t not in union_terms:
                union_terms.append(t)
    return bags, union_terms


def bm25_batch_rank(
    tf: DataFrame,
    stats: DataFrame,
    query_bags: Sequence[tuple[int, Sequence[str]]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Shared batched-scoring tail over prepared frames. ``tf``:
    (doc_id, dl, term, tf) already restricted to the UNION of all query
    terms, one row per (doc, term); ``stats``: one row (n_docs, sum_dl)
    over the FULL corpus. Both the batch path (``bm25_batch_topk``) and
    the streaming index's read-time view build these frames differently
    but score through this one function, so their floats are identical
    by construction.

    Per-term document frequencies come from ``tf`` BEFORE the query
    join (the corpus-side df — joining the query table first would
    count a term once per query using it); the tiny (query_id,
    term_pos, term) table then broadcast-joins candidates per query,
    and the per-query top-k is a rank window PARTITIONED by query_id
    over the candidate slice (bounded by matched docs per query —
    never a global sort). Returns (query_id, rank, doc_id, n_terms,
    score).

    Float discipline at batch scale: the pivot runs over the term's
    POSITION in its own bag (s_0..s_{W-1}, W = widest bag), NOT over
    the union vocabulary — fixed-order summation only needs a
    per-QUERY order, and a union-wide pivot would put O(|union|)
    aggregate columns in the plan (a 1,000-query batch with ~3,000
    distinct terms would blow past codegen limits). Plan width is
    bounded by the widest bag at any batch size; each query's score
    sums in its own bag order — the same fold a user gets from running
    ``bm25_topk`` on that bag alone."""
    bags, _ = check_query_bags(query_bags)
    width = max(len(ts) for _, ts in bags)
    tf = tf.select("doc_id", "dl", "term", "tf")
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qtab = tf.sparkSession.createDataFrame(
        [(qid, i, t) for qid, ts in bags for i, t in enumerate(ts)],
        "query_id int, term_pos int, term string",
    )
    scored = (
        tf.join(F.broadcast(qtab), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            "term_pos",
            _term_score_col(k1, b).alias("s"),
        )
    )
    agg_cols = [
        F.max(F.when(F.col("term_pos") == F.lit(i), F.col("s"))).alias(
            f"s_{i}"
        )
        for i in range(width)
    ]
    per_unit = scored.groupBy("query_id", "doc_id").agg(
        *agg_cols, F.count(F.lit(1)).cast("int").alias("n_terms")
    )
    score = F.coalesce(F.col("s_0"), F.lit(0.0))
    for i in range(1, width):
        score = score + F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
    ranked = per_unit.select(
        "query_id", "doc_id", "n_terms", F.round(score, 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_terms", "score")
    )


def bm25_batch_topk(
    docs: DataFrame,
    query_bags: Sequence[tuple[int, Sequence[str]]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-query BM25 top-k for a BATCH of term-bag queries — the shape
    an eval/distillation pipeline actually runs (thousands of queries
    against one corpus), vs ``bm25_topk``'s single bag.

    ``query_bags``: [(query_id, [terms...]), ...] — a small query table.
    The corpus is scanned ONCE: the token filter keeps the UNION of all
    query terms inside the array (non-matching tokens never explode —
    one array literal, not per-term expressions; at vocabulary sizes
    where even that literal is unwieldy, drop the in-array filter and
    semi-join the exploded tokens against the broadcast term table
    instead) and the per-(doc, term) tf table is computed once; scoring
    and the per-query partitioned rank happen in ``bm25_batch_rank``
    (shared with the streaming index's batched read-time view), whose
    pivot is per-bag-position — plan width bounded by the widest bag,
    never by the union vocabulary.
    """
    _, union_terms = check_query_bags(query_bags)
    tf, stats = _bm25_frames(docs, union_terms, id_col, text_col)
    return bm25_batch_rank(tf, stats, query_bags, k=k, k1=k1, b=b)


def sql_bm25_batch_ctes(
    query_bags: Sequence[tuple[int, Sequence[str]]],
    k1: float = BM25_K1,
    b: float = BM25_B,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of ``bm25_batch_topk`` as CTE bodies; embed inside
    WITH and select from ``bm25_batch_ranked`` (query_id, rank, doc_id,
    n_terms, score). Same per-bag-position pivot in the same per-query
    order, df computed on the pre-query-join tf table; bags validated
    through the SAME ``check_query_bags`` as the Spark twin (duplicate
    query_ids / empty batches fail identically on both sides)."""
    bags, union_terms = check_query_bags(query_bags)
    width = max(len(ts) for _, ts in bags)
    in_list = ", ".join(f"'{t}'" for t in union_terms)
    sp = f"string_split({text_col}, ' ')"
    qrows = ", ".join(
        f"({qid}, {i}, '{t}')"
        for qid, ts in bags
        for i, t in enumerate(ts)
    )
    pivot_cols = ",\n               ".join(
        f"MAX(CASE WHEN term_pos = {i} THEN s END) AS s_{i}"
        for i in range(width)
    )
    score_sum = " + ".join(
        f"COALESCE(s_{i}, 0.0)" for i in range(width)
    )
    return f"""
    bm25_stats AS (
        SELECT COUNT(*) AS n_docs,
               SUM(len({sp})) AS sum_dl
        FROM {table}
    ),
    bm25_tf AS (
        SELECT {id_col} AS doc_id, dl, term, COUNT(*) AS tf
        FROM (
            SELECT {id_col}, len({sp}) AS dl,
                   unnest({sp}) AS term
            FROM {table}
        )
        WHERE term IN ({in_list})
        GROUP BY {id_col}, dl, term
    ),
    bm25_df AS (
        SELECT term, COUNT(*) AS df FROM bm25_tf GROUP BY term
    ),
    bm25_qtab(query_id, term_pos, term) AS (VALUES {qrows}),
    bm25_scored AS (
        SELECT q.query_id, c.doc_id, q.term_pos,
               {sql_bm25_term_score(k1, b)} AS s
        FROM bm25_tf c
        JOIN bm25_qtab q USING (term)
        JOIN bm25_df d USING (term)
        CROSS JOIN bm25_stats s
    ),
    bm25_pivot AS (
        SELECT query_id, doc_id,
               {pivot_cols},
               CAST(COUNT(*) AS INT) AS n_terms
        FROM bm25_scored GROUP BY query_id, doc_id
    ),
    bm25_batch_ranked AS (
        SELECT query_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({score_sum}, 6) DESC, doc_id ASC
               ) AS INT) AS rank,
               doc_id,
               n_terms,
               ROUND({score_sum}, 6) AS score
        FROM bm25_pivot
    )
    """


def bm25_chunk_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Chunk-level inverted-index postings on the shared chunk grid
    (functions/text.chunk_windows_expr): one row per distinct (term,
    doc, chunk) with its in-chunk frequency and the chunk's length —
    (term, doc_id, chunk_idx, tf, dl). The query-agnostic indexing pass
    behind the streaming MaxP view; linear in corpus tokens like the
    doc-level ``bm25_postings``."""
    from flink_streaming_demo_spark.functions.text import (
        chunk_windows_expr,
    )

    chunks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
    ).select(
        "doc_id",
        F.posexplode(F.expr(chunk_windows_expr("toks"))).alias(
            "chunk_idx", "chunk_toks"
        ),
    )
    return (
        chunks.select(
            "doc_id",
            "chunk_idx",
            F.size("chunk_toks").alias("dl"),
            F.explode("chunk_toks").alias("term"),
        )
        .groupBy("doc_id", "chunk_idx", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "doc_id", "chunk_idx", "tf", "dl")
    )


def bm25_maxp_rank(
    tf: DataFrame,
    stats: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Shared MaxP tail: chunk-level BM25 scores -> best passage per
    document (doc-partitioned argmax, chunk_idx tie-break) -> global
    top-k via TakeOrderedAndProject. ``tf``: (doc_id, chunk_idx, dl,
    term, tf) restricted to the query terms; ``stats``: one row over
    ALL chunks. Both the batch sim_bm25_maxp and the streaming chunk
    index's read-time view run through this function, so their floats
    are identical by construction. Returns (doc_id, rank,
    best_chunk_idx, n_terms, score)."""
    scores = bm25_scores(
        tf.select("doc_id", "chunk_idx", "dl", "term", "tf"),
        stats,
        query_terms,
        k1=k1,
        b=b,
        id_cols=("doc_id", "chunk_idx"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("chunk_idx")
    )
    best = (
        scores.withColumn("rn", F.row_number().over(w_doc))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    head = best.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return head.withColumn("rank", F.row_number().over(w)).select(
        "doc_id",
        "rank",
        F.col("chunk_idx").cast("int").alias("best_chunk_idx"),
        "n_terms",
        "score",
    )


def rrf_fuse(
    lex: DataFrame,
    vec: DataFrame,
    k: int = 10,
    k_rrf: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of two bounded top-N lists.

    ``lex`` and ``vec`` each carry (doc_id, rank). rrf = 1/(K + lex_rank)
    + 1/(K + vec_rank), a list absent from one side contributes 0 (and
    reports rank 0 in that side's output column — ranks are 1-based, so
    0 unambiguously means "outside that list's top-N" and keeps the
    column integer-typed with no NULLs). Fixed addition order: lexical
    term first, then vector.
    """
    l_side = lex.select("doc_id", F.col("rank").alias("lex_rank"))
    v_side = vec.select("doc_id", F.col("rank").alias("vec_rank"))
    fused = l_side.join(v_side, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("lex_rank"), F.lit(0)).cast("int").alias("lex_rank"),
        F.coalesce(F.col("vec_rank"), F.lit(0)).cast("int").alias("vec_rank"),
        F.round(
            F.when(F.col("lex_rank").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(k_rrf) + F.col("lex_rank"))
            )
            + F.when(F.col("vec_rank").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(k_rrf) + F.col("vec_rank"))
            ),
            6,
        ).alias("rrf_score"),
    )
    head = fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return head.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "rank", "lex_rank", "vec_rank", "rrf_score"
    )


# --- ANSI-SQL twins ----------------------------------------------------------

def sql_bm25_term_score(
    k1: float = BM25_K1,
    b: float = BM25_B,
    tf: str = "c.tf",
    df: str = "d.df",
    dl: str = "c.dl",
    n_docs: str = "s.n_docs",
    sum_dl: str = "s.sum_dl",
) -> str:
    """The per-term BM25 contribution as a DuckDB expression, mirroring
    ``bm25_scores``'s column tree token for token — the single source
    both oracle twins (doc-level and chunk-level) compose."""
    return (
        f"ln(1.0 + ({n_docs} - {df} + 0.5) / ({df} + 0.5))"
        f" * ((CAST({tf} AS DOUBLE) * {k1 + 1.0!r})"
        f" / (CAST({tf} AS DOUBLE)"
        f" + {k1!r} * (1.0 - {b!r}"
        f" + ({b!r} * {dl})"
        f" / (CAST({sum_dl} AS DOUBLE) / {n_docs}))))"
    )


def sql_bm25_pivot(terms: Sequence[str]) -> tuple[str, str]:
    """(pivot column list, fixed-order score sum) for the term pivot —
    shared by every BM25 oracle so term order can never drift. Terms are
    validated against [a-z0-9_]+ before interpolation."""
    terms = _check_terms(terms)
    pivot_cols = ",\n               ".join(
        f"MAX(CASE WHEN term = '{t}' THEN s END) AS s_{i}"
        for i, t in enumerate(terms)
    )
    score_sum = " + ".join(
        f"COALESCE(s_{i}, 0.0)" for i in range(len(terms))
    )
    return pivot_cols, score_sum


def sql_bm25_ctes(
    terms: Sequence[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude_id: int | None = None,
) -> str:
    """DuckDB twin of ``bm25_topk`` as CTE bodies; embed inside WITH and
    select from ``bm25_ranked`` (doc_id, rank, n_terms, score). The
    expression trees mirror the Spark columns token for token so every
    double operation happens in the same order. Terms are validated
    against [a-z0-9_]+ (``_check_terms``) before interpolation."""
    terms = _check_terms(terms)
    in_list = ", ".join(f"'{t}'" for t in terms)
    sp = f"string_split({text_col}, ' ')"
    excl = (
        f"WHERE doc_id <> {exclude_id}" if exclude_id is not None else ""
    )
    pivot_cols, score_sum = sql_bm25_pivot(terms)
    return f"""
    bm25_stats AS (
        SELECT COUNT(*) AS n_docs,
               SUM(len({sp})) AS sum_dl
        FROM {table}
    ),
    bm25_tf AS (
        SELECT {id_col} AS doc_id, dl, term, COUNT(*) AS tf
        FROM (
            SELECT {id_col}, len({sp}) AS dl,
                   unnest({sp}) AS term
            FROM {table}
        )
        WHERE term IN ({in_list})
        GROUP BY {id_col}, dl, term
    ),
    bm25_cand AS (
        SELECT * FROM bm25_tf {excl}
    ),
    bm25_df AS (
        SELECT term, COUNT(*) AS df FROM bm25_cand GROUP BY term
    ),
    bm25_scored AS (
        SELECT c.doc_id, c.term,
               {sql_bm25_term_score(k1, b)} AS s
        FROM bm25_cand c
        JOIN bm25_df d USING (term)
        CROSS JOIN bm25_stats s
    ),
    bm25_pivot AS (
        SELECT doc_id,
               {pivot_cols},
               CAST(COUNT(*) AS INT) AS n_terms
        FROM bm25_scored GROUP BY doc_id
    ),
    bm25_ranked AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY ROUND({score_sum}, 6) DESC, doc_id ASC
               ) AS INT) AS rank,
               n_terms,
               ROUND({score_sum}, 6) AS score
        FROM bm25_pivot
    )
    """


def sql_rrf_select(
    lex_cte: str,
    vec_cte: str,
    k: int,
    k_rrf: int = RRF_K,
) -> str:
    """DuckDB twin of ``rrf_fuse``: final SELECT over two rank CTEs each
    exposing (doc_id, rank)."""
    return f"""
    SELECT doc_id, CAST(rank AS INT) AS rank, lex_rank, vec_rank, rrf_score
    FROM (
        SELECT doc_id, lex_rank, vec_rank, rrf_score,
               ROW_NUMBER() OVER (
                   ORDER BY rrf_score DESC, doc_id ASC
               ) AS rank
        FROM (
            SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
                   CAST(COALESCE(l.rank, 0) AS INT) AS lex_rank,
                   CAST(COALESCE(v.rank, 0) AS INT) AS vec_rank,
                   ROUND(
                       (CASE WHEN l.rank IS NULL THEN 0.0
                             ELSE 1.0 / ({k_rrf} + l.rank) END)
                       + (CASE WHEN v.rank IS NULL THEN 0.0
                               ELSE 1.0 / ({k_rrf} + v.rank) END),
                   6) AS rrf_score
            FROM {lex_cte} l
            FULL OUTER JOIN {vec_cte} v ON l.doc_id = v.doc_id
        )
    )
    WHERE rank <= {k}
    """
