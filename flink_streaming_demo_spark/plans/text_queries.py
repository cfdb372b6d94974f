"""Registered queries for the text/dedup/multimodal surface over
``documents``. The testdata corpus has no duplicate texts, so the dedup
queries run over a *planted-duplicate* corpus derived deterministically from
documents (exact copies at doc_id%10==0, near-copies with an appended tail at
doc_id%25==0) — both engines derive the identical corpus, and the dedup
operators have real work to do.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_demo_spark.functions import text as TX
from flink_streaming_demo_spark.operators import dedup, graph, multimodal
from flink_streaming_demo_spark.plans.registry import register
from flink_streaming_demo_spark.schemas import load_table as t

NEAR_TAIL = " zzz zzz zzz"

# One source of truth for every planted-duplicate scheme (the dedup
# corpus, the incremental incoming batch, and the tests all derive from
# these): docs with doc_id % MOD == 0 are copied to doc_id + OFFSET,
# transformed per leg. Exact = verbatim copy; near = appended tail
# (keeps most shingles -> MinHash near-dup); new = token-reversed
# (ordered shingles share ~nothing -> must NOT match).
EXACT_OFFSET, EXACT_MOD = 1_000_000, 10
NEAR_OFFSET, NEAR_MOD = 2_000_000, 25
NEW_OFFSET, NEW_MOD = 3_000_000, 7


def _exact_leg(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("doc_id") % EXACT_MOD == 0).select(
        (F.col("doc_id") + EXACT_OFFSET).alias("doc_id"), F.col("text")
    )


def _near_leg(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("doc_id") % NEAR_MOD == 0).select(
        (F.col("doc_id") + NEAR_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NEAR_TAIL)).alias("text"),
    )


def _new_leg(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("doc_id") % NEW_MOD == 0).select(
        (F.col("doc_id") + NEW_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.reverse(F.split(F.col("text"), " "))).alias(
            "text"
        ),
    )


_SQL_EXACT_LEG = f"""
        SELECT doc_id + {EXACT_OFFSET} AS doc_id, text
        FROM documents WHERE doc_id % {EXACT_MOD} = 0"""
_SQL_NEAR_LEG = f"""
        SELECT doc_id + {NEAR_OFFSET} AS doc_id,
               text || '{NEAR_TAIL}' AS text
        FROM documents WHERE doc_id % {NEAR_MOD} = 0"""
_SQL_NEW_LEG = f"""
        SELECT doc_id + {NEW_OFFSET} AS doc_id,
               array_to_string(list_reverse(string_split(text, ' ')), ' ')
                   AS text
        FROM documents WHERE doc_id % {NEW_MOD} = 0"""


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-duplicate corpus as ONE scan (r15, guide §2.4/§6):
    the previous three-leg unionAll scanned ``documents`` three times —
    at 100 TB that is 3x corpus I/O for every dedup query. Each row now
    emits its legs from a single generator expression: the original
    always, the exact copy iff doc_id % EXACT_MOD == 0, the near copy
    (appended tail) iff doc_id % NEAR_MOD == 0. A ``keep`` flag (not
    text nullability) gates the legs, so NULL-text rows survive exactly
    as the union form emitted them. Row multiset is identical to the
    union form (and to _PLANTED_SQL, which the DuckDB oracles keep)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        F.explode(_planted_legs_expr()).alias("leg")
    ).select(
        F.col("leg.doc_id").alias("doc_id"),
        F.col("leg.text").alias("text"),
    )


@lru_cache(maxsize=None)
def _planted_legs_expr():
    return F.expr(
        f"""
        filter(
            array(
                named_struct(
                    'keep', true, 'doc_id', doc_id, 'text', text),
                named_struct(
                    'keep', doc_id % {EXACT_MOD} = 0,
                    'doc_id', doc_id + {EXACT_OFFSET}, 'text', text),
                named_struct(
                    'keep', doc_id % {NEAR_MOD} = 0,
                    'doc_id', doc_id + {NEAR_OFFSET},
                    'text', concat(text, '{NEAR_TAIL}'))
            ),
            s -> s.keep
        )
        """
    )


_PLANTED_SQL = f"""
        SELECT doc_id, text FROM documents
        UNION ALL{_SQL_EXACT_LEG}
        UNION ALL{_SQL_NEAR_LEG}
"""


# --- Exact dedup -------------------------------------------------------------

def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-hash dedup groups over the planted corpus. This row also
    carries the retired dedup_exact_survivors' assertion (r13 verdict
    #2, rotation budget): the survivor corpus is exactly this frame's
    (keep_id, text_hash) projection, so one oracle checks both; the
    exact_dedup() == keep-slice identity is pinned Spark-side by
    tests/test_dedup.py::test_exact_survivors_are_groups_keep_slice."""
    return dedup.exact_dedup_groups(_planted_corpus(spark, sf_dir))


register(
    "dedup_exact_groups",
    dedup_exact_groups,
    f"""
    WITH corpus AS ({_PLANTED_SQL})
    SELECT
        md5(text) AS text_hash,
        MIN(doc_id) AS keep_id,
        COUNT(*) AS n_copies
    FROM corpus
    GROUP BY md5(text)
    """,
)


# dedup_exact_survivors retired in r14 (r13 verdict #2, rotation
# budget): the survivor corpus (min doc_id per text hash) is exactly the
# (keep_id, text_hash) projection of dedup_exact_groups, whose oracle
# now carries the assertion; the exact_dedup() operator itself stays
# pinned to that slice by
# tests/test_dedup.py::test_exact_survivors_are_groups_keep_slice.


# --- MinHash + LSH near-dedup ------------------------------------------------

def _sql_minhash_pair_ctes(threshold: float, source: str = "corpus") -> str:
    """The signatures -> bands -> verified-pairs CTE chain over the
    (doc_id, text) relation ``source`` (a CTE the caller defines), shared
    by every MinHash-LSH oracle. Ends in ``cc_pairs`` (id_a < id_b,
    est_jaccard rounded to 6 places); the threshold applies to the
    unrounded estimate."""
    sim = f"""CAST(list_sum(list_transform(generate_series(1, {dedup.N_HASHES}),
            j -> CASE WHEN sig_a[j] = sig_b[j] THEN 1 ELSE 0 END)) AS DOUBLE)
            / {float(dedup.N_HASHES)}"""
    return f"""sigs AS (
        SELECT
            doc_id,
            {dedup.sql_minhash_signature(dedup.sql_shingles('text'))} AS sig
        FROM {source}
        WHERE len(string_split(text, ' ')) >= {dedup.SHINGLE_N}
    ),
    banded AS (
        SELECT doc_id, sig, unnest({dedup.sql_lsh_band_keys('sig')}) AS band_key
        FROM sigs
    ),
    cand AS (
        SELECT DISTINCT
            a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
        FROM banded a
        JOIN banded b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    cc_pairs AS (
        SELECT id_a, id_b, ROUND({sim}, 6) AS est_jaccard
        FROM cand WHERE {sim} >= {threshold}
    )"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _planted_corpus(spark, sf_dir), threshold=0.5
    )


register(
    "dedup_minhash_lsh",
    dedup_minhash_lsh,
    f"""
    WITH corpus AS ({_PLANTED_SQL}),
    {_sql_minhash_pair_ctes(0.5)}
    SELECT id_a, id_b, est_jaccard FROM cc_pairs
    """,
)


# --- Exact n-gram Jaccard ----------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _planted_corpus(spark, sf_dir),
        threshold=0.5,
    )


register(
    "dedup_ngram_jaccard",
    dedup_ngram_jaccard,
    f"""
    WITH corpus AS ({_PLANTED_SQL}),
    sh_all AS (
        SELECT doc_id, unnest({dedup.sql_shingles('text')}) AS shingle
        FROM corpus
        WHERE len(string_split(text, ' ')) >= {dedup.SHINGLE_N}
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh_all
        QUALIFY COUNT(*) OVER (PARTITION BY shingle)
                <= {dedup.MAX_SHINGLE_DF}
    ),
    counts AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM sh a
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT
        id_a,
        id_b,
        ROUND(CAST(n_shared AS DOUBLE)
              / CAST(ca.n_sh + cb.n_sh - n_shared AS DOUBLE), 6) AS jaccard
    FROM shared
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE CAST(n_shared AS DOUBLE)
          / CAST(ca.n_sh + cb.n_sh - n_shared AS DOUBLE) >= 0.5
    """,
)


# --- SimHash fingerprints ----------------------------------------------------

def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETIRED registry row (r15, rotation slack — r14 verdict #2): the
    projection whose expressions dedup_simhash / dedup_simhash64
    compose over the planted corpus. The full-documents DuckDB parity
    this row's driver check provided is preserved verbatim by
    tests/test_retired_rows.py, which runs this callable against
    DOC_SIMHASH_ORACLE through tools/parity.compare."""
    docs = t(spark, sf_dir, "documents")
    return TX.simhash16_agg(docs)


DOC_SIMHASH_ORACLE = f"""
    SELECT
        doc_id,
        {TX.sql_simhash16('text')} AS simhash,
        {TX.sql_token_count('text')} AS n_tokens
    FROM documents
    """


# --- Quality scoring ---------------------------------------------------------

def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: length, token stats, stopword ratio,
    uniqueness ratio, plus Gopher-style repetition signals (duplicate
    2-gram fraction, top 2-gram share) — the standard pre-training
    corpus filters, applied BEFORE any near-dup pass. ONE projection on
    ONE scan (r15, guide §2.4): the repetition stats are per-row array
    expressions (functions/text.repetition_cols) — the previous
    explode + groupBy + join-back shape scanned the corpus twice and
    shuffled one row per distinct (doc, 2-gram), pure overhead for
    stats that are functions of each doc's own gram array."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(*_quality_score_exprs())


@lru_cache(maxsize=None)
def _quality_score_exprs() -> tuple:
    # df-independent Column constants, built once per process (r15):
    # see plans/taxi_apps.py for the pattern rationale.
    n = TX.token_count(F.col("text"))
    uniq = TX.distinct_token_count(F.col("text"))
    n2, nd2, top2 = TX.repetition_cols("text")
    ng = n2.cast("double")
    return (
        F.col("doc_id"),
        F.length("text").alias("n_chars"),
        n.alias("n_tokens"),
        uniq.alias("n_distinct_tokens"),
        F.round(uniq.cast("double") / n.cast("double"), 6).alias("uniq_ratio"),
        TX.avg_token_len(F.col("text")).alias("avg_token_len"),
        TX.stopword_ratio(F.col("text")).alias("stopword_ratio"),
        F.coalesce(n2, F.lit(0)).alias("n_2grams"),
        # Guard the divisions (r16 ADVICE): a doc with < 2 tokens has a
        # non-NULL n_2grams of 0, and under ANSI mode 0/0 throws
        # DIVIDE_BY_ZERO instead of yielding the NULL the old
        # explode+groupBy+left-join shape produced. when(n2 > 0) restores
        # the old 0.0-for-sub-2-gram-docs behavior exactly (NULL text →
        # condition NULL → otherwise-branch 0.0, same as the coalesce).
        F.when(n2 > 0, F.round((ng - nd2) / ng, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_2gram_frac"),
        F.when(n2 > 0, F.round(top2 / ng, 6))
        .otherwise(F.lit(0.0))
        .alias("top_2gram_share"),
        (
            TX.quality_pass(F.col("text"))
        ).alias("passes_quality"),
    )


register(
    "text_quality_scores",
    text_quality_scores,
    f"""
    WITH {TX.sql_repetition_ctes('documents')}
    SELECT
        doc_id,
        CAST(LENGTH(text) AS INT) AS n_chars,
        {TX.sql_token_count('text')} AS n_tokens,
        {TX.sql_distinct_token_count('text')} AS n_distinct_tokens,
        ROUND(CAST({TX.sql_distinct_token_count('text')} AS DOUBLE)
              / CAST({TX.sql_token_count('text')} AS DOUBLE), 6) AS uniq_ratio,
        {TX.sql_avg_token_len('text')} AS avg_token_len,
        {TX.sql_stopword_ratio('text')} AS stopword_ratio,
        COALESCE(r.n_2grams, 0) AS n_2grams,
        COALESCE(ROUND(
            CAST(r.n_2grams - r.n_distinct_2grams AS DOUBLE)
            / CAST(r.n_2grams AS DOUBLE), 6), 0.0) AS dup_2gram_frac,
        COALESCE(ROUND(
            CAST(r.top_2gram_count AS DOUBLE)
            / CAST(r.n_2grams AS DOUBLE), 6), 0.0) AS top_2gram_share,
        {TX.sql_quality_pass('text')} AS passes_quality
    FROM documents LEFT JOIN rep_stats r USING (doc_id)
    """,
)


# --- Token counting (whitespace + BPE-ish regex) ------------------------------

def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for training-data budgeting: whitespace tokens,
    BPE-ish regex tokens, and their ratio (tokens-per-word is the standard
    tokenizer fertility estimate). Pure JVM regex — no Python."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(*_token_count_exprs())


@lru_cache(maxsize=None)
def _token_count_exprs() -> tuple:
    ws = TX.token_count(F.col("text"))
    bpe = TX.bpe_token_count(F.col("text"))
    return (
        F.col("doc_id"),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(bpe.cast("double") / ws.cast("double"), 6).alias("fertility"),
    )


register(
    "text_token_counts",
    text_token_counts,
    f"""
    SELECT
        doc_id,
        {TX.sql_token_count('text')} AS ws_tokens,
        {TX.sql_bpe_token_count('text')} AS bpe_tokens,
        ROUND(CAST({TX.sql_bpe_token_count('text')} AS DOUBLE)
              / CAST({TX.sql_token_count('text')} AS DOUBLE), 6) AS fertility
    FROM documents
    """,
)


# --- Language-ID scoring -----------------------------------------------------

def lang_id_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free language-ID heuristic: English stopword hit ratio vs the
    declared lang label (the corpus is synthetic English-ish words)."""
    docs = t(spark, sf_dir, "documents")
    ratio = TX.stopword_ratio(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        ratio.alias("en_score"),
        (ratio >= 0.05).alias("looks_english"),
    )


register(
    "lang_id_scores",
    lang_id_scores,
    f"""
    SELECT
        doc_id,
        lang AS declared_lang,
        {TX.sql_stopword_ratio('text')} AS en_score,
        ({TX.sql_stopword_ratio('text')} >= 0.05) AS looks_english
    FROM documents
    """,
)


# --- Fingerprints ------------------------------------------------------------

def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.fingerprint(F.col("text")).alias("content_md5"),
        TX.normalized_fingerprint(F.col("text")).alias("normalized_md5"),
        F.substring(TX.fingerprint(F.col("text")), 1, 8).alias("short_id"),
    )


register(
    "doc_fingerprints",
    doc_fingerprints,
    f"""
    SELECT
        doc_id,
        md5(text) AS content_md5,
        {TX.sql_normalized_fingerprint('text')} AS normalized_md5,
        substr(md5(text), 1, 8) AS short_id
    FROM documents
    """,
)


# --- Duplicate-cluster resolution (connected components) ----------------------

def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster membership for every planted-corpus doc: near-dup PAIRS
    (MinHash-LSH, est >= 0.5) resolved into transitive clusters by
    alternating large-star/small-star label propagation; survivor = min
    doc_id per cluster. The oracle computes the same closure with a
    recursive CTE over the identical pair set, so the green proves the
    DataFrame CC iteration reaches the exact transitive fixpoint."""
    corpus = _planted_corpus(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.5)
    return dedup.dedup_clusters(corpus, pairs)


register(
    "dedup_clusters",
    dedup_clusters,
    f"""
    WITH RECURSIVE corpus AS ({_PLANTED_SQL}),
    {_sql_minhash_pair_ctes(0.5)},
    {dedup.SQL_CONNECTED_COMPONENTS}
    SELECT
        c.doc_id,
        COALESCE(l.cluster_id, c.doc_id) AS cluster_id,
        (COALESCE(l.cluster_id, c.doc_id) = c.doc_id) AS is_survivor
    FROM corpus c LEFT JOIN cc_labels l ON l.id = c.doc_id
    """,
)


# --- End-to-end corpus cleaning pipeline --------------------------------------

PIPE_NEARDUP_EST = 0.7


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data prep pipeline as ONE dataflow: quality filter
    -> exact dedup (min-id survivor) -> MinHash-LSH near-dup pairs ->
    connected-components cluster resolution (keep ONE doc per transitive
    cluster, the min id) -> per-doc token accounting.

    This is the composition the individual operators exist for; everything
    before the LSH band join is a single narrow scan stage, the CC rounds
    run over the tiny pair list only, and the final join is a left_anti
    against the small non-survivor set.
    """
    corpus = _planted_corpus(spark, sf_dir)
    quality = corpus.filter(TX.quality_pass(F.col("text")))
    # survivors feeds TWO consumers (the LSH pair-finder and the final
    # anti-join): pinning it behind one hash exchange lets ReusedExchange
    # compute the dedup subtree once instead of once per consumer.
    survivors = dedup.exact_dedup(quality).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # per-CLUSTER drop, not per-pair: A~B, B~C keeps exactly one of
    # {A, B, C} (connected_components checkpoints the pair list before
    # iterating, so the LSH subtree runs once, not once per CC round)
    clean = dedup.drop_neardup_clusters(
        survivors, threshold=PIPE_NEARDUP_EST
    )
    return clean.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        F.md5("text").alias("fingerprint"),
    )


register(
    "pipeline_clean_corpus",
    pipeline_clean_corpus,
    f"""
    WITH RECURSIVE corpus AS ({_PLANTED_SQL}),
    quality AS (
        SELECT doc_id, text FROM corpus
        WHERE {TX.sql_quality_pass('text')}
    ),
    survivors AS (
        SELECT doc_id, text FROM quality
        WHERE doc_id IN (
            SELECT MIN(doc_id) FROM quality GROUP BY md5(text)
        )
    ),
    {_sql_minhash_pair_ctes(PIPE_NEARDUP_EST, "survivors")},
    {dedup.SQL_CONNECTED_COMPONENTS}
    SELECT
        doc_id,
        {TX.sql_token_count('text')} AS n_tokens,
        md5(text) AS fingerprint
    FROM survivors
    WHERE doc_id NOT IN (SELECT id FROM cc_labels WHERE id != cluster_id)
    """,
)


# --- Multimodal features (mapInPandas plumbing) ------------------------------

def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the real Arrow/mapInPandas
    path (decode stubbed deterministically — see operators/multimodal.py)."""
    docs = t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    return multimodal.extract_features(media)


register(
    "multimodal_features",
    multimodal_features,
    """
    SELECT
        doc_id AS media_id,
        CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
        END AS media_type,
        CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        md5(text) AS content_hash,
        CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
        CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height
    FROM documents
    """,
)


# --- SimHash near-dup pairs ---------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance over the planted corpus
    (2x8-bit banded blocking — exact for hamming <= 1, pigeonhole)."""
    return dedup.simhash_neardup_pairs(
        _planted_corpus(spark, sf_dir), max_hamming=1
    )


_SIMHASH_BAND_W = dedup.SIMHASH_BITS // dedup.SIMHASH_BANDS
_SIMHASH_HAMMING = " + ".join(
    f"CASE WHEN substr(sig_a, {i}, 1) = substr(sig_b, {i}, 1)"
    " THEN 0 ELSE 1 END"
    for i in range(1, dedup.SIMHASH_BITS + 1)
)
_SIMHASH_BAND_LIST = ", ".join(
    f"'{b}:' || substr(simhash, {b * _SIMHASH_BAND_W + 1}, {_SIMHASH_BAND_W})"
    for b in range(dedup.SIMHASH_BANDS)
)

register(
    "dedup_simhash",
    dedup_simhash,
    f"""
    WITH corpus AS ({_PLANTED_SQL}),
    sigs AS (
        SELECT doc_id, {TX.sql_simhash16('text')} AS simhash
        FROM corpus
    ),
    banded AS (
        SELECT doc_id, simhash,
               unnest([{_SIMHASH_BAND_LIST}]) AS band_key
        FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sig_a, b.simhash AS sig_b
        FROM banded a
        JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, {_SIMHASH_HAMMING} AS hamming
    FROM cand
    WHERE {_SIMHASH_HAMMING} <= 1
    """,
)


def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with Hamming <= 3 on a 64-bit simhash (4x16-bit
    banded pigeonhole blocking; equi-join candidates, bit_count hamming)."""
    return dedup.simhash64_neardup_pairs(
        _planted_corpus(spark, sf_dir), max_hamming=3
    )


# The oracle is deliberately BRUTE FORCE (all pairs, no banding): matching
# it proves the banded equi-join loses no qualifying pair (pigeonhole
# recall), not just that both engines ran the same blocking.
_SIMHASH64_HAMMING = (
    "CAST(list_sum(list_transform(generate_series(1, 64), i -> "
    "CASE WHEN substr(a.sig, i, 1) = substr(b.sig, i, 1)"
    " THEN 0 ELSE 1 END)) AS INT)"
)

register(
    "dedup_simhash64",
    dedup_simhash64,
    f"""
    WITH corpus AS ({_PLANTED_SQL}),
    sigs AS (
        SELECT doc_id, {TX.sql_simhash64('text')} AS sig
        FROM corpus
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {_SIMHASH64_HAMMING} AS hamming
    FROM sigs a
    JOIN sigs b ON a.doc_id < b.doc_id
    WHERE {_SIMHASH64_HAMMING} <= 3
    """,
)


# --- Winnowing fingerprints ---------------------------------------------------

def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETIRED registry row (r15, rotation slack — r14 verdict #2): the
    per-doc stats projection of the shared winnow builder that
    dedup_winnow_pairs (and the cross-doc tier) exercises; the
    vectorized twin is already value-pinned to the expression form
    (tests/test_text_functions.py, tests/test_properties.py). The
    planted-corpus DuckDB parity this row's driver check provided is
    preserved verbatim by tests/test_retired_rows.py, which runs this
    callable against DOC_WINNOW_FP_ORACLE through
    tools/parity.compare."""
    return TX.winnow_fingerprint_stats(_planted_corpus(spark, sf_dir))


DOC_WINNOW_FP_ORACLE = f"""
    WITH corpus AS ({_PLANTED_SQL}),
    {TX.sql_winnow_ctes('corpus')}
    SELECT doc_id, n_grams, n_fingerprints, winnow_digest FROM winnowed
    """


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS candidate pairs: docs sharing >= 3 distinct (non-stop)
    winnowed fingerprints over the planted corpus. The local-overlap
    near-dup family — see operators/dedup.winnow_pairs."""
    return dedup.winnow_pairs(_planted_corpus(spark, sf_dir))


register(
    "dedup_winnow_pairs",
    dedup_winnow_pairs,
    f"""
    WITH corpus AS ({_PLANTED_SQL}),
    {TX.sql_winnow_fp_ctes('corpus')},
    fp_all AS (
        SELECT doc_id, unnest(fps) AS fp FROM winnow_fps
    ),
    fp AS (
        SELECT doc_id, fp FROM fp_all
        QUALIFY COUNT(*) OVER (PARTITION BY fp)
                <= {dedup.MAX_FINGERPRINT_DF}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM fp a
    JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {dedup.WINNOW_MIN_SHARED}
    """,
)


# --- Cross-document exact-substring dedup (winnow-indexed) --------------------

def dedup_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated token spans stripped from every
    lower-priority doc (priority = min doc_id) over the planted corpus —
    the Lee et al. ExactSubstr composition (r13 verdict #4): winnow
    index -> candidate pairs -> anchor-gram diagonal runs -> interval
    merge. The planted exact legs surface as whole-doc spans; the
    natural corpus contributes its genuine shared boilerplate runs.
    See operators/dedup.cross_doc_spans; brute-force-model hypothesis
    test in tests/test_properties.py."""
    return dedup.cross_doc_spans(_planted_corpus(spark, sf_dir))


def _cross_doc_ival_ctes() -> str:
    """Shared oracle CTE block replaying cross_doc_intervals verbatim
    (winnow index -> capped candidate pairs -> capped anchor grams ->
    diagonal runs -> >= min_span covered intervals of the higher-id
    doc); both the span-report and the strip oracles select from
    ``ivals``."""
    from flink_streaming_demo_spark.functions.text import WINNOW_K

    k = WINNOW_K
    return f"""corpus AS ({_PLANTED_SQL}),
    {TX.sql_winnow_fp_ctes('corpus')},
    fp_all AS (
        SELECT doc_id, unnest(fps) AS fp FROM winnow_fps
    ),
    fp AS (
        SELECT doc_id, fp FROM fp_all
        QUALIFY COUNT(*) OVER (PARTITION BY fp)
                <= {dedup.MAX_FINGERPRINT_DF}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    cdocs AS (
        SELECT id_a AS doc_id FROM cand
        UNION SELECT id_b FROM cand
    ),
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM corpus
        WHERE doc_id IN (SELECT doc_id FROM cdocs)
    ),
    grams_all AS (
        SELECT doc_id, i AS s,
               array_to_string(tk[i:i+{k - 1}], ' ') AS gram
        FROM toks,
             LATERAL unnest(generate_series(1, len(tk) - {k - 1}))
                 AS u(i)
        WHERE len(tk) >= {k}
    ),
    grams AS (
        SELECT doc_id, s, gram FROM grams_all
        QUALIFY COUNT(*) OVER (PARTITION BY gram)
                <= {dedup.MAX_CROSS_GRAM_DF}
    ),
    matched AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
        FROM grams a
        JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
    ),
    runs AS (
        SELECT id_a, id_b, sa - sb AS diag, sb,
               sb - ROW_NUMBER() OVER (
                   PARTITION BY id_a, id_b, sa - sb ORDER BY sb) AS grp
        FROM matched
    ),
    ivals AS (
        SELECT DISTINCT id_b AS doc_id, MIN(sb) AS st,
               MAX(sb) + {k - 1} AS en
        FROM runs GROUP BY id_a, id_b, diag, grp
        HAVING MAX(sb) + {k - 1} - MIN(sb) + 1
               >= {dedup.CROSS_DOC_MIN_SPAN}
    )"""


def _cross_doc_spans_oracle() -> str:
    return f"""
    WITH {_cross_doc_ival_ctes()},
    flagged AS (
        SELECT doc_id, st, en,
               CASE WHEN st > COALESCE(MAX(en) OVER (
                        PARTITION BY doc_id ORDER BY st, en
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), -1) + 1
                    THEN 1 ELSE 0 END AS new_island
        FROM ivals
    ),
    islands AS (
        SELECT doc_id, st, en,
               SUM(new_island) OVER (
                   PARTITION BY doc_id ORDER BY st, en
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM flagged
    )
    SELECT doc_id,
           CAST(MIN(st) AS INT) AS span_start,
           CAST(MAX(en) AS INT) AS span_end,
           CAST(MAX(en) - MIN(st) + 1 AS INT) AS span_tokens
    FROM islands GROUP BY doc_id, island
    """


register(
    "dedup_cross_doc_spans",
    dedup_cross_doc_spans,
    _cross_doc_spans_oracle(),
)


def dedup_cross_doc_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning step the span report feeds (Lee et al. ExactSubstr,
    completing r13 verdict #4's 'then strip them from the
    lower-priority doc'): per planted-corpus doc, the cleaned-corpus
    accounting (n_tokens, dup_token_count, n_spans, kept_hash) with the
    min-doc_id owner keeping its text — the priority-aware counterpart
    of text_strip_dup_spans, which strips EVERY occurrence. See
    operators/dedup.cross_doc_strip."""
    return dedup.cross_doc_strip(_planted_corpus(spark, sf_dir))


def _cross_doc_strip_oracle() -> str:
    return f"""
    WITH {_cross_doc_ival_ctes()},
    alltoks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM corpus
    ),
    pos AS (
        SELECT doc_id, j
        FROM alltoks, LATERAL unnest(generate_series(1, len(tk))) AS p(j)
    ),
    covered AS (
        SELECT DISTINCT p.doc_id, p.j
        FROM pos p
        JOIN ivals i
          ON p.doc_id = i.doc_id AND p.j BETWEEN i.st AND i.en
    ),
    cov_islands AS (
        SELECT doc_id, j,
               CASE WHEN lag(j) OVER (PARTITION BY doc_id ORDER BY j)
                         = j - 1
                    THEN 0 ELSE 1 END AS is_start
        FROM covered
    ),
    span_agg AS (
        SELECT doc_id, COUNT(*) AS dup_token_count,
               SUM(is_start) AS n_spans
        FROM cov_islands GROUP BY doc_id
    ),
    kept_pos AS (
        SELECT p.doc_id, list(p.j ORDER BY p.j) AS keep
        FROM pos p
        ANTI JOIN covered c ON p.doc_id = c.doc_id AND p.j = c.j
        GROUP BY p.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS INT) AS n_tokens,
           CAST(COALESCE(s.dup_token_count, 0) AS INT) AS dup_token_count,
           CAST(COALESCE(s.n_spans, 0) AS INT) AS n_spans,
           md5(COALESCE(array_to_string(
               list_select(t.tk, COALESCE(k.keep, [])), ' '), ''))
               AS kept_hash
    FROM alltoks t
    LEFT JOIN span_agg s ON s.doc_id = t.doc_id
    LEFT JOIN kept_pos k ON k.doc_id = t.doc_id
    """


register(
    "dedup_cross_doc_strip",
    dedup_cross_doc_strip,
    _cross_doc_strip_oracle(),
)


# --- Streaming cross-doc ingest gate (lexical twin of the IVF gate) -----------

CROSSDOC_GATE_SLICES = 3


def dedup_crossdoc_stream_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-then-ingest lexical dedup front (r14 verdict #3): the
    planted corpus arrives in three slices (doc_id % 3 == 0, 1, 2, in
    order); each slice is verdicted against the already-admitted corpus
    ('dup_span' iff the doc shares a >= CROSS_DOC_MIN_SPAN verbatim
    token run with an admitted doc — the Lee et al. ExactSubstr
    detection pointed at a store-backed winnow fingerprint index) and
    only then ingested (fingerprint rows into the index store, texts
    into the docs store). The lexical twin of dedup_ivf_stream_gate:
    the oracle replays the slice order declaratively (candidates =
    earlier slice only, caps computed over each slice's causal prefix),
    so a green row proves the whole gate-then-ingest trajectory —
    per-slice store states included — not just a single batch verdict.

    Construction runs the three gate+merge rounds (job-running build);
    stores live at a per-process mkdtemp root keyed by SF, rebuilt
    fresh per construction (the sim_ivf_stream_topk pattern)."""
    from flink_streaming_demo_spark.plans.vector_queries import _store_root
    from flink_streaming_demo_spark.streaming.pipelines import (
        streaming_crossdoc_dedup_gate,
    )
    from flink_streaming_demo_spark.streaming.sinks import ParquetUpsertSink

    corpus = _planted_corpus(spark, sf_dir)
    root = _store_root("crossdoc_gate", sf_dir)
    docs = ParquetUpsertSink(os.path.join(root, "docs"), ["doc_id"])
    fps = ParquetUpsertSink(os.path.join(root, "fps"), ["doc_id", "fp"])
    decisions = ParquetUpsertSink(os.path.join(root, "decisions"), ["doc_id"])
    body = streaming_crossdoc_dedup_gate(docs, fps, decisions)
    for i in range(CROSSDOC_GATE_SLICES):
        body(
            corpus.filter(
                F.pmod(F.col("doc_id"), F.lit(CROSSDOC_GATE_SLICES)) == i
            ),
            epoch_id=i,
        )
    return decisions.read(spark).select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(CROSSDOC_GATE_SLICES))
        .cast("int")
        .alias("slice"),
        "verdict",
        "match_id",
        "span_tokens",
        "n_matches",
    )


def _crossdoc_gate_oracle() -> str:
    """Generated per-slice replay of the gate trajectory: for each
    incoming slice i >= 1, the capped fingerprint frame is the CAUSAL
    prefix (slices <= i — store content after ingesting slices < i plus
    the batch), candidates pair admitted (slice < i) with incoming
    (slice = i) docs, anchor grams are extracted for that slice's
    candidate docs only with the gram cap computed over that frame, and
    diagonal runs >= min_span become verdicts. Slice 0 gates against an
    empty store: all 'new'."""
    from flink_streaming_demo_spark.functions.text import WINNOW_K

    k = WINNOW_K
    legs = []
    for i in range(1, CROSSDOC_GATE_SLICES):
        legs.append(f"""
    fp{i} AS (
        SELECT doc_id, slice, fp FROM fp_all WHERE slice <= {i}
        QUALIFY COUNT(*) OVER (PARTITION BY fp)
                <= {dedup.MAX_FINGERPRINT_DF}
    ),
    cand{i} AS (
        SELECT DISTINCT b.doc_id AS match_id, a.doc_id AS inc_id
        FROM fp{i} b
        JOIN fp{i} a ON b.fp = a.fp
         AND b.slice < {i} AND a.slice = {i}
         AND b.doc_id <> a.doc_id
    ),
    grams{i}_all AS (
        SELECT t.doc_id, t.slice, g.s, g.gram FROM grams_base g
        JOIN toks t USING (doc_id)
        WHERE t.doc_id IN (SELECT match_id FROM cand{i}
                           UNION SELECT inc_id FROM cand{i})
    ),
    grams{i} AS (
        SELECT doc_id, slice, s, gram FROM grams{i}_all
        QUALIFY COUNT(*) OVER (PARTITION BY gram)
                <= {dedup.MAX_CROSS_GRAM_DF}
    ),
    runs{i} AS (
        SELECT c.match_id, c.inc_id, gi.s - gb.s AS diag, gi.s AS si,
               gi.s - ROW_NUMBER() OVER (
                   PARTITION BY c.match_id, c.inc_id, gi.s - gb.s
                   ORDER BY gi.s) AS grp
        FROM grams{i} gb
        JOIN grams{i} gi ON gb.gram = gi.gram
         AND gb.slice < {i} AND gi.slice = {i}
        JOIN cand{i} c ON c.match_id = gb.doc_id AND c.inc_id = gi.doc_id
    ),
    ivals{i} AS (
        SELECT DISTINCT inc_id AS doc_id, match_id,
               MIN(si) AS st, MAX(si) + {k - 1} AS en
        FROM runs{i} GROUP BY match_id, inc_id, diag, grp
        HAVING MAX(si) + {k - 1} - MIN(si) + 1
               >= {dedup.CROSS_DOC_MIN_SPAN}
    ),
    best{i} AS (
        SELECT doc_id, match_id, en - st + 1 AS span_tokens
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id
                ORDER BY en - st + 1 DESC, match_id ASC, st ASC) AS rk
            FROM ivals{i}
        ) WHERE rk = 1
    ),
    stats{i} AS (
        SELECT doc_id, COUNT(DISTINCT match_id) AS n_matches
        FROM ivals{i} GROUP BY doc_id
    ),
    leg{i} AS (
        SELECT c.doc_id, {i} AS slice,
               CASE WHEN b.doc_id IS NULL THEN 'new'
                    ELSE 'dup_span' END AS verdict,
               CAST(COALESCE(b.match_id, -1) AS BIGINT) AS match_id,
               CAST(COALESCE(b.span_tokens, 0) AS INT) AS span_tokens,
               CAST(COALESCE(s.n_matches, 0) AS INT) AS n_matches
        FROM sliced c
        LEFT JOIN best{i} b USING (doc_id)
        LEFT JOIN stats{i} s ON s.doc_id = c.doc_id
        WHERE c.slice = {i}
    )""")
    leg_union = "\n    UNION ALL ".join(
        [
            f"""SELECT doc_id, 0 AS slice, 'new' AS verdict,
           CAST(-1 AS BIGINT) AS match_id, 0 AS span_tokens,
           0 AS n_matches
    FROM sliced WHERE slice = 0"""
        ]
        + [
            f"SELECT * FROM leg{i}"
            for i in range(1, CROSSDOC_GATE_SLICES)
        ]
    )
    return f"""
    WITH corpus AS ({_PLANTED_SQL}),
    sliced AS (
        SELECT doc_id, CAST(doc_id % {CROSSDOC_GATE_SLICES} AS INT)
                   AS slice, text
        FROM corpus
    ),
    {TX.sql_winnow_fp_ctes('sliced')},
    fp_all AS (
        SELECT f.doc_id, s.slice, f.fp
        FROM (SELECT doc_id, unnest(list_distinct(fps)) AS fp
              FROM winnow_fps) f
        JOIN sliced s USING (doc_id)
    ),
    toks AS (
        SELECT doc_id, slice, string_split(text, ' ') AS tk FROM sliced
    ),
    grams_base AS (
        SELECT doc_id, i AS s,
               array_to_string(tk[i:i+{k - 1}], ' ') AS gram
        FROM toks,
             LATERAL unnest(generate_series(1, len(tk) - {k - 1}))
                 AS u(i)
        WHERE len(tk) >= {k}
    ),
    {','.join(legs)}
    {leg_union}
    """


register(
    "dedup_crossdoc_stream_gate",
    dedup_crossdoc_stream_gate,
    _crossdoc_gate_oracle(),
)


# --- TF-IDF top terms ---------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: tf from the token multiset,
    idf = ln(N/df) with df = number of documents containing the term.

    Plan shape: one explode -> groupBy (doc, token) tf (map-side partial
    combine absorbs repeated tokens) -> groupBy token df; the corpus size
    N is a 1-row broadcast. The df table broadcasts at test scale
    (verified: BroadcastHashJoin BuildRight); when vocab outgrows the
    threshold the join falls back to sort-merge on token, where a
    stop-word-like hot token concentrates its tf rows — the session's
    AQE skew-join (session.py) splits those partitions at runtime (the
    df side is one row per token, so replication is cheap). Scores are
    rounded to 6 before ranking, token tiebreak, so ranking is
    engine-stable."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        docs.select(
            "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_tbl, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TFIDF_TOP_K)
        .select("doc_id", "term_rank", "token", "tfidf")
    )


register(
    "tfidf_top_terms",
    tfidf_top_terms,
    f"""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tfc AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM tf GROUP BY doc_id, token
    ),
    dfc AS (
        SELECT token, COUNT(*) AS df FROM tfc GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT doc_id, token,
               ROUND(CAST(tf AS DOUBLE)
                     * ln(CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE)), 6)
                   AS tfidf
        FROM tfc JOIN dfc USING (token) CROSS JOIN n
    )
    SELECT doc_id, term_rank, token, tfidf
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token ASC
        ) AS term_rank
        FROM scored
    )
    WHERE term_rank <= {TFIDF_TOP_K}
    """,
)


# --- PII redaction ------------------------------------------------------------

#: deterministic PII tail planted on doc_id % 20 == 0 (the corpus itself
#: contains no PII; both engines derive the identical planted text)
_PII_TAIL = " reach me at user<ID>@example.com or 555-123-4567"


def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails/phones from a corpus with planted PII tails; report
    per-doc match counts and the md5 of the redacted text for every doc
    that was touched. Pure Column regex work — zero Python, pushes the
    doc_id filter to the scan; at 100 TB this is a map-only pass."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(
                F.col("text"),
                F.replace(
                    F.lit(_PII_TAIL),
                    F.lit("<ID>"),
                    F.col("doc_id").cast("string"),
                ),
            ),
        ).otherwise(F.col("text")),
    )
    n_emails, n_phones = TX.pii_counts(F.col("text"))
    return (
        planted.select(
            "doc_id",
            n_emails.alias("n_emails"),
            n_phones.alias("n_phones"),
            F.md5(TX.redact_pii(F.col("text"))).alias("redacted_hash"),
        )
        .filter((F.col("n_emails") > 0) | (F.col("n_phones") > 0))
    )


register(
    "text_redact_pii",
    text_redact_pii,
    f"""
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 20 = 0
                    THEN text || replace('{_PII_TAIL}', '<ID>',
                                         CAST(doc_id AS VARCHAR))
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '{TX.EMAIL_PATTERN}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text,
               '{TX.PHONE_PATTERN}')) AS INT) AS n_phones,
           md5(regexp_replace(regexp_replace(text,
               '{TX.EMAIL_PATTERN}', '<EMAIL>', 'g'),
               '{TX.PHONE_PATTERN}', '<PHONE>', 'g')) AS redacted_hash
    FROM planted
    WHERE len(regexp_extract_all(text, '{TX.EMAIL_PATTERN}')) > 0
       OR len(regexp_extract_all(text, '{TX.PHONE_PATTERN}')) > 0
    """,
)


# --- Document chunking --------------------------------------------------------

# Grid constants live in functions/text.py (dependency-free) so the
# passage-retrieval queries can share them without a plans->plans import.
CHUNK_TOKENS = TX.CHUNK_TOKENS
CHUNK_OVERLAP = TX.CHUNK_OVERLAP
_CHUNK_STRIDE = TX.CHUNK_STRIDE


def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into ~64-token chunks with 8-token overlap —
    the context-window chunker an embedding/pre-training pipeline runs
    before encoding. Pure array expressions (sequence of chunk starts ->
    slice -> posexplode): no shuffle at all until a consumer aggregates;
    emits (doc_id, chunk_idx, n_chunk_tokens, chunk_hash) — the hash
    stands in for chunk text to keep result rows small and
    hash-comparable."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    prepared = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(TX.chunk_windows_expr("toks"))
        ).alias("chunk_idx", "chunk_toks"),
    )
    return prepared.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("chunk_toks").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk_toks"))).alias("chunk_hash"),
    )


register(
    "text_chunk_documents",
    text_chunk_documents,
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS sp FROM documents
    ),
    starts AS (
        SELECT doc_id, sp,
               {TX.sql_chunk_starts('sp')} AS start_pos
        FROM toks
    ),
    chunks AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY start_pos
               ) - 1 AS chunk_idx,
               {TX.sql_chunk_slice('sp', 'start_pos')} AS chunk
        FROM starts
    )
    SELECT doc_id,
           CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(chunk) AS INT) AS n_chunk_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
    FROM chunks
    """,
)


# --- Benchmark decontamination ------------------------------------------------

_DECON_THRESHOLD = 4


def decon_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing >= 4 distinct 3-gram shingles with the held
    eval slice (doc_id % 50 == 0) — the decontamination stage of a
    training-data pipeline (asymmetric train x eval, broadcast eval set)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    holdout = docs.filter(F.col("doc_id") % 50 == 0)
    return dedup.contamination_overlap(
        train, holdout, threshold=_DECON_THRESHOLD
    )


register(
    "decon_eval_overlap",
    decon_eval_overlap,
    f"""
    WITH ev AS (
        SELECT DISTINCT unnest({dedup.sql_shingles('text')}) AS shingle
        FROM documents
        WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 3
    ),
    tr AS (
        SELECT doc_id, unnest({dedup.sql_shingles('text')}) AS shingle
        FROM documents
        WHERE doc_id % 50 != 0 AND len(string_split(text, ' ')) >= 3
    )
    SELECT tr.doc_id, COUNT(*) AS n_shared
    FROM tr JOIN ev USING (shingle)
    GROUP BY tr.doc_id
    HAVING COUNT(*) >= {_DECON_THRESHOLD}
    """,
)


# --- Unigram log-prob quality score (perplexity proxy) ------------------------

def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document average negative log-probability under the corpus's
    own unigram LM — the cheap perplexity proxy of a quality-filter
    stage (a KenLM stand-in that needs no model artifact): documents of
    rare/erratic tokens score high, boilerplate scores low.

    Plan shape: one explode -> (doc, token) tf with map-side partial
    combine; the unigram table is a groupBy over that (token cardinality
    = vocab, tiny vs corpus); corpus total is a 1-row broadcast. The
    scoring join is tf x unigram on token — the unigram side broadcasts
    until vocab outgrows the threshold, after which AQE's skew-split
    handles hot stop-words. Linear in corpus size, no all-pairs stage.
    """
    tf = (
        docs.select(
            "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    unigram = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = unigram.agg(F.sum("cnt").alias("total"))
    return (
        tf.join(unigram, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("tf").cast("double")
                    * -F.log(
                        F.col("cnt").cast("double")
                        / F.col("total").cast("double")
                    )
                )
                / F.sum("tf").cast("double"),
                6,
            ).alias("avg_neg_logp"),
        )
    )


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_logprob(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )


register(
    "text_unigram_logprob",
    text_unigram_logprob,
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM tok GROUP BY doc_id, token
    ),
    unigram AS (
        SELECT token, SUM(tf) AS cnt FROM tf GROUP BY token
    ),
    tot AS (SELECT SUM(cnt) AS total FROM unigram)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           ROUND(
               SUM(CAST(tf AS DOUBLE)
                   * -ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)))
               / CAST(SUM(tf) AS DOUBLE), 6) AS avg_neg_logp
    FROM tf JOIN unigram USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
)


# --- Repeated n-gram spans (exact substring-duplication signal) ---------------

SPAN_N = 8


def _guarded_ngrams(text_col, n: int):
    """Space-joined token n-grams of ``text_col`` as an array column,
    empty (never a negative-length sequence) for docs shorter than n.
    Shared by repeated_ngram_spans and strip_dup_spans — one place to
    fix tokenization or the short-doc guard."""
    toks = TX.tokens(text_col)
    starts = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )



def repeated_ngram_spans(corpus: DataFrame, n: int = SPAN_N) -> DataFrame:
    """Token n-gram spans occurring in >= 2 distinct documents — the
    repeated-substring signal of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", at
    word-gram granularity): a span shared across documents is
    memorization fuel; the count ranks boilerplate.

    Per span: n_docs (distinct docs), n_occurrences (total, including
    within-doc repeats), first_doc (lowest doc id). Spans are NOT
    distinct-ed per doc, so within-doc repetition counts — that is what
    distinguishes this from the shingle-set ops (minhash/jaccard).

    100 TB shape: explode -> two partial-aggregated groupBys keyed by
    the gram string — pure count aggregation, no pair join, so a viral
    boilerplate gram costs one skewed reduce key (AQE-split) rather than
    a quadratic blowup; output is bounded by the distinct-gram count.
    """
    guarded = _guarded_ngrams(F.col("text"), n)
    per_doc = (
        corpus.select("doc_id", F.explode(guarded).alias("gram"))
        .groupBy("gram", "doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.md5(F.col("gram")).alias("gram_hash"),
            "n_docs",
            "n_occurrences",
            "first_doc",
        )
    )


def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repeated_ngram_spans(_planted_corpus(spark, sf_dir))


register(
    "dedup_repeated_ngrams",
    dedup_repeated_ngrams,
    f"""
    WITH corpus AS ({_PLANTED_SQL}),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1,
                       len(string_split(text, ' ')) - {SPAN_N - 1}),
                   i -> array_to_string(
                       string_split(text, ' ')[i:i+{SPAN_N - 1}], ' ')))
                   AS gram
        FROM corpus
    ),
    per_doc AS (
        SELECT gram, doc_id, COUNT(*) AS occ
        FROM grams GROUP BY gram, doc_id
    )
    SELECT md5(gram) AS gram_hash,
           COUNT(*) AS n_docs,
           CAST(SUM(occ) AS BIGINT) AS n_occurrences,
           MIN(doc_id) AS first_doc
    FROM per_doc
    GROUP BY gram
    HAVING COUNT(*) >= 2
    """,
)


# --- Cross-source overlap matrix ---------------------------------------------

_OVERLAP_MAX_SOURCES = 6


def decon_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source shingle-overlap matrix with the stop-shingle cap:
    shingles present in more than 6 of the 20 sources are boilerplate
    and excluded before the pair join (operators/dedup.py
    source_overlap_matrix for the scale analysis)."""
    docs = t(spark, sf_dir, "documents").select("source", "text")
    return dedup.source_overlap_matrix(
        docs,
        max_shingle_sources=_OVERLAP_MAX_SOURCES,
    )


register(
    "decon_source_overlap",
    decon_source_overlap,
    f"""
    WITH sh AS (
        SELECT DISTINCT source AS src,
               unnest({dedup.sql_shingles('text')}) AS shingle
        FROM documents
        WHERE len(string_split(text, ' ')) >= {dedup.SHINGLE_N}
    ),
    kept AS (
        SELECT src, shingle FROM sh
        WHERE shingle IN (
            SELECT shingle FROM sh GROUP BY shingle
            HAVING COUNT(*) <= {_OVERLAP_MAX_SOURCES}
        )
    ),
    sizes AS (
        SELECT src, COUNT(*) AS n_shingles FROM kept GROUP BY src
    ),
    shared AS (
        SELECT a.src AS source_a, b.src AS source_b, COUNT(*) AS n_shared
        FROM kept a JOIN kept b
          ON a.shingle = b.shingle AND a.src < b.src
        GROUP BY a.src, b.src
    )
    SELECT source_a, source_b, n_shared,
           ROUND(CAST(n_shared AS DOUBLE)
                 / CAST(LEAST(sa.n_shingles, sb.n_shingles) AS DOUBLE), 6)
               AS overlap_coef
    FROM shared
    JOIN sizes sa ON sa.src = source_a
    JOIN sizes sb ON sb.src = source_b
    """,
)


# --- Chunk-level near-dup (partial-document duplication) ----------------------

_CHUNK_UID_BASE = 100


def dedup_chunk_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs at CHUNK granularity: split the
    planted corpus into the 64/8 chunks (text_chunk_documents) and run
    the minhash banding over chunks instead of whole documents — the
    partial-duplication detector whole-doc minhash structurally misses
    (a page that embeds one plagiarized section dilutes its doc-level
    Jaccard below any sane threshold; the chunk pair still scores ~1).

    Output (doc_a, chunk_a, doc_b, chunk_b, est_jaccard), cross-doc
    pairs only (within-doc chunk overlap is by construction — the 8
    shared tokens — and is excluded). 100 TB shape: identical to
    doc-level minhash (explode -> codegen MIN sigs -> banded equi-join)
    with ~corpus_tokens/56 units; the chunk fan-out multiplies rows, not
    the join complexity — banding still bounds candidates.
    """
    corpus = _planted_corpus(spark, sf_dir)
    chunks = (
        corpus.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(TX.chunk_windows_expr("toks"))
            ).alias("chunk_idx", "chunk_toks"),
        )
        .select(
            (F.col("doc_id") * _CHUNK_UID_BASE + F.col("chunk_idx")).alias(
                "chunk_uid"
            ),
            F.concat_ws(" ", "chunk_toks").alias("text"),
        )
    )
    pairs = dedup.minhash_lsh_pairs(chunks, id_col="chunk_uid")
    base = F.lit(_CHUNK_UID_BASE)
    return (
        pairs.withColumn("doc_a", (F.col("id_a") / base).cast("bigint"))
        .withColumn("doc_b", (F.col("id_b") / base).cast("bigint"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            "doc_a",
            (F.col("id_a") % base).cast("int").alias("chunk_a"),
            "doc_b",
            (F.col("id_b") % base).cast("int").alias("chunk_b"),
            "est_jaccard",
        )
    )


register(
    "dedup_chunk_minhash",
    dedup_chunk_minhash,
    f"""
    WITH corpus AS ({_PLANTED_SQL}),
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS sp FROM corpus
    ),
    starts AS (
        SELECT doc_id, sp,
               {TX.sql_chunk_starts('sp')} AS start_pos
        FROM toks
    ),
    chunks AS (
        SELECT doc_id * {_CHUNK_UID_BASE}
                   + (ROW_NUMBER() OVER (
                          PARTITION BY doc_id ORDER BY start_pos
                      ) - 1) AS chunk_uid,
               array_to_string(
                   {TX.sql_chunk_slice('sp', 'start_pos')}, ' ')
                   AS text
        FROM starts
    ),
    sigs AS (
        SELECT
            chunk_uid,
            {dedup.sql_minhash_signature(dedup.sql_shingles('text'))} AS sig
        FROM chunks
        WHERE len(string_split(text, ' ')) >= {dedup.SHINGLE_N}
    ),
    banded AS (
        SELECT chunk_uid, sig,
               unnest({dedup.sql_lsh_band_keys('sig')}) AS band_key
        FROM sigs
    ),
    cand AS (
        SELECT DISTINCT
            a.chunk_uid AS id_a, b.chunk_uid AS id_b,
            a.sig AS sig_a, b.sig AS sig_b
        FROM banded a
        JOIN banded b
          ON a.band_key = b.band_key AND a.chunk_uid < b.chunk_uid
    ),
    scored AS (
        SELECT id_a, id_b,
            ROUND(CAST(list_sum(list_transform(
                generate_series(1, {dedup.N_HASHES}),
                j -> CASE WHEN sig_a[j] = sig_b[j] THEN 1 ELSE 0 END))
                AS DOUBLE) / {float(dedup.N_HASHES)}, 6) AS est_jaccard
        FROM cand
    )
    SELECT id_a // {_CHUNK_UID_BASE} AS doc_a,
           CAST(id_a % {_CHUNK_UID_BASE} AS INT) AS chunk_a,
           id_b // {_CHUNK_UID_BASE} AS doc_b,
           CAST(id_b % {_CHUNK_UID_BASE} AS INT) AS chunk_b,
           est_jaccard
    FROM scored
    WHERE est_jaccard >= 0.5
      AND id_a // {_CHUNK_UID_BASE} <> id_b // {_CHUNK_UID_BASE}
    """,
)


# --- Corpus heavy hitters -----------------------------------------------------

_HH_MIN_SHARE = 0.005


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level heavy-hitter tokens: every token holding >= 0.5% of
    all token occurrences, with count, share, and rank — the vocabulary/
    stop-word discovery pass that parameterizes the stop-shingle caps
    and quality filters. The exact groupBy IS the 100 TB plan: partial
    aggregation reduces each partition to its local vocabulary before
    the shuffle, so network cost is bounded by vocab size, not corpus
    size (the reason sketch-based heavy-hitter algorithms are a
    single-pass-stream concern, not a Spark-batch one)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    counts = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "share",
            F.round(
                F.col("cnt").cast("double") / F.col("total").cast("double"),
                6,
            ),
        )
        .filter(
            F.col("cnt").cast("double") / F.col("total").cast("double")
            >= _HH_MIN_SHARE
        )
        .select(
            "token",
            "cnt",
            "share",
            F.row_number().over(w).alias("rank"),
        )
    )


register(
    "text_heavy_hitters",
    text_heavy_hitters,
    f"""
    WITH counts AS (
        SELECT unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    agg AS (
        SELECT token, COUNT(*) AS cnt FROM counts GROUP BY token
    ),
    tot AS (SELECT SUM(cnt) AS total FROM agg)
    SELECT token, cnt,
           ROUND(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS INT)
               AS rank
    FROM agg CROSS JOIN tot
    WHERE CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) >= {_HH_MIN_SHARE}
    """,
)


# --- Per-document lexical diversity (entropy + type-token ratio) -------------

def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) and type-token ratio —
    the lexical-diversity quality signals a curation pipeline thresholds
    on (low entropy == the repetitive boilerplate Gopher's repetition
    rules also target, but as a single scalar). Entropy is computed as
    ``ln(n) - sum(c*ln(c))/n`` over per-doc token counts ``c``, which
    needs only the (doc, token) count table — no per-doc probability
    materialization.

    100 TB shape: explode -> partial-aggregated groupBy(doc_id, token)
    (map-side combine collapses the multiset before the shuffle) ->
    groupBy(doc_id). One shuffle keyed by (doc, token), one tiny one by
    doc; everything stays in whole-stage codegen.
    """
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    cnt = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    c = F.col("c").cast("double")
    per = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(c * F.log(c)).alias("clnc"),
    )
    n = F.col("n_tokens").cast("double")
    return per.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / n, 6).alias("ttr"),
        F.round(F.log(n) - F.col("clnc") / n, 6).alias("entropy"),
    )


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_entropy(t(spark, sf_dir, "documents"))


register(
    "text_token_entropy",
    text_token_entropy,
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    cnt AS (
        SELECT doc_id, token, COUNT(*) AS c
        FROM toks GROUP BY doc_id, token
    ),
    per AS (
        SELECT
            doc_id,
            CAST(SUM(c) AS BIGINT) AS n_tokens,
            CAST(COUNT(*) AS BIGINT) AS n_types,
            SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))) AS clnc
        FROM cnt GROUP BY doc_id
    )
    SELECT
        doc_id,
        n_tokens,
        n_types,
        ROUND(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
            AS ttr,
        ROUND(LN(CAST(n_tokens AS DOUBLE))
              - clnc / CAST(n_tokens AS DOUBLE), 6) AS entropy
    FROM per
    """,
)


# --- PageRank over the near-dup graph ----------------------------------------

def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected MinHash-LSH near-dup graph (3 fixed
    iterations, damping 0.85): ranks the planted corpus's duplicate
    families so the central 'template' documents surface first. The
    oracle replays the identical trajectory with unrolled CTEs, so the
    green proves the iterative DataFrame loop end-to-end.

    100 TB shape: see operators/graph.py — iteration input is the
    LSH-bounded pair list, never the corpus."""
    corpus = _planted_corpus(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.5).select(
        "id_a", "id_b"
    )
    return graph.pagerank(pairs).select(
        F.col("id").alias("doc_id"), "degree", "pr"
    )


register(
    "graph_pagerank_neardup",
    graph_pagerank_neardup,
    f"""
    WITH corpus AS ({_PLANTED_SQL}),
    {_sql_minhash_pair_ctes(0.5)},
    {graph.sql_pagerank_ctes('cc_pairs')}
    SELECT r{graph.ITERATIONS}.id AS doc_id,
           deg.degree AS degree,
           ROUND(r{graph.ITERATIONS}.pr, 6) AS pr
    FROM r{graph.ITERATIONS} JOIN deg ON deg.src = r{graph.ITERATIONS}.id
    """,
)


# --- Source x language independence (chi-square) ------------------------------

def source_lang_chisq(docs: DataFrame) -> DataFrame:
    """Chi-square statistic of the source x lang contingency table — the
    mixture-design check for whether languages are skewed across
    sources (a large statistic means per-source language balancing is
    needed before setting mixture weights). Returns one row per cell
    with observed/expected counts and its chi-square contribution, plus
    the table-wide statistic repeated for thresholding (grand totals via
    1-row broadcast aggs over the tiny cell table — the row/column
    marginals stay partitioned windows).

    100 TB shape: one partial-aggregated groupBy(source, lang) collapses
    the corpus to |sources| x |langs| cells; the zero-cell completion is
    a cross join of two tiny distinct lists (chi-square is wrong without
    absent combinations); everything after runs on that cell table."""
    from pyspark.sql import Window

    observed = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("observed")
    )
    frame = (
        docs.select("source").distinct()
        .crossJoin(docs.select("lang").distinct())
    )
    cells = frame.join(observed, ["source", "lang"], "left").select(
        "source",
        "lang",
        F.coalesce("observed", F.lit(0)).cast("bigint").alias("observed"),
    )
    row_w = Window.partitionBy("source")
    col_w = Window.partitionBy("lang")
    ntot = cells.agg(F.sum("observed").cast("double").alias("_n"))
    expected = (
        F.sum("observed").over(row_w).cast("double")
        * F.sum("observed").over(col_w).cast("double")
        / F.col("_n")
    )
    with_exp = cells.crossJoin(F.broadcast(ntot)).select(
        "source",
        "lang",
        "observed",
        expected.alias("expected_raw"),
    ).withColumn(
        "contrib_raw",
        (F.col("observed").cast("double") - F.col("expected_raw"))
        * (F.col("observed").cast("double") - F.col("expected_raw"))
        / F.col("expected_raw"),
    )
    ctot = with_exp.agg(F.sum("contrib_raw").alias("_ct"))
    return with_exp.crossJoin(F.broadcast(ctot)).select(
        "source",
        "lang",
        "observed",
        F.round("expected_raw", 6).alias("expected"),
        F.round("contrib_raw", 6).alias("chisq_contrib"),
        F.round(F.col("_ct"), 6).alias("chisq_total"),
    )


def doc_source_lang_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_lang_chisq(t(spark, sf_dir, "documents"))


register(
    "doc_source_lang_chisq",
    doc_source_lang_chisq,
    """
    WITH observed AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS observed
        FROM documents GROUP BY source, lang
    ),
    frame AS (
        SELECT s.source, l.lang
        FROM (SELECT DISTINCT source FROM documents) s
        CROSS JOIN (SELECT DISTINCT lang FROM documents) l
    ),
    cells AS (
        SELECT f.source, f.lang,
               CAST(COALESCE(o.observed, 0) AS BIGINT) AS observed
        FROM frame f
        LEFT JOIN observed o
          ON o.source = f.source AND o.lang = f.lang
    ),
    ex AS (
        SELECT source, lang, observed,
               CAST(SUM(observed) OVER (PARTITION BY source) AS DOUBLE)
                   * CAST(SUM(observed) OVER (PARTITION BY lang) AS DOUBLE)
                   / CAST(SUM(observed) OVER () AS DOUBLE) AS expected_raw
        FROM cells
    ),
    contrib AS (
        SELECT *,
               (CAST(observed AS DOUBLE) - expected_raw)
                   * (CAST(observed AS DOUBLE) - expected_raw)
                   / expected_raw AS contrib_raw
        FROM ex
    )
    SELECT source, lang, observed,
           ROUND(expected_raw, 6) AS expected,
           ROUND(contrib_raw, 6) AS chisq_contrib,
           ROUND(SUM(contrib_raw) OVER (), 6) AS chisq_total
    FROM contrib
    """,
)


# --- Bigram LM score (smoothed conditional perplexity proxy) ------------------

def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document average negative log-probability under the corpus's
    own add-one-smoothed BIGRAM LM — the sequential upgrade of
    unigram_logprob: ``p(w2|w1) = (c(w1,w2)+1) / (ctx(w1)+V)`` where
    ``ctx(w1)`` counts w1 as a bigram context and ``V`` is the corpus
    vocabulary. Catches locally-incoherent token soup that a unigram
    model scores as normal, because every transition is judged against
    the corpus's observed continuations.

    Plan shape: bigrams via a zero-shuffle array transform on the scan;
    (doc, bigram) tf with map-side combine; the bigram table and its
    context marginal are groupBys over that (cardinality = distinct
    bigrams, far below corpus tokens); V is a 1-row broadcast. The
    scoring join keys on the bigram — linear in corpus size, skew on hot
    transitions handled by AQE like the unigram path."""
    toks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (x, i) -> concat(x, chr(1), toks[i + 1]))"
            )
        ).alias("bigram"),
    )
    tf = bigrams.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).alias("tf")
    )
    btab = tf.groupBy("bigram").agg(F.sum("tf").alias("c2"))
    ctx = btab.withColumn(
        "w1", F.substring_index(F.col("bigram"), "\x01", 1)
    ).groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .agg(F.countDistinct("token").cast("double").alias("v"))
    )
    scored = (
        tf.join(btab, "bigram")
        .withColumn("w1", F.substring_index(F.col("bigram"), "\x01", 1))
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
    )
    p = (F.col("c2").cast("double") + F.lit(1.0)) / (
        F.col("c1").cast("double") + F.col("v")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum(F.col("tf").cast("double") * -F.log(p))
            / F.sum("tf").cast("double"),
            6,
        ).alias("avg_neg_logp2"),
    )


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_logprob(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )


register(
    "text_bigram_logprob",
    text_bigram_logprob,
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    bigrams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(toks) - 1),
                   i -> toks[i] || chr(1) || toks[i + 1])) AS bigram
        FROM toks
    ),
    tf AS (
        SELECT doc_id, bigram, COUNT(*) AS tf
        FROM bigrams GROUP BY doc_id, bigram
    ),
    btab AS (SELECT bigram, SUM(tf) AS c2 FROM tf GROUP BY bigram),
    ctx AS (
        SELECT string_split(bigram, chr(1))[1] AS w1, SUM(c2) AS c1
        FROM btab GROUP BY 1
    ),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v
        FROM (SELECT unnest(string_split(text, ' ')) AS token
              FROM documents)
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           ROUND(
               SUM(CAST(tf AS DOUBLE)
                   * -ln((CAST(c2 AS DOUBLE) + 1.0)
                         / (CAST(c1 AS DOUBLE) + v)))
               / CAST(SUM(tf) AS DOUBLE), 6) AS avg_neg_logp2
    FROM tf
    JOIN btab USING (bigram)
    JOIN ctx ON ctx.w1 = string_split(bigram, chr(1))[1]
    CROSS JOIN vocab
    GROUP BY doc_id
    """,
)


# --- Fuzzy customer linkage (planted-typo file vs clean reference) ------------

def link_fuzzy_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: a dirty customer file (deterministically planted
    single-character typos, one per c_custkey%7==0, at a key-dependent
    digit position) matched back to the clean reference by
    symmetric-deletion blocking + exact levenshtein verify
    (operators/dedup.py:fuzzy_link). Every dirty row links to its origin
    at distance 1; a typo in a low digit position may legitimately also
    match sibling keys, ranked after by the deterministic
    (distance, clean_id) order."""
    cust = t(spark, sf_dir, "customer")
    clean = cust.select(
        F.col("c_custkey").alias("clean_id"),
        F.col("c_name").alias("clean_name"),
    )
    dirty = cust.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("dirty_id"),
        F.expr(
            "concat(substring(c_name, 1, cast(9 + c_custkey % 8 as int)),"
            " 'x',"
            " substring(c_name, cast(11 + c_custkey % 8 as int), 18))"
        ).alias("dirty_name"),
    )
    return dedup.fuzzy_link(dirty, clean, max_distance=1)


register(
    "link_fuzzy_customers",
    link_fuzzy_customers,
    f"""
    WITH clean AS (
        SELECT c_custkey AS clean_id, c_name AS clean_name FROM customer
    ),
    dirty AS (
        SELECT c_custkey + 10000000 AS dirty_id,
               substr(c_name, 1, CAST(9 + c_custkey % 8 AS INT))
                   || 'x'
                   || substr(c_name, CAST(11 + c_custkey % 8 AS INT), 18)
                   AS dirty_name
        FROM customer WHERE c_custkey % 7 = 0
    ),
    dv AS (
        SELECT dirty_id, dirty_name,
               unnest({dedup.sql_deletion_variants('dirty_name')}) AS variant
        FROM dirty
    ),
    cv AS (
        SELECT clean_id, clean_name,
               unnest({dedup.sql_deletion_variants('clean_name')}) AS variant
        FROM clean
    ),
    cand AS (
        SELECT DISTINCT dirty_id, dirty_name, clean_id, clean_name
        FROM dv JOIN cv USING (variant)
    ),
    verified AS (
        SELECT *, CAST(levenshtein(dirty_name, clean_name) AS INT)
                      AS edit_distance
        FROM cand
        WHERE levenshtein(dirty_name, clean_name) <= 1
    )
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY dirty_id ORDER BY edit_distance, clean_id
    ) AS INT) AS match_rank
    FROM verified
    """,
)


# --- Split-leakage audit (near-dups straddling train/val/test) ----------------

def decon_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit a deterministic hash split still needs: a random-by-key
    split happily puts two NEAR-DUPLICATE documents on opposite sides of
    the train/test boundary (the copy leaks the test set into training).
    Counts MinHash-LSH near-dup pairs (est >= 0.5, the dedup_minhash_lsh
    pair set) per ordered split pair over the planted corpus — the
    cross-split cells quantify leakage that per-key splitting cannot
    see; the fix (dedup before splitting, or split by cluster id) is
    exactly what pipeline_clean_corpus + dedup_clusters provide.

    100 TB shape: the pair list is the LSH-bounded candidate set; split
    labels are pure md5 expressions attached map-side; the final agg is
    9 cells."""
    from flink_streaming_demo_spark.operators import sampling

    corpus = _planted_corpus(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.5).select(
        "id_a", "id_b"
    )
    split_of = lambda c: sampling.hash_split(F.col(c))  # noqa: E731
    labeled = pairs.select(
        split_of("id_a").alias("split_a"),
        split_of("id_b").alias("split_b"),
    )
    return labeled.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    ).withColumn(
        "is_leak", F.col("split_a") != F.col("split_b")
    )


def _sql_split_of(col: str) -> str:
    b = (
        f"(CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8)) AS BIGINT)"
        " % 1000000)"
    )
    return (
        f"CASE WHEN {b} < 800000 THEN 'train'"
        f" WHEN {b} < 900000 THEN 'val' ELSE 'test' END"
    )


register(
    "decon_split_leakage",
    decon_split_leakage,
    f"""
    WITH corpus AS ({_PLANTED_SQL}),
    {_sql_minhash_pair_ctes(0.5)},
    labeled AS (
        SELECT {_sql_split_of('id_a')} AS split_a,
               {_sql_split_of('id_b')} AS split_b
        FROM cc_pairs
    )
    SELECT split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS is_leak
    FROM labeled
    GROUP BY split_a, split_b
    """,
)


# --- Cluster-keyed split (the leakage fix) -----------------------------------

def decon_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fix decon_split_leakage motivates: key the train/val/test
    hash split by the near-dup CLUSTER id (connected components over the
    LSH pair set; singletons are their own cluster) so every near-dup
    family travels to the same split — re-auditing the pair set under
    this split yields diagonal-only cells by construction, which the
    hash check itself then proves. Returns the per-split corpus counts
    plus the re-audited pair cells.

    100 TB shape: CC runs on the LSH-bounded pair list; the split label
    is one md5 expression on the cluster id; the join attaching labels
    to pairs is two id-keyed equi-joins."""
    from flink_streaming_demo_spark.operators import sampling

    corpus = _planted_corpus(spark, sf_dir)
    # The pair list feeds TWO consumers (CC and the re-audit cells
    # join); without the cut the whole MinHash-LSH subtree executes
    # once per consumer (r15 — the CC pair-list checkpoint precedent;
    # the frame is near-dup-pair sized). CC's own first checksum
    # action materializes it during build.
    pairs = (
        dedup.minhash_lsh_pairs(corpus, threshold=0.5)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    labels = dedup.connected_components(pairs)
    membership = corpus.select("doc_id").join(
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    # split feeds both sides of the cells join; it is CORPUS-sized, so
    # no checkpoint — a planted hash exchange lets ReusedExchange
    # compute the label join once.
    split = membership.select(
        "doc_id",
        sampling.hash_split(F.col("cluster_id")).alias("split"),
    ).repartition("doc_id")
    cells = (
        pairs.join(
            split.select(F.col("doc_id").alias("id_a"),
                         F.col("split").alias("split_a")), "id_a")
        .join(
            split.select(F.col("doc_id").alias("id_b"),
                         F.col("split").alias("split_b")), "id_b")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    return cells.withColumn(
        "is_leak", F.col("split_a") != F.col("split_b")
    )


register(
    "decon_split_by_cluster",
    decon_split_by_cluster,
    f"""
    WITH RECURSIVE corpus AS ({_PLANTED_SQL}),
    {_sql_minhash_pair_ctes(0.5)},
    {dedup.SQL_CONNECTED_COMPONENTS},
    membership AS (
        SELECT c.doc_id,
               COALESCE(l.cluster_id, c.doc_id) AS cluster_id
        FROM corpus c
        LEFT JOIN cc_labels l ON l.id = c.doc_id
    ),
    split AS (
        SELECT doc_id, {_sql_split_of('cluster_id')} AS split
        FROM membership
    )
    SELECT sa.split AS split_a,
           sb.split AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           sa.split <> sb.split AS is_leak
    FROM cc_pairs p
    JOIN split sa ON sa.doc_id = p.id_a
    JOIN split sb ON sb.doc_id = p.id_b
    GROUP BY sa.split, sb.split
    """,
)


# --- Per-document keep/drop audit (the pipeline's decision table) -------------

def pipeline_keep_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit view of pipeline_clean_corpus: for EVERY planted-corpus
    document, whether it survives and the FIRST stage that dropped it
    ('quality' -> 'exact_dup' -> 'near_dup' -> 'kept') — the table a
    data engineer debugs a cleaning run with, and the lineage a removal
    request is answered from. Kept set == pipeline_clean_corpus's output
    by construction (pinned by test).

    100 TB shape: identical stages to the pipeline (narrow scan,
    min-per-hash groupBy, LSH pairs, CC on the pair list); the audit
    adds only left joins of small loser/keeper sets back onto the
    corpus scan."""
    corpus = _planted_corpus(spark, sf_dir)
    flagged = corpus.select(
        "doc_id",
        "text",
        TX.quality_pass(F.col("text")).alias("quality_pass"),
    )
    quality = flagged.filter("quality_pass").select("doc_id", "text")
    keepers = quality.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keeper_id")
    )
    exact = quality.join(
        keepers, F.md5(quality["text"]) == keepers["h"]
    ).select(
        "doc_id",
        "text",
        (F.col("doc_id") == F.col("keeper_id")).alias("exact_survivor"),
    )
    survivors = exact.filter("exact_survivor").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(
        survivors, threshold=PIPE_NEARDUP_EST
    ).select("id_a", "id_b")
    losers = (
        dedup.connected_components(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.lit(True).alias("cc_loser"))
    )
    dec = (
        flagged.join(
            exact.select("doc_id", "exact_survivor"), "doc_id", "left"
        )
        .join(losers, "doc_id", "left")
        .select(
            "doc_id",
            "quality_pass",
            F.coalesce("exact_survivor", F.lit(False)).alias(
                "exact_survivor"
            ),
            F.coalesce("cc_loser", F.lit(False)).alias("near_dup_loser"),
        )
    )
    reason = (
        F.when(~F.col("quality_pass"), "quality")
        .when(~F.col("exact_survivor"), "exact_dup")
        .when(F.col("near_dup_loser"), "near_dup")
        .otherwise("kept")
    )
    return dec.select(
        "doc_id",
        "quality_pass",
        "exact_survivor",
        "near_dup_loser",
        reason.alias("reason"),
        (reason == "kept").alias("kept"),
    )


register(
    "pipeline_keep_decisions",
    pipeline_keep_decisions,
    f"""
    WITH RECURSIVE corpus AS ({_PLANTED_SQL}),
    flagged AS (
        SELECT doc_id, text,
               {TX.sql_quality_pass('text')} AS quality_pass
        FROM corpus
    ),
    quality AS (
        SELECT doc_id, text FROM flagged WHERE quality_pass
    ),
    keepers AS (
        SELECT md5(text) AS h, MIN(doc_id) AS keeper_id
        FROM quality GROUP BY md5(text)
    ),
    exact AS (
        SELECT q.doc_id, q.text,
               (q.doc_id = k.keeper_id) AS exact_survivor
        FROM quality q JOIN keepers k ON md5(q.text) = k.h
    ),
    survivors AS (
        SELECT doc_id, text FROM exact WHERE exact_survivor
    ),
    {_sql_minhash_pair_ctes(PIPE_NEARDUP_EST, "survivors")},
    {dedup.SQL_CONNECTED_COMPONENTS},
    dec AS (
        SELECT f.doc_id,
               f.quality_pass,
               COALESCE(e.exact_survivor, FALSE) AS exact_survivor,
               COALESCE(l.id IS NOT NULL AND l.id <> l.cluster_id, FALSE)
                   AS near_dup_loser
        FROM flagged f
        LEFT JOIN exact e ON e.doc_id = f.doc_id
        LEFT JOIN cc_labels l ON l.id = f.doc_id
    )
    SELECT *,
           CASE WHEN NOT quality_pass THEN 'quality'
                WHEN NOT exact_survivor THEN 'exact_dup'
                WHEN near_dup_loser THEN 'near_dup'
                ELSE 'kept' END AS reason,
           (quality_pass AND exact_survivor AND NOT near_dup_loser) AS kept
    FROM dec
    """,
)


# --- Cross-document duplicated-span stripping --------------------------------
#
# Exact-substring dedup at word-gram granularity (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"): any run of
# tokens whose every length-SPAN_N window also occurs in ANOTHER document is
# boilerplate; strip it and keep the residue. This consumes the signal that
# dedup_repeated_ngrams only reports — the actual span-removal cleaning step.
# Runs over the NATURAL documents table (the synthetic corpus genuinely
# shares boilerplate 8-grams across docs; no planting needed).


def strip_dup_spans(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """Per document: count and strip maximal cross-document duplicated
    token spans.

    A token position j (1-based) is *covered* when some n-gram window
    [s, s+n-1] containing j occurs in >= 2 distinct documents. Covered
    positions merge into maximal spans (gaps-and-islands); the kept text
    is the uncovered tokens joined by a single space (the corpus is
    single-space tokenized, so this is lossless on the residue).

    Output: doc_id, n_tokens, dup_token_count, n_spans, kept_hash
    (md5 of the stripped text; '' hashes for fully-duplicated docs).

    100 TB shape: one vectorized Arrow pass to (gram, doc, pos) —
    O(total tokens); duplicated-gram detection is a two-level
    partial-aggregated groupBy on the gram (a viral boilerplate gram is
    one skewed reduce key, AQE-split, never a pair join); the coverage
    join back to documents is an equi-join on gram whose output is
    bounded by gram occurrences (linear in corpus size); span merging
    and stripping run as a numpy interval sweep per doc (O(tokens +
    starts) instead of the exists-HOF's O(tokens * starts)). The
    token-sized gram rows are cut lazily so dup detection and the
    coverage join share one derivation.
    """
    doc_grams = dedup._token_gram_rows(docs, n).localCheckpoint(eager=False)
    # Grams occurring in >= 2 distinct docs (two-level agg: partial
    # (gram, doc) distinct-ing, then gram-level doc count).
    dup_grams = (
        doc_grams.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gram")
    )
    # Per doc: sorted duplicated-window start positions.
    doc_starts = (
        doc_grams.join(dup_grams, "gram")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("s")).alias("starts"))
    )
    joined = docs.join(doc_starts, "doc_id", "left").select(
        "doc_id", "text", "starts"
    )

    # a duplicated-window start s covers the tokens [s, s + n - 1]
    return dedup._strip_covered(
        joined,
        "doc_id",
        "text",
        "starts",
        lambda starts: (starts, [s + n - 1 for s in starts]),
    )


def text_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return strip_dup_spans(docs)


register(
    "text_strip_dup_spans",
    text_strip_dup_spans,
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS s,
               array_to_string(tk[i:i+{SPAN_N - 1}], ' ') AS gram
        FROM toks,
             LATERAL unnest(generate_series(1, len(tk) - {SPAN_N - 1}))
                 AS u(i)
        WHERE len(tk) >= {SPAN_N}
    ),
    dup AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    starts AS (
        SELECT g.doc_id, g.s FROM grams g JOIN dup USING (gram)
    ),
    pos AS (
        SELECT doc_id, j
        FROM toks, LATERAL unnest(generate_series(1, len(tk))) AS p(j)
    ),
    covered AS (
        SELECT DISTINCT p.doc_id, p.j
        FROM pos p
        JOIN starts s
          ON p.doc_id = s.doc_id AND p.j BETWEEN s.s AND s.s + {SPAN_N - 1}
    ),
    islands AS (
        SELECT doc_id, j,
               CASE WHEN lag(j) OVER (PARTITION BY doc_id ORDER BY j) = j - 1
                    THEN 0 ELSE 1 END AS is_start
        FROM covered
    ),
    span_agg AS (
        SELECT doc_id, COUNT(*) AS dup_token_count, SUM(is_start) AS n_spans
        FROM islands GROUP BY doc_id
    ),
    kept_pos AS (
        SELECT p.doc_id, list(p.j ORDER BY p.j) AS keep
        FROM pos p
        ANTI JOIN covered c ON p.doc_id = c.doc_id AND p.j = c.j
        GROUP BY p.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS INT) AS n_tokens,
           CAST(COALESCE(s.dup_token_count, 0) AS INT) AS dup_token_count,
           CAST(COALESCE(s.n_spans, 0) AS INT) AS n_spans,
           md5(COALESCE(array_to_string(
               list_select(t.tk, COALESCE(k.keep, [])), ' '), ''))
               AS kept_hash
    FROM toks t
    LEFT JOIN span_agg s ON s.doc_id = t.doc_id
    LEFT JOIN kept_pos k ON k.doc_id = t.doc_id
    """,
)


# --- Incremental (batch-vs-corpus) dedup -------------------------------------
#
# Incoming batch = the three shared planted legs (see the EXACT_/NEAR_/
# NEW_ constants at the top of this module): exact copies, near copies
# with the appended tail, and token-REVERSED docs whose ordered 3-gram
# shingles share ~nothing with the base — three planted verdict classes
# over the natural documents base.


def _incoming_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        _exact_leg(docs).unionAll(_near_leg(docs)).unionAll(_new_leg(docs))
    )


_INCOMING_SQL = f"""{_SQL_EXACT_LEG}
        UNION ALL{_SQL_NEAR_LEG}
        UNION ALL{_SQL_NEW_LEG}
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup of a new batch against the existing corpus:
    exact (content hash) -> near (MinHash-LSH band + signature Jaccard
    >= 0.5) -> new, with the matched base doc. The base corpus is never
    self-joined or shuffled — see operators/dedup.
    incremental_dedup_decisions for the broadcast-index scale shape."""
    base = t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.incremental_dedup_decisions(
        base, _incoming_batch(spark, sf_dir), threshold=0.5
    )


register(
    "dedup_incremental",
    dedup_incremental,
    f"""
    WITH base AS (
        SELECT doc_id, text FROM documents
    ),
    inc AS ({_INCOMING_SQL}),
    bh AS (
        SELECT md5(text) AS h, doc_id AS base_id FROM base
    ),
    exact AS (
        SELECT i.doc_id, MIN(b.base_id) AS exact_match
        FROM inc i JOIN bh b ON md5(i.text) = b.h
        GROUP BY i.doc_id
    ),
    bsig AS (
        SELECT doc_id AS base_id,
               {dedup.sql_minhash_signature(dedup.sql_shingles('text'))}
                   AS sig_b
        FROM base
        WHERE len(string_split(text, ' ')) >= {dedup.SHINGLE_N}
    ),
    isig AS (
        SELECT doc_id,
               {dedup.sql_minhash_signature(dedup.sql_shingles('text'))}
                   AS sig_i
        FROM inc
        WHERE len(string_split(text, ' ')) >= {dedup.SHINGLE_N}
    ),
    bband AS (
        SELECT base_id, sig_b,
               unnest({dedup.sql_lsh_band_keys('sig_b')}) AS band_key
        FROM bsig
    ),
    iband AS (
        SELECT doc_id, sig_i,
               unnest({dedup.sql_lsh_band_keys('sig_i')}) AS band_key
        FROM isig
    ),
    cand AS (
        SELECT DISTINCT i.doc_id, b.base_id, i.sig_i, b.sig_b
        FROM iband i JOIN bband b USING (band_key)
    ),
    near AS (
        SELECT doc_id, MIN(base_id) AS near_match
        FROM cand
        WHERE CAST(list_sum(list_transform(generate_series(1, {dedup.N_HASHES}),
                j -> CASE WHEN sig_i[j] = sig_b[j] THEN 1 ELSE 0 END))
                AS DOUBLE) / {float(dedup.N_HASHES)} >= 0.5
        GROUP BY doc_id
    )
    SELECT i.doc_id,
           CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
                WHEN n.near_match IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict,
           COALESCE(e.exact_match, n.near_match,
                    CAST(-1 AS BIGINT)) AS matched_base_id
    FROM inc i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN near n ON n.doc_id = i.doc_id
    """,
)


# --- Trained quality classifier (logistic regression) ------------------------

def text_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression quality scores: 8 full-batch GD iterations
    (lr=4.0) over round-6 features (bias, scaled length, scaled avg token
    length, stopword ratio, distinct ratio); labels = the curation policy
    n_tokens >= 50 AND stopword_ratio >= 0.05 (309/191 split, 73.2%
    train accuracy at sf0.01 — the linear ceiling for the conjunction).
    The oracle unrolls the identical iterations, so the green proves the
    DataFrame training trajectory — weights, gradients, and the final
    calibrated scores. See operators/classify."""
    from flink_streaming_demo_spark.operators import classify as CL

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # Materialize the (doc_id, x[5], y) training matrix once: every GD
    # iteration and the final scoring pass otherwise re-derive the
    # text-feature extraction (8 re-derivations measured 11.8 s vs
    # 4.7 s at sf0.1). The standard cache-the-training-set move;
    # bit-identical doubles, so the engine-exact trajectory and the
    # oracle's feat CTE are unaffected.
    feats = CL.quality_features(docs).localCheckpoint(eager=False)
    w = CL.logreg_train(feats)
    return CL.logreg_score(feats, w)


def _logreg_oracle() -> str:
    from flink_streaming_demo_spark.operators import classify as CL

    n = CL.TRAIN_ITERS
    return f"""
    WITH {CL.sql_logreg_ctes()}
    SELECT doc_id, y, p AS score, p >= 0.5 AS pred FROM (
        SELECT doc_id, y, {CL.SQL_LOGREG_PROB} AS p FROM feat, w{n}
    )
    """


register("text_quality_logreg", text_quality_logreg, _logreg_oracle())


# --- BPE merge-table training -------------------------------------------------

def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer training (Sennrich et al. 2016): the
    6 most frequent adjacent-symbol merges over the corpus word-frequency
    table, in training order. The oracle unrolls the identical merge
    iterations over the same delimited-string symbol representation, so
    the green proves the trained merge TABLE, not just pair counts. See
    operators/bpe for the replace-based merge trick and the scale shape."""
    from flink_streaming_demo_spark.operators import bpe as BPE

    docs = t(spark, sf_dir, "documents").select("text")
    return BPE.bpe_train_merges(docs)


def _bpe_oracle() -> str:
    from flink_streaming_demo_spark.operators import bpe as BPE

    return f"""
    WITH {BPE.sql_bpe_ctes()}
    {BPE.sql_bpe_final()}
    """


register("text_bpe_merges", text_bpe_merges, _bpe_oracle())


def text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merge table to segment every document:
    per-doc word count, subword count, and a digest of the exact
    segmented stream (so apply ORDER is proven, not just counts).
    Train + apply — the full tokenizer loop — in one oracle-checked
    plan; the apply pass is map-only (operators/bpe.bpe_segment)."""
    from flink_streaming_demo_spark.operators import bpe as BPE

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    merges = BPE.bpe_train_merges(docs.select("text"))
    return BPE.bpe_segment(docs, merges)


def _bpe_segment_oracle() -> str:
    from flink_streaming_demo_spark.operators import bpe as BPE

    return f"""
    WITH {BPE.sql_bpe_ctes()}
    {BPE.sql_bpe_segment()}
    """


register("text_bpe_segment", text_bpe_segment, _bpe_segment_oracle())


def text_bpe_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE training (the distributed-trainer variant): each of 16
    passes snapshots pair counts ONCE, takes the top 16 candidates, keeps
    the pairwise non-interacting subset, and applies all kept merges as
    one broadcast fold — 64+ merges on the test corpora at ~1/4th the
    vocab scans of sequential training. The oracle unrolls the identical
    pass structure (candidate ranking, NOT-EXISTS keep filter,
    list_reduce fold), so the green proves the whole batched TRAJECTORY —
    selection, conflict resolution, and global merge ranks — not just the
    final counts. See operators/bpe.py 'Batched merge training' for the
    non-interaction invariant that makes the batch replay-safe."""
    from flink_streaming_demo_spark.operators import bpe as BPE

    docs = t(spark, sf_dir, "documents").select("text")
    return BPE.bpe_train_merges_batched(docs)


def _bpe_batched_oracle() -> str:
    from flink_streaming_demo_spark.operators import bpe as BPE

    return f"""
    WITH {BPE.sql_bpe_ctes_batched()}
    SELECT rank, pa, pb, pair_count FROM bmerges
    """


register(
    "text_bpe_merges_batched", text_bpe_merges_batched, _bpe_batched_oracle()
)


def text_bpe_segment_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment every document with the BATCH-trained merge table — the
    full distributed tokenizer loop (batched train + map-only apply) in
    one oracle-checked plan. The apply leg is the same broadcast +
    rank-ordered F.aggregate fold as text_bpe_segment; the oracle
    composes sql_bpe_ctes_batched with the merge-table-generic
    list_reduce segmenter, so a single hash green pins trainer AND
    applier over 64+ merges."""
    from flink_streaming_demo_spark.operators import bpe as BPE

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    merges = BPE.bpe_train_merges_batched(docs.select("text"))
    return BPE.bpe_segment(docs, merges)


def _bpe_segment_batched_oracle() -> str:
    from flink_streaming_demo_spark.operators import bpe as BPE

    return f"""
    WITH {BPE.sql_bpe_ctes_batched()}
    {BPE.sql_bpe_segment_from_merges()}
    """


register(
    "text_bpe_segment_batched",
    text_bpe_segment_batched,
    _bpe_segment_batched_oracle(),
)


# --- Cluster-size histogram ---------------------------------------------------

# dedup_cluster_sizes retired in r14 (r13 verdict #2, rotation budget):
# its frame was a pure two-level groupBy-count over dedup_clusters'
# labels and its oracle was a literal SQL wrapper around
# ORACLE_SQL["dedup_clusters"] — no independent content beyond the
# generic aggregate the surface proves elsewhere. The histogram shape
# itself stays pinned on the planted corpus by
# tests/test_dedup.py::test_cluster_size_histogram_planted.


# --- Benchmark-canary contamination search ------------------------------------

CANARIES = (
    "key agg row",
    "batch window spark",
    "the quick brown fox",
)


def decon_canary_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring canary search: count documents containing each
    known benchmark canary phrase (the cheap, high-precision layer of
    decontamination — run BEFORE the n-gram overlap pass; a hit is a
    hard drop). Broadcast canary list x corpus scan, map-only."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    canaries = spark.createDataFrame(
        [(c,) for c in CANARIES], "canary string"
    )
    hits = docs.crossJoin(F.broadcast(canaries)).filter(
        F.expr("contains(text, canary)")
    )
    return (
        canaries.join(
            hits.groupBy("canary").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("first_doc"),
            ),
            "canary",
            "left",
        )
        .select(
            "canary",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            # -1 sentinel for "canary never seen": keeps the column exact
            # int64 regardless of whether this corpus has unmatched
            # canaries (nullable ints promote to float64 in pandas).
            F.coalesce("first_doc", F.lit(-1).cast("long")).alias(
                "first_doc"
            ),
        )
    )


_CANARY_VALUES = ", ".join(
    "('" + c.replace("'", "''") + "')" for c in CANARIES
)

register(
    "decon_canary_hits",
    decon_canary_hits,
    f"""
    WITH canaries(canary) AS (VALUES {_CANARY_VALUES}),
    hits AS (
        SELECT c.canary, COUNT(*) AS n_docs, MIN(d.doc_id) AS first_doc
        FROM canaries c
        JOIN documents d ON contains(d.text, c.canary)
        GROUP BY c.canary
    )
    SELECT c.canary,
           COALESCE(h.n_docs, 0) AS n_docs,
           COALESCE(h.first_doc, CAST(-1 AS BIGINT)) AS first_doc
    FROM canaries c
    LEFT JOIN hits h USING (canary)
    """,
)


# --- LSH band-planning S-curve ------------------------------------------------

_SCURVE_CONFIGS = ((8, 2), (4, 4), (16, 1))  # (bands, rows) with b*r = 16


def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding S-curve behind the MinHash configuration: candidate
    probability P = 1 - (1 - s^r)^b at Jaccard similarity s, for the
    shipped (b=8, r=2) and the two alternatives the 16-hash budget
    admits. Shows WHY 8x2 was chosen: at the 0.5 near-dup threshold it
    catches 90% of true pairs while 4x4 drops to 23%, and 16x1 floods
    candidates at s=0.2 (97% vs 8x2's 28%). Pure computation (no table
    scan) — the tuning analysis a dedup run logs next to its results."""
    s_grid = spark.range(1, 20).select(
        (F.col("id").cast("double") / 20).alias("s")
    )
    rows = []
    for b, r in _SCURVE_CONFIGS:
        rows.append(
            s_grid.select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                F.round(F.col("s"), 6).alias("s"),
                F.round(
                    F.lit(1.0)
                    - F.pow(
                        F.lit(1.0) - F.pow(F.col("s"), F.lit(float(r))),
                        F.lit(float(b)),
                    ),
                    6,
                ).alias("p_candidate"),
            )
        )
    out = rows[0]
    for x in rows[1:]:
        out = out.unionAll(x)
    return out


_SCURVE_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT {b} AS bands, {r} AS rows_per_band,
           ROUND(CAST(i AS DOUBLE) / 20, 6) AS s,
           ROUND(1.0 - POWER(1.0 - POWER(CAST(i AS DOUBLE) / 20, {r}.0),
                             {b}.0), 6) AS p_candidate
    FROM generate_series(1, 19) AS g(i)"""
    for b, r in _SCURVE_CONFIGS
)

register("dedup_lsh_scurve", dedup_lsh_scurve, _SCURVE_SQL)


# --- N-gram novelty curve -----------------------------------------------------

def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of its distinct 3-grams whose
    FIRST occurrence (by doc_id order) is this document — the curve a
    curation run watches for template drift (novelty collapsing toward 0
    means the crawl is re-reading the same boilerplate). One vectorized
    gram pass + min-per-gram + per-doc ratio; no pair joins. The
    distinct 3-grams are exactly dedup.shingle_rows' contract
    (SHINGLE_N == 3); materialized once because first-occurrence and
    the join back both reference the frame."""
    from flink_streaming_demo_spark.operators.dedup import shingle_rows

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    grams = (
        # min_tokens pinned explicitly: the oracle hardcodes >= 3, so
        # the gate must not float with SHINGLE_N's default
        shingle_rows(docs, "doc_id", n=3, min_tokens=3)
        .withColumnRenamed("shingle", "gram")
        .localCheckpoint(eager=False)
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
            6,
        ).alias("novelty"),
    )


register(
    "text_ngram_novelty",
    text_ngram_novelty,
    """
    WITH grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(string_split(text, ' ')[i:i+2], ' ') AS gram
        FROM documents,
             LATERAL unnest(generate_series(1,
                 len(string_split(text, ' ')) - 2)) AS u(i)
        WHERE len(string_split(text, ' ')) >= 3
    ),
    first AS (
        SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM grams g JOIN first f USING (gram)
    GROUP BY g.doc_id
    """,
)


# --- Containment dedup (doc-inside-doc) --------------------------------------

def _chunk_leg(docs: DataFrame) -> DataFrame:
    """Plant subset-duplicates: the first 2/5 of each >= 20-token doc as
    a new doc (id + 3_000_000). Containment(chunk in parent) ~ 1 while
    Jaccard ~ 0.4 — the pair class a Jaccard threshold misses."""
    parts = F.split(F.col("text"), " ")
    return (
        docs.filter(F.size(parts) >= 20)
        .select(
            (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
            F.array_join(
                F.slice(parts, 1, F.expr("size(split(text, ' ')) * 2 div 5")),
                " ",
            ).alias("text"),
        )
    )


_SQL_CHUNK_LEG = """
        SELECT doc_id + 3000000 AS doc_id,
               array_to_string(
                   string_split(text, ' ')[1:(len(string_split(text, ' ')) * 2 // 5)],
                   ' ') AS text
        FROM documents
        WHERE len(string_split(text, ' ')) >= 20
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup over documents plus planted prefix chunks:
    every (parent, chunk) pair must surface with containment ~ 1 even
    though its Jaccard (~0.4) is far below any usable Jaccard
    threshold — the doc-inside-doc duplicate class
    (operators/dedup.py:ngram_containment_pairs)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionAll(_chunk_leg(docs))
    return dedup.ngram_containment_pairs(corpus, threshold=0.8)


register(
    "dedup_containment",
    dedup_containment,
    f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL{_SQL_CHUNK_LEG}
    ),
    sh_all AS (
        SELECT doc_id, unnest({dedup.sql_shingles('text')}) AS shingle
        FROM corpus
        WHERE len(string_split(text, ' ')) >= {dedup.SHINGLE_N}
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh_all
        QUALIFY COUNT(*) OVER (PARTITION BY shingle)
                <= {dedup.MAX_SHINGLE_DF}
    ),
    counts AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM sh a
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT
        id_a,
        id_b,
        ROUND(CAST(n_shared AS DOUBLE)
              / CAST(LEAST(ca.n_sh, cb.n_sh) AS DOUBLE), 6) AS containment,
        ROUND(CAST(n_shared AS DOUBLE)
              / CAST(ca.n_sh + cb.n_sh - n_shared AS DOUBLE), 6) AS jaccard
    FROM shared
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE CAST(n_shared AS DOUBLE)
          / CAST(LEAST(ca.n_sh, cb.n_sh) AS DOUBLE) >= 0.8
    """,
)


# --- Cross-source near-dup overlap matrix -------------------------------------

def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup overlap matrix BY SOURCE PAIR: every MinHash-LSH pair
    from the planted corpus attributed to its (source, source) cell —
    the curation signal that decides which sources to drop or
    down-weight when two crawls substantially overlap (a large
    n_pairs off-diagonal cell means cross-source duplication; the
    diagonal is within-source boilerplate). Aggregates are all
    order-insensitive (counts, min/max of the already-rounded
    signature-agreement estimate) so the cell values are
    engine-deterministic.

    Scale: the pair list is post-LSH (banded equi-join output, orders
    of magnitude below the corpus); the source attach is a join of
    that small pair list against a two-column (doc_id, source)
    projection — AQE picks the broadcast side; no new wide shuffle is
    introduced beyond what the pair finder already does."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    exact = docs.filter(F.col("doc_id") % EXACT_MOD == 0).select(
        (F.col("doc_id") + EXACT_OFFSET).alias("doc_id"), "source"
    )
    near = docs.filter(F.col("doc_id") % NEAR_MOD == 0).select(
        (F.col("doc_id") + NEAR_OFFSET).alias("doc_id"), "source"
    )
    srcs = docs.unionAll(exact).unionAll(near)
    pairs = dedup.minhash_lsh_pairs(
        _planted_corpus(spark, sf_dir), threshold=0.5
    )
    tagged = (
        pairs.join(
            srcs.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                "source", "src_1"
            ),
            "id_a",
        )
        .join(
            srcs.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "source", "src_2"
            ),
            "id_b",
        )
        .select(
            F.least("src_1", "src_2").alias("src_a"),
            F.greatest("src_1", "src_2").alias("src_b"),
            "est_jaccard",
        )
    )
    return tagged.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("est_jaccard") >= 0.99).cast("int"))
        .cast("bigint")
        .alias("n_exactish"),
        F.min("est_jaccard").alias("min_est"),
        F.max("est_jaccard").alias("max_est"),
    )


def _cross_source_oracle() -> str:
    from flink_streaming_demo_spark.plans.registry import ORACLE_SQL

    return f"""
    WITH src AS (
        SELECT doc_id, source FROM documents
        UNION ALL
        SELECT doc_id + {EXACT_OFFSET} AS doc_id, source
        FROM documents WHERE doc_id % {EXACT_MOD} = 0
        UNION ALL
        SELECT doc_id + {NEAR_OFFSET} AS doc_id, source
        FROM documents WHERE doc_id % {NEAR_MOD} = 0
    ),
    tagged AS (
        SELECT LEAST(sa.source, sb.source) AS src_a,
               GREATEST(sa.source, sb.source) AS src_b,
               p.est_jaccard
        FROM ( {ORACLE_SQL["dedup_minhash_lsh"]} ) p
        JOIN src sa ON sa.doc_id = p.id_a
        JOIN src sb ON sb.doc_id = p.id_b
    )
    SELECT src_a, src_b,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN est_jaccard >= 0.99 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exactish,
           MIN(est_jaccard) AS min_est,
           MAX(est_jaccard) AS max_est
    FROM tagged
    GROUP BY src_a, src_b
    """


register(
    "dedup_cross_source_matrix",
    dedup_cross_source_matrix,
    _cross_source_oracle(),
)


# --- Quality-aware survivor policy --------------------------------------------

def dedup_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection per near-dup cluster: instead
    of dedup_clusters' min-id policy, keep the member with the MOST
    tokens (ties broken by lowest doc_id) — the curation policy that
    keeps the longest/most complete variant of a duplicated document.
    Output is one row per multi-member cluster with both policies'
    picks side by side; `policy_differs` proves the argmax is not
    vacuously the min id (the planted near-copies are longer than
    their originals, so it genuinely differs there).

    Scale: cluster labels come from the proven CC iteration over the
    post-LSH pair list; the scoring join is label-list (small) against
    a two-column token-count projection, and the per-cluster argmax is
    a window over cluster-partitioned data — key count = cluster
    count, no global window."""
    corpus = _planted_corpus(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.5)
    labels = dedup.dedup_clusters(corpus, pairs)
    # scored feeds the per-cluster argmax window AND the cluster stats,
    # both keyed by cluster_id — the planted exchange is the
    # partitioning both consumers need, so ReusedExchange computes the
    # corpus join once instead of once per consumer (r15).
    scored = labels.join(corpus, "doc_id").select(
        "doc_id",
        "cluster_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
    ).repartition("cluster_id")
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    best = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("best_id"),
            F.col("n_tokens").alias("best_tokens"),
        )
    )
    stats = scored.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("minid_id"),
    )
    return (
        best.join(stats, "cluster_id")
        .filter(F.col("n_members") > 1)
        .select(
            "cluster_id",
            "best_id",
            "best_tokens",
            "n_members",
            "minid_id",
            (F.col("best_id") != F.col("minid_id")).alias(
                "policy_differs"
            ),
        )
    )


def _best_survivors_oracle() -> str:
    from flink_streaming_demo_spark.plans.registry import ORACLE_SQL

    return f"""
    WITH corpus AS ({_PLANTED_SQL}),
    scored AS (
        SELECT l.doc_id, l.cluster_id,
               {TX.sql_token_count('c.text')} AS n_tokens
        FROM ( {ORACLE_SQL["dedup_clusters"]} ) l
        JOIN corpus c ON c.doc_id = l.doc_id
    ),
    best AS (
        SELECT cluster_id, doc_id AS best_id, n_tokens AS best_tokens
        FROM scored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id
                                   ORDER BY n_tokens DESC, doc_id) = 1
    ),
    stats AS (
        SELECT cluster_id, COUNT(*) AS n_members, MIN(doc_id) AS minid_id
        FROM scored GROUP BY cluster_id
    )
    SELECT b.cluster_id, b.best_id, b.best_tokens,
           s.n_members, s.minid_id,
           (b.best_id != s.minid_id) AS policy_differs
    FROM best b JOIN stats s USING (cluster_id)
    WHERE s.n_members > 1
    """


register(
    "dedup_best_survivors",
    dedup_best_survivors,
    _best_survivors_oracle(),
)


def multimodal_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sample index through the 1->N Arrow fan-out path
    (operators/multimodal.frame_index); every emitted frame row is
    deterministic, so the whole mapInPandas fan-out is hash-checked."""
    docs = t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    return multimodal.frame_index(media)


register(
    "multimodal_frame_index",
    multimodal_frame_index,
    """
    WITH media AS (
        SELECT doc_id AS media_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS content_hash
        FROM documents
        WHERE CAST(doc_id % 3 AS INT) = 2
    ),
    frames AS (
        SELECT media_id, content_hash,
               unnest(generate_series(0, n_bytes % 5)) AS frame_no
        FROM media
    )
    SELECT media_id,
           CAST(frame_no AS BIGINT) AS frame_no,
           CAST(frame_no * 1000 AS BIGINT) AS frame_ts_ms,
           md5(content_hash || ':' || CAST(frame_no AS VARCHAR))
               AS frame_hash
    FROM frames
    """,
)


def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the trained quality classifier: bucket
    the logreg scores into deciles and compare mean predicted
    probability vs the empirical positive rate per bucket (plus the
    per-bucket Brier contribution) — the calibration check that decides
    whether the score can be used as a keep-PROBABILITY (soft
    weighting) or only as a ranking.

    Determinism discipline: scores are round-6 by the training
    contract, so ROUND(score*1e6) is an exact integer — all sums here
    run over integer-valued micro-units (score micros, 0/1e6 labels,
    squared-micro Brier terms bounded well inside BIGINT), making every
    aggregate order-insensitive and engine-exact; division back to
    probability space happens once per BUCKET, not per row. Scale: one
    pass over the scored corpus, 10-key groupBy."""
    scored = text_quality_logreg(spark, sf_dir)
    micro = F.round(F.col("score") * 1e6, 0).cast("bigint")
    y_micro = F.round(F.col("y") * 1e6, 0).cast("bigint")
    bucket = F.least(
        F.lit(9), F.floor(F.col("score") * 10).cast("int")
    )
    per = scored.select(
        bucket.alias("bucket"),
        micro.alias("p_micro"),
        y_micro.alias("y_micro"),
        ((micro - y_micro) * (micro - y_micro)).alias("sq_micro"),
    )
    n = F.count(F.lit(1))
    return per.groupBy("bucket").agg(
        n.alias("n_docs"),
        F.round(F.sum("p_micro") / (n * F.lit(1e6)), 6).alias(
            "mean_score"
        ),
        F.round(F.sum("y_micro") / (n * F.lit(1e6)), 6).alias(
            "frac_pos"
        ),
        F.round(
            (F.sum("p_micro") - F.sum("y_micro")) / (n * F.lit(1e6)), 6
        ).alias("gap"),
        F.round(F.sum("sq_micro") / (n * F.lit(1e12)), 6).alias(
            "brier"
        ),
    )


def _calibration_oracle() -> str:
    from flink_streaming_demo_spark.plans.registry import ORACLE_SQL

    return f"""
    WITH per AS (
        SELECT LEAST(9, CAST(FLOOR(score * 10) AS INT)) AS bucket,
               CAST(ROUND(score * 1e6, 0) AS BIGINT) AS p_micro,
               CAST(ROUND(y * 1e6, 0) AS BIGINT) AS y_micro
        FROM ( {ORACLE_SQL["text_quality_logreg"]} )
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(p_micro) AS DOUBLE) / (COUNT(*) * 1e6), 6)
               AS mean_score,
           ROUND(CAST(SUM(y_micro) AS DOUBLE) / (COUNT(*) * 1e6), 6)
               AS frac_pos,
           ROUND(CAST(SUM(p_micro) - SUM(y_micro) AS DOUBLE)
                 / (COUNT(*) * 1e6), 6) AS gap,
           ROUND(CAST(SUM((p_micro - y_micro) * (p_micro - y_micro))
                      AS DOUBLE) / (COUNT(*) * 1e12), 6) AS brier
    FROM per
    GROUP BY bucket
    """


register(
    "text_quality_calibration",
    text_quality_calibration,
    _calibration_oracle(),
)


# --- Zipf rank-frequency fit (corpus naturalness) -----------------------------

ZIPF_TOP_N = 100


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-100 vocabulary: OLS of ln(freq) on
    ln(rank). Natural language sits near slope -1; synthetic or
    template-heavy corpora flatten toward 0 — a one-row corpus
    NATURALNESS score that complements the per-doc quality signals
    (the C4/Gopher-era corpus-level sanity check). Emits slope,
    intercept, and r2 plus the mass share the fitted head covers.

    100 TB shape: the exact vocab count is the heavy-hitters plan
    (partial agg bounded by vocab, not corpus); top-100 extraction is
    a distributed TakeOrdered; the regression runs on a 100-row
    control table via ORDERED folds of the five OLS sums (the PSI
    pattern — ln() parity is already load-bearing for the HLL LC
    branch), so the fitted line is bit-identical on both engines."""
    docs = t(spark, sf_dir, "documents").select("text")
    counts = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(ZIPF_TOP_N)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    pts = top.withColumn("rank", F.row_number().over(w)).select(
        "cnt",
        F.struct(
            F.col("rank"),
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("cnt").cast("double")).alias("y"),
        ).alias("e"),
    )
    fold = lambda expr_field: F.aggregate(
        F.array_sort(F.collect_list("e")),
        F.lit(0.0),
        lambda acc, x: acc + expr_field(x),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        fold(lambda x: x["x"]).alias("sx"),
        fold(lambda x: x["y"]).alias("sy"),
        fold(lambda x: x["x"] * x["x"]).alias("sxx"),
        fold(lambda x: x["x"] * x["y"]).alias("sxy"),
        fold(lambda x: x["y"] * x["y"]).alias("syy"),
        F.sum("cnt").alias("head_cnt"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return agg.crossJoin(F.broadcast(total)).select(
        n.cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
        F.round(
            F.col("head_cnt").cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("head_mass_share"),
    )


register(
    "text_zipf_fit",
    text_zipf_fit,
    f"""
    WITH agg AS (
        SELECT token, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY token
    ),
    tot AS (SELECT SUM(cnt) AS total FROM agg),
    top AS (
        SELECT cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank
        FROM agg
        ORDER BY cnt DESC, token ASC
        LIMIT {ZIPF_TOP_N}
    ),
    pts AS (
        SELECT rank, cnt,
               ln(CAST(rank AS DOUBLE)) AS x,
               ln(CAST(cnt AS DOUBLE)) AS y
        FROM top
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               list_reduce(list(x ORDER BY rank), (a, b) -> a + b) AS sx,
               list_reduce(list(y ORDER BY rank), (a, b) -> a + b) AS sy,
               list_reduce(list(x * x ORDER BY rank), (a, b) -> a + b)
                   AS sxx,
               list_reduce(list(x * y ORDER BY rank), (a, b) -> a + b)
                   AS sxy,
               list_reduce(list(y * y ORDER BY rank), (a, b) -> a + b)
                   AS syy,
               SUM(cnt) AS head_cnt
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
               AS zipf_slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) + 0.0 AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0
               AS r2,
           ROUND(CAST(head_cnt AS DOUBLE) / CAST(total AS DOUBLE), 6)
               AS head_mass_share
    FROM sums CROSS JOIN tot
    """,
)
