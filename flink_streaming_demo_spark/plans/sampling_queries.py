"""Registered queries for the sampling / splitting / packing surface over
``documents`` — the data-mixing half of a training-data pipeline (the
cleaning half lives in text_queries): deterministic train/val/test
splits, per-source caps, sequence packing, mixture statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_demo_spark.functions import text as TX
from flink_streaming_demo_spark.operators import sampling
from flink_streaming_demo_spark.plans.registry import register
from flink_streaming_demo_spark.schemas import load_table as t

# DuckDB twin of sampling.hash_bucket (Spark conv(md5[:8], 16, 10)).
_SQL_BUCKET = (
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    f" % {sampling.HASH_MOD})"
)
_TRAIN_HI = int(0.8 * sampling.HASH_MOD)
_VAL_HI = int(0.9 * sampling.HASH_MOD)


# --- Deterministic train/val/test split --------------------------------------

def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (split, source): document count and token volume, under the
    deterministic md5 split (80/10/10). Scale: the split label is a pure
    Column expression on the scan — no shuffle beyond the final small
    aggregation; adding new data never relabels old rows."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", sampling.hash_split(F.col("doc_id")))
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(TX.token_count(F.col("text")))
            .cast("bigint")
            .alias("total_tokens"),
        )
    )


register(
    "sample_hash_split",
    sample_hash_split,
    f"""
    SELECT
        CASE WHEN {_SQL_BUCKET} < {_TRAIN_HI} THEN 'train'
             WHEN {_SQL_BUCKET} < {_VAL_HI} THEN 'val'
             ELSE 'test' END AS split,
        source,
        COUNT(*) AS n_docs,
        CAST(SUM({TX.sql_token_count('text')}) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY 1, 2
    """,
)


# --- Per-source cap (data mixing) ---------------------------------------------

_CAP_N = 40


def sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At most N docs per source, preferring longer documents
    (n_chars DESC, doc_id tiebreak) — the 'at most N per domain' mixing
    primitive. Returns the survivors with their in-source rank."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    capped = sampling.cap_per_group(
        docs,
        "source",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        _CAP_N,
    )
    return capped.select(
        "doc_id", "source", "n_chars", F.col("rank").cast("int").alias("rank")
    )


register(
    "sample_source_cap",
    sample_source_cap,
    f"""
    SELECT doc_id, source, n_chars, CAST(rank AS INT) AS rank
    FROM (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC
               ) AS rank
        FROM documents
    )
    WHERE rank <= {_CAP_N}
    """,
)


# --- Sequence packing ---------------------------------------------------------

_PACK_CAPACITY = 2048


def sample_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~2048-token context bins per source (offset
    binning over the doc_id-ordered token stream; see
    operators/sampling.pack_greedy). Returns per-bin document count,
    token total, and fill ratio — the packing-efficiency report a
    training-data run emits."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        TX.token_count(F.col("text")).alias("n_tokens"),
    )
    packed = sampling.pack_greedy(
        docs, "n_tokens", _PACK_CAPACITY, part_col="source"
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / F.lit(float(_PACK_CAPACITY)), 6
        ).alias("fill_ratio"),
    )


register(
    "sample_pack_bins",
    sample_pack_bins,
    f"""
    WITH toks AS (
        SELECT doc_id, source,
               {TX.sql_token_count('text')} AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT source, n_tokens,
               CAST(FLOOR(
                   (SUM(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - n_tokens) / {_PACK_CAPACITY}.0
               ) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT source, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / {_PACK_CAPACITY}.0, 6)
               AS fill_ratio
    FROM packed
    GROUP BY source, bin_id
    """,
)


# --- Deterministic stratified sampling ----------------------------------------

_STRAT_FRACTION = 0.2


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~20% deterministic sample WITHIN each source (hash threshold on
    doc_id — same md5 bucket space as the split, different use: a
    per-stratum keep/drop decision that is stable under data growth and
    retries, unlike rand()-based sampleBy). Reports per-source retained
    counts/tokens and the realized fraction; the sample predicate itself
    is a pure scan expression — at 100 TB the filter is map-only."""
    docs = t(spark, sf_dir, "documents")
    keep = sampling.hash_bucket(F.col("doc_id")) < int(
        _STRAT_FRACTION * sampling.HASH_MOD
    )
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(keep.cast("int")).cast("bigint").alias("n_kept"),
        F.sum(
            F.when(keep, TX.token_count(F.col("text"))).otherwise(0)
        ).cast("bigint").alias("kept_tokens"),
    )
    return per_source.select(
        "source",
        "n_total",
        "n_kept",
        "kept_tokens",
        F.round(
            F.col("n_kept").cast("double") / F.col("n_total").cast("double"), 6
        ).alias("realized_fraction"),
    )


register(
    "sample_stratified",
    sample_stratified,
    f"""
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN {_SQL_BUCKET} <
                    {int(_STRAT_FRACTION * sampling.HASH_MOD)}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN {_SQL_BUCKET} <
                    {int(_STRAT_FRACTION * sampling.HASH_MOD)}
                    THEN {TX.sql_token_count('text')} ELSE 0 END)
                AS BIGINT) AS kept_tokens,
           ROUND(CAST(SUM(CASE WHEN {_SQL_BUCKET} <
                    {int(_STRAT_FRACTION * sampling.HASH_MOD)}
                    THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS realized_fraction
    FROM documents
    GROUP BY source
    """,
)


# --- Per-source length quantiles ----------------------------------------------

_QUANTILES = (0.25, 0.5, 0.75, 0.9)


def source_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length quantiles per source — the length-distribution report a
    data recipe is tuned against.

    Uses the EXACT ``percentile`` aggregate (linear interpolation):
    cross-engine hash-comparable, and per-group row counts (corpus/5)
    sort comfortably within a task. A true-100 TB corpus would swap in
    ``percentile_approx`` (a mergeable sketch, per-group memory
    independent of the group's rows), which returns a nearest-rank value
    rather than an interpolated one and so is not hash-comparable."""
    docs = t(spark, sf_dir, "documents")
    pct = F.percentile(
        F.col("n_chars").cast("double"), F.lit(list(_QUANTILES))
    )
    cols = [
        F.round(F.element_at(pct, i + 1).cast("double"), 6).alias(
            f"p{int(q * 100)}_chars"
        )
        for i, q in enumerate(_QUANTILES)
    ]
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), *cols
    )


register(
    "source_length_quantiles",
    source_length_quantiles,
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           {", ".join(
        f"ROUND(quantile_cont(CAST(n_chars AS DOUBLE), {q}), 6)"
        f" AS p{int(q * 100)}_chars"
        for q in _QUANTILES
    )}
    FROM documents
    GROUP BY source
    """,
)


# --- Mixture rebalancing (apply a data recipe) ---------------------------------

_REBAL_BUDGET = 0.6  # target corpus = 60% of available tokens


def sample_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a target mixture: even-index sources get twice the token
    share of odd ones, scaled to a 60%-of-corpus token budget; each
    source keeps ``min(1, target_share * budget / available)`` of its
    docs via the deterministic md5 threshold. This is the recipe-applier
    that turns mixture_stats into an actual resampled corpus — the last
    step of the data-mixing half of the pipeline.

    Scale: two aggregate passes (per-source sums, then the 20-row frac
    table) + ONE broadcast join of that frac table back onto the scan,
    with a map-only keep predicate — no shuffle of the corpus itself.
    The keep decision uses the unrounded fraction: double arithmetic
    with an identical expression tree on both engines, so the same docs
    survive everywhere."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    with_tok = docs.withColumn("n_tok", TX.token_count(F.col("text")))
    per = with_tok.groupBy("source").agg(
        F.sum("n_tok").cast("double").alias("avail")
    )
    w = F.when(
        F.expr("CAST(substring(source, 4) AS INT)") % 2 == 0, F.lit(2.0)
    ).otherwise(F.lit(1.0))
    weighted = per.withColumn("w", w)
    tots = weighted.agg(
        F.sum("w").alias("_sw"), F.sum("avail").alias("_sa")
    )
    fracs = weighted.crossJoin(F.broadcast(tots)).select(
        "source",
        "avail",
        (F.col("w") / F.col("_sw")).alias("target_share"),
        F.least(
            F.lit(1.0),
            (F.col("w") / F.col("_sw"))
            * F.lit(_REBAL_BUDGET)
            * F.col("_sa")
            / F.col("avail"),
        ).alias("keep_frac"),
    )
    kept = (
        with_tok.join(F.broadcast(fracs), "source")
        .filter(
            sampling.hash_bucket(F.col("doc_id"))
            < (F.col("keep_frac") * F.lit(sampling.HASH_MOD)).cast("bigint")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tok").cast("bigint").alias("kept_tokens"),
        )
    )
    out = fracs.join(kept, "source", "left").select(
        "source",
        F.round("target_share", 6).alias("target_share"),
        F.round("keep_frac", 6).alias("keep_frac"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias(
            "kept_tokens"
        ),
    )
    ktot = out.agg(F.sum("kept_tokens").alias("_kt"))
    return (
        out.crossJoin(F.broadcast(ktot))
        .withColumn(
            "realized_share",
            F.round(
                F.col("kept_tokens").cast("double") / F.col("_kt"), 6
            ),
        )
        .drop("_kt")
    )


register(
    "sample_mixture_rebalance",
    sample_mixture_rebalance,
    f"""
    WITH per AS (
        SELECT source,
               CAST(SUM({TX.sql_token_count('text')}) AS DOUBLE) AS avail
        FROM documents GROUP BY source
    ),
    weighted AS (
        SELECT source, avail,
               CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                    THEN 2.0 ELSE 1.0 END AS w
        FROM per
    ),
    fracs AS (
        SELECT source, avail,
               w / SUM(w) OVER () AS target_share,
               LEAST(1.0,
                   (w / SUM(w) OVER ()) * {_REBAL_BUDGET}
                   * SUM(avail) OVER () / avail) AS keep_frac
        FROM weighted
    ),
    kept AS (
        SELECT d.source,
               COUNT(*) AS n_kept,
               CAST(SUM({TX.sql_token_count('d.text')}) AS BIGINT)
                   AS kept_tokens
        FROM documents d JOIN fracs f USING (source)
        WHERE {_SQL_BUCKET.replace('doc_id', 'd.doc_id')}
              < CAST(FLOOR(f.keep_frac * {sampling.HASH_MOD}) AS BIGINT)
        GROUP BY d.source
    )
    SELECT f.source,
           ROUND(f.target_share, 6) AS target_share,
           ROUND(f.keep_frac, 6) AS keep_frac,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.kept_tokens, 0) AS kept_tokens,
           ROUND(CAST(COALESCE(k.kept_tokens, 0) AS DOUBLE)
                 / SUM(COALESCE(k.kept_tokens, 0)) OVER (), 6)
               AS realized_share
    FROM fracs f LEFT JOIN kept k USING (source)
    """,
)


# --- Corpus mixture stats -----------------------------------------------------

def sample_mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token share per (source, lang) — the mixture-weight table a data
    recipe is tuned against. The corpus total comes from a 1-row agg over
    the grouped result (5x5 rows) broadcast back — not a second scan, and
    not a single-partition window."""
    docs = t(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).cast("bigint").alias("tokens"),
    )
    total = per.agg(F.sum("tokens").alias("_tot"))
    return per.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "tokens",
        F.round(
            F.col("tokens").cast("double") / F.col("_tot"), 6
        ).alias("token_share"),
    )


register(
    "sample_mixture_stats",
    sample_mixture_stats,
    f"""
    WITH per AS (
        SELECT source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM({TX.sql_token_count('text')}) AS BIGINT) AS tokens
        FROM documents
        GROUP BY source, lang
    )
    SELECT source, lang, n_docs, tokens,
           ROUND(CAST(tokens AS DOUBLE) / SUM(tokens) OVER (), 6)
               AS token_share
    FROM per
    """,
)


# --- Temperature-scaled mixture weights --------------------------------------

_MIX_TEMPERATURE = 0.5


def sample_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling weights (the multilingual /
    multi-source pre-training recipe: q_i ∝ p_i^α with α=0.5): per
    source, the natural token share, the flattened target share, and the
    keep fraction that realizes the target at the SAME total token
    budget (min(1, q_i/p_i) — upsampling beyond 1.0 is clamped, the
    usual no-repeat policy; feeding these into
    sample_mixture_rebalance's hash threshold applies the recipe
    map-only). The whole computation is one groupBy(source) plus two
    1-row broadcast aggregates over the 20-row result — corpus-scale
    work is only the token-count scan, and no single-partition window
    appears anywhere."""
    docs = t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(TX.token_count(F.col("text"))).cast("bigint").alias("tokens")
    )
    tot = per.agg(F.sum("tokens").cast("double").alias("_tot"))
    shared = per.crossJoin(F.broadcast(tot)).withColumn(
        "_p", F.col("tokens").cast("double") / F.col("_tot")
    )
    z = shared.agg(
        F.sum(F.pow(F.col("_p"), F.lit(_MIX_TEMPERATURE))).alias("_z")
    )
    p = F.col("_p")
    q = F.pow(p, F.lit(_MIX_TEMPERATURE)) / F.col("_z")
    return shared.crossJoin(F.broadcast(z)).select(
        "source",
        "tokens",
        F.round(p, 6).alias("natural_share"),
        F.round(q, 6).alias("temp_share"),
        F.round(F.least(F.lit(1.0), q / p), 6).alias("keep_frac"),
    )


register(
    "sample_temperature_weights",
    sample_temperature_weights,
    f"""
    WITH per AS (
        SELECT source,
               CAST(SUM({TX.sql_token_count('text')}) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    probs AS (
        SELECT source, tokens,
               CAST(tokens AS DOUBLE) / SUM(tokens) OVER () AS p
        FROM per
    ),
    shares AS (
        SELECT source, tokens, p,
               POW(p, {_MIX_TEMPERATURE})
                   / SUM(POW(p, {_MIX_TEMPERATURE})) OVER () AS q
        FROM probs
    )
    SELECT source, tokens,
           ROUND(p, 6) AS natural_share,
           ROUND(q, 6) AS temp_share,
           ROUND(LEAST(1.0, q / p), 6) AS keep_frac
    FROM shares
    """,
)


# --- Deterministic weighted sampling (length-weighted top-k per source) -------

_WTOPK_K = 5
_WTOPK_SALTS = 16


def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement: per source,
    the ``_WTOPK_K`` documents with the smallest ``bucket(doc_id) /
    n_chars`` key. Longer documents get proportionally smaller keys, so
    selection probability rises with length — the classic
    length-weighted draw of a pre-training mixture — while staying
    engine- and retry-stable (md5 bucket, never ``rand()``; a single
    IEEE double division is correctly rounded and therefore
    bit-identical in Spark and DuckDB).

    100 TB shape: two-level top-N (the sample_source_cap plan): a local
    row_number within (source, bucket%16) keeps at most K rows per salt
    — map-heavy, tiny shuffle — then the global per-source window ranks
    only K*16 rows per source. No whole-source single-reducer sort.
    """
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    keyed = docs.select(
        "source",
        "doc_id",
        "n_chars",
        sampling.hash_bucket(F.col("doc_id")).alias("bucket"),
    ).withColumn(
        "sample_key",
        F.col("bucket").cast("double") / F.col("n_chars").cast("double"),
    )
    local = Window.partitionBy(
        "source", F.pmod(F.col("bucket"), F.lit(_WTOPK_SALTS))
    ).orderBy("sample_key", "doc_id")
    survivors = (
        keyed.withColumn("local_rank", F.row_number().over(local))
        .filter(F.col("local_rank") <= _WTOPK_K)
        .drop("local_rank", "bucket")
    )
    final = Window.partitionBy("source").orderBy("sample_key", "doc_id")
    return (
        survivors.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= _WTOPK_K)
        .select(
            "source",
            "rank",
            "doc_id",
            "n_chars",
            F.round("sample_key", 6).alias("sample_key"),
        )
    )


register(
    "sample_weighted_topk",
    sample_weighted_topk,
    f"""
    WITH keyed AS (
        SELECT
            source,
            doc_id,
            n_chars,
            CAST({_SQL_BUCKET} AS DOUBLE) / CAST(n_chars AS DOUBLE)
                AS sample_key
        FROM documents
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY sample_key, doc_id
        ) AS rank
        FROM keyed
    )
    SELECT source, rank, doc_id, n_chars,
           ROUND(sample_key, 6) AS sample_key
    FROM ranked WHERE rank <= {_WTOPK_K}
    """,
)


# --- Tokenizer-aware packing (BPE subword budget) ----------------------------

def sample_pack_subwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing under the REAL token budget: documents are
    sized by the trained BPE tokenizer's subword counts (train + apply,
    operators/bpe) instead of whitespace words, then offset-binned into
    ~2048-subword bins per source — what a production packer actually
    optimizes, since the model's context is measured in tokenizer
    tokens. The oracle replays training, segmentation, and the packing
    window end-to-end."""
    from flink_streaming_demo_spark.operators import bpe as BPE

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    merges = BPE.bpe_train_merges(docs.select("text"))
    seg = BPE.bpe_segment(docs, merges).select("doc_id", "n_subwords")
    # Cut the lineage at the 3-column sized frame: pack_greedy references
    # its input from both sides of the cumsum decomposition, so without
    # this the whole BPE train+segment subtree is re-embedded per
    # reference (179 plan nodes flagged by the tightened r12 audit —
    # and at scale, the tokenizer pass re-RUN per reference).
    sized = docs.select("doc_id", "source").join(
        seg, "doc_id"
    ).localCheckpoint(eager=False)
    packed = sampling.pack_greedy(
        sized, "n_subwords", _PACK_CAPACITY, part_col="source"
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_subwords").cast("bigint").alias("bin_subwords"),
        F.round(
            F.sum("n_subwords").cast("double")
            / F.lit(float(_PACK_CAPACITY)),
            6,
        ).alias("fill_ratio"),
    )


def _pack_subwords_oracle() -> str:
    from flink_streaming_demo_spark.operators import bpe as BPE

    return f"""
    WITH {BPE.sql_bpe_ctes()},
    seg AS ({BPE.sql_bpe_segment()}),
    sized AS (
        SELECT d.doc_id, d.source, s.n_subwords
        FROM documents d JOIN seg s USING (doc_id)
    ),
    packed AS (
        SELECT source, n_subwords,
               CAST(FLOOR(
                   (SUM(n_subwords) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - n_subwords) / {_PACK_CAPACITY}.0
               ) AS BIGINT) AS bin_id
        FROM sized
    )
    SELECT source, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_subwords) AS BIGINT) AS bin_subwords,
           ROUND(CAST(SUM(n_subwords) AS DOUBLE) / {_PACK_CAPACITY}.0, 6)
               AS fill_ratio
    FROM packed
    GROUP BY source, bin_id
    """


register("sample_pack_subwords", sample_pack_subwords,
         _pack_subwords_oracle())


# --- Token-budget epoch allocation (capped water-filling) ---------------------

# Budget = 1.5x the corpus tokens; per-source epochs capped at 1.55. With
# temperature-alpha=0.5 weights (w ~ sqrt(avail)), small sources ask for
# the most epochs and hit the cap first, so both water-filling regimes
# are exercised at every SF with any source-size spread.
_TB_BUDGET = 1.5
_TB_CAP = 1.55


def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch allocation under a global token budget — the data-recipe
    question "given budget B tokens and temperature-weighted source
    priorities, how many epochs of each source do we train on, with no
    source repeated more than CAP times?" Solved EXACTLY (not by
    iteration) as capped water-filling: allocate alloc_i = min(lam *
    w_i, CAP * avail_i) where the water level lam makes the total hit
    B. The unique lam has a closed form over sources sorted by their
    capping threshold t_i = CAP * avail_i / w_i: with prefix sums CW/CA
    over that order, lam = (B - CA_k)/(W - CW_k) at the LARGEST k whose
    own t_k stays <= that level (validated against a bisection brute
    force over 2000 random instances in tests).

    Determinism discipline: every ORDER-INDEPENDENT sum (W, A, B) is a
    sum of integer-valued doubles (w is floor(sqrt(avail) * 1e6), avail
    is a token count), exact in IEEE double regardless of partial-agg
    order; the only inexact sums (CA) are ORDERED cumulative window
    sums, which both engines evaluate left-to-right over the identical
    (t, source) order. Scale: the whole computation after the one
    per-source aggregate runs on a #sources-row control table (the
    single-partition window is bounded by the source count, not the
    data)."""
    docs = t(spark, sf_dir, "documents").select("source", "text")
    per = docs.groupBy("source").agg(
        F.sum(TX.token_count(F.col("text"))).cast("double").alias("avail")
    )
    wt = per.withColumn(
        "w", F.floor(F.sqrt(F.col("avail")) * 1e6).cast("double")
    )
    tots = wt.agg(
        F.sum("w").alias("_W"), F.sum("avail").alias("_A")
    )
    cand = (
        wt.crossJoin(F.broadcast(tots))
        .withColumn("B", F.floor(F.lit(_TB_BUDGET) * F.col("_A")).cast("double"))
        .withColumn("t", F.lit(_TB_CAP) * F.col("avail") / F.col("w"))
    )
    from pyspark.sql import Window

    win = Window.orderBy("t", "source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cand = (
        cand.withColumn("CW", F.sum("w").over(win))
        .withColumn(
            "CA", F.sum(F.lit(_TB_CAP) * F.col("avail")).over(win)
        )
        .withColumn(
            # -1.0 encodes "every source capped" (only possible on the
            # last row, where the pool is empty); any valid water level
            # is > 0, so the sentinel can't collide.
            "lam",
            F.when(
                F.col("CW") < F.col("_W"),
                (F.col("B") - F.col("CA")) / (F.col("_W") - F.col("CW")),
            ).otherwise(F.lit(-1.0)),
        )
        .withColumn(
            "ok",
            F.when(
                F.col("CW") < F.col("_W"), F.col("t") <= F.col("lam")
            ).otherwise(F.col("B") >= F.col("CA")),
        )
    )
    sel = cand.filter(F.col("ok")).agg(
        F.count(F.lit(1)).alias("n_ok"),
        F.max_by(F.col("lam"), F.col("CW")).alias("lam_sel"),
    )
    out = wt.crossJoin(F.broadcast(tots)).crossJoin(F.broadcast(sel))
    B = F.floor(F.lit(_TB_BUDGET) * F.col("_A")).cast("double")
    lam_star = F.when(F.col("n_ok") == 0, B / F.col("_W")).otherwise(
        F.col("lam_sel")
    )
    raw = lam_star * F.col("w") / F.col("avail")
    epochs = F.when(
        (F.col("n_ok") > 0) & (F.col("lam_sel") == -1.0), F.lit(_TB_CAP)
    ).otherwise(F.least(F.lit(_TB_CAP), raw))
    return out.select(
        "source",
        F.col("avail").cast("bigint").alias("avail_tokens"),
        F.round(epochs, 6).alias("epochs"),
        F.round(epochs * F.col("avail"), 2).alias("alloc_tokens"),
        F.when(
            ((F.col("n_ok") > 0) & (F.col("lam_sel") == -1.0))
            | (raw >= F.lit(_TB_CAP)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("capped"),
    )


def _token_budget_oracle() -> str:
    return f"""
    WITH per AS (
        SELECT source,
               CAST(SUM({TX.sql_token_count('text')}) AS DOUBLE) AS avail
        FROM documents GROUP BY source
    ),
    wt AS (
        SELECT source, avail,
               CAST(FLOOR(SQRT(avail) * 1e6) AS DOUBLE) AS w
        FROM per
    ),
    tots AS (SELECT SUM(w) AS tw, SUM(avail) AS ta FROM wt),
    cand AS (
        SELECT source, avail, w,
               FLOOR({_TB_BUDGET} * t.ta) AS B, t.tw AS tw,
               {_TB_CAP} * avail / w AS tt,
               SUM(w) OVER win AS cw,
               SUM({_TB_CAP} * avail) OVER win AS ca
        FROM wt, tots t
        WINDOW win AS (ORDER BY {_TB_CAP} * avail / w, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    cand2 AS (
        SELECT *,
               CASE WHEN cw < tw THEN (B - ca) / (tw - cw)
                    ELSE -1.0 END AS lam,
               CASE WHEN cw < tw
                    THEN tt <= (B - ca) / (tw - cw)
                    ELSE B >= ca END AS ok
        FROM cand
    ),
    sel AS (
        SELECT COUNT(*) AS n_ok, arg_max(lam, cw) AS lam_sel
        FROM cand2 WHERE ok
    )
    SELECT source,
           CAST(avail AS BIGINT) AS avail_tokens,
           ROUND(CASE WHEN n_ok > 0 AND lam_sel = -1.0 THEN {_TB_CAP}
                      ELSE LEAST({_TB_CAP},
                          (CASE WHEN n_ok = 0
                                THEN FLOOR({_TB_BUDGET} * tots.ta) / tots.tw
                                ELSE lam_sel END) * w / avail)
                 END, 6) AS epochs,
           ROUND((CASE WHEN n_ok > 0 AND lam_sel = -1.0 THEN {_TB_CAP}
                       ELSE LEAST({_TB_CAP},
                           (CASE WHEN n_ok = 0
                                 THEN FLOOR({_TB_BUDGET} * tots.ta) / tots.tw
                                 ELSE lam_sel END) * w / avail)
                  END) * avail, 2) AS alloc_tokens,
           CASE WHEN (n_ok > 0 AND lam_sel = -1.0)
                     OR (CASE WHEN n_ok = 0
                              THEN FLOOR({_TB_BUDGET} * tots.ta) / tots.tw
                              ELSE lam_sel END) * w / avail >= {_TB_CAP}
                THEN 1 ELSE 0 END AS capped
    FROM wt, tots, sel
    """


register("sample_token_budget", sample_token_budget,
         _token_budget_oracle())


# --- Weighted reservoir sample (Efraimidis–Spirakis A-ES) ---------------------

_RES_K = 5


def sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k=5 docs per source with
    inclusion probability proportional to token count — the
    Efraimidis–Spirakis exponential race (A-ES): each doc draws a
    deterministic uniform u from its id hash and races with key
    -ln(u)/weight; the k smallest keys per source ARE a weighted
    k-sample. One pass, no global sort: a per-source window top-k
    (Spark's WindowGroupLimit pushes the rank filter into the sort),
    mergeable across partitions by keeping each partition's k smallest
    — the same keep-the-smallest algebra as the KMV sketch, so the
    operator composes with per-day partial reservoirs at 100 TB.
    u is (bucket + 0.5)/1e6 — the +0.5 keeps u in (0,1) so ln is
    finite; ln parity across engines is already load-bearing for the
    HLL linear-counting branch (operators/scale.py)."""
    docs = t(spark, sf_dir, "documents").select("source", "doc_id", "text")
    sized = docs.select(
        "source",
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tok"),
    )
    u = (
        sampling.hash_bucket(F.col("doc_id")).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(sampling.HASH_MOD))
    keyed = sized.withColumn(
        "race_key", -F.log(u) / F.col("n_tok").cast("double")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.asc("race_key"), "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _RES_K)
        .select(
            "source",
            "rank",
            "doc_id",
            "n_tok",
            F.round("race_key", 6).alias("race_key"),
        )
    )


register(
    "sample_reservoir_weighted",
    sample_reservoir_weighted,
    f"""
    WITH keyed AS (
        SELECT source, doc_id,
               {TX.sql_token_count('text')} AS n_tok,
               -ln(({_SQL_BUCKET} + 0.5) / {float(sampling.HASH_MOD)!r})
                   / CAST({TX.sql_token_count('text')} AS DOUBLE) AS race_key
        FROM documents
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY race_key ASC, doc_id ASC
        ) AS rank
        FROM keyed
    )
    SELECT source, rank, doc_id, n_tok, ROUND(race_key, 6) AS race_key
    FROM ranked WHERE rank <= {_RES_K}
    """,
)


# --- Stable global ids (exact distributed row numbering) ----------------------

def doc_stable_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous stable ids 1..N over the corpus in (n_chars DESC,
    doc_id) order — the "assign every record a global position" pass a
    100 TB pipeline needs for resumable serving manifests and
    fixed-width shard files. The naive ROW_NUMBER() OVER (ORDER BY ...)
    is a single-reducer global sort; this uses
    ``sampling.exact_global_rank`` (value-range chunking + parallel
    per-chunk windows + a broadcast prefix table), so every task ranks
    its own chunk and the only coordination is one 1-row bounds agg
    plus a <=16-row size table. Ids depend only on the total order —
    not on partitioning, sampling, or retries — so a re-run reproduces
    them bit-for-bit."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return sampling.exact_global_rank(
        docs, "n_chars", "doc_id", desc=True, out_col="stable_id"
    ).select("stable_id", "doc_id", "source", "n_chars")


register(
    "doc_stable_ids",
    doc_stable_ids,
    """
    SELECT ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC)
               AS stable_id,
           doc_id, source, n_chars
    FROM documents
    """,
)


# --- Deterministic epoch shuffle + shard assignment ---------------------------

_N_EPOCHS = 2
_N_SHARDS = 8


def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-epoch global shuffle into fixed shard files — the
    training-data serving order: shuffle_key = md5(epoch || ':' ||
    doc_id) gives every doc a fresh pseudorandom position each epoch,
    shard = first-8-hex(key) % n_shards, and pos is the doc's offset
    within its shard under key order. Everything derives from (epoch,
    doc_id): any worker, any retry, any engine reproduces the same
    serving order — the reproducibility property 'ORDER BY rand()'
    destroys. Scale shape: the key/shard columns are pure map-side
    expressions; the only shuffle is one hash partition by (epoch,
    shard) with a WITHIN-shard sort (each shard sorts independently in
    parallel — no global sort), which is exactly the layout the shard
    writer wants. Serving materializes ONE epoch at a time (the epoch
    literal below fans out two to hash-pin that epochs genuinely
    permute differently)."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    epochs = docs.withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.lit(_N_EPOCHS - 1)))
    )
    keyed = epochs.withColumn(
        "shuffle_key",
        F.md5(
            F.concat_ws(
                ":",
                F.col("epoch").cast("string"),
                F.col("doc_id").cast("string"),
            )
        ),
    ).withColumn(
        "shard",
        (
            F.conv(F.substring("shuffle_key", 1, 8), 16, 10).cast("long")
            % F.lit(_N_SHARDS)
        ).cast("int"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("epoch", "shard").orderBy(
        "shuffle_key", "doc_id"
    )
    return keyed.withColumn("pos", F.row_number().over(w)).select(
        "epoch", "shard", "pos", "doc_id", "shuffle_key"
    )


register(
    "sample_epoch_shuffle",
    sample_epoch_shuffle,
    f"""
    WITH fanout AS (
        SELECT d.doc_id, e.epoch,
               md5(CAST(e.epoch AS VARCHAR) || ':'
                   || CAST(d.doc_id AS VARCHAR)) AS shuffle_key
        FROM documents d
        CROSS JOIN (SELECT UNNEST(generate_series(0, {_N_EPOCHS - 1}))
                        AS epoch) e
    ),
    sharded AS (
        SELECT *,
               CAST(CAST(('0x' || substr(shuffle_key, 1, 8)) AS BIGINT)
                    % {_N_SHARDS} AS INTEGER) AS shard
        FROM fanout
    )
    SELECT epoch, shard,
           ROW_NUMBER() OVER (
               PARTITION BY epoch, shard
               ORDER BY shuffle_key ASC, doc_id ASC
           ) AS pos,
           doc_id, shuffle_key
    FROM sharded
    """,
)


# --- Weighted deterministic source interleaving --------------------------------

def sample_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional round-robin interleaving of sources into one
    global serving order — the mixture SCHEDULER (vs the mixture
    ALLOCATOR sample_mixture_rebalance): source s with weight w gets
    every (k - 0.5)/w slot, so a window of the output stream contains
    sources in weight proportion (smooth mixing, not block-by-block).
    Per-source positions come from a parallel partitioned window in
    deterministic hash order; the global position is
    ``sampling.exact_global_rank`` over the interleave key — no
    single-reducer sort anywhere. Weights are a deterministic function
    of the source name here (1..4 via md5); swap in a mixture table at
    will. (k - 0.5) is exact in double and the single division rounds
    identically on any IEEE engine, so the order — and the hash — is
    engine-portable."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    from pyspark.sql import Window

    w_src = (sampling.hash_bucket(F.col("source")) % 4 + 1).cast("int")
    win = Window.partitionBy("source").orderBy(
        sampling.hash_bucket(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    keyed = (
        docs.withColumn("weight", w_src)
        .withColumn("src_pos", F.row_number().over(win))
        .withColumn(
            "ikey",
            (F.col("src_pos").cast("double") - F.lit(0.5))
            / F.col("weight").cast("double"),
        )
    )
    return (
        sampling.exact_global_rank(
            keyed, "ikey", "doc_id", out_col="global_pos"
        )
        .select(
            "global_pos",
            "doc_id",
            "source",
            "src_pos",
            "weight",
            F.round("ikey", 6).alias("interleave_key"),
        )
    )


_SQL_SRC_BUCKET = (
    "(CAST(('0x' || substr(md5(source), 1, 8)) AS BIGINT)"
    f" % {sampling.HASH_MOD})"
)

register(
    "sample_interleave_sources",
    sample_interleave_sources,
    f"""
    WITH keyed AS (
        SELECT doc_id, source,
               CAST({_SQL_SRC_BUCKET} % 4 + 1 AS INTEGER) AS weight,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {_SQL_BUCKET} ASC, doc_id ASC
               ) AS src_pos
        FROM documents
    ),
    ik AS (
        SELECT *,
               (CAST(src_pos AS DOUBLE) - 0.5) / CAST(weight AS DOUBLE)
                   AS ikey
        FROM keyed
    )
    SELECT ROW_NUMBER() OVER (ORDER BY ikey ASC, doc_id ASC)
               AS global_pos,
           doc_id, source, src_pos, weight, ROUND(ikey, 6) AS interleave_key
    FROM ik
    """,
)


# --- Curriculum ordering (easy -> hard tiles, shuffled within tile) ------------

def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum serving order: docs grade easy→hard by length
    quartile (the classic short-first curriculum proxy), and WITHIN a
    quartile the order is a seeded md5 shuffle — graded difficulty
    without intra-tile length bias. Two chunked-rank machines stacked:
    exact_global_ntile grades the quartile, exact_global_rank turns
    (tile + shuffle fraction) into the global position — no
    single-reducer sort anywhere, same as doc_stable_ids. The combined
    order key tile + bucket/1e6 is exact-in-double (tile <= 4, fraction
    < 1) and computed identically in the oracle."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tiled = sampling.exact_global_ntile(
        docs, 4, "n_chars", "doc_id", out_col="tile"
    )
    # localCheckpoint between the two stacked rank machines — the
    # events_user_rfm r11 precedent: each machine references its input
    # three times (chunk/local-rank/sizes), so stacking without a cut
    # re-derives the ntile subtree per reference (295 plan nodes / 36
    # parquet scans flagged by the tightened r12 audit; now the rank
    # machine starts from a materialized 3-column leaf).
    keyed = tiled.withColumn(
        "ckey",
        F.col("tile").cast("double")
        + sampling.hash_bucket(F.col("doc_id")).cast("double")
        / F.lit(1e6),
    ).localCheckpoint(eager=False)
    return sampling.exact_global_rank(
        keyed, "ckey", "doc_id", out_col="curriculum_pos"
    ).select("curriculum_pos", "doc_id", "tile", "n_chars")


register(
    "sample_curriculum_order",
    sample_curriculum_order,
    f"""
    WITH tiled AS (
        SELECT doc_id, n_chars,
               CAST(NTILE(4) OVER (ORDER BY n_chars ASC, doc_id ASC)
                    AS INT) AS tile
        FROM documents
    ),
    keyed AS (
        SELECT *,
               CAST(tile AS DOUBLE) + {_SQL_BUCKET} / 1000000.0 AS ckey
        FROM tiled
    )
    SELECT ROW_NUMBER() OVER (ORDER BY ckey ASC, doc_id ASC)
               AS curriculum_pos,
           doc_id, tile, n_chars
    FROM keyed
    """,
)
