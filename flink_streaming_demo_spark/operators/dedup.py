"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
n-gram Jaccard, SimHash.

Not in the reference (it has no dedup surface); required by the north-star
brief. Design per operator:

* **exact** — md5 content hash + groupBy. One shuffle on the hash; at 100 TB
  the hash distributes uniformly, no skew. Keep-policy = min(doc_id).
* **minhash_lsh** — per-document signatures are computed with *array
  expressions only* (nested transform/array_min lambdas): zero shuffles,
  zero Python, fully vectorizable. The only shuffle is the LSH band-bucket
  self-join on the (small) banded projection — the classic
  shingle→minhash→band→bucket-join plan. Signature width 16, 8 bands x 2
  rows (see the s-curve note at N_BANDS below): pairs with Jaccard >= ~0.5
  collide in some band with high probability.
* **ngram_jaccard** — exact verification: candidate pairs from a shared
  distinct-shingle equi-join (never a cross join), then
  ``|A∩B| / (|A|+|B|-|A∩B|)``. Shingles above a document-frequency cap
  ("stop shingles") are excluded from both candidate generation and the
  similarity measure, bounding the self-join fan-out per shingle. At scale
  this runs AFTER LSH pruning.
* **simhash** — see functions/text.simhash16; near-dup = small Hamming
  distance between 16-bit strings.

All hashes are md5-based so the DuckDB oracle reproduces results exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_streaming_demo_spark.functions.text import tokens

# 16 hashes as 8 bands x 2 rows: the LSH s-curve midpoint is
# (1/b)^(1/r) = (1/8)^(1/2) ~ 0.35, so jaccard >= 0.5 pairs collide in some
# band with prob >= 1-(1-0.25)^8 ~ 0.9 and near-identical pairs ~ always;
# the est_jaccard >= threshold filter then removes low-sim candidates.
N_HASHES = 16
N_BANDS = 8
ROWS_PER_BAND = 2
SHINGLE_N = 3


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimated scan task count for ``df``: optimizer ``sizeInBytes``
    over ``spark.sql.files.maxPartitionBytes`` (ceil, floor 1). Used by
    the local-mode parallelism guards instead of
    ``df.rdd.getNumPartitions()``, which runs full physical planning +
    RDD DAG conversion (~0.7 s of driver time per call on the bench box)
    just to read a count. The guards only need the *order of magnitude*
    ("would this scan have far fewer splits than cores?"), which the
    already-computed optimizer statistic answers in one py4j call.

    Any failure (a byte-size suffix this parser does not know, a plan
    without stats) falls back to ``df.rdd.getNumPartitions()`` — the
    slow-but-exact count this estimate replaces (r16 ADVICE): the guard
    must degrade to correct-but-slower, never raise."""
    try:
        spark = df.sparkSession
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        raw = str(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        ).strip().lower()
        units = {
            "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
            "t": 1 << 40, "p": 1 << 50,
        }
        if raw.endswith("b"):
            raw = raw[:-1]
        mult = units.get(raw[-1:], 1)
        digits = raw[:-1] if raw[-1:] in units else raw
        max_split = max(1, int(digits) * mult)
        return max(1, -(-size // max_split))
    except Exception:
        return df.rdd.getNumPartitions()


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (text_hash, keep_id, n_copies); keep_id is the
    minimum id — the canonical survivor."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Return df with only the canonical row per exact text (min id wins).

    One pass (r15, guide §2.4): rank rows within each text-hash group by
    id and keep rank 1 — a single exchange on the hash. The previous
    groupBy + left-semi-join-back shape computed ``df`` twice (the
    grouped pass and the join probe side) and paid two exchanges; for a
    derived corpus (quality filter, planted legs) the doubled subtree
    was the dominant cost. Selection is identical: ids are unique, so
    row_number ordered by id picks exactly the min-id row per hash."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles(text: Column, n: int = SHINGLE_N) -> Column:
    """Distinct n-gram word shingles as an array column (pure expression).

    Texts with fewer than n tokens yield an empty array. The guard matters:
    ``sequence(1, size-n+1)`` with size < n produces a DESCENDING sequence
    (e.g. [1, 0]) in Spark, and ``slice(toks, 0, n)`` then throws at
    runtime — while the DuckDB twin's generate_series(1, 0) is empty.
    """
    toks = tokens(text)
    starts = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = SHINGLE_N,
    min_tokens: int = SHINGLE_N,
) -> DataFrame:
    """(id, shingle) rows: per-document DISTINCT word n-gram shingles —
    value-identical (tested) to

        df.filter(size(tokens) >= min_tokens)
          .select(id, explode(shingles(text, n)))

    but produced by one Arrow-batched Python pass. Catalyst evaluates
    the transform/slice/concat_ws lambda chain of ``shingles``
    interpreted (no codegen inside lambda scopes), which made shingle
    generation the dominant cost of every shingle-join query (~2.7 s of
    decon_source_overlap's 4.3 s at sf0.1); plain Python string slicing
    over Arrow batches is ~10x faster with the same map-only,
    zero-shuffle shape. Emission order within a doc is first-occurrence
    (like array_distinct), though every consumer aggregates or joins,
    so only the multiset matters."""
    import pandas as pd

    from flink_streaming_demo_spark.functions.text import py_token_grams

    gate = max(min_tokens, n)

    def gen(batches):
        for pdf in batches:
            ids: list = []
            grams: list = []
            for key, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or text.count(" ") + 1 < gate:
                    continue
                seen = dict.fromkeys(py_token_grams(text, n))
                if not seen:
                    continue
                ids.extend([key] * len(seen))
                grams.extend(seen)
            yield pd.DataFrame({id_col: ids, "shingle": grams})

    id_type = dict(df.dtypes)[id_col]
    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, schema=f"{id_col} {id_type}, shingle string"
    )


# Universal-hash family for minhash: one md5 per shingle (the expensive
# step), then n_hashes cheap integer functions h_j(x) = (a_j*x + b_j) mod P
# over the digest. P = 2^31-1 (Mersenne prime). The (a_j, b_j) pairs are
# md5-derived so the 16 permutations are mutually independent (a_j = j*A
# style linear families are degenerate: h_j(x) = j*(Ax+B) shares one
# argmin across ALL components). The pairs are embedded as integer
# LITERALS in both the Spark expression and the SQL twin, so any engine
# with 64-bit ints reproduces the signature bit-for-bit; x < 2^31 and
# a_j < 2^31 keep a_j*x < 2^62 — no overflow.
MINHASH_P = (1 << 31) - 1


def _minhash_coeff(tag: str, j: int) -> int:
    import hashlib

    h = hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:8]
    return int(h, 16) % MINHASH_P


MINHASH_AS = [(_minhash_coeff("a", j) | 1) for j in range(N_HASHES)]
MINHASH_BS = [_minhash_coeff("b", j) for j in range(N_HASHES)]


def shingle_hashes(shingle_arr: Column) -> Column:
    """array<bigint>: md5-derived 31-bit int per shingle (first 8 hex chars
    mod P) — the single expensive hashing pass."""
    return F.transform(
        shingle_arr,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_P),
    )


def minhash_signatures_agg(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = SHINGLE_N,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """(id, sig array<bigint>) per document via explode + codegen'd MIN
    aggregates — identical values to minhash_signature (same hash family;
    min over the shingle multiset equals min over the distinct set), but
    the per-shingle work runs in whole-stage codegen instead of
    interpreted array lambdas, and partial MIN aggregation happens
    map-side before the id shuffle."""
    # Expression subtrees are built as SQL strings -> ONE py4j call each
    # (F.expr); building them Column-op-by-Column-op cost ~170 gateway
    # round-trips (~0.3 s of pure Python per bench run) for identical plans.
    #
    # Shingles come from ONE codegen'd regex pass (overlapping matches via
    # a token-start-anchored lookahead) instead of the interpreted
    # transform/slice/concat_ws lambda chain — 3.6x faster at sf0.1,
    # identical min-hash values (the regex yields the shingle MULTISET;
    # MIN over the multiset equals MIN over the distinct set). Assumes
    # single-space-joined tokens, same as tokens()/sql_shingles.
    shingle_pat = (
        r"(?:^|(?<= ))(?=("
        + " ".join(["[^ ]+"] * SHINGLE_N)
        + "))"
    )
    sh = (
        df.select(F.col(id_col), F.col(text_col))
        .filter(F.size(tokens(F.col(text_col))) >= min_tokens)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"regexp_extract_all({text_col}, '{shingle_pat}', 1)"
                )
            ).alias("_shingle"),
        )
    )
    hashed = sh.select(
        F.col(id_col),
        F.expr(
            "CAST(conv(substring(md5(_shingle), 1, 8), 16, 10) AS BIGINT)"
            f" % {MINHASH_P}"
        ).alias("_x"),
    )
    mins = [
        F.expr(
            f"min(({MINHASH_AS[j]}L * _x + {MINHASH_BS[j]}L) % {MINHASH_P})"
            f" AS _m{j}"
        )
        for j in range(n_hashes)
    ]
    agg = hashed.groupBy(id_col).agg(*mins)
    sig = "array(" + ", ".join(f"_m{j}" for j in range(n_hashes)) + ")"
    return agg.select(F.col(id_col), F.expr(sig).alias("sig"))


def minhash_signature(shingle_arr: Column, n_hashes: int = N_HASHES) -> Column:
    """MinHash signature as array<bigint>: component j is
    min over shingles of ((a_j * md5int(s) + b_j) mod P).

    Pure array expressions — no shuffle, no UDF. The md5 pass runs ONCE per
    shingle (via shingle_hashes); the j-indexed family is integer-only, so
    widening the signature costs almost nothing. (The naive alternative —
    md5(j:shingle) per component — does n_hashes x the digest work and was
    ~10x slower end-to-end at sf0.1.)
    """
    hashes = shingle_hashes(shingle_arr)
    p = F.lit(MINHASH_P)
    # Single array-literal nodes (one py4j call each), not 16 F.lit's.
    a_arr = F.lit(MINHASH_AS[:n_hashes])
    b_arr = F.lit(MINHASH_BS[:n_hashes])
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda j: F.array_min(
            F.transform(
                hashes,
                lambda x: (
                    F.element_at(a_arr, j + 1).cast("long") * x
                    + F.element_at(b_arr, j + 1).cast("long")
                )
                % p,
            )
        ),
    )


def lsh_band_keys(sig: Column, n_bands: int = N_BANDS,
                  rows_per_band: int = ROWS_PER_BAND) -> Column:
    """Band keys: md5(b || '|' || sig[b*r+1..b*r+r] joined)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.md5(
            F.concat_ws(
                "|",
                b.cast("string"),
                *[
                    F.element_at(
                        sig, b * F.lit(rows_per_band) + F.lit(r + 1)
                    ).cast("string")
                    for r in range(rows_per_band)
                ],
            )
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    min_tokens: int = SHINGLE_N,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b and estimated
    Jaccard (signature agreement fraction) >= threshold.
    """
    # Local-mode guard: a handful of input files would confine the (CPU-
    # heavy) signature stage to that many cores. At cluster scale the input
    # split count exceeds defaultParallelism and this is a no-op.
    # The split count is ESTIMATED from optimizer size statistics (r15):
    # the previous df.rdd.getNumPartitions() ran full physical planning +
    # RDD DAG construction (~0.7 s of driver time per build on the bench
    # box) just to read a partition count; ceil(sizeInBytes /
    # maxPartitionBytes) answers the same "fewer splits than cores?"
    # question from the already-cached optimized plan, with the identical
    # decision on both the small-input case the guard targets and the
    # large-input case where it must stay a no-op.
    target_parallelism = df.sparkSession.sparkContext.defaultParallelism
    if _estimated_scan_partitions(df) < target_parallelism:
        df = df.repartition(target_parallelism)
    sigs = minhash_signatures_agg(df, text_col, id_col, min_tokens)
    banded = sigs.select(
        F.col(id_col),
        F.col("sig"),
        F.explode(lsh_band_keys(F.col("sig"))).alias("band_key"),
    )
    # shuffle_hash (not broadcast): both sides then shuffle on band_key with
    # IDENTICAL plans, and ReuseExchange computes the signature subtree once
    # instead of once per join side.
    a = banded.alias("a").hint("shuffle_hash")
    b = banded.alias("b").hint("shuffle_hash")
    # est_jaccard is computed INLINE on the join output and the pair
    # dedup runs on the narrow (id_a, id_b, est) rows (r15, guide §2.3):
    # the previous shape deduped pairs WITH their signature arrays, which
    # (a) shuffled 2 x N_HASHES bigints per candidate through the
    # distinct exchange (~10x the bytes of the ids) and (b) forced a
    # Sort + SortAggregate pair (array grouping keys are not
    # hash-aggregatable) — now a HashAggregate. est is functionally
    # determined by the pair, so first(est) per (id_a, id_b) is
    # value-identical to dedup-then-compute; the threshold filter runs
    # BEFORE the dedup, so non-qualifying candidates never shuffle.
    est = F.expr(
        "round(CAST(aggregate(zip_with(a.sig, b.sig,"
        " (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) AS DOUBLE)"
        f" / {float(N_HASHES)}, 6)"
    )
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


#: Default document-frequency cap for "stop shingles": a shingle occurring
#: in more than this many documents is excluded from candidate generation
#: AND from the similarity measure (both engines agree). Caps the self-join
#: fan-out at max_shingle_df^2 pairs per shingle — without it one viral
#: shingle produces a quadratic candidate blowup and a straggler reducer.
MAX_SHINGLE_DF = 64


def drop_viral_keys(df: DataFrame, key_col: str, cap: int) -> DataFrame:
    """The viral-key cap all the blocking schemes share: drop rows whose
    ``key_col`` value occurs more than ``cap`` times. Computed as
    groupBy + count (map-side partial aggregation: a viral key
    contributes one partial row per task, never a hot reducer) and
    applied as a broadcast anti-join of the tiny (> cap) list. Boundary
    semantics pinned HERE once: a key with exactly ``cap`` occurrences
    is KEPT."""
    stop = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > cap)
        .select(key_col)
    )
    return df.join(F.broadcast(stop), key_col, "left_anti")


def _shingle_pair_counts(sh: DataFrame, id_col: str) -> DataFrame:
    """Candidate pairs of the (id_col, shingle) frame ``sh`` — every pair
    sharing >= 1 shingle — with their overlap counts: (id_a, id_b,
    n_shared, n_a, n_b), id_a < id_b, n_a / n_b the per-doc shingle
    counts. The candidate body the Jaccard and containment passes share.

    shuffle_hash, not the default sort-merge: both sides are the same
    narrow (id, shingle) frame, and sorting 2x N rows by a long text key
    costs more than building a per-partition hash map of one side (sf0.1:
    full query 7.5 s -> 4.3 s, identical output). The build side stays
    bounded at scale — rows are narrow, partitions are the session's
    tuned shuffle parallelism, and the callers' viral-shingle cap bounds
    any single key's bucket; AQE skew-split also applies to shuffle-hash
    joins."""
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a").hint("shuffle_hash")
    b = sh.alias("b").hint("shuffle_hash")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ca = counts.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")
    )
    cb = counts.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")
    )
    return shared.join(ca, "id_a").join(cb, "id_b")


def _pair_jaccard() -> Column:
    return F.round(
        F.col("n_shared").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
        6,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    min_tokens: int = SHINGLE_N,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 non-stop
    shingle.

    Plan: explode distinct shingles -> drop shingles with document
    frequency > max_shingle_df (stop-shingle filter; bounds the join
    fan-out per shingle, so no hot-shingle skew at scale) -> self-equi-join
    on shingle (candidate generation) -> count shared per pair -> join
    per-doc shingle counts -> Jaccard. The Jaccard denominator uses the
    capped shingle sets too, so similarity is well-defined over the
    non-stop vocabulary and identical in the DuckDB twin. At 100 TB, run
    on LSH survivors only.
    """
    sh_all = shingle_rows(df, id_col, text_col, min_tokens=min_tokens)
    # Stop-shingle filter: document frequency per shingle (shingles are
    # distinct per doc, so count == df), keep df <= cap — see
    # drop_viral_keys. The filtered shingle frame feeds BOTH sides of the
    # pair join plus the per-doc counts, and each reference otherwise
    # re-scans the corpus and re-runs the shingle extraction; the lazy
    # cut makes it one tokenization pass instead of four.
    sh = drop_viral_keys(sh_all, "shingle", max_shingle_df).localCheckpoint(
        eager=False
    )
    return (
        _shingle_pair_counts(sh, id_col)
        .select("id_a", "id_b", _pair_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    min_tokens: int = SHINGLE_N,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram CONTAINMENT for candidate pairs — the asymmetric
    cousin of ngram_jaccard_pairs for the doc-inside-doc case Jaccard
    systematically misses: a quote or chunk fully embedded in a much
    longer document has containment(small in big) ≈ 1 while Jaccard ≈
    |small|/|big| ≈ 0, so a Jaccard-thresholded dedup keeps the
    duplicate. Reported as max-containment n_shared / min(|A|, |B|)
    with the Jaccard alongside — a pair with high containment but low
    Jaccard is precisely the subset-duplicate signature. Same candidate
    body as the Jaccard pass, but the extraction cut sits before the
    stop-shingle cap (the plan read showed 8 extraction re-derivations
    without it); at 100 TB run on LSH survivors."""
    sh_all = shingle_rows(
        df, id_col, text_col, min_tokens=min_tokens
    ).localCheckpoint(eager=False)
    sh = drop_viral_keys(sh_all, "shingle", max_shingle_df)
    containment = F.round(
        F.col("n_shared").cast("double")
        / F.least("n_a", "n_b").cast("double"),
        6,
    )
    return (
        _shingle_pair_counts(sh, id_col)
        .select(
            "id_a",
            "id_b",
            containment.alias("containment"),
            _pair_jaccard().alias("jaccard"),
        )
        .filter(F.col("containment") >= threshold)
    )


# --- ANSI-SQL twins ----------------------------------------------------------

def sql_shingles(text: str, n: int = SHINGLE_N) -> str:
    return f"""
        list_distinct(list_transform(
            generate_series(1, len(string_split({text}, ' ')) - {n - 1}),
            i -> array_to_string(string_split({text}, ' ')[i:i+{n - 1}], ' ')))
    """


def sql_minhash_signature(shingle_expr: str, n_hashes: int = N_HASHES) -> str:
    """DuckDB twin of minhash_signature: same md5-once + universal-hash
    family ((a_j*x + b_j) mod P over the 31-bit digest int). '0x..'-string
    cast reproduces Spark's conv(_, 16, 10)."""
    x = (
        "(CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) "
        f"% {MINHASH_P})"
    )
    a_list = "[" + ", ".join(str(a) for a in MINHASH_AS[:n_hashes]) + "]"
    b_list = "[" + ", ".join(str(b) for b in MINHASH_BS[:n_hashes]) + "]"
    return f"""
        list_transform(generate_series(0, {n_hashes - 1}), j ->
            list_min(list_transform({shingle_expr}, s ->
                (CAST(({a_list})[j + 1] AS BIGINT) * {x}
                 + CAST(({b_list})[j + 1] AS BIGINT))
                % {MINHASH_P})))
    """


def sql_lsh_band_keys(sig: str, n_bands: int = N_BANDS,
                      rows_per_band: int = ROWS_PER_BAND) -> str:
    parts = " || '|' || ".join(
        f"CAST({sig}[b * {rows_per_band} + {r + 1}] AS VARCHAR)"
        for r in range(rows_per_band)
    )
    return f"""
        list_transform(generate_series(0, {n_bands - 1}), b ->
            md5(b::VARCHAR || '|' || {parts}))
    """


# --- SimHash near-dup pairs --------------------------------------------------

SIMHASH_BITS = 16
SIMHASH_BANDS = 2  # 2 bands x 8 bits: hamming <= 1 pairs share a band


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs by simhash Hamming distance, via MULTI-PROBE
    on the full signature: each document emits its signature plus all 16
    one-bit flips as probe keys; a probe hitting another document's exact
    signature IS a pair with hamming <= 1 — candidate set == result set.

    Bit-flips are involutive (a's flip_i == b.sig iff b's flip_i ==
    a.sig), so one-sided probing finds every pair exactly once. Compare
    banded blocking (2x8-bit bands): ~N^2/2^8 candidate pairs shuffled
    then filtered — 3x slower at sf0.1 and quadratic-ish at scale, vs
    O(N x bits) probe rows here. Supports max_hamming <= 1; wider radii
    need combinatorial probes (flip pairs: bits^2/2 probes) or banded
    pigeonhole blocking — noted, not needed for the demo surface.
    """
    if max_hamming > 1:
        raise NotImplementedError(
            "multi-probe covers hamming <= 1; use simhash64_neardup_pairs"
            " (banded pigeonhole, hamming <= 3) for wider radii"
        )
    from flink_streaming_demo_spark.functions.text import simhash16_agg

    # Signatures join as 16-bit INTS (conv from the bit string): integer
    # probes are sig XOR (1<<i) — ~20% faster end-to-end than flipping
    # characters in the string form (smaller shuffle rows, codegen'd
    # bit_count compare), identical pairs (within-session A/B, sf0.1).
    sigs = simhash16_agg(df, text_col, id_col).select(
        F.col(id_col), F.conv("simhash", 2, 10).cast("int").alias("sig")
    )
    flips = ", ".join(f"sig ^ {1 << i}" for i in range(SIMHASH_BITS))
    probes = sigs.select(
        F.col(id_col).alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.explode(F.expr(f"array(sig, {flips})")).alias("probe"),
    )
    other = sigs.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")
    )
    return (
        probes.hint("shuffle_hash")
        .join(
            other.hint("shuffle_hash"),
            (F.col("probe") == F.col("sig_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        # exactly one probe matches per qualifying pair; the (id_a,
        # id_b) aggregate guards only against duplicate input ids.
        # hamming is computed INLINE (functionally determined by the
        # pair) so the dedup shuffles 3 narrow columns instead of the
        # pair + both signatures (r15, guide §2.3).
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(bit_count(sig_a ^ sig_b) AS INT)").alias("hamming"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.first("hamming").alias("hamming"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Resolve an edge list into connected components: returns
    (node, component) for every node appearing in an edge, where
    ``component`` is the minimum node id of its component.

    Alternating large-star / small-star label propagation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014) in pure
    DataFrame ops. Each round is two groupBy+join passes over the current
    edge set; the edge set only shrinks toward the star form
    (node -> component min), and the round count is O(log n) even on path
    graphs — the property naive min-propagation (O(diameter) rounds)
    lacks. This is the operator that turns near-dup PAIRS
    (minhash_lsh_pairs / simhash64_neardup_pairs) into per-cluster
    survivor decisions: A~B and B~C must keep ONE of {A, B, C}, which
    per-pair dropping cannot express.

    Scale: every pass is an equi-join/groupBy on node id (uniform after
    the first round — high-degree nodes collapse onto their min
    immediately); the working set is the pair list, which near-dup
    blocking already bounded far below corpus size. Each round is
    localCheckpoint()ed: iterative loops otherwise stack lineage and
    re-run every prior round per action. Checkpoints are LAZY
    (eager=False, r15): every round's first consumer is ``_checksum`` —
    a full aggregate that materializes EVERY partition of the round in
    one job, checkpointing it as a side effect. The eager form ran a
    separate materialization job per round first (2 jobs/round instead
    of 1 — pure scheduling overhead on the round's critical path).
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.hash("u", "v").cast("long")), F.lit(0)
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def _large_star(cur: DataFrame) -> DataFrame:
        # neighborhoods need both directions
        nbrs = cur.union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # connect every strictly-larger neighbor to the neighborhood min.
        # No distinct here (r15): the output is canonical (u > v) by
        # construction — m <= center < v — and the small-star half that
        # always follows absorbs duplicate edges in its groupBy-min and
        # final distinct, so the extra exchange bought nothing. The
        # joins are shuffle_hash-hinted: both sides are narrow long
        # pairs already exchanged on u, and the default sort-merge
        # added two sorts per round on the loop's critical path.
        return (
            nbrs.hint("shuffle_hash").join(m.hint("shuffle_hash"), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def _small_star(cur: DataFrame) -> DataFrame:
        # cur is canonical (u > v): v ranges over u's smaller neighbors
        m = cur.groupBy("u").agg(F.min("v").alias("m"))
        return (
            cur.hint("shuffle_hash").join(m.hint("shuffle_hash"), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    prev = _checksum(e)
    if prev[0] == 0:
        return e.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )
    for _ in range(max_iterations):
        e_prev = e
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        # Checksum equality is only a cheap prefilter: F.hash is
        # deterministic, so a sum-of-hash collision between two distinct
        # edge sets would be PERSISTENT for that input, not a transient
        # fluke. Confirm the fixpoint exactly — both sides are .distinct()
        # and the checksum already proved equal cardinality, so one-sided
        # set difference suffices; the edge list is near-dup-pair sized,
        # so the extra pass is cheap.
        if cur == prev and e.exceptAll(e_prev).isEmpty():
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds"
        )
    # fixpoint is a union of stars: every edge points at the component
    # min (the groupBy-min is belt and braces against duplicate edges);
    # roots appear only as edge targets, so they label themselves
    stars = e.groupBy("u").agg(F.min("v").alias("component"))
    roots = stars.select("component").distinct()
    return stars.select(F.col("u").alias("node"), "component").union(
        roots.select(F.col("component").alias("node"), "component")
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-document cluster membership from near-dup pairs:
    (id, cluster_id, is_survivor) for EVERY row of ``df``. cluster_id is
    the min id over the transitive closure of ``pairs`` (docs in no pair
    form their own cluster); the survivor is the cluster min — one doc
    kept per transitive cluster, the decision a per-pair anti-join gets
    wrong on chains (A~B, B~C with no A~C pair would keep both A and C
    after dropping only pair-partners of a smaller id)."""
    labels = connected_components(pairs, src, dst).select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_id")
    )
    return (
        df.select(F.col(id_col).cast("long"))
        .join(labels, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_survivor", F.col("cluster_id") == F.col(id_col))
    )


#: Recursive-CTE body for the DuckDB twin of connected_components: min
#: reachable id per node over a symmetric edge list. The caller embeds
#: ``{pairs}`` as a CTE named  `cc_pairs`  (columns id_a, id_b) inside a
#: WITH RECURSIVE and selects from `cc_labels` (id, cluster_id).
SQL_CONNECTED_COMPONENTS = """
    cc_edges AS (
        SELECT id_a AS u, id_b AS v FROM cc_pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM cc_pairs
    ),
    cc_walk AS (
        SELECT u AS id, u AS reach FROM (SELECT DISTINCT u FROM cc_edges)
        UNION
        SELECT w.id, e.v AS reach
        FROM cc_walk w JOIN cc_edges e ON e.u = w.reach
    ),
    cc_labels AS (
        SELECT id, MIN(reach) AS cluster_id FROM cc_walk GROUP BY id
    )
"""


def contamination_overlap(
    train_df: DataFrame,
    eval_df: DataFrame,
    threshold: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = SHINGLE_N,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing >= threshold
    distinct n-gram shingles with ANY document of an eval/benchmark set.
    Returns (id, n_shared) for flagged training docs.

    Distinct from symmetric near-dedup: the relation is asymmetric
    (train x eval), the eval side is SMALL by nature (benchmarks are
    thousands of docs, not billions), and the decision is contaminated/
    clean, not a similarity score. Scale shape: the eval side reduces to
    a distinct-shingle set and BROADCASTS; the train side streams through
    one explode + broadcast semi-join + partial-aggregated count — no
    shuffle of train rows, output <= one row per contaminated doc.
    """
    def _sh(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col(id_col), F.col(text_col))
            .filter(F.size(tokens(F.col(text_col))) >= min_tokens)
            .select(
                F.col(id_col),
                F.explode(shingles(F.col(text_col))).alias("shingle"),
            )
        )

    eval_shingles = _sh(eval_df).select("shingle").distinct()
    return (
        _sh(train_df)
        .join(F.broadcast(eval_shingles), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= threshold)
    )


# --- SimHash64: wider-radius near-dup via banded pigeonhole -------------------

SIMHASH64_BITS = 64
SIMHASH64_BANDS = 4  # 4 bands x 16 bits: hamming <= 3 pairs share a band


def simhash64_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs with Hamming distance <= 3 on a 64-bit simhash,
    via 4x16-bit banded pigeonhole blocking: <= 3 differing bits spread
    over 4 disjoint bands leave at least one band IDENTICAL, so every
    qualifying pair shares an exact (band_idx, band_val) key — the
    candidate join is a pure EQUI-join, never all-pairs.

    Scale: each doc emits 4 band rows (O(N) probe volume); candidates per
    bucket ~ N^2 / 2^16 per band under a uniform hash, then the exact
    Hamming filter (codegen'd ``bit_count(xor)`` over the 4 band ints —
    no string walk) keeps true near-dups. Compare simhash_neardup_pairs
    (multi-probe, hamming <= 1): probing radius 2-3 would need
    O(bits^3) probe rows, while banding stays at 4 rows per doc.
    """
    if max_hamming > SIMHASH64_BANDS - 1:
        raise NotImplementedError(
            f"{SIMHASH64_BANDS} bands guarantee recall only for hamming <= "
            f"{SIMHASH64_BANDS - 1}; add bands for wider radii"
        )
    from flink_streaming_demo_spark.functions.text import simhash64_agg

    sigs = simhash64_agg(df, text_col, id_col).select(id_col, "bands")
    banded = sigs.select(
        F.col(id_col),
        F.col("bands"),
        F.posexplode(F.col("bands")).alias("band_idx", "band_val"),
    )
    a = banded.alias("a").hint("shuffle_hash")
    b = banded.alias("b").hint("shuffle_hash")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.bands").alias("bands_a"),
            F.col("b.bands").alias("bands_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.expr(
        "CAST("
        + " + ".join(
            f"bit_count(element_at(bands_a, {k + 1})"
            f" ^ element_at(bands_b, {k + 1}))"
            for k in range(SIMHASH64_BANDS)
        )
        + " AS INT)"
    )
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def drop_neardup_clusters(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove near-duplicate documents transitively: MinHash-LSH candidate
    pairs -> connected components -> keep ONE doc (the min id) per
    cluster. The back half of the clean-corpus pipeline, factored out so
    the batch pipeline (plans/text_queries.pipeline_clean_corpus) and the
    periodic compaction pass over a streaming ingest store
    (streaming/pipelines.streaming_clean_corpus_front's sink) share one
    implementation.

    Scale: the pair list is LSH-bounded, CC runs over pairs only
    (O(log n) star rounds, localCheckpointed), and the final removal is a
    left_anti against the small non-survivor set. Idempotent: survivors
    contain no qualifying pair (any such pair would have joined its docs
    into one cluster), so a second pass is a no-op.
    """
    near = minhash_lsh_pairs(
        df, text_col=text_col, id_col=id_col, threshold=threshold
    )
    labels = connected_components(near)
    drop = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


# --- Winnowing (MOSS) near-dup pairs -----------------------------------------

#: Document-frequency cap for winnowed fingerprints, same role as
#: MAX_SHINGLE_DF: a fingerprint selected by more than this many documents
#: (boilerplate headers, license blocks) is dropped from candidate
#: generation, bounding the equi-join fan-out per fingerprint.
MAX_FINGERPRINT_DF = 64

#: Minimum shared (non-stop) winnowed fingerprints for a candidate pair.
WINNOW_MIN_SHARED = 3


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = WINNOW_MIN_SHARED,
    max_fp_df: int = MAX_FINGERPRINT_DF,
) -> DataFrame:
    """Candidate near-dup pairs from shared winnowed fingerprints — the
    MOSS matching step the fingerprints exist for (Schleimer et al. 2003
    §4: index the selected hashes, documents sharing many are candidate
    local matches). Returns (id_a, id_b, n_shared) with id_a < id_b and
    n_shared >= min_shared distinct shared fingerprints.

    A third independent near-dup family beside minhash-LSH (whole-doc
    resemblance) and simhash (whole-doc distance): winnowing guarantees
    any shared run of >= w + k - 1 tokens yields a shared fingerprint, so
    it catches LOCAL overlap (a copied paragraph inside an otherwise
    different doc) that whole-doc signatures dilute away.

    Scale shape: fingerprint selection is one vectorized Arrow pass on
    the scan (~2/(w+1) the density of full k-gram sets); the only
    shuffles are the tiny stop-list groupBy (map-side partial agg,
    broadcast anti-join back — a viral boilerplate fingerprint never
    reaches one hot reducer) and the fingerprint equi-join, whose
    per-key fan-out is capped at max_fp_df^2. Never all-pairs.

    The extracted (id, fp) rows are cut lazily, so the three consumers
    (stop-list counts, join sides a and b) read one materialized frame
    instead of re-deriving the extraction — Spark does not reuse the
    exchange across these branches (the plan read: 4 derivations, 12
    parquet scans without the cut).
    """
    from flink_streaming_demo_spark.functions.text import winnow_fp_rows

    # vectorized row form — value-identical to exploding winnow_fp_sets
    # but ~15x faster extraction (see functions/text.winnow_fp_rows)
    fp = winnow_fp_rows(df, text_col, id_col).localCheckpoint(eager=False)
    fp = drop_viral_keys(fp, "fp", max_fp_df)
    a = fp.alias("a").hint("shuffle_hash")
    b = fp.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    min_tokens: int = SHINGLE_N,
    max_shingle_sources: int | None = None,
) -> DataFrame:
    """Pairwise cross-source shingle-overlap matrix: for every source
    pair (a < b), how many distinct n-gram shingles they share and the
    overlap coefficient |A∩B| / min(|A|,|B|) — the mixture-audit view of
    decontamination (which corpora leak into each other), feeding the
    dedup/mixture stages with WHERE to look.

    100 TB shape: documents reduce to distinct (source, shingle) rows
    first (partial-agg absorbs within-source repeats), so join input is
    vocabulary-sized, not corpus-sized; the self equi-join on shingle
    fans out as sum over shingles of k_s^2 with k_s = sources containing
    the shingle — bounded by ``max_shingle_sources`` (drop shingles in
    more than that many sources BEFORE the join: boilerplate present
    everywhere ranks every pair equally and says nothing). Output is
    |sources|^2/2 rows — tiny at any corpus scale.
    """
    sh = shingle_rows(
        df.select(F.col(source_col).alias("src"), F.col(text_col)),
        "src",
        text_col,
        min_tokens=min_tokens,
    ).distinct()
    if max_shingle_sources is not None:
        sh = drop_viral_keys(sh, "shingle", max_shingle_sources)
    # the distinct (src, shingle) vocabulary feeds three consumers
    # (sizes, join sides a and b); the lazy cut lets them share one
    # derivation
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("src").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("src").alias("source_a"), "shingle")
    b = sh.select(F.col("src").alias("source_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(
                sizes.select(
                    F.col("src").alias("source_a"),
                    F.col("n_shingles").alias("n_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("src").alias("source_b"),
                    F.col("n_shingles").alias("n_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("overlap_coef"),
        )
    )


# --- Fuzzy record linkage (symmetric-deletion blocking) -----------------------

def _deletion_variants(name_expr: str) -> "Column":
    """The name itself plus every single-character deletion of it — the
    SymSpell/FastSS block keys: two strings at edit distance <= 1
    (substitution, insert, or delete) always share at least one
    variant. The suffix uses the 2-arg substring (to end of string) —
    a previous fixed-length cap (64) silently truncated variants of
    longer names, breaking the shared-variant guarantee above ~65 chars
    and diverging from the uncapped DuckDB twin."""
    return F.expr(
        f"array_union(array({name_expr}), "
        f"transform(sequence(1, length({name_expr})), "
        f"p -> concat(substring({name_expr}, 1, p - 1), "
        f"substring({name_expr}, p + 1))))"
    )


def fuzzy_link(
    dirty: DataFrame,
    clean: DataFrame,
    max_distance: int = 1,
) -> DataFrame:
    """Record linkage of a dirty file against a clean reference by name,
    tolerant to edit distance <= 1: symmetric-deletion blocking
    (SymSpell/FastSS) generates each name's single-deletion variants on
    BOTH sides and equi-joins on the variant, then verifies candidates
    with exact levenshtein — never an all-pairs comparison, and unlike
    prefix/band blocking there is no viral constant-prefix block to cap:
    deletion variants of distinct names are near-unique.

    Inputs: dirty(dirty_id, dirty_name), clean(clean_id, clean_name).
    Output: verified matches with a deterministic per-dirty-record rank.

    100 TB shape: row expansion = name length (bounded, ~tens), block
    keys shuffle-join like any equi key; the verify runs only on
    blocking survivors. Distance budgets > 1 generalize to deleting up
    to k chars (variant count ~ L^k) — the documented SymSpell
    trade-off.
    """
    from pyspark.sql import Window

    d = dirty.select(
        "dirty_id",
        "dirty_name",
        F.explode(_deletion_variants("dirty_name")).alias("variant"),
    )
    c = clean.select(
        "clean_id",
        "clean_name",
        F.explode(_deletion_variants("clean_name")).alias("variant"),
    )
    cand = (
        d.join(c, "variant")
        .select("dirty_id", "dirty_name", "clean_id", "clean_name")
        .distinct()
    )
    verified = cand.withColumn(
        "edit_distance", F.levenshtein("dirty_name", "clean_name")
    ).filter(F.col("edit_distance") <= max_distance)
    w = Window.partitionBy("dirty_id").orderBy("edit_distance", "clean_id")
    return verified.withColumn("match_rank", F.row_number().over(w))


def sql_deletion_variants(name_expr: str) -> str:
    """DuckDB twin of _deletion_variants."""
    return (
        f"list_prepend({name_expr}, "
        f"list_transform(generate_series(1, length({name_expr})), "
        f"p -> substr({name_expr}, 1, p - 1) || substr({name_expr}, p + 1)))"
    )


# --- Incremental (batch-vs-corpus) dedup -------------------------------------

def build_incremental_index(
    base: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """The batch-invariant probe tables of incremental dedup: (content
    hashes, banded MinHash signatures) over the EXISTING corpus. A
    steady-state consumer (the streaming form, or repeated batch calls)
    computes this ONCE — in production it is a persisted, band-bucketed
    table — and passes it via ``index=``; recomputing it per micro-batch
    was measured at N x the whole pipeline's cost for N triggers."""
    bh = base.select(
        F.md5(F.col(text_col)).alias("h"), F.col(id_col).alias("base_id")
    )
    bband = minhash_signatures_agg(base, text_col, id_col).select(
        F.col(id_col).alias("base_id"),
        F.col("sig").alias("sig_b"),
        F.explode(lsh_band_keys(F.col("sig"))).alias("band_key"),
    )
    return bh, bband


def _fits_broadcast(df: DataFrame, scale_factor: int = 1) -> bool:
    """Catalyst-stats gate for an explicit broadcast hint: True iff the
    optimizer's sizeInBytes estimate for ``df``, times ``scale_factor``,
    is within the session's autoBroadcastJoinThreshold. Plan-time only
    (no job); estimates are coarse, but the failure mode is symmetric —
    an over-estimate merely falls back to a shuffle join, an
    under-estimate is no worse than what Catalyst itself would have
    picked with the same stats. Inputs with UNKNOWN stats (RDD-backed
    plans report Long.MaxValue) return False: never force a broadcast
    nobody can size. ``scale_factor`` exists for derived tables whose
    blowup Catalyst cannot model (explode fan-out): pass the analytic
    rows×width ratio relative to the measured frame."""
    spark = df.sparkSession
    raw = spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10485760"
    )
    thresh = int(
        spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            raw
        )
    )
    if thresh <= 0:
        return False
    est = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    if est >= (1 << 62):  # unknown stats sentinel: avoid overflow games
        return False
    return est * scale_factor <= thresh


def incremental_dedup_decisions(
    base: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    index: tuple[DataFrame, DataFrame] | None = None,
    broadcast_incoming: bool | None = None,
) -> DataFrame:
    """Keep/drop verdicts for an INCOMING batch against an EXISTING
    corpus — the steady-state shape of a production ingest pipeline,
    where the corpus was deduped long ago and each new crawl batch must
    be checked against it without re-shuffling the corpus.

    Per incoming doc: 'exact_dup' (content hash present in base, via a
    hash equi-join), else 'near_dup' (shares an LSH band with a base doc
    AND signature-estimated Jaccard >= threshold), else 'new';
    matched_base_id is the lowest matching base doc (-1 for 'new').

    100 TB shape: the base side is never self-joined and never shuffled
    — a small incoming batch is BROADCAST to both the content-hash
    probe and the band join, so the two lookups are corpus scans with
    map-side joins (in production the base signatures/bands are a
    precomputed index, making this incremental cost independent of
    corpus size except for the scan; with the band index bucketed by
    band_key it is independent of corpus size entirely). The hint is
    GATED: ``broadcast_incoming=None`` (default) broadcasts only when
    Catalyst's size estimate fits autoBroadcastJoinThreshold, so an
    unexpectedly large batch degrades to a plain equi-join instead of
    OOMing every executor; pass True/False to force either way.
    """
    bh, bband = index if index is not None else build_incremental_index(
        base, text_col, id_col
    )
    ih = incoming.select(F.col(id_col), F.md5(F.col(text_col)).alias("h"))
    iband = minhash_signatures_agg(incoming, text_col, id_col).select(
        F.col(id_col),
        F.col("sig").alias("sig_i"),
        F.explode(lsh_band_keys(F.col("sig"))).alias("band_key"),
    )
    if broadcast_incoming is None:
        # Gate BOTH broadcast candidates, but size iband ANALYTICALLY
        # from ih's stats: Catalyst's estimate for the iband plan
        # (shingle explode -> sig agg -> band-key explode) is
        # width-ratio-scaled from the leaf and does not model the
        # explode fan-out, so asking it directly can pass a
        # far-over-threshold band table (or veto a safe one). The real
        # blowup is closed-form: N_BANDS rows per doc, each carrying
        # the band_key string + the full N_HASHES signature array —
        # ~4x an ih row's bytes — so require ih_est * N_BANDS * 4
        # under the threshold, which bounds ih AND iband together.
        broadcast_incoming = _fits_broadcast(ih, scale_factor=N_BANDS * 4)
    hint = F.broadcast if broadcast_incoming else (lambda d: d)
    exact = (
        bh.join(hint(ih), "h")
        .groupBy(id_col)
        .agg(F.min("base_id").alias("exact_match"))
    )
    est = F.expr(
        "round(CAST(aggregate(zip_with(sig_i, sig_b,"
        " (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) AS DOUBLE)"
        f" / {float(N_HASHES)}, 6)"
    )
    near = (
        bband.join(hint(iband), "band_key")
        .dropDuplicates([id_col, "base_id"])
        .filter(est >= threshold)
        .groupBy(id_col)
        .agg(F.min("base_id").alias("near_match"))
    )
    return (
        incoming.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            # -1 sentinel for 'new' (no match): keeps the column exact
            # int64 whether or not any batch happens to contain NULLs —
            # nullable-int columns promote to float64 in pandas/DuckDB,
            # which would make the dtype data-dependent.
            F.coalesce("exact_match", "near_match", F.lit(-1).cast("long"))
            .alias("matched_base_id"),
        )
    )


# --- Cross-document exact-substring dedup (winnow-indexed) --------------------

# Token span contract: strip shared runs of >= CROSS_DOC_MIN_SPAN tokens
# (the Lee et al. 2022 "ExactSubstr" shape at word granularity; the
# paper uses 50 BPE tokens — the synthetic corpus averages ~55 tokens
# per doc, so the word-gram contract here is 12). The winnow index
# (WINNOW_K=3 grams, WINNOW_W=4 window) guarantees any shared run of
# >= W + K - 1 = 6 tokens yields a shared fingerprint, so candidate
# generation is EXACT for this contract (modulo the documented viral
# caps, which the oracle replays).
CROSS_DOC_MIN_SPAN = 12
MAX_CROSS_GRAM_DF = 256  # occurrence cap on anchor grams (viral guard)


def _token_gram_rows(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, s, gram): positional (1-based) space-joined token n-grams
    per document, emitted by one Arrow-batched map pass over the scan
    (shares functions/text.py_token_grams so tokenization cannot
    drift). Value-identical to posexploding ``_guarded_ngrams`` in
    plans/text_queries (tested); Catalyst runs that transform/slice
    lambda chain interpreted, and this join-of-slices pass is ~10x
    faster with the same map-only shape. Docs shorter than n tokens and
    null texts emit nothing."""
    import pandas as pd

    from flink_streaming_demo_spark.functions.text import py_token_grams

    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        for pdf in batches:
            ids: list = []
            ss: list = []
            gs: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                grams = py_token_grams(text, n)
                if not grams:
                    continue
                ids.extend([doc_id] * len(grams))
                ss.extend(range(1, len(grams) + 1))
                gs.extend(grams)
            yield pd.DataFrame({id_col: ids, "s": ss, "gram": gs})

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, s int, gram string"
    )


def cross_doc_intervals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = CROSS_DOC_MIN_SPAN,
    max_fp_df: int = MAX_FINGERPRINT_DF,
    max_gram_df: int = MAX_CROSS_GRAM_DF,
) -> DataFrame:
    """Shared detection core of cross-document exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", the ExactSubstr pipeline at word-gram granularity): find
    token runs of >= ``min_span`` tokens shared verbatim across
    documents and return the covered intervals of every LOWER-priority
    doc (priority = min doc_id, the survivor convention of exact_dedup:
    the lowest-id doc containing a span keeps it; every later doc's
    occurrence is marked for removal).

    Returns (id_col, st, en): 1-based inclusive token intervals,
    distinct but NOT yet merged — ``cross_doc_spans`` merges them into
    maximal span reports, ``cross_doc_strip`` turns them into the
    cleaned-corpus accounting.

    Three stages, all bucketed — never all-pairs:

    1. **Candidate pairs from the winnow index** (winnow_pairs with
       min_shared=1): any shared run of >= WINNOW_W + WINNOW_K - 1 = 6
       tokens shares a selected fingerprint (Schleimer et al. 2003
       guarantee), so for min_span >= 6 no qualifying pair is missed;
       the fingerprint equi-join is df-capped per key.
    2. **Anchor join** restricted to candidate docs: positional
       WINNOW_K-grams (one Arrow pass, semi-joined to candidate docs)
       equi-joined on the gram, occurrence-capped (``max_gram_df``,
       drop_viral_keys boundary: == cap kept), then semi-joined to the
       candidate PAIR list — per-key fan-out is capped, pair volume is
       bounded by candidates x shared grams.
    3. **Diagonal runs**, all JVM window functions partitioned by
       keys: matched anchors on one (id_a, id_b, sa - sb) diagonal form
       gaps-and-islands runs (a maximal run of L matched tokens is a
       run of L - K + 1 consecutive anchors); runs of >= min_span
       tokens become the covered intervals of the higher-id doc.

    100 TB: stage 1 is the proven winnow_pairs shape; stage 2 touches
    only docs that share >= 6-token runs (semi-join pushes the filter
    into the gram extraction scan); stage 3's windows are partitioned
    by (pair, diagonal) and by doc — no unpartitioned WindowExec. The
    viral caps (max_fp_df on fingerprints, max_gram_df on anchor
    grams) bound every join key's fan-out; both are replayed verbatim
    by the DuckDB oracle.
    """
    # gram width IS the winnow gram width, so the stage-1 detection
    # guarantee aligns exactly with the stage-2 anchors
    from flink_streaming_demo_spark.functions.text import WINNOW_K

    k = WINNOW_K
    _require_min_span(min_span)
    # The pair list is referenced three times downstream (both legs of
    # the candidate-doc union + the broadcast semi-join); without a cut
    # each reference re-inlines the whole winnow join subtree and the
    # plan blows past the lineage audit (measured 1,061 nodes at sf0.1
    # uncut vs ~120 cut — the r11 PCA/RFM failure mode). The pair list
    # is the INDEX output, orders of magnitude smaller than the corpus.
    pairs = (
        winnow_pairs(
            df,
            text_col=text_col,
            id_col=id_col,
            min_shared=1,
            max_fp_df=max_fp_df,
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cand_docs = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    grams = _token_gram_rows(
        df.join(cand_docs, id_col, "left_semi"), k, text_col, id_col
    )
    # One Arrow extraction feeds three consumers (the stop-list groupBy
    # and both self-join sides): a token-sized localCheckpoint, as in
    # winnow_pairs — a repartition-planted
    # shared exchange would still triple the gram-extraction subtree in
    # the initial plan.
    grams = drop_viral_keys(grams.localCheckpoint(eager=False), "gram", max_gram_df)
    a = grams.alias("a").hint("shuffle_hash")
    b = grams.alias("b").hint("shuffle_hash")
    matched = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        # Semi-join on the candidate pair list: shuffle_hash, NOT a
        # forced broadcast — unlike the provably-small frames this repo
        # broadcasts (stop lists, n_queries x nprobe probes), the pair
        # list scales with the corpus's duplication structure, and a
        # forced broadcast is a driver OOM on an adversarially
        # duplicated 100 TB corpus. AQE still demotes this to a
        # broadcast join at runtime when the pair list is actually
        # small, so the test-scale plan loses nothing.
        .join(pairs.hint("shuffle_hash"), ["id_a", "id_b"], "left_semi")
    )
    from pyspark.sql import Window as W

    diag = (F.col("sa") - F.col("sb")).alias("diag")
    run_w = W.partitionBy("id_a", "id_b", "diag").orderBy("sb")
    runs = matched.select("id_a", "id_b", diag, "sb").withColumn(
        "grp", F.col("sb") - F.row_number().over(run_w)
    )
    return (
        runs.groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            F.min("sb").alias("st"),
            (F.max("sb") + F.lit(k - 1)).alias("en"),
        )
        .filter(F.col("en") - F.col("st") + 1 >= min_span)
        .select(F.col("id_b").alias(id_col), "st", "en")
        .distinct()
    )


def cross_doc_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = CROSS_DOC_MIN_SPAN,
    max_fp_df: int = MAX_FINGERPRINT_DF,
    max_gram_df: int = MAX_CROSS_GRAM_DF,
) -> DataFrame:
    """Maximal removed-span REPORT of cross-doc exact-substring dedup:
    one row per maximal covered span of a lower-priority doc —
    (id_col, span_start, span_end, span_tokens), 1-based inclusive,
    spans merged over ALL higher-priority partners (overlapping or
    adjacent intervals coalesce). Detection semantics and scale shape:
    see cross_doc_intervals; the merge is pure keyed window functions
    (no unpartitioned WindowExec)."""
    from pyspark.sql import Window as W

    intervals = cross_doc_intervals(
        df, text_col, id_col, min_span, max_fp_df, max_gram_df
    )
    merge_w = (
        W.partitionBy(id_col)
        .orderBy("st", "en")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = intervals.withColumn(
        "new_island",
        F.when(
            F.col("st") > F.coalesce(F.max("en").over(merge_w), F.lit(-1)) + 1,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    island_w = (
        W.partitionBy(id_col)
        .orderBy("st", "en")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(island_w)
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("st").alias("span_start"),
            F.max("en").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def cross_doc_strip(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = CROSS_DOC_MIN_SPAN,
    max_fp_df: int = MAX_FINGERPRINT_DF,
    max_gram_df: int = MAX_CROSS_GRAM_DF,
) -> DataFrame:
    """The CLEANING step of cross-doc exact-substring dedup — the
    deliverable the span report feeds (Lee et al. ExactSubstr: strip
    the shared run from every doc except the highest-priority owner).
    One row per corpus doc (owners and untouched docs included):
    (id_col, n_tokens, dup_token_count, n_spans, kept_hash) — the
    strip_dup_spans output shape, but PRIORITY-AWARE: the min-doc_id
    owner of a span keeps its text, so unlike strip_dup_spans the
    stripped corpus retains exactly one copy of every duplicated run.

    kept_hash = md5 of the uncovered tokens joined by single space
    (the corpus is single-space tokenized, so the residue is lossless);
    fully-covered docs hash '' ; null-text docs emit (NULL, 0, 0,
    md5('')) — the strip_dup_spans null convention, oracle-pinned.

    Scale shape: cross_doc_intervals (winnow-indexed, pair-bounded)
    plus one per-doc collect of that doc's intervals (interval count is
    bounded by the doc's matched runs, never corpus-sized) and a
    map-only Arrow pass doing the numpy coverage sweep per doc —
    O(tokens + intervals), the ``_strip_covered`` kernel that
    strip_dup_spans shares."""
    intervals = cross_doc_intervals(
        df, text_col, id_col, min_span, max_fp_df, max_gram_df
    )
    doc_iv = intervals.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("st", "en"))).alias("ivals")
    )
    joined = df.join(doc_iv, id_col, "left").select(
        id_col, text_col, "ivals"
    )

    return _strip_covered(
        joined,
        id_col,
        text_col,
        "ivals",
        lambda ivals: (
            [iv["st"] for iv in ivals], [iv["en"] for iv in ivals]
        ),
    )


def _strip_covered(
    joined: DataFrame, id_col: str, text_col: str, iv_col: str, bounds
) -> DataFrame:
    """Per-doc strip kernel shared by ``cross_doc_strip`` and
    ``plans/text_queries.strip_dup_spans``: one map-only Arrow pass over
    (id_col, text_col, iv_col) rows, where ``bounds(v)`` turns a doc's
    non-empty ``iv_col`` value into (starts, ends) of its covered
    1-based inclusive token intervals. A numpy coverage sweep merges the
    intervals (O(tokens + intervals)) and the uncovered tokens, joined
    by single spaces, are hashed.

    Returns (id_col, n_tokens, dup_token_count, n_spans, kept_hash);
    a null text yields (NULL, 0, 0, md5('')) — oracle-pinned: n_tokens
    is the length of a null token array, the duplicate counts COALESCE
    over missing aggregate rows, and the residue is empty."""

    def finish(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            recs = []
            for doc_id, text, iv in zip(
                pdf[id_col], pdf[text_col], pdf[iv_col]
            ):
                if text is None:
                    recs.append(
                        (doc_id, None, 0, 0, hashlib.md5(b"").hexdigest())
                    )
                    continue
                toks = text.split(" ")
                nt = len(toks)
                cov = np.zeros(nt + 2, dtype=np.int32)
                if iv is not None and len(iv):
                    st, en = (
                        np.asarray(a, dtype=np.int64) for a in bounds(iv)
                    )
                    np.add.at(cov, np.minimum(st, nt + 1), 1)
                    np.add.at(cov, np.minimum(en + 1, nt + 1), -1)
                covered = np.cumsum(cov[: nt + 1])[1:] > 0
                n_dup = int(covered.sum())
                prev = np.concatenate(([False], covered[:-1]))
                n_spans = int((covered & ~prev).sum())
                kept = " ".join(
                    t for t, c in zip(toks, covered) if not c
                )
                recs.append(
                    (
                        doc_id,
                        nt,
                        n_dup,
                        n_spans,
                        hashlib.md5(kept.encode("utf-8")).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    id_col,
                    "n_tokens",
                    "dup_token_count",
                    "n_spans",
                    "kept_hash",
                ],
            )

    id_type = dict(joined.dtypes)[id_col]
    return joined.mapInPandas(
        finish,
        schema=(
            f"{id_col} {id_type}, n_tokens int, dup_token_count int, "
            "n_spans int, kept_hash string"
        ),
    )


# --- Incremental cross-doc gate core (streaming ExactSubstr front) ------------

def _require_min_span(min_span: int) -> None:
    """Shared min_span guard for the batch and gate cross-doc fronts:
    below the winnow detection guarantee (W + K - 1 tokens) the
    fingerprint index can MISS qualifying pairs, so both entry points
    must refuse — one derivation, one message (r15 review: the guard
    was copy-pasted and could drift)."""
    from flink_streaming_demo_spark.functions.text import (
        WINNOW_K,
        WINNOW_W,
    )

    guarantee = WINNOW_W + WINNOW_K - 1
    if min_span < guarantee:
        raise ValueError(
            f"min_span={min_span} below the winnow detection guarantee "
            f"(>= {guarantee} tokens with K={WINNOW_K}, W={WINNOW_W}); "
            "candidates would be missed"
        )


def _drop_viral_keys_distinct(
    df: DataFrame, key_col: str, cap: int, distinct_cols: list[str]
) -> DataFrame:
    """``drop_viral_keys`` with the occurrence count taken over
    DISTINCT ``distinct_cols`` rows instead of raw rows — for frames
    where the same logical row can legitimately appear twice (the
    gate's causal union under crash replay). Same boundary semantics:
    exactly ``cap`` occurrences is KEPT.

    One exchange, not two (r16, guide §2.4): distinct-then-count is a
    count of distinct non-key tuples per key, so a single
    ``groupBy(key).agg(countDistinct(...))`` replaces the
    distinct+groupBy pair (the distinct's exchange disappears; partial
    map-side distinct-aggregation still bounds the hot-key reducer).
    ``countDistinct`` drops tuples with any NULL where distinct+count
    kept them — every caller caps (doc_id, fp/s/gram) tuples that are
    non-null by construction (ids and positions from the corpus, keys
    from the extractors), so the counts are identical."""
    others = [c for c in distinct_cols if c != key_col]
    stop = (
        df.groupBy(key_col)
        .agg(F.countDistinct(*others).alias("_df"))
        .filter(F.col("_df") > cap)
        .select(key_col)
    )
    return df.join(F.broadcast(stop), key_col, "left_anti")


def cross_doc_gate_runs(
    base_docs: DataFrame | None,
    base_fps: DataFrame | None,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = CROSS_DOC_MIN_SPAN,
    max_fp_df: int = MAX_FINGERPRINT_DF,
    max_gram_df: int = MAX_CROSS_GRAM_DF,
    incoming_fps: DataFrame | None = None,
) -> DataFrame:
    """Incremental form of ``cross_doc_intervals`` for the streaming
    ingest gate: detect token runs of >= ``min_span`` shared verbatim
    between an INCOMING batch and the already-ADMITTED corpus, and
    return (id_col [incoming doc], match_id [admitted partner], st, en)
    qualifying runs on the incoming doc's token axis. Priority is
    arrival order (the admitted corpus always owns the span), not
    min-doc_id — the gate twin of the batch operator's survivor
    convention, mirroring dedup_ivf_stream_gate's slice semantics.

    Same three bucketed stages as the batch form (never all-pairs),
    with the candidate stage pointed at the store-backed fingerprint
    index instead of a self-join:

    1. candidate pairs = store fps x batch fps equi-join on fp, with
       the viral-fp cap computed over the UNION frame (store + batch —
       exactly the frame the batch form caps, restricted to the causal
       prefix);
    2. anchor K-grams extracted only for candidate docs on each side,
       gram cap computed over the union of both sides' candidate grams;
    3. diagonal gaps-and-islands runs on (match, incoming, diag =
       s_inc - s_base), windows partitioned by those keys.

    ``base_docs``/``base_fps`` may be None (empty store): no runs.
    ``incoming_fps`` lets the caller hand in the batch's already-
    computed winnow fingerprint rows so the gate and the subsequent
    store ingest share one Arrow extraction.

    Replay semantics (the gate body documents the decision side): a
    replayed batch finds ITSELF in the store; self-pairs are excluded
    (match_id != incoming id), but batch-mates become legal partners —
    monotone toward more dedup, the dedup_ivf_stream_gate contract.

    100 TB: the store-side fp read is key-bucketed parquet (the fp
    equi-join shuffles index-sized frames, df-capped per key); gram
    extraction touches only candidate docs via semi-joins pushed into
    the scans; the pair semi-join is shuffle-hash, NOT forced broadcast
    (the pair list scales with the corpus's duplication structure —
    the cross_doc_intervals driver-OOM rationale)."""
    from flink_streaming_demo_spark.functions.text import (
        WINNOW_K,
        winnow_fp_rows,
    )

    k = WINNOW_K
    _require_min_span(min_span)
    empty = incoming.sparkSession.createDataFrame(
        [],
        schema=(
            f"{id_col} {dict(incoming.dtypes)[id_col]}, "
            f"match_id {dict(incoming.dtypes)[id_col]}, st int, en int"
        ),
    )
    if base_docs is None or base_fps is None:
        return empty
    inc_fps = (
        incoming_fps
        if incoming_fps is not None
        else winnow_fp_rows(incoming, text_col, id_col).localCheckpoint(eager=False)
    )
    # Viral-fp cap over the causal union frame (store rows + batch
    # rows), counted over DISTINCT (doc, fp): a crash-replayed batch
    # appears on BOTH sides of the union, and counting its rows twice
    # could push a fingerprint over the cap that the original gating
    # kept — dropping the candidate pairs and flipping committed
    # dup_span decisions back to 'new', the exact reversal the
    # monotone replay contract forbids (r15 review). In the normal
    # disjoint flow distinct == raw, so the oracle is unchanged.
    tagged = base_fps.select(
        id_col, "fp", F.lit(True).alias("is_base")
    ).unionByName(
        inc_fps.select(id_col, "fp", F.lit(False).alias("is_base"))
    )
    # One planted exchange on the join key (r16, guide §2.4): the
    # base/incoming sides below filter the SAME capped frame, so
    # without this the pair join plans two hashpartitioning(fp)
    # exchanges whose children differ only by the is_base filter —
    # the store scan + cap subtree executes twice per micro-batch.
    # Repartitioning once above the filters makes the second side a
    # ReusedExchange: one subtree execution, one shuffle of the same
    # bytes.
    capped = _drop_viral_keys_distinct(
        tagged, "fp", max_fp_df, [id_col, "fp"]
    ).repartition("fp")
    bb = capped.filter("is_base").alias("bb")
    ii = capped.filter(~F.col("is_base")).alias("ii")
    # Pair index: store doc x incoming doc sharing any surviving fp
    # (min_shared = 1, the detection-guarantee setting). Self-pairs
    # excluded for replay safety. localCheckpoint: the pair list is
    # referenced three times downstream (both candidate-doc semi-joins
    # + the anchor semi-join) — the cross_doc_intervals plan-width cut.
    # No eager emptiness probe (r16, guide §2.4/§1.2): the former
    # ``pairs.head(1)`` early-return ran the whole fp-cap+join subtree
    # as its own job on every micro-batch just to detect the no-
    # candidates case; an empty pair list flows through the gram and
    # run stages as empty frames (AQE collapses them) and yields the
    # same empty run set, so the probe bought nothing when candidates
    # exist — the common case — and one extra job barrier per batch.
    pairs = (
        bb.join(
            ii,
            (F.col("bb.fp") == F.col("ii.fp"))
            & (F.col(f"bb.{id_col}") != F.col(f"ii.{id_col}")),
        )
        .select(
            F.col(f"bb.{id_col}").alias("match_id"),
            F.col(f"ii.{id_col}").alias("inc_id"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    base_cand = base_docs.join(
        pairs.select(F.col("match_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    inc_cand = incoming.join(
        pairs.select(F.col("inc_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    grams = (
        _token_gram_rows(base_cand, k, text_col, id_col)
        .select(id_col, "s", "gram", F.lit(True).alias("is_base"))
        .unionByName(
            _token_gram_rows(inc_cand, k, text_col, id_col).select(
                id_col, "s", "gram", F.lit(False).alias("is_base")
            )
        )
        .localCheckpoint(eager=False)
    )
    # gram cap: distinct (doc, s, gram) for the same replay reason —
    # a replayed doc's grams sit in BOTH candidate sides
    # Same planted-exchange trick as the fp cap above: one
    # hashpartitioning(gram) shuffle shared by both filtered sides of
    # the anchor join (the gram frame is checkpointed, but the two
    # sides still each paid a cache read + exchange).
    grams = _drop_viral_keys_distinct(
        grams, "gram", max_gram_df, [id_col, "s", "gram"]
    ).repartition("gram")
    gb = grams.filter("is_base").alias("gb")
    gi = grams.filter(~F.col("is_base")).alias("gi")
    matched = (
        gb.hint("shuffle_hash")
        .join(gi.hint("shuffle_hash"), F.col("gb.gram") == F.col("gi.gram"))
        .select(
            F.col(f"gb.{id_col}").alias("match_id"),
            F.col(f"gi.{id_col}").alias("inc_id"),
            F.col("gb.s").alias("sb"),
            F.col("gi.s").alias("si"),
        )
        # shuffle-hash semi-join on the pair index, NOT forced broadcast
        # (driver-OOM rationale above; AQE may demote when tiny)
        .join(pairs.hint("shuffle_hash"), ["match_id", "inc_id"], "left_semi")
    )
    from pyspark.sql import Window as W

    diag = (F.col("si") - F.col("sb")).alias("diag")
    run_w = W.partitionBy("match_id", "inc_id", "diag").orderBy("si")
    runs = matched.select("match_id", "inc_id", diag, "si").withColumn(
        "grp", F.col("si") - F.row_number().over(run_w)
    )
    return (
        runs.groupBy("match_id", "inc_id", "diag", "grp")
        .agg(
            F.min("si").alias("st"),
            (F.max("si") + F.lit(k - 1)).alias("en"),
        )
        .filter(F.col("en") - F.col("st") + 1 >= min_span)
        .select(F.col("inc_id").alias(id_col), "match_id", "st", "en")
        .distinct()
    )


def cross_doc_gate_decisions(
    base_docs: DataFrame | None,
    base_fps: DataFrame | None,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_span: int = CROSS_DOC_MIN_SPAN,
    max_fp_df: int = MAX_FINGERPRINT_DF,
    max_gram_df: int = MAX_CROSS_GRAM_DF,
    incoming_fps: DataFrame | None = None,
) -> DataFrame:
    """One verdict row per incoming doc from ``cross_doc_gate_runs``:
    (id_col, verdict, match_id, span_tokens, n_matches) where verdict is
    'dup_span' iff the doc shares a >= min_span run with the admitted
    corpus, match_id/span_tokens name the LONGEST such run's admitted
    partner (ties: lowest match_id, then lowest st), and n_matches
    counts distinct admitted partners with a qualifying run. 'new' rows
    carry (match_id = -1, span_tokens = 0, n_matches = 0) — the
    dedup_ivf_stream_gate null-free convention."""
    from pyspark.sql import Window as W

    # Materialize the runs once: both consumers below (the best-run
    # window and the distinct-partner count) would otherwise each
    # re-inline the full anchor-join subtree — the heaviest stage of
    # every micro-batch executed twice (r15 review). The run list is
    # interval-sized, orders of magnitude smaller than the gram frames.
    runs = cross_doc_gate_runs(
        base_docs,
        base_fps,
        incoming,
        text_col,
        id_col,
        min_span,
        max_fp_df,
        max_gram_df,
        incoming_fps=incoming_fps,
    ).localCheckpoint(eager=False)
    span = (F.col("en") - F.col("st") + 1).alias("span_tokens")
    best_w = W.partitionBy(id_col).orderBy(
        (F.col("en") - F.col("st") + 1).desc(),
        F.col("match_id").asc(),
        F.col("st").asc(),
    )
    # Best run and distinct-partner count in ONE window pass (r16,
    # guide §2.4): both are keyed by the incoming doc, so computing
    # n_matches as size(collect_set(match_id)) over the same partition
    # shares the best window's exchange — the former separate
    # groupBy(countDistinct) re-shuffled the runs by doc_id a second
    # time and needed a second join back to the batch. collect_set
    # collects distinct values (match_id is never NULL in a run row),
    # so its size IS countDistinct.
    stats_w = W.partitionBy(id_col)
    best = (
        runs.select(id_col, "match_id", "st", "en", span)
        .withColumn("rk", F.row_number().over(best_w))
        .withColumn(
            "n_matches",
            F.size(F.collect_set("match_id").over(stats_w)).cast("int"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk", "st", "en")
    )
    id_type = dict(incoming.dtypes)[id_col]
    return (
        incoming.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.when(F.col("match_id").isNull(), F.lit("new"))
            .otherwise(F.lit("dup_span"))
            .alias("verdict"),
            F.coalesce(F.col("match_id"), F.lit(-1))
            .cast(id_type)
            .alias("match_id"),
            F.coalesce(F.col("span_tokens"), F.lit(0))
            .cast("int")
            .alias("span_tokens"),
            F.coalesce(F.col("n_matches"), F.lit(0))
            .cast("int")
            .alias("n_matches"),
        )
    )
