"""Text-analysis scalar library for training-data pipelines — pure Column
expressions (tokenization, quality metrics, language scoring, fingerprints,
simhash). No Python UDFs: everything stays inside whole-stage codegen, and
every function has an ANSI-SQL twin for the DuckDB oracle.

These extend the reference's surface (it has no text functions) per the
north-star brief: language-ID heuristic, quality scoring, token counting,
document fingerprinting.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Small deterministic English stopword list (language-ID heuristic).
STOPWORDS_EN = (
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "that",
    "for", "on", "as", "with", "at", "by", "from", "this", "be", "are",
)


# The shared document-chunking grid (text_chunk_documents, BM25-MaxP
# passage retrieval). Lives here — the dependency-free function library —
# so plans modules can share it without importing each other (a plans
# module imported first triggers registry._load_all mid-import, and any
# plans->plans constant import then sees a partially initialized module).
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 8
CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def chunk_windows_expr(toks_col: str = "toks") -> str:
    """The chunk grid as a Spark SQL expression over a token-array
    column: an array of CHUNK_TOKENS-token slices starting every
    CHUNK_STRIDE tokens (>= 1 chunk even for short docs). Single source
    for every chunking consumer (text_chunk_documents, chunk-minhash,
    BM25-MaxP) so the grid SHAPE — not just its constants — can never
    drift between them."""
    return (
        f"transform(sequence(1, greatest(size({toks_col}) - "
        f"{CHUNK_OVERLAP}, 1), {CHUNK_STRIDE}), "
        f"s -> slice({toks_col}, s, {CHUNK_TOKENS}))"
    )


def sql_chunk_starts(sp: str = "sp") -> str:
    """DuckDB twin of chunk_windows_expr's start-position series."""
    return (
        f"unnest(generate_series(1, greatest(len({sp}) - "
        f"{CHUNK_OVERLAP}, 1), {CHUNK_STRIDE}))"
    )


def sql_chunk_slice(sp: str = "sp", start: str = "start_pos") -> str:
    """DuckDB twin of one chunk slice (1-based inclusive list slice)."""
    return f"{sp}[{start} : {start} + {CHUNK_TOKENS - 1}]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (documents are single-space joined)."""
    return F.split(text, " ")


def py_token_grams(text: str, n: int):
    """Python twin of ``tokens`` + space-joined n-grams: the ONE place
    the vectorized Arrow extractors (winnow_fp_rows, dedup.shingle_rows,
    dedup._token_gram_rows) get their tokenization and gram-join
    convention, so it cannot drift per-site. ``str.split(' ')`` matches
    Spark's ``split(text, ' ')`` exactly (single-space regex, empty
    tokens for runs of spaces, trailing empties kept). Returns a list
    of positional grams (may be empty); callers dedup or position as
    they need."""
    toks = text.split(" ")
    ng = len(toks) - n + 1
    if ng < 1:
        return []
    return [" ".join(toks[i : i + n]) for i in range(ng)]


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def avg_token_len(text: Column) -> Column:
    """Mean token length, derived from string lengths (single-space-joined
    corpus: chars = sum(len) + (n-1) separators) — avoids materializing the
    token array twice."""
    n = token_count(text)
    return F.round(
        (F.length(text) - (n - F.lit(1))).cast("double") / n.cast("double"), 6
    )


#: The corpus-cleaning quality gate, shared by the batch pipeline, the
#: keep/drop audit, and the streaming ingest front half — ONE definition
#: so the three can never silently desynchronize.
QUALITY_MIN_TOKENS = 5
QUALITY_MIN_AVG_TOKEN_LEN = 2.0


def quality_pass(text: Column) -> Column:
    return (token_count(text) >= QUALITY_MIN_TOKENS) & (
        avg_token_len(text) >= QUALITY_MIN_AVG_TOKEN_LEN
    )


def stopword_count(text: Column) -> Column:
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def stopword_ratio(text: Column) -> Column:
    return F.round(
        stopword_count(text).cast("double") / token_count(text).cast("double"), 6
    )


# BPE-ish subword chunking: letter runs, short digit runs (<=3, the way
# modern BPE vocabularies chunk numbers), punctuation runs. Works identically
# under Java regex (Spark) and RE2 (DuckDB) — no lookaround, no classes
# beyond ASCII ranges.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+"


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish regex tokens (vs whitespace tokens)."""
    return F.size(
        F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0))
    )


def fingerprint(text: Column) -> Column:
    """Exact-content fingerprint: md5 of the raw text."""
    return F.md5(text)


def normalized_fingerprint(text: Column) -> Column:
    """Case/whitespace-insensitive fingerprint."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def token_digests(text: Column) -> Column:
    """array<string> of md5(token) — the single hashing pass for simhash.
    Materialize this as its own projection column before calling
    simhash16_from_digests: referenced 16 times (once per bit), Catalyst
    keeps the non-cheap expression un-collapsed and computes it once."""
    return F.transform(tokens(text), F.md5)


def simhash16_from_digests(digests: Column) -> Column:
    """16-bit simhash as a bit string, from precomputed md5(token) digests.

    Bit j (1-based) is the sign of sum over tokens of +-1, where a token
    votes +1 iff hex digit j of its digest has its high bit set (digit in
    '89abcdef'). Integer votes make the sum order-independent, so the
    expression is deterministic across engines and partitionings.
    """
    high_digits = F.array(*[F.lit(c) for c in "89abcdef"])

    def bit(j: Column) -> Column:
        votes = F.aggregate(
            digests,
            F.lit(0),
            lambda acc, d: acc
            + F.when(
                F.array_contains(high_digits, d.substr(j, F.lit(1))),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )
        return F.when(votes >= 0, F.lit("1")).otherwise(F.lit("0"))

    return F.concat_ws("", F.transform(F.sequence(F.lit(1), F.lit(16)), bit))


def simhash16(text: Column) -> Column:
    """16-bit simhash over tokens (convenience Column form; the hot path is
    simhash16_agg, which trades the interpreted array lambdas for a
    codegen'd explode+aggregate)."""
    return simhash16_from_digests(token_digests(text))


def simhash16_agg(df, text_col: str = "text", id_col: str = "doc_id"):
    """DataFrame-level simhash16: explode tokens, extract each digest
    digit's high bit with integer shifts, and sum votes in a codegen'd
    aggregation — identical VALUES to simhash16 (same md5-digit votes), a
    different physical plan: higher-order-function lambdas are interpreted
    per element, while conditional sums run in whole-stage codegen
    (~4x faster at sf0.1 and partial-aggregated map-side at scale).

    Output: (id_col, simhash string, n_tokens int).
    """
    from pyspark.sql import functions as F  # local: df-level helper

    # Expression subtrees are built as SQL strings -> ONE py4j call each
    # (r15, guide §1.2 step 2 applied to the DRIVER): the Column-op form
    # of the 16 bit-sums + 16 bit-cases cost ~2,800 gateway round trips
    # (~1 s of pure driver time per build on the bench box) for an
    # IDENTICAL analyzed plan — same trick minhash_signatures_agg
    # already documents.
    ex = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    # First/second 8 hex chars of md5(tok) as 32-bit ints; hex digit j's
    # high bit is bit (8-j)*4+3 of the respective half.
    ex = ex.selectExpr(
        id_col,
        "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) AS h1",
        "CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT) AS h2",
    )
    sums = [
        F.expr(
            "sum(shiftrightunsigned("
            f"{'h1' if j <= 8 else 'h2'},"
            f" {((8 - j) if j <= 8 else (16 - j)) * 4 + 3}) % 2) AS b{j}"
        )
        for j in range(1, 17)
    ]
    agg = ex.groupBy(id_col).agg(F.expr("count(1) AS n_tokens"), *sums)
    # votes_j = 2*high_bits_j - n_tokens; bit = '1' iff votes_j >= 0.
    bits = ", ".join(
        f"CASE WHEN ((2 * b{j}) - n_tokens) >= 0 THEN '1' ELSE '0' END"
        for j in range(1, 17)
    )
    return agg.select(
        F.col(id_col),
        F.expr(f"concat({bits}) AS simhash"),
        F.expr("CAST(n_tokens AS INT) AS n_tokens"),
    )


def repetition_agg(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style repetition signals per document:
    (id, n_2grams, n_distinct_2grams, top_2gram_count) over the adjacent
    token-2-gram MULTISET. Downstream: duplicate-2-gram fraction
    = 1 - distinct/total and top-2-gram share = top/total — the two
    repetition filters a pre-training cleaning pass applies before any
    near-dup work (looping generations and boilerplate both light up).

    Plan shape: explode 2-grams -> groupBy (id, gram) count (map-side
    partial: a looping doc's repeated gram combines within each task) ->
    groupBy id. Linear in corpus size, no joins; docs with < 2 tokens
    produce no rows (callers left-join + coalesce)."""
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "zip_with("
                f"slice(split({text_col}, ' '), 1,"
                f" size(split({text_col}, ' ')) - 1), "
                f"slice(split({text_col}, ' '), 2,"
                f" size(split({text_col}, ' ')) - 1), "
                "(x, y) -> concat(x, ' ', y))"
            )
        ).alias("gram"),
    )
    per = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy(id_col).agg(
        F.sum("c").cast("int").alias("n_2grams"),
        F.count(F.lit(1)).cast("int").alias("n_distinct_2grams"),
        F.max("c").cast("int").alias("top_2gram_count"),
    )


#: Shared 2-gram array expression (adjacent token pairs, multiset order)
#: — the per-row twin of repetition_agg's explode input.
def _grams2_expr(text_col: str = "text") -> str:
    sp = f"split({text_col}, ' ')"
    return (
        f"zip_with(slice({sp}, 1, size({sp}) - 1), "
        f"slice({sp}, 2, size({sp}) - 1), (x, y) -> concat(x, ' ', y))"
    )


def repetition_cols(text_col: str = "text") -> tuple[Column, Column, Column]:
    """Per-ROW repetition signals: (n_2grams, n_distinct_2grams,
    top_2gram_count) as nullable Columns over the same 2-gram multiset as
    repetition_agg — NULL where the agg form produces no row (NULL text;
    < 2 tokens yields 0/0/0 best, callers coalesce like they coalesce the
    agg's missing rows).

    This is the shuffle-free form (r15, guide §2.4): the agg form
    shuffles one row per distinct (doc, gram) — at corpus scale that is
    nearly every 2-gram of every document crossing the exchange just to
    be counted and immediately re-collapsed per doc. All three stats are
    functions of the doc's own gram array, so they are computed inline:
    size, size(array_distinct), and max run length over array_sort
    (sorting groups equal grams, so the longest run IS the top count).
    Value-pinned to repetition_agg by tests/test_text_functions.py."""
    g = _grams2_expr(text_col)
    top = (
        f"aggregate(array_sort({g}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
        "(acc, x) -> named_struct("
        " 'prev', x,"
        " 'run', CASE WHEN acc.prev IS NOT NULL AND x = acc.prev"
        "             THEN acc.run + 1 ELSE 1 END,"
        " 'best', GREATEST(acc.best,"
        "         CASE WHEN acc.prev IS NOT NULL AND x = acc.prev"
        "             THEN acc.run + 1 ELSE 1 END)), "
        "acc -> acc.best)"
    )
    return (
        F.expr(f"size({g})"),
        F.expr(f"size(array_distinct({g}))"),
        F.expr(top),
    )


# PII-ish patterns, kept to the Java-regex/RE2 common subset (no
# lookaround, no backrefs) so Spark and DuckDB match identically.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def redact_pii(text: Column) -> Column:
    """Replace email addresses and phone numbers with typed placeholders
    (all occurrences; Spark regexp_replace is global by default)."""
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>"),
        PHONE_PATTERN,
        "<PHONE>",
    )


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), F.lit(0))),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_PATTERN), F.lit(0))),
    )


def simhash64_agg(df, text_col: str = "text", id_col: str = "doc_id"):
    """64-bit simhash over tokens, same explode + codegen'd conditional-sum
    shape as simhash16_agg but using EVERY bit of the first 16 hex digits
    of md5(token) (vs one high bit per digit).

    Output: (id_col, simhash 64-char bit string, bands array<int> — the 4
    16-bit band values used for pigeonhole blocking, n_tokens int). Band k
    (0-based) is bits 16k+1..16k+16 as an integer, so
    ``bit_count(bands_a[k] ^ bands_b[k])`` sums to the full Hamming
    distance — hamming stays in codegen'd integer ops, never a
    char-by-char string walk.
    """
    from pyspark.sql import functions as F  # local: df-level helper

    ex = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    # First/second 8 hex chars of md5(tok) as 32-bit ints: h1 = bits 1-32,
    # h2 = bits 33-64 (bit 1 = MSB of hex digit 1).
    ex = ex.select(
        F.col(id_col),
        F.expr(
            "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)"
        ).alias("h1"),
        F.expr(
            "CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT)"
        ).alias("h2"),
    )
    sums = [
        F.expr(
            "sum(shiftrightunsigned("
            + ("h1" if j <= 32 else "h2")
            + f", {32 - j if j <= 32 else 64 - j}) % 2) AS b{j}"
        )
        for j in range(1, 65)
    ]
    agg = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"), *sums)
    # bit j = 1 iff votes_j = 2*set_count_j - n_tokens >= 0
    bit = lambda j: f"IF(2 * b{j} >= n_tokens, 1, 0)"  # noqa: E731
    sig = "concat(" + ", ".join(
        f"CAST({bit(j)} AS STRING)" for j in range(1, 65)
    ) + ")"
    bands = "array(" + ", ".join(
        " + ".join(
            f"{bit(j)} * {1 << (16 * (k + 1) - j)}"
            for j in range(16 * k + 1, 16 * k + 17)
        )
        for k in range(4)
    ) + ")"
    return agg.select(
        F.col(id_col),
        F.expr(sig).alias("simhash"),
        F.expr(bands).cast("array<int>").alias("bands"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


# --- ANSI-SQL twins ----------------------------------------------------------

SQL_STOPWORDS_EN = "[" + ", ".join(f"'{s}'" for s in STOPWORDS_EN) + "]"


def sql_token_count(text: str) -> str:
    return f"CAST(len(string_split({text}, ' ')) AS INT)"


def sql_distinct_token_count(text: str) -> str:
    return f"CAST(len(list_distinct(string_split({text}, ' '))) AS INT)"


def sql_avg_token_len(text: str) -> str:
    n = sql_token_count(text)
    return (
        f"ROUND(CAST(LENGTH({text}) - ({n} - 1) AS DOUBLE)"
        f" / CAST({n} AS DOUBLE), 6)"
    )


def sql_quality_pass(text: str) -> str:
    return (
        f"({sql_token_count(text)} >= {QUALITY_MIN_TOKENS} "
        f"AND {sql_avg_token_len(text)} >= {QUALITY_MIN_AVG_TOKEN_LEN})"
    )


def sql_stopword_count(text: str) -> str:
    return (
        f"CAST(len(list_filter(string_split({text}, ' '), "
        f"t -> list_contains({SQL_STOPWORDS_EN}, t))) AS INT)"
    )


def sql_stopword_ratio(text: str) -> str:
    return (
        f"ROUND(CAST({sql_stopword_count(text)} AS DOUBLE)"
        f" / CAST({sql_token_count(text)} AS DOUBLE), 6)"
    )


def sql_bpe_token_count(text: str) -> str:
    return (
        f"CAST(len(regexp_extract_all({text}, "
        f"'{BPE_ISH_PATTERN}')) AS INT)"
    )


def sql_normalized_fingerprint(text: str) -> str:
    return f"md5(regexp_replace(LOWER(TRIM({text})), '\\s+', ' ', 'g'))"


WINNOW_K = 3  # k-gram width (word grams)
WINNOW_W = 4  # winnowing window over consecutive k-gram hashes
_WINNOW_P = (1 << 31) - 1


def _winnow_spark_exprs(text_col: str) -> tuple[str, str, str]:
    """SQL-expression strings (hs, positions, fps) for winnowing: ``hs``
    is built from ``text_col``; ``positions``/``fps`` reference a column
    literally named ``hs``. Shared by the digest and the set forms so the
    two can never drift."""
    k, w, p = WINNOW_K, WINNOW_W, _WINNOW_P
    hs = (
        f"CASE WHEN size(split({text_col}, ' ')) >= {k} THEN "
        f"transform(sequence(1, size(split({text_col}, ' ')) - {k - 1}), "
        f"i -> CAST(conv(substring(md5(concat_ws(' ', "
        f"slice(split({text_col}, ' '), i, {k}))), 1, 8), 16, 10) AS BIGINT)"
        f" % {p}) "
        "ELSE array() END"
    )
    # rightmost-minimum per window: position in the reversed slice is
    # 1-based from the right, so p = i + slice_len - that position
    sel = (
        f"transform(sequence(1, greatest(size(hs) - {w - 1}, 1)), "
        f"i -> i + least({w}, size(hs) - i + 1)"
        f" - array_position(reverse(slice(hs, i, {w})),"
        f" array_min(slice(hs, i, {w}))))"
    )
    positions = (
        f"array_sort(array_distinct(filter({sel}, p -> p IS NOT NULL)))"
    )
    fps = (
        f"transform({positions}, p -> element_at(hs, CAST(p AS INT)))"
    )
    return hs, positions, fps


def winnow_fingerprints(df, text_col: str = "text", id_col: str = "doc_id"):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): positional k-gram hashes, then from every
    window of w consecutive hashes select the minimum (rightmost on
    ties) — any match of length >= w + k - 1 tokens between two
    documents is guaranteed to share a selected fingerprint, at ~2/(w+1)
    the density of full k-gram sets. The local-similarity complement to
    minhash (whole-doc resemblance) and simhash (whole-doc distance).

    Pure array expressions, zero shuffle: per doc emits (n_grams,
    n_fingerprints, winnow_digest) where the digest is md5 over the
    position-ordered selected hashes — hash-comparable without shipping
    fingerprint sets. ``winnow_fp_sets`` exposes the fingerprint VALUES
    for the explode + equi-join matcher (operators/dedup.winnow_pairs).
    """
    from pyspark.sql import functions as F  # local: df-level helper

    hs, positions, fps = _winnow_spark_exprs(text_col)
    # Bind hs ONCE per row via the lambda-variable let idiom: a plain
    # hs column would be re-INLINED at every reference by Catalyst's
    # projection collapse, recomputing the full per-gram md5 transform
    # inside each of the ~w-window lambdas (measured ~50x slowdown).
    bound = (
        f"transform(array({hs}), hs -> named_struct("
        f"'n_grams', size(hs), "
        f"'n_fingerprints', CAST(size({positions}) AS INT), "
        f"'winnow_digest', md5(concat_ws(',', transform({fps},"
        " x -> CAST(x AS STRING))))))[0]"
    )
    return df.select(F.col(id_col), F.expr(bound).alias("_w")).select(
        F.col(id_col),
        F.col("_w.n_grams").alias("n_grams"),
        F.col("_w.n_fingerprints").alias("n_fingerprints"),
        F.col("_w.winnow_digest").alias("winnow_digest"),
    )


def winnow_fp_sets(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, fps array<bigint>): the DISTINCT winnowed fingerprint hash
    values per document — the set form that feeds the explode +
    equi-join candidate matcher. Same selection expressions as
    winnow_fingerprints (shared builder), still zero shuffle."""
    from pyspark.sql import functions as F  # local: df-level helper

    hs, _positions, fps = _winnow_spark_exprs(text_col)
    # same let-binding as winnow_fingerprints (see comment there)
    bound = f"transform(array({hs}), hs -> array_distinct({fps}))[0]"
    return df.select(
        F.col(id_col), F.expr(bound).alias("fps")
    )


def winnow_fp_rows(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, fp): one row per DISTINCT winnowed fingerprint VALUE per
    document — value-identical to ``explode(winnow_fp_sets(...).fps)``
    (the set form's array order is immaterial to the matcher's
    equi-join), produced by an Arrow-batched numpy pass instead of the
    nested higher-order expressions. Catalyst does not codegen inside
    lambda scopes, so the HOF form evaluates the O(n_grams * w)
    window-minimum selection interpreted — measured 7.7 s for 5k docs
    on one core at sf0.1, ~15x slower than this pass. Same map-only
    zero-shuffle scale shape; at real scale each Arrow batch winnows
    independently inside its scan task.

    Selection semantics are ``_winnow_spark_exprs`` verbatim (tested
    value-equal against the expression form): tokens = split on single
    space keeping empties; hash i = first 8 md5 hex chars of the
    space-joined k-gram, mod 2^31-1; for each window start i in
    1..max(n_grams - (w-1), 1), take the RIGHTMOST minimum of
    hs[i : i + min(w, n_grams-i+1)]; distinct selected values per doc.
    The per-doc computation lives in the shared ``_py_winnow`` kernel
    (also behind the vectorized digest form)."""
    import pandas as pd

    from pyspark.sql import functions as F  # local: df-level helper

    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        for pdf in batches:
            ids: list = []
            fps: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                got = _py_winnow(text)
                if got is None:
                    continue
                hs, pos = got
                vals = np.unique(hs[pos - 1])
                ids.extend([doc_id] * len(vals))
                fps.extend(vals.tolist())
            yield pd.DataFrame({id_col: ids, "fp": fps})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, schema=f"{id_col} {id_type}, fp bigint"
    )


def winnow_fingerprint_stats(df, text_col: str = "text",
                             id_col: str = "doc_id"):
    """Vectorized twin of ``winnow_fingerprints`` (value-identical,
    exceptAll-pinned): per doc (n_grams, n_fingerprints, winnow_digest)
    where the digest is md5 over the comma-joined POSITION-ORDERED
    selected hash values (duplicate values kept, exactly like the
    expression form's ``fps`` before any distinct). Same shared
    ``_py_winnow`` kernel as the matcher's row form; same interpreted-
    lambda motivation (2.97 s -> ~0.8 s for the registered query at
    sf0.1). Sub-k and null docs emit (0, 0, md5('')) like the
    expression form's empty-array path."""
    import pandas as pd

    from pyspark.sql import functions as F  # local: df-level helper

    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        for pdf in batches:
            recs = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                got = _py_winnow(text)
                if got is None:
                    recs.append(
                        (doc_id, 0, 0,
                         hashlib.md5(b"").hexdigest())
                    )
                    continue
                hs, pos = got
                fps = hs[pos - 1]
                digest = hashlib.md5(
                    ",".join(str(int(v)) for v in fps).encode("utf-8")
                ).hexdigest()
                recs.append((doc_id, len(hs), len(pos), digest))
            yield pd.DataFrame(
                recs,
                columns=[id_col, "n_grams", "n_fingerprints",
                         "winnow_digest"],
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen,
        schema=(
            f"{id_col} {id_type}, n_grams int, n_fingerprints int, "
            "winnow_digest string"
        ),
    )


def _py_winnow(text):
    """Shared numpy winnowing kernel: (k-gram hash array, SORTED DISTINCT
    1-based selected positions) per document, or None for null/sub-k
    docs — the _winnow_spark_exprs semantics verbatim (see
    winnow_fp_rows' docstring for the equivalence argument). Called
    once per DOCUMENT inside the Arrow extractors, so hashlib/numpy are
    module-level imports — a per-call import would put a sys.modules
    lookup in the hot loop this kernel exists to speed up."""
    k, w, p = WINNOW_K, WINNOW_W, _WINNOW_P
    if text is None:
        return None
    grams = py_token_grams(text, k)
    ng = len(grams)
    if ng < 1:
        return None
    hs = np.fromiter(
        (
            int.from_bytes(
                hashlib.md5(g.encode("utf-8")).digest()[:4], "big"
            )
            % p
            for g in grams
        ),
        dtype=np.int64,
        count=ng,
    )
    if ng >= w:
        win = np.lib.stride_tricks.sliding_window_view(hs, w)
        # argmin of the reversed window = first minimum from the
        # right = the rightmost minimum of the window
        right = np.argmin(win[:, ::-1], axis=1)
        pos = np.arange(1, ng - w + 2) + (w - 1) - right
    else:
        right = int(np.argmin(hs[::-1]))
        pos = np.array([ng - right], dtype=np.int64)
    return hs, np.unique(pos)


def _winnow_duckdb_exprs(table: str, text: str) -> tuple[str, str, str]:
    """DuckDB twins of _winnow_spark_exprs (same contract)."""
    k, w, p = WINNOW_K, WINNOW_W, _WINNOW_P
    sp = f"string_split({text}, ' ')"
    hs = (
        f"CASE WHEN len({sp}) >= {k} THEN "
        f"list_transform(generate_series(1, len({sp}) - {k - 1}), "
        f"i -> CAST(('0x' || substr(md5(array_to_string("
        f"{sp}[i : i + {k - 1}], ' ')), 1, 8)) AS BIGINT) % {p}) "
        "ELSE [] END"
    )
    sel = (
        f"list_transform(generate_series(1, greatest(len(hs) - {w - 1}, 1)),"
        f" i -> i + least({w}, len(hs) - i + 1)"
        f" - list_position(list_reverse(hs[i : i + {w - 1}]),"
        f" list_min(hs[i : i + {w - 1}])))"
    )
    positions = (
        f"list_sort(list_distinct(list_filter({sel}, p -> p IS NOT NULL)))"
    )
    fps = f"list_transform({positions}, p -> hs[CAST(p AS INT)])"
    return hs, positions, fps


def sql_winnow_ctes(table: str = "documents", text: str = "text",
                    id_col: str = "doc_id") -> str:
    """DuckDB twin of winnow_fingerprints as CTEs: embed inside WITH and
    select from ``winnowed`` (id, n_grams, n_fingerprints,
    winnow_digest)."""
    hs, positions, fps = _winnow_duckdb_exprs(table, text)
    return f"""
    winnow_hashes AS (
        SELECT {id_col}, {hs} AS hs FROM {table}
    ),
    winnowed AS (
        SELECT {id_col},
               CAST(len(hs) AS INT) AS n_grams,
               CAST(len({positions}) AS INT) AS n_fingerprints,
               md5(array_to_string(list_transform({fps},
                   x -> CAST(x AS VARCHAR)), ',')) AS winnow_digest
        FROM winnow_hashes
    )
    """


def sql_winnow_fp_ctes(table: str = "documents", text: str = "text",
                       id_col: str = "doc_id") -> str:
    """DuckDB twin of winnow_fp_sets as CTEs: embed inside WITH and
    select from ``winnow_fps`` (id, fps list<bigint> distinct)."""
    hs, _positions, fps = _winnow_duckdb_exprs(table, text)
    return f"""
    winnow_hashes AS (
        SELECT {id_col}, {hs} AS hs FROM {table}
    ),
    winnow_fps AS (
        SELECT {id_col}, list_distinct({fps}) AS fps
        FROM winnow_hashes
    )
    """


def sql_repetition_ctes(table: str = "documents", text: str = "text",
                        id_col: str = "doc_id") -> str:
    """DuckDB twin of repetition_agg as CTE bodies: embed inside WITH and
    join ``rep_stats`` (id, n_2grams, n_distinct_2grams,
    top_2gram_count)."""
    sp = f"string_split({text}, ' ')"
    return f"""
    rep_grams AS (
        SELECT {id_col}, unnest(list_transform(
            generate_series(1, len({sp}) - 1),
            i -> {sp}[i] || ' ' || {sp}[i + 1])) AS gram
        FROM {table}
    ),
    rep_per AS (
        SELECT {id_col}, gram, COUNT(*) AS c
        FROM rep_grams GROUP BY {id_col}, gram
    ),
    rep_stats AS (
        SELECT {id_col},
               CAST(SUM(c) AS INT) AS n_2grams,
               CAST(COUNT(*) AS INT) AS n_distinct_2grams,
               CAST(MAX(c) AS INT) AS top_2gram_count
        FROM rep_per GROUP BY {id_col}
    )
    """


def sql_simhash64(text: str) -> str:
    """DuckDB twin of simhash64_agg's bit string: bit j (1..64) is bit
    (3 - (j-1)%4) of hex digit ceil(j/4) of md5(token), vote-summed."""
    n = f"len(string_split({text}, ' '))"
    bits = []
    for j in range(1, 65):
        d = (j - 1) // 4 + 1
        s = 3 - ((j - 1) % 4)
        bits.append(
            "CASE WHEN 2 * list_sum(list_transform("
            f"string_split({text}, ' '), t -> "
            f"((strpos('0123456789abcdef', substr(md5(t), {d}, 1)) - 1)"
            f" >> {s}) & 1)) >= {n} THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


def sql_simhash16(text: str) -> str:
    return f"""
        array_to_string(list_transform(generate_series(1, 16), j ->
            CASE WHEN list_sum(list_transform(string_split({text}, ' '), t ->
                CASE WHEN strpos('89abcdef', substr(md5(t), j, 1)) > 0
                     THEN 1 ELSE -1 END)) >= 0
            THEN '1' ELSE '0' END), '')
    """
