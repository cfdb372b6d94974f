"""Sampling / splitting / packing operators for training-data pipelines.

Not in the reference (no sampling surface); part of the north-star brief's
LLM-data-pipeline set. All deterministic and engine-portable: splits and
buckets derive from md5 of a key (never ``rand()``), so the same row lands
in the same split on any engine, any partitioning, any retry — the
property a 100 TB pipeline needs for reproducible train/val/test
separation and incremental re-runs.

Design:

* **hash_bucket / hash_split** — md5(key) -> 31-bit int -> pmod. Pure
  Column expressions; the split is a deterministic function of the key,
  so adding data never reshuffles old rows between splits.
* **cap_per_group** — keep at most n rows per group by a deterministic
  order (quality-score descending, id tiebreak): the "at most N docs per
  domain" data-mixing primitive. TWO-LEVEL top-N: a salted partial
  row_number keeps n rows per (group, salt), then the final rank runs
  over at most n x n_salts survivors per group — a low-cardinality group
  column (5 sources over the whole corpus) never funnels its entire row
  set through one reducer's sort, which the naive single-window form
  does at 100x scale.
* **pack_greedy** — contiguous greedy sequence packing: within each
  partition key, order docs deterministically, take the running token
  sum, and cut bins at ``capacity`` (bin = floor(cumsum_before / cap)).
  This is the one-pass streaming approximation of bin packing used for
  LLM context-window packing; exact first-fit-decreasing is inherently
  sequential and not worth a shuffle-free plan's loss. The cumsum is
  HIERARCHICAL: contiguous order-range chunks take a local window
  cumsum in parallel, and a tiny per-chunk prefix table (one row per
  chunk) broadcasts back — identical bin ids to the single-window form
  without the whole-partition sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_streaming_demo_spark.operators.scale import row_salt

HASH_MOD = 1_000_000


def hash_bucket(key: Column, n_buckets: int = HASH_MOD) -> Column:
    """Deterministic bucket in [0, n_buckets): md5 of the key's string
    form, first 8 hex chars as int. Engine-portable (DuckDB twin:
    ``CAST(('0x' || substr(md5(...), 1, 8)) AS BIGINT) % n``)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % F.lit(n_buckets)
    )


def hash_split(
    key: Column, train: float = 0.8, val: float = 0.1
) -> Column:
    """'train' / 'val' / 'test' label from a deterministic key hash.
    Fractions are exact over the bucket space (not asymptotic): bucket <
    train*MOD -> train, < (train+val)*MOD -> val, else test."""
    b = hash_bucket(key, HASH_MOD)
    return (
        F.when(b < int(train * HASH_MOD), "train")
        .when(b < int((train + val) * HASH_MOD), "val")
        .otherwise("test")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column],
    n: int,
    n_salts: int = 16,
    salt_from: str | Column | None = None,
) -> DataFrame:
    """Keep at most ``n`` rows per group, by a deterministic order.
    Adds a ``rank`` column (1-based position within the group).

    Two-level top-N: level 1 ranks within (group, salt) — n_salts
    reducers share each group's sort — and keeps ``n`` rows per salt
    bucket; level 2 ranks the surviving <= n x n_salts rows per group.
    Any row in a group's true top-n is also in its salt bucket's top-n
    (dropping other rows never improves a row's bucket rank), so the
    result — including the rank values — is IDENTICAL to the naive
    single-window form; the plan just never sorts a whole group on one
    reducer. ``order_cols`` must be a total order (add a unique id
    tiebreak) for ranks to be deterministic; the salt derives from row
    content (scale.row_salt), so results are retry-stable.
    """
    w1 = Window.partitionBy(group_col, "_cap_salt").orderBy(*order_cols)
    partial = (
        df.withColumn("_cap_salt", row_salt(df, n_salts, salt_from))
        .withColumn("_salt_rank", F.row_number().over(w1))
        .filter(F.col("_salt_rank") <= n)
        .drop("_salt_rank")
    )
    w2 = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        partial.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= n)
        .drop("_cap_salt")
    )


def pack_greedy(
    df: DataFrame,
    token_col: str,
    capacity: int,
    part_col: str | None = None,
    order_col: str = "doc_id",
    n_chunks: int = 16,
) -> DataFrame:
    """Assign each row a ``bin_id`` by contiguous offset binning: rows are
    taken in ``order_col`` order (within ``part_col`` if given) and row r
    lands in bin floor(exclusive_cumsum(tokens) / capacity) — the bin
    containing its start offset on the concatenated token stream.

    Documents are never split across bins, every bin except the last
    holds at least one row, and a bin overflows capacity by at most one
    document's tokens (the straddling row). True reset-on-overflow greedy
    packing is a sequential recurrence (each cut depends on the previous
    cut) — not expressible without a per-partition sequential pass — and
    the offset form's bound is what LLM packing pipelines accept in
    exchange for a fully parallel plan.

    The cumsum is hierarchical, not one window over the whole partition
    key: ``order_col`` (numeric) is range-split into ``n_chunks``
    contiguous chunks per partition key, each chunk cumsums locally in
    parallel, and the exclusive prefix of whole-chunk totals (a
    <= n_chunks-row table per key) joins back broadcast. Exclusive
    cumsum decomposes exactly — chunk_prefix + within_chunk_excl equals
    the global exclusive cumsum — so bin ids are IDENTICAL to the naive
    single-window form while no reducer ever sorts a whole partition
    key's rows (documents.source has 5 values; at 100x the naive window
    is a 5-straggler plan).
    """
    pc = part_col if part_col else "_pack_all"
    base = df if part_col else df.withColumn(pc, F.lit(0))
    o = F.col(order_col).cast("double")
    # contiguous chunking of the order range; +1 keeps max strictly below
    # n_chunks. Range-based (not ntile): no global sort needed, and the
    # mapping is a pure row expression once the per-key bounds broadcast.
    bounds = base.groupBy(pc).agg(
        F.min(o).alias("_o_min"), F.max(o).alias("_o_max")
    )
    chunked = base.join(F.broadcast(bounds), pc).withColumn(
        "_chunk",
        F.floor(
            (o - F.col("_o_min"))
            * F.lit(n_chunks)
            / (F.col("_o_max") - F.col("_o_min") + 1)
        ).cast("int"),
    )
    w_in = (
        Window.partitionBy(pc, "_chunk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = chunked.withColumn(
        "_local_excl", F.sum(token_col).over(w_in) - F.col(token_col)
    )
    w_chunks = (
        Window.partitionBy(pc)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefixes = (
        chunked.groupBy(pc, "_chunk")
        .agg(F.sum(token_col).alias("_chunk_sum"))
        .withColumn(
            "_prefix", F.sum("_chunk_sum").over(w_chunks) - F.col("_chunk_sum")
        )
        .select(pc, "_chunk", "_prefix")
    )
    out = local.join(F.broadcast(prefixes), [pc, "_chunk"]).withColumn(
        "bin_id",
        F.floor(
            (F.col("_prefix") + F.col("_local_excl")) / F.lit(capacity)
        ).cast("long"),
    )
    drop = ["_o_min", "_o_max", "_chunk", "_local_excl", "_prefix"]
    if not part_col:
        drop.append(pc)
    return out.drop(*drop)


def exact_global_rank(
    df: DataFrame,
    order_col: str,
    tiebreak_col: str,
    desc: bool = False,
    n_chunks: int = 16,
    out_col: str = "rank",
    count_col: str | None = None,
) -> DataFrame:
    """``ROW_NUMBER() OVER (ORDER BY order_col [DESC], tiebreak_col)``
    with NO single-partition window — bit-identical to the SQL form.

    The naive expression is a global sort through one reducer (Spark
    warns ``WindowExec: No Partition Defined``); at 100x scale that one
    task sorts every row. This form decomposes the global rank the same
    way ``pack_greedy`` decomposes its cumsum:

    1. value-range chunking: rows map to one of ``n_chunks`` contiguous
       chunks of the order column's [min, max] span (pure expression
       once the 1-row bounds agg broadcasts). Equal values always land
       in the same chunk, and chunk order agrees with sort order, so
       2. a per-chunk ``row_number`` (parallel, partitioned window) plus
       3. the exclusive prefix of chunk sizes (a broadcast self-join on
       the <= n_chunks-row size table — no window at all)
       reconstruct the exact global rank: rank = prefix + local_rank.

    The chunk id uses a double cast of the order column, which is
    monotone and maps equal values to equal chunks; the WITHIN-chunk
    sort uses the original (uncast) column plus the tiebreak, so the
    rank is exact even if the double cast collapses adjacent values
    into one chunk.

    NULL order values get their own dedicated chunk placed where
    Spark's ``orderBy`` would sort them (first for asc, last for desc),
    so they are ranked — never dropped — exactly as the built-in
    window would rank them. NaN order values likewise: Spark sorts
    NaN greater than every non-NaN value (after them for asc, before
    them for desc) and COMPARES NaN greater than every numeric in
    expressions too, so before the dedicated chunk existed, a NaN in
    the data made ``_gn_max`` NaN — poisoning the range arithmetic for
    every row — and NaN rows themselves landed past every boundary,
    mis-chunked; routing NaNs to the extreme chunk on the opposite side
    from NULLs and excluding NaN from the min/max bounds fixes both.

    Skew: value-range chunks balance work only when the order column
    is spread across its [min, max] span; a skewed column packs most
    rows into few chunks (the rank stays exact, the sort just runs in
    fewer tasks). A single massively-tied value (ties must share a
    chunk for correctness) is a single-task sort by construction.

    ``count_col``: when set, the output also carries the total row
    count under that name (the bounds agg computes it anyway) —
    ``exact_global_ntile`` needs it for the tile formula, and callers
    building position-dependent expressions (epoch sharding, tile
    math) get it without a second pass.
    """
    o_raw = F.col(order_col)
    o = (-o_raw if desc else o_raw).cast("double")
    bounds = df.agg(
        F.min(F.when(~F.isnan(o), o)).alias("_gn_min"),
        F.max(F.when(~F.isnan(o), o)).alias("_gn_max"),
        F.count(F.lit(1)).alias("_gn_n"),
    )
    # NULLs sort first (asc) / last (desc) in Spark's orderBy; give them
    # a dedicated chunk on the matching side so the prefix join ranks
    # them instead of silently dropping them (inner join on NULL).
    # NaN sorts greater than every non-NaN value, i.e. on the OPPOSITE
    # extreme from NULLs in both directions; all NaNs compare equal so
    # the within-chunk tiebreak ordering matches the built-in sort.
    null_chunk = F.lit(n_chunks if desc else -1)
    nan_chunk = F.lit(-1 if desc else n_chunks)
    value_chunk = F.when(
        F.col("_gn_max") > F.col("_gn_min"),
        F.least(
            F.lit(n_chunks - 1),
            F.floor(
                (o - F.col("_gn_min"))
                / (F.col("_gn_max") - F.col("_gn_min"))
                * n_chunks
            ),
        ),
    ).otherwise(F.lit(0))
    chunked = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_gn_chunk",
        F.when(o_raw.isNull(), null_chunk)
        .when(F.isnan(o), nan_chunk)
        .otherwise(value_chunk)
        .cast("int"),
    )
    order_exprs = [
        o_raw.desc() if desc else o_raw.asc(),
        F.col(tiebreak_col).asc(),
    ]
    w_local = Window.partitionBy("_gn_chunk").orderBy(*order_exprs)
    local = chunked.withColumn("_gn_local", F.row_number().over(w_local))
    sizes = chunked.groupBy("_gn_chunk").agg(
        F.count(F.lit(1)).alias("_gn_size")
    )
    lower = sizes.select(
        F.col("_gn_chunk").alias("_gn_c2"), F.col("_gn_size").alias("_gn_s2")
    )
    prefixes = (
        sizes.join(
            F.broadcast(lower), F.col("_gn_c2") < F.col("_gn_chunk"), "left"
        )
        .groupBy("_gn_chunk")
        .agg(F.coalesce(F.sum("_gn_s2"), F.lit(0)).alias("_gn_prefix"))
    )
    ranked = local.join(F.broadcast(prefixes), "_gn_chunk").withColumn(
        out_col, (F.col("_gn_prefix") + F.col("_gn_local")).cast("bigint")
    )
    if count_col is not None:
        ranked = ranked.withColumn(count_col, F.col("_gn_n"))
    return ranked.drop(
        "_gn_min", "_gn_max", "_gn_n", "_gn_chunk", "_gn_local",
        "_gn_size", "_gn_prefix",
    )


def exact_global_ntile(
    df: DataFrame,
    tiles: int,
    order_col: str,
    tiebreak_col: str,
    desc: bool = False,
    n_chunks: int = 16,
    out_col: str = "tile",
) -> DataFrame:
    """``NTILE(tiles) OVER (ORDER BY order_col [DESC], tiebreak_col)``
    with NO single-partition window — bit-identical to the SQL form.

    Rank decomposition (chunked parallel windows + broadcast prefix
    table, NULL/NaN dedicated chunks, skew notes): see
    ``exact_global_rank``, which this wraps. NTILE is then a
    closed-form expression of (rank, n_rows): the first ``n % tiles``
    buckets hold ``n // tiles + 1`` rows, the rest ``n // tiles`` —
    exactly ANSI NTILE's spill rule.
    """
    ranked = exact_global_rank(
        df,
        order_col,
        tiebreak_col,
        desc=desc,
        n_chunks=n_chunks,
        out_col="_gn_rank",
        count_col="_gn_total",
    )
    n, r = F.col("_gn_total"), F.col("_gn_rank")
    q = (n - n % tiles) / tiles  # n // tiles, exact while n < 2^53
    rem = n % tiles
    big = q + 1  # size of the first `rem` buckets; >= 1 always
    tile = F.when(
        r <= rem * big, F.floor((r - 1) / big) + 1
    ).otherwise(
        # q >= 1 whenever this branch is reachable (r > rem*big implies
        # n > rem, i.e. n >= tiles); greatest() keeps ANSI mode happy.
        rem + F.floor((r - rem * big - 1) / F.greatest(q, F.lit(1))) + 1
    )
    return ranked.withColumn(out_col, tile.cast("int")).drop(
        "_gn_rank", "_gn_total"
    )


# --- Weighted reservoir (Efraimidis–Spirakis A-ES) as a mergeable sketch ------

RESERVOIR_K = 5


def race_key(id_col: Column, weight_col: Column) -> Column:
    """The A-ES exponential race key -ln(u)/w with a DETERMINISTIC
    uniform u = (hash_bucket(id) + 0.5)/1e6: the k smallest keys per
    group are a weight-proportional sample without replacement. The
    +0.5 keeps u in (0,1) so ln is finite; determinism makes the
    reservoir a semigroup (same row -> same key), which is what the
    merge below exploits."""
    u = (hash_bucket(id_col).cast("double") + F.lit(0.5)) / F.lit(
        float(HASH_MOD)
    )
    return -F.log(u) / weight_col.cast("double")


def reservoir_partial(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    weight_col: str,
    k: int = RESERVOIR_K,
) -> DataFrame:
    """Per-group reservoir state: the k smallest (race_key, id, weight)
    structs as a SORTED array column ``res`` — same keep-the-smallest
    algebra as the KMV sketch, so partials built per partition/day/
    micro-batch merge associatively and idempotently (same row hashes
    to the same struct; array_distinct absorbs replays). The top-k runs
    as a PARTITIONED window rank before any collect_list, so no group
    ever materializes more than its own rows, and the state leaving the
    stage is <= k structs per group."""
    from pyspark.sql import Window

    keyed = df.select(
        *group_cols,
        F.struct(
            race_key(F.col(id_col), F.col(weight_col)).alias("race_key"),
            F.col(id_col).cast("long").alias("id"),
            F.col(weight_col).cast("long").alias("weight"),
        ).alias("_e"),
    )
    w = Window.partitionBy(*group_cols).orderBy(F.asc("_e"))
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list("_e")).alias("res"))
    )


def reservoir_merge(
    a: DataFrame, b: DataFrame, group_cols: list[str], k: int = RESERVOIR_K
) -> DataFrame:
    """⊕: union reservoir tables, re-take the k smallest structs per
    group (lexicographic array_sort orders by race_key first;
    array_distinct absorbs rows present in both sides)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols)
        .agg(
            F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("res")))
                ),
                1,
                k,
            ).alias("res")
        )
    )
