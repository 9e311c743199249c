"""Skew-safe aggregation (BASELINE north star: "salted aggregation for
skew"; no analog in the reference, which aggregates in Python loops).

AQE's skew-join splitting (enabled in session.py) handles skewed JOINS at
runtime; skewed AGGREGATION keys still funnel into one reducer when a
single group dominates (think: dedup hash of an empty document over 100 TB
— billions of rows, one key).  Two-phase salting bounds any single task's
share of a hot key to 1/num_salts of its rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Column, Column]],
    num_salts: int = 32,
) -> DataFrame:
    """Two-phase aggregation: groupBy(keys + salt) → partial, then
    groupBy(keys) → final.

    `aggs` maps output column name → (partial_agg_expr, final_agg_expr),
    e.g. {"n": (F.count(F.lit(1)), F.sum("n")),
          "total": (F.sum("value"), F.sum("total"))}.
    Only algebraic aggregates decompose this way (sum/count/min/max; avg =
    sum+count recombined by the caller).

    The salt hashes every column of `df`: project to keys + aggregate
    inputs first.  Any other column is read only to be hashed, which
    defeats column pruning at the scan.

    The salt is a per-row CONTENT hash, not F.rand: a nondeterministic
    expression evaluated before a shuffle is a known Spark correctness
    hazard — after a shuffle-fetch failure the recomputed map partition
    re-draws different salts for the same rows, so a row can land in two
    salt partials (double-counted) or none.  xxhash64 over the row
    re-derives the SAME salt on recompute.  A hot key spreads over the
    salts as long as its rows differ in the aggregate inputs; rows
    identical in every hashed column share a salt — acceptable, since
    identical rows collapse in map-side combine anyway.

    Note Spark's built-in hash aggregate already does map-side partial
    combine, which absorbs MOST skew; explicit salting is the tool for the
    residue: high-cardinality-payload aggs (collect_list/count distinct
    shuffles every row) or sort-based fallback paths.
    """
    salted = df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(num_salts)),
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, (expr, _) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[final.alias(name) for name, (_, final) in aggs.items()]
    )


def skew_safe_count_distinct(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Skew-safe COUNT(DISTINCT value) per key.

    A naive `groupBy(key).agg(countDistinct(value))` shuffles every raw
    row of a hot key to one reducer.  Two-phase instead: dedup on
    (key, value) — the shuffle key INCLUDES the value, so a hot key's rows
    spread uniformly — then count per key, where map-side partial combine
    means the second shuffle carries one row per (partition, key).

    NULL values are excluded BEFORE the dedup: COUNT(DISTINCT x) skips
    NULLs in every SQL engine, but the two-phase rewrite's dedup kept
    the (key, NULL) pair as a countable row — off by one per key with
    any NULL value (r12 hostile lineitem sweep).
    """
    pairs = (
        df.select(*keys, value_col)
        .where(F.col(value_col).isNotNull())
        .dropDuplicates([*keys, value_col])
    )
    return pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias(f"n_distinct_{value_col}")
    )


def heavy_hitter_report(
    df: DataFrame, keys: list[str], top_k: int = 20
) -> DataFrame:
    """Top-k heaviest keys with their share of all rows — the diagnostic
    you run BEFORE choosing a join/agg strategy (broadcast? salt? AQE skew
    threshold?).  A key above ~1/shuffle-partitions of the table is a
    skew risk; above a few percent it's a guaranteed straggler.

    Returns (keys…, n_rows, row_frac, rank) for the top_k keys by count
    (key-value tiebreak → deterministic).  Scale: one groupBy shuffle with
    map-side combine (the count table is |distinct keys| rows); the top-k
    is orderBy+limit — Spark's TakeOrderedAndProject keeps per-partition
    heaps of k, so even a billion-distinct-key count table never funnels
    into one sorter.  The global row count arrives as a one-row broadcast,
    and the rank window runs over k rows only.
    """
    from pyspark.sql import Window

    from dffoo_data_pipeline_spark.functions.numeric import round_det

    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").cast("bigint").alias("__total"))
    # asc_nulls_last on the key tiebreak: a NULL key is a legitimate
    # (often the hottest!) group, and Spark's ASC default NULLS FIRST
    # would rank a count-tied NULL key opposite to SQL engines' ASC
    # default NULLS LAST (r12 hostile sweep)
    tiebreak = [F.asc_nulls_last(k) for k in keys]
    topk = counts.orderBy(F.desc("n_rows"), *tiebreak).limit(top_k)
    w = Window.orderBy(F.desc("n_rows"), *tiebreak)  # ≤ top_k rows by now
    return (
        topk.crossJoin(F.broadcast(total))
        .withColumn("row_frac", round_det(F.col("n_rows") / F.col("__total"), 6))
        .withColumn("rank", F.row_number().over(w))
        .drop("__total")
    )
