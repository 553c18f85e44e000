"""Grouped aggregations (SURVEY.md §2.5 A1, A3-A6, A8).

Every reference aggregation is ``reduceByKey`` RDD code; the DataFrame
forms below compile to partial+final HashAggregate (map-side combine
for free — reference considerations.txt:36-38 hand-builds this).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_counts(
    df: DataFrame, group_cols: Sequence[str], count_col: str = "count"
) -> DataFrame:
    """A1/A6: count rows per group (null group keys are preserved,
    matching reference unit test ParquetCombinerRDDUnitTest.scala:667-702)."""
    return df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias(count_col))


def group_stats(
    df: DataFrame,
    group_col: str,
    item_col: str,
    mode_col: str,
    total_alias: str = "total_detections",
    unique_alias: str = "unique_items",
    mode_alias: str = "most_active_camera",
    approx: bool = False,
) -> DataFrame:
    """A3+A4+A5 in one pass: count(*), count-distinct of ``item_col``,
    and the mode (arg-max by frequency) of ``mode_col``
    (reference services/Aggregations.scala:112-131, LocationStats).

    ``approx=True`` swaps exact count-distinct for HLL
    ``approx_count_distinct`` — the 100 TB path where an exact distinct
    would shuffle every value.

    The mode is computed via two-level aggregation (count per
    (group, mode_col) then arg-min on the negated count) with a
    deterministic tiebreak: highest count wins, then *lowest*
    mode_col value.

    Fast path (``item_col == mode_col``, the LocationStats shape):
    ALL three statistics derive from ONE (group, item) pre-aggregation
    — total = sum of the counts, unique = count of the pre-agg's
    (non-null) rows, mode = arg-min over the pre-agg — so the input
    is scanned ONCE and shuffled ONCE on (group, item); the second
    aggregate runs over item-cardinality rows. The generic
    formulation (two independent subtrees + join) scanned the input
    twice and paid ``count(DISTINCT)``'s expand on one of them —
    measured 0.84s → 0.48s at sf0.1 (this was the r7 bench-drift
    suspect: not noise, a doubled scan).
    """
    if item_col == mode_col:
        # exact distinct is FREE here (pre-agg row count), so the
        # approx flag is moot on this path — exact beats the sketch
        return _mode_counts(df, group_col, mode_col).groupBy(group_col).agg(
            F.sum("__mode_cnt").alias(total_alias),
            F.count(F.col(mode_col)).alias(unique_alias),
            F.coalesce(_mode_arg(mode_col), F.lit(-1)).alias(mode_alias),
        )
    uniq = (
        F.approx_count_distinct(item_col)
        if approx
        else F.countDistinct(item_col)
    )
    totals = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias(total_alias),
        uniq.alias(unique_alias),
    )
    return attach_mode(totals, df, group_col, mode_col, mode_alias)


def _mode_counts(df: DataFrame, group_col: str, mode_col: str) -> DataFrame:
    return df.groupBy(group_col, mode_col).agg(
        F.count(F.lit(1)).alias("__mode_cnt")
    )


def _mode_arg(mode_col: str):
    # min_by over (-count, value): highest count wins, then lowest
    # value — the negation happens on the exact long count, and the
    # value itself is compared ascending, so any orderable mode_col
    # type works with no precision loss (fixes the 2^53 double-cast
    # hazard on large ids).
    return F.min_by(
        F.col(mode_col), F.struct(-F.col("__mode_cnt"), F.col(mode_col))
    )


def attach_mode(
    totals: DataFrame,
    df: DataFrame,
    group_col: str,
    mode_col: str,
    mode_alias: str,
) -> DataFrame:
    """``totals`` (one row per ``group_col`` value) left-joined with the
    per-group mode of ``df``'s ``mode_col`` — highest count, then
    lowest value — as ``mode_alias``, -1 where the join finds none
    (a NULL mode or a NULL group key). :func:`group_stats`' mode, for
    callers that derive their totals some other way."""
    mode_pick = _mode_counts(df, group_col, mode_col).groupBy(group_col).agg(
        _mode_arg(mode_col).alias(mode_alias)
    )
    return totals.join(mode_pick, on=group_col, how="left").withColumn(
        mode_alias, F.coalesce(F.col(mode_alias), F.lit(-1))
    )


def distinct_count(
    df: DataFrame, col: str, approx: bool = False, alias: str = "n_distinct"
) -> DataFrame:
    """D2: distinct-count of one column (reference GenerateParquet.scala:188-195)."""
    agg = F.approx_count_distinct(col) if approx else F.countDistinct(col)
    return df.agg(agg.alias(alias))


def summary_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """A8: count/mean/stddev/min/max per numeric column in ONE pass,
    long format (column, metric values) — unlike ``df.describe()``
    this is a single aggregate and returns typed doubles.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__count"),
            F.avg(c).alias(f"{c}__mean"),
            F.stddev(c).alias(f"{c}__stddev"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    # unpivot to (column, count, mean, stddev, min, max)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__count").cast("double").alias("count"),
            F.col(f"{c}__mean").cast("double").alias("mean"),
            F.col(f"{c}__stddev").cast("double").alias("stddev"),
            F.col(f"{c}__min").cast("double").alias("min"),
            F.col(f"{c}__max").cast("double").alias("max"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def approx_item_counts(
    df: DataFrame,
    col: str,
    items: Sequence[str],
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
    alias: str = "est_n",
) -> DataFrame:
    """Count-Min-sketch frequency estimates for ``items`` — the third
    member of the engine's sketch family (HLL++ distinct counts, GK
    quantiles, CMS frequencies). The sketch is a fixed-size 2-D
    counter array built in ONE mergeable aggregation pass
    (``F.count_min_sketch``: partial sketches per task, merged), so
    heavy-hitter estimates over a 100 TB column cost one scan and
    O(1/eps · log(1/δ)) memory — the exact groupBy this approximates
    must shuffle every distinct value.

    Guarantee: est ≥ true, and est ≤ true + eps·N with probability
    ``confidence`` (N = total rows). The sketch binary is
    engine-specific → rows-only under the driver; the bound is pinned
    by pytest.

    The single small sketch is decoded driver-side via the JVM
    CountMinSketch reader; the scan stays fully distributed.
    """
    row = df.agg(
        F.count_min_sketch(
            col, F.lit(eps), F.lit(confidence), F.lit(seed)
        ).alias("sk")
    ).head()
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(row["sk"])
    )
    ests = [(it, sketch.estimateCount(it)) for it in items]
    return spark.createDataFrame(ests, f"{col} string, {alias} long")


def sketch_distinct_partials(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lgk: int = 12,
) -> DataFrame:
    """Per-group HLL sketches (Apache DataSketches, Spark's
    ``hll_sketch_agg``) as (keys..., sketch binary) — the MERGEABLE
    partial a distinct-count metric store persists. Unlike a count,
    distinct-count partials cannot be added; unlike a raw id set,
    the sketch is a fixed ~2^lgk-byte summary. Persisting per-batch
    sketches (e.g. per micro-batch rows in a versioned table) lets
    any later reader answer distinct-over-ANY-subset — per day, per
    rolling week, per backfill range — by unioning the stored
    partials, never rescanning the raw events: the
    distinct-users-per-window pattern at 100 TB. Partial aggregation
    combines map-side like any Spark agg."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(col, F.lit(lgk)).alias("sketch")
    )


def sketch_distinct_estimate(
    partials: DataFrame,
    keys: Sequence[str],
    alias: str = "n_distinct_est",
) -> DataFrame:
    """Union stored HLL partials per group and estimate the distinct
    count: (keys..., n_distinct_est). HLL unions never lose presence
    information — however the input rows were batched when the
    partials were built, the unioned estimate carries the SAME error
    guarantee as a one-shot sketch over everything (the two can
    differ by ~1% because DataSketches sketches transition
    sparse→dense per batch; the pytest pins both within 2.5% of each
    other and within the sketch bound of exact)."""
    return partials.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(alias)
    )
