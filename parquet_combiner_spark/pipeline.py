"""The reference's three queries, re-expressed Spark-first.

These keep the reference's column names and semantics exactly
(dataA/dataB domain — SURVEY.md §1), so the ported reference test
scenarios (tests/test_pipeline.py, from reference
ParquetCombinerRDDUnitTest.scala + IntegrationTest.scala) assert
behavioral parity. The canonical plan is the author's own DataFrame
translation (reference joins.pdf p.4) with deterministic tiebreaks
added.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_combiner_spark.operators.aggregate import attach_mode, group_counts
from parquet_combiner_spark.operators.dedup import dedup_first_wins
from parquet_combiner_spark.operators.join import broadcast_dim_join
from parquet_combiner_spark.operators.topk import top_k_per_group
from parquet_combiner_spark.sources.io import read_data_a, read_data_b, write_parquet

LOC = "geographical_location_oid"


def top_items(data_a: DataFrame, data_b: DataFrame, top_x: int = 5) -> DataFrame:
    """Flagship: per-location top-X items by deduped detection count
    (reference services/Aggregations.scala:33-76 → joins.pdf p.4 plan).

    scan → dedup(detection_oid) → count(loc, item) → window rank →
    filter ≤ topX → broadcast-left-join dataB ("Unknown" on miss) →
    (location_name, rank_string, item_name).

    Ties rank by item_name asc (deterministic; reference left this
    arbitrary). Null/empty item_name survive as group keys (reference
    unit test :667-702). Locations with no detections yield no rows;
    locations missing from dataB yield "Unknown" (reference :594-628,
    ParquetCombinerRDD.scala:189).
    """
    deduped = dedup_first_wins(
        data_a.select(LOC, "detection_oid", "item_name"), ["detection_oid"]
    )
    return _top_items_of(_counts_of(deduped), data_b, top_x)


def item_count(data_a: DataFrame, data_b: DataFrame | None = None) -> DataFrame:
    """Per-(location, item) deduped detection counts
    (reference services/Aggregations.scala:78-99, ItemCountAggregation).
    dataB is unused by the reference too (signature parity only).
    """
    deduped = dedup_first_wins(
        data_a.select(LOC, "detection_oid", "item_name"), ["detection_oid"]
    )
    return _counts_of(deduped)


def location_stats(
    data_a: DataFrame, data_b: DataFrame | None = None
) -> DataFrame:
    """Per-location stats: total deduped detections, unique items,
    most-active camera (reference services/Aggregations.scala:101-137).

    Dedup keeps the full row (reference variant at :107-110) so the
    camera column survives; mode tiebreak = lowest camera oid; -1
    sentinel for empty groups (reference :124-127).
    """
    # Project to the 4 needed columns before the dedup shuffle —
    # timestamp_detected is never used downstream and would otherwise
    # ride the biggest exchange in the plan.
    deduped = dedup_first_wins(
        data_a.select(LOC, "video_camera_oid", "detection_oid", "item_name"),
        ["detection_oid"],
    )
    return _location_stats_of(deduped, _counts_of(deduped))


def _counts_of(deduped: DataFrame) -> DataFrame:
    """The (location, item) count of a deduped detection frame — the
    one aggregate all three queries are built from."""
    return group_counts(deduped, [LOC, "item_name"], count_col="count")


def _top_items_of(
    counts: DataFrame, data_b: DataFrame, top_x: int
) -> DataFrame:
    """:func:`top_items` over the (location, item) counts:
    window rank → filter ≤ topX → broadcast-left-join dataB."""
    ranked = top_k_per_group(
        counts,
        [LOC],
        [F.desc("count"), F.asc_nulls_first("item_name")],
        top_x,
        rank_col="item_rank",
    )
    return broadcast_dim_join(
        ranked,
        data_b,
        key=LOC,
        defaults={"geographical_location": "Unknown"},
    ).select(
        "geographical_location",
        F.col("item_rank").cast("string").alias("item_rank"),
        "item_name",
    )


def _location_stats_of(deduped: DataFrame, counts: DataFrame) -> DataFrame:
    """:func:`location_stats` from the (location, item) counts of
    ``deduped``: the total is their sum and the unique items their
    non-NULL items, so no count-distinct runs. Only the camera mode
    aggregates the deduped rows, which must keep the camera column."""
    totals = counts.groupBy(LOC).agg(
        F.sum("count").alias("total_detections"),
        F.count("item_name").alias("unique_items"),
    )
    return attach_mode(
        totals, deduped, LOC, "video_camera_oid", "most_active_camera"
    )


def all_aggregations(
    data_a: DataFrame, data_b: DataFrame, top_x: int = 5
) -> dict[str, DataFrame]:
    """All three queries from one dedup and one count (reference
    performAggregations, ParquetCombinerRDD.scala:116-148, which
    persists the raw inputs but still dedups inside EACH aggregation).
    The deduped projection and its (location, item) count are both
    persisted, so the biggest shuffle runs once and the count once:
    ``item_count`` is the count frame, ``top_items`` ranks it, and
    ``location_stats`` sums it, leaving only its camera mode to
    aggregate the deduped rows.

    Callers should unpersist ``results["_deduped"]`` when done; that
    one call releases the count frame as well, so no cache entry
    outlives it (a leftover entry would serve the next call's
    identical plan, stale if the input was rewritten).
    """
    from pyspark import StorageLevel

    deduped = dedup_first_wins(
        data_a.select(LOC, "video_camera_oid", "detection_oid", "item_name"),
        ["detection_oid"],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    counts = _counts_of(deduped).persist(StorageLevel.MEMORY_AND_DISK)
    return {
        "top_items": _top_items_of(counts, data_b, top_x),
        "item_count": counts,
        "location_stats": _location_stats_of(deduped, counts),
        "_deduped": _unpersist_with(deduped, counts),
    }


def _unpersist_with(frame: DataFrame, *dependents: DataFrame) -> DataFrame:
    """``frame``, whose ``unpersist`` now releases ``dependents`` first.
    Dependents go first because uncaching ``frame`` alone would make
    Spark re-plan every loaded cache built on it."""
    own = frame.unpersist

    def unpersist(blocking: bool = False) -> DataFrame:
        for d in dependents:
            d.unpersist(blocking)
        return own(blocking)

    frame.unpersist = unpersist
    return frame


def process_parquet_files(
    spark,
    data_a_path: str,
    data_b_path: str,
    output_path: str,
    top_x: int = 5,
) -> DataFrame:
    """End-to-end main pipeline (reference ParquetCombinerRDD.scala:53-103):
    read both tables, run the flagship, write snappy Parquet, return
    the result DataFrame. One job — no persist/unpersist dance, no
    sample-logging jobs, no recount (the reference runs 6+ jobs here).
    """
    data_a = read_data_a(spark, data_a_path)
    data_b = read_data_b(spark, data_b_path)
    result = top_items(data_a, data_b, top_x)
    write_parquet(result, output_path)
    return result
