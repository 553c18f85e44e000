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

from parquet_combiner_spark.operators.aggregate import group_counts, group_stats
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
    return _top_items_of(deduped, data_b, top_x)


def item_count(data_a: DataFrame, data_b: DataFrame | None = None) -> DataFrame:
    """Per-(location, item) deduped detection counts
    (reference services/Aggregations.scala:78-99, ItemCountAggregation).
    dataB is unused by the reference too (signature parity only).
    """
    deduped = dedup_first_wins(
        data_a.select(LOC, "detection_oid", "item_name"), ["detection_oid"]
    )
    return group_counts(deduped, [LOC, "item_name"], count_col="count")


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
    return _location_stats_of(deduped)


def _top_items_of(
    deduped: DataFrame, data_b: DataFrame, top_x: int
) -> DataFrame:
    """:func:`top_items` over an already-deduped detection frame:
    count → window rank → filter ≤ topX → broadcast-left-join dataB."""
    counts = group_counts(deduped, [LOC, "item_name"], count_col="count")
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


def _location_stats_of(deduped: DataFrame) -> DataFrame:
    """:func:`location_stats` over an already-deduped detection frame
    that keeps the camera column."""
    return group_stats(
        deduped,
        group_col=LOC,
        item_col="item_name",
        mode_col="video_camera_oid",
        total_alias="total_detections",
        unique_alias="unique_items",
        mode_alias="most_active_camera",
    )


def all_aggregations(
    data_a: DataFrame, data_b: DataFrame, top_x: int = 5
) -> dict[str, DataFrame]:
    """All three queries served from ONE shared dedup (reference
    performAggregations, ParquetCombinerRDD.scala:116-148, which
    persists the raw inputs but still dedups inside EACH aggregation —
    here the deduped projection itself is persisted, so the biggest
    shuffle in the pipeline runs once instead of three times).

    Callers should unpersist ``results["_deduped"]`` when done.
    """
    from pyspark import StorageLevel

    deduped = dedup_first_wins(
        data_a.select(LOC, "video_camera_oid", "detection_oid", "item_name"),
        ["detection_oid"],
    ).persist(StorageLevel.MEMORY_AND_DISK)

    counts = group_counts(deduped, [LOC, "item_name"], count_col="count")
    top = _top_items_of(deduped, data_b, top_x)
    stats = _location_stats_of(deduped)
    return {
        "top_items": top,
        "item_count": counts,
        "location_stats": stats,
        "_deduped": deduped,
    }


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
