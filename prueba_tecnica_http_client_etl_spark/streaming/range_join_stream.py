"""Watermarked stream-stream interval join — the streaming tier of
operators/analytics.purchases_near_views_range (driver north star; the
reference is strictly batch and single-stream).

Two event streams (views, purchases — here two filters over one replayed
source) are joined on user_id with an event-time band predicate:
purchase within (0, RANGE_JOIN_WINDOW_S] after the view. Spark buffers
each side in a state store keyed by user_id and, because BOTH sides carry
watermarks AND the join condition bounds event time in both directions,
evicts state as the watermarks advance — the unbounded-state hazard of
stream-stream joins is bounded by the band width plus watermark delay.

State contract at 100 TB: state size ~= events inside the (band + delay)
horizon per side, independent of stream length — the same bucket-bounded
candidate-volume argument as the batch operator's bucketed band join.

The finite availableNow replay emits exactly the batch join's pair set
(the watermark delay exceeds the replay's time span, so nothing is
dropped as late) — tests assert equality against the batch operator
pre-aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analytics import RANGE_JOIN_WINDOW_S

EVENT_SCHEMA = "event_id long, user_id long, ts_s double, event_type string"
# SPAN CONTRACT: the replay-completeness guarantee (stream pair set ==
# batch pair set) holds iff this delay exceeds the replayed data's event-
# time span. The synthetic events table spans 30 days at every sf (the
# generator draws ts inside one month; TESTDATA.md), so 40 days covers it
# with margin. The contract is enforced LOUDLY at run time:
# run_files_to_memory raises if the completed query reports any
# numRowsDroppedByWatermark (tuning.assert_no_watermark_drops) — a larger
# future dataset span fails the run instead of silently shrinking it.
WATERMARK_DELAY = "40 days"


def range_join_stream(events: DataFrame) -> DataFrame:
    """event stream -> (view_id, user_id, purchase gap seconds) pairs for
    purchases within the band after a view by the same user."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.timestamp_seconds(F.col("ts_s")).alias("vts"),
        )
        .withWatermark("vts", WATERMARK_DELAY)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.timestamp_seconds(F.col("ts_s")).alias("pts"),
        )
        .withWatermark("pts", WATERMARK_DELAY)
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND pts > vts AND "
            f"pts <= vts + interval {RANGE_JOIN_WINDOW_S} seconds"
        ),
    )
    return joined.select(
        "view_id",
        F.col("v_user").alias("user_id"),
        (F.col("pts").cast("double") - F.col("vts").cast("double")).alias("gap_s"),
    )


def run_files_to_memory(
    spark: SparkSession, input_path: str, *, table_name: str, one_file_per_batch: bool = False
) -> DataFrame:
    """Drive the file stream to completion (availableNow) into a memory
    sink; one file per micro-batch exercises cross-batch buffering (a
    view in batch 1 joining a purchase arriving in batch 3)."""
    from .runner import drain_to_memory
    from .tuning import assert_no_watermark_drops

    q = drain_to_memory(
        spark,
        input_path,
        schema=EVENT_SCHEMA,
        build=range_join_stream,
        table_name=table_name,
        one_file_per_batch=one_file_per_batch,
    )
    # loud guard for the replay-completeness contract (WATERMARK_DELAY must
    # exceed the staged data's span): a silent late-drop would otherwise
    # just shrink the rows-only count.
    assert_no_watermark_drops(q)
    return spark.table(table_name)
