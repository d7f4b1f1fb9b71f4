"""Structured Streaming variant of the log -> KPI pipeline (SURVEY.md §7
step 7).

The reference is strictly batch (files between stages, SURVEY §2.6); this
module runs the SAME cleaning semantics (P1-P7) and aggregates (A1-A8)
over an unbounded JSONL stream:

- event time = parsed `timestamp_utc`; `withWatermark` bounds state and
  admits late data up to the configured delay;
- tumbling 1-day windows on event time reproduce the batch `date_utc`
  grouping key;
- p90 uses `percentile_approx` — the exact percentile is NOT
  incrementalizable (it needs every value; the batch path keeps the exact
  variant) — divergence 1 (SURVEY §4.3 trap 4, §7 step 7);
- rows whose `timestamp_utc` does not parse are DROPPED — the watermark
  needs an event time, so the batch path's NULL-date_utc group (which
  keeps unparseable-timestamp rows and counts them in requests_total /
  parse_errors, functions/cleaning.py) cannot exist in the stream —
  divergence 2 (round-12 review; previously undocumented).

At scale the stream partitions by (window, endpoint_base) for the stateful
aggregation — bounded keys, bounded state; watermark eviction keeps the
state store O(active windows), not O(stream length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import TIMESTAMP_FMT, normalize_endpoint
from ..schemas import LOG_SCHEMA


def clean_http_log_stream(raw: DataFrame) -> DataFrame:
    """P1-P7 with an event-time column. Mirrors functions.cleaning
    .clean_http_log (same try_cast + flag coupling — reference
    src/calcular_kpi.py:90-116), but keeps the parsed timestamp (the
    watermark needs it) and DROPS rows whose timestamp does not parse —
    the module docstring's divergence 2."""
    status_cast = F.col("status_code").try_cast("int")
    elapsed_cast = F.col("elapsed_ms").try_cast("double")
    cast_failed = status_cast.isNull() | elapsed_cast.isNull()
    return (
        raw.select("timestamp_utc", "endpoint", "status_code", "elapsed_ms", "parse_result")
        .filter(F.col("timestamp_utc").isNotNull() & F.col("endpoint").isNotNull())
        .select(
            F.try_to_timestamp(F.col("timestamp_utc"), F.lit(TIMESTAMP_FMT)).alias("event_ts"),
            normalize_endpoint("endpoint").alias("endpoint_base"),
            F.coalesce(status_cast, F.lit(0)).alias("status_code"),
            F.coalesce(elapsed_cast, F.lit(0.0)).alias("elapsed_ms"),
            F.when(cast_failed, F.lit("error"))
            .otherwise(F.coalesce(F.col("parse_result"), F.lit("error")))
            .alias("parse_result"),
        )
        .filter(F.col("event_ts").isNotNull())
    )


def kpi_daily_stream(cleaned: DataFrame, *, watermark_delay: str = "1 day") -> DataFrame:
    """A1-A8 over tumbling 1-day event-time windows.

    Returns the same 9 KPI columns as the batch kpi_daily (date_utc from
    the window start), with p90 approximate (see module docstring).
    """

    from ..operators.kpi import kpi_aggregates

    # the SAME A2-A8 aggregate expressions as the batch kpi_daily
    # (round-12 review: the previous inline copy had drifted — it
    # skipped round2 on the sketch p90, so stream and batch consumers
    # saw different precision for the one approximate column; sharing
    # kpi_aggregates makes divergence structurally impossible). All
    # integer/fixed-point partials are mergeable across micro-batches,
    # so the incremental result is bit-identical to the batch one on
    # every exact column.
    return (
        cleaned.withWatermark("event_ts", watermark_delay)
        .groupBy(F.window("event_ts", "1 day").alias("w"), F.col("endpoint_base"))
        .agg(*kpi_aggregates(exact_percentile=False))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("date_utc"),
            "endpoint_base",
            "requests_total",
            "success_2xx",
            "client_4xx",
            "server_5xx",
            "parse_errors",
            "avg_elapsed_ms",
            "p90_elapsed_ms",
        )
    )


def run_with_quarantine(
    spark: SparkSession, input_path: str, out_root: str, *, checkpoint: str
) -> dict[str, int]:
    """Streaming ingest with a two-way split per micro-batch (foreachBatch
    multi-sink): clean rows land in the silver layer, malformed JSON
    lines in a quarantine layer — one scan, two sinks. This is the 100 TB
    quarantine pattern the batch `sources.files.split_corrupt` documents:
    never cache a full scan to split it; split each bounded micro-batch
    instead.

    foreachBatch alone is only at-least-once (a crash between the two
    writes replays the batch); each sink therefore OVERWRITES its own
    batch_id-derived partition directory, so a replayed batch converges
    to the same files — idempotent, hence effectively exactly-once
    end-to-end. Readers see `batch_id` as a discovered partition column.

    Returns row counts per layer after the stream drains.
    """
    from ..sources.files import CORRUPT_COL, PERMISSIVE_LOG_SCHEMA, PERMISSIVE_READER_OPTIONS
    from .runner import run_split_stream

    run_split_stream(
        spark,
        input_path,
        out_root,
        # the schema + options the batch permissive reader owns
        # (sources/files.py) — imported, never re-derived
        schema=PERMISSIVE_LOG_SCHEMA,
        reader_options=PERMISSIVE_READER_OPTIONS,
        checkpoint=checkpoint,
        layers=[
            ("silver", F.col(CORRUPT_COL).isNull(), lambda d: d.drop(CORRUPT_COL)),
            (
                "quarantine",
                F.col(CORRUPT_COL).isNotNull(),
                lambda d: d.select(F.col(CORRUPT_COL).alias("raw")),
            ),
        ],
    )
    return {
        "silver": spark.read.parquet(f"{out_root}/silver").count(),
        "quarantine": spark.read.parquet(f"{out_root}/quarantine").count(),
    }


def run_to_memory(spark: SparkSession, input_path: str, *, table_name: str = "kpi_stream") -> DataFrame:
    """Drive the stream to completion over the files currently in
    `input_path` (availableNow trigger) into an in-memory sink — the test/
    demo harness. Complete output mode: every trigger re-emits the full
    KPI table, so finite input yields exactly the batch answer (append
    mode would hold back windows above the watermark). The source is S1
    as a stream: the JSONL directory with the explicit LOG_SCHEMA (no
    inference job; corrupt rows handled by the same try_cast layer)."""
    from .runner import drain_to_memory

    drain_to_memory(
        spark,
        input_path,
        schema=LOG_SCHEMA,
        build=lambda raw: kpi_daily_stream(clean_http_log_stream(raw)),
        table_name=table_name,
        output_mode="complete",
    )
    return spark.table(table_name)
