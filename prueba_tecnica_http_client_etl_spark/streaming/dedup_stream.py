"""Streaming exact deduplication — the streaming tier of
operators/dedup.dedup_exact (driver north star: dedup as a first-class
training-data-pipeline operator; the reference is strictly batch).

An unbounded document stream is deduplicated on the md5 digest of the
normalized text with `dropDuplicates`: Spark keeps one state entry per
distinct digest (hash-partitioned on the digest — the same shuffle key the
batch variant groups on) and emits ONE document per digest; later copies
in LATER micro-batches are always dropped by the state store, while
duplicates landing in the SAME micro-batch keep an arbitrary
(partition-order-dependent) survivor — which doc_id wins is a
streaming-only notion, exactly why the certified oracle checks the
digest SET and not the survivor (the dedup_stream row in registry.py). Docs with a
null/missing text carry no content identity (their digest is NULL, and
dropDuplicates would collapse them all onto one surviving row as if
they were copies of each other) — they are filtered out; the curation
front-door quarantines them upstream (quality_stream's null guard).

State contract at 100 TB: exact global dedup requires O(|distinct docs|)
state by definition — that is what the batch job pays as a shuffle, held
here as a state store instead. For unbounded retention use
`dropDuplicatesWithinWatermark` (bounded by the event-time horizon) or
periodic state checkpointing/compaction; kept exact-global here so the
finite replay matches the batch `dedup_exact` group count exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textprep as tp

DOC_SCHEMA = "doc_id long, text string"


def dedup_stream(docs: DataFrame) -> DataFrame:
    """document stream (doc_id, text) -> one-survivor-per-digest stream
    keyed on the normalized-text digest (same normalization as the batch
    dedup; null-text docs filtered — module docstring)."""
    return (
        docs.select("doc_id", F.md5(F.expr(tp.SPARK_NORM)).alias("norm_md5"))
        .filter(F.col("norm_md5").isNotNull())
        .dropDuplicates(["norm_md5"])
    )


def dedup_stream_ttl(docs: DataFrame, *, delay: str) -> DataFrame:
    """BOUNDED-STATE streaming dedup: `dropDuplicatesWithinWatermark`
    keeps a digest's state only until the watermark passes its event
    time + `delay`, so the state store holds O(|distinct digests within
    the horizon|) instead of O(|all digests ever|) — the retention
    answer the exact-global variant's docstring points at, and the
    difference between a state store that grows forever at 100 TB/day
    and one bounded by the dedup window a production pipeline actually
    wants (e.g. "drop recrawls within 30 days").

    Semantics: duplicates whose event times fall within `delay` of the
    first-seen copy are suppressed (exactly like dropDuplicates while
    the state lives); a copy arriving after the watermark has evicted
    the digest is re-admitted — that is the contract, not a defect, and
    tests/test_dedup_stream.py measures the eviction directly via the
    state-store row count. With `delay` exceeding the replay's whole
    event-time span nothing is ever evicted and the emitted digest set
    equals the batch dedup_exact group keys — which is how the registry
    certifies this stream against the same oracle as dedup_stream.

    Event time here is synthesized from doc_id (timestamp_seconds,
    offset one day past the epoch: Spark initializes the watermark at
    epoch 0, and a row landing exactly ON the initial watermark is
    dropped as late — doc_id 0 would silently vanish unoffset);
    production wires the real ingest timestamp."""
    return (
        docs.select(
            "doc_id",
            F.md5(F.expr(tp.SPARK_NORM)).alias("norm_md5"),
            F.timestamp_seconds(F.col("doc_id") + F.lit(86400)).alias("event_ts"),
        )
        .filter(F.col("norm_md5").isNotNull())  # same null rule as dedup_stream
        .withWatermark("event_ts", delay)
        .dropDuplicatesWithinWatermark(["norm_md5"])
    )


def run_files_to_memory_ttl(
    spark: SparkSession,
    input_path: str,
    *,
    table_name: str,
    delay: str,
    one_file_per_batch: bool = False,
) -> tuple[DataFrame, dict | None]:
    """Drive the TTL dedup stream to completion (availableNow) into a
    memory sink; returns (result frame, final progress dict) — the
    progress carries stateOperators[0].numRowsTotal, the direct
    measurement that eviction bounded the store."""
    from .runner import drain_to_memory

    q = drain_to_memory(
        spark,
        input_path,
        schema=DOC_SCHEMA,
        build=lambda docs: dedup_stream_ttl(docs, delay=delay),
        table_name=table_name,
        one_file_per_batch=one_file_per_batch,
    )
    return spark.table(table_name), q.lastProgress


def run_files_to_memory(
    spark: SparkSession, input_path: str, *, table_name: str, one_file_per_batch: bool = False
) -> DataFrame:
    """Drive the file stream to completion (availableNow) into a memory
    sink; one file per micro-batch exercises cross-batch suppression."""
    from .runner import drain_to_memory

    drain_to_memory(
        spark,
        input_path,
        schema=DOC_SCHEMA,
        build=dedup_stream,
        table_name=table_name,
        one_file_per_batch=one_file_per_batch,
    )
    return spark.table(table_name)
