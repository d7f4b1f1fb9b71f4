"""Physical data layout strategies (SURVEY.md §3/§4: the reference's
"write CSV, read CSV" stage boundaries, re-expressed as layouts that
actually matter at 100 TB).

Three tools:

- Medallion persistence (bronze/silver/gold): the reference pipeline's
  restartability contract — each stage's output is a parquet layer, so a
  failed downstream stage re-reads instead of recomputing
  (reference README.md:22-46 chains 4 scripts via files on disk).
- Partitioned writes: gold tables partition on their natural pruning key
  (`date_utc`) so date-range queries touch only matching directories —
  partition pruning is the 100 TB equivalent of the reference's
  one-file-per-run layout.
- Bucketed writes: fact tables bucketed on their join key make
  fact-fact joins shuffle-free (both sides are already hash-partitioned
  on disk). The test suite proves the orders x lineitem join plan
  contains NO Exchange when both sides are bucketed on orderkey.

Bucketing requires the table catalog (`saveAsTable`); plain
`.parquet(path)` writes cannot record bucket metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

BRONZE, SILVER, GOLD = "bronze", "silver", "gold"


def write_layer(df: DataFrame, root: str, layer: str, name: str, *, partition_by: list[str] | None = None) -> str:
    """Persist a DataFrame as `<root>/<layer>/<name>` parquet; returns the
    path. Partition columns become directory levels (pruning keys)."""
    path = f"{root}/{layer}/{name}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def read_layer(spark: SparkSession, root: str, layer: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{root}/{layer}/{name}")


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Register `df` as a bucketed catalog table. Joins/aggregations whose
    keys are a superset of `bucket_cols` read both sides pre-partitioned:
    no Exchange in the plan. `n_buckets` should be sized so one bucket of
    the biggest table fits an executor's working memory at target scale
    (e.g. 100 TB / 8192 buckets ~= 12 GB per bucket pre-compression)."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
