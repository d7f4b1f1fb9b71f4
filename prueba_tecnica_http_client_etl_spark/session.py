"""SparkSession factory tuned for the target execution model.

Tests/bench run on local[N] (single JVM), but every knob here is chosen so
the same plans hold on a 1000-executor cluster at 100 TB:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts.
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescePartitions makes the initial number a ceiling, not a constant.
- UTC session timezone: oracle comparisons (DuckDB is UTC-naive) and
  deterministic date derivation.
- Arrow enabled: every Python-boundary crossing (pandas UDFs, toPandas)
  is columnar-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "prueba-tecnica-etl-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cores = default_parallelism()
    shuffle = shuffle_partitions if shuffle_partitions is not None else max(cores, 8)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE SMJ->shuffled-hash rewrite for joins whose post-shuffle
        # partitions are all MEASURED below this bound (default 0 = off).
        # Round-20 config pass: mins over 5 interleaved fresh-session
        # pairs at the 10x replica improved 6-12% on the un-hinted
        # relational joins (suppliers_blocking_orders 4.89->4.30,
        # purchases_near_views_range 0.83->0.74, top_orders_per_customer
        # 2.80->2.64). Chosen over preferSortMergeJoin=false (also
        # measured, similar win) because this form is gated on RUNTIME
        # map-output sizes, not planner estimates — at 100 TB a
        # mis-estimated shuffled-hash build is an executor OOM, while
        # this bound caps the build side per task; corpus-sized joins
        # stay sort-merge either way (_corpus_sized merge hints take
        # precedence over AQE's selection). Parameterised: clusters with
        # more executor memory per task can raise it.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS); read as INT64 once at session
        # build so table loads never mutate shared session conf mid-query.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Off: PySpark's call-site capture (pyspark/errors/utils.py
        # _with_origin) wraps every DataFrame/Column API call with about
        # four py4j round trips and a Python stack walk that retries a
        # failing `import ipykernel` (~0.1-0.2 ms) each time. Measured on
        # 4 cores at sf0.01: building pricing_summary took 1164 py4j round
        # trips and 0.33 s with it on, 304 and 0.14 s with it off. The only
        # loss is the call-site fragment in analysis-error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Single-JVM local mode: the driver heap IS the executor heap. 16g on
        # the 128 GiB harness box keeps 32 concurrent tasks' join/sort buffers
        # out of GC churn — suite timings showed intermittent multi-second
        # pauses (different victim queries each run) at 8g.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
