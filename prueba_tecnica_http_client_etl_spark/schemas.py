"""Explicit schemas for every dataset the engine touches.

The reference carries no declared schemas (dynamic dicts + defensive
coercion, reference src/calcular_kpi.py:86-118); here every scan declares a
StructType so Catalyst can prune columns and push filters into the parquet
reader, and so JSONL ingestion never pays inference.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T

# Raw HTTP call-log record (reference src/generar_datos.py:50-58).
# status_code / elapsed_ms are ingested as *strings* so that the
# cast-failure-as-data semantics (reference src/calcular_kpi.py:102-114)
# is expressible relationally: a failed cast must yield a default AND flip
# parse_result, not raise.
LOG_SCHEMA = T.StructType(
    [
        T.StructField("timestamp_utc", T.StringType(), True),
        T.StructField("endpoint", T.StringType(), True),
        T.StructField("status_code", T.StringType(), True),
        T.StructField("elapsed_ms", T.StringType(), True),
        T.StructField("parse_result", T.StringType(), True),
    ]
)

# Strictly-typed variant for well-formed logs (e.g. our own generator output).
LOG_SCHEMA_TYPED = T.StructType(
    [
        T.StructField("timestamp_utc", T.StringType(), True),
        T.StructField("endpoint", T.StringType(), True),
        T.StructField("status_code", T.IntegerType(), True),
        T.StructField("elapsed_ms", T.DoubleType(), True),
        T.StructField("parse_result", T.StringType(), True),
    ]
)

# KPI fact table: exact 9-column order of reference src/calcular_kpi.py:124-134.
KPI_COLUMNS = [
    "date_utc",
    "endpoint_base",
    "requests_total",
    "success_2xx",
    "client_4xx",
    "server_5xx",
    "parse_errors",
    "avg_elapsed_ms",
    "p90_elapsed_ms",
]

KPI_SCHEMA = T.StructType(
    [
        T.StructField("date_utc", T.StringType(), True),
        T.StructField("endpoint_base", T.StringType(), True),
        T.StructField("requests_total", T.LongType(), True),
        T.StructField("success_2xx", T.LongType(), True),
        T.StructField("client_4xx", T.LongType(), True),
        T.StructField("server_5xx", T.LongType(), True),
        T.StructField("parse_errors", T.LongType(), True),
        T.StructField("avg_elapsed_ms", T.DoubleType(), True),
        T.StructField("p90_elapsed_ms", T.DoubleType(), True),
    ]
)

# Per-endpoint report table (reference src/generar_reporte.py:34-68, :178).
REPORT_COLUMNS = [
    "endpoint_base",
    "requests_total",
    "success_2xx",
    "client_4xx",
    "server_5xx",
    "avg_elapsed_ms",
    "p90_elapsed_ms",
    "pct_success",
    "pct_client_4xx",
    "pct_server_5xx",
    "alerta_p90",
]

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Parquet schema inference reads the file footer in a Spark job (about
# 0.1 s warm on 4 cores); a read with a known schema runs no job (about
# 0.02 s). Every registry query scans its tables afresh, so the inferred
# StructType is memoized per file identity plus nanosAsLong, the one conf
# the engine flips that changes the inferred types. Only the schema is
# shared: each load_table call still builds its own relation, so a query
# that loads one table twice can self-join.
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_SCHEMAS: dict[tuple, T.StructType] = {}


def _file_identity(path: str) -> tuple:
    """(realpath, inode, size, mtime_ns) of a file, or of every file under
    a directory (the multi-file tables scale_check.py writes): any rewrite
    changes the key, so a stale schema is never reused."""
    real = os.path.realpath(path)
    if not os.path.isdir(real):
        st = os.stat(real)
        return (real, st.st_ino, st.st_size, st.st_mtime_ns)
    files = []
    for root, dirs, names in os.walk(real):
        dirs.sort()
        for n in sorted(names):
            f = os.path.join(root, n)
            st = os.stat(f)
            files.append((os.path.relpath(f, real), st.st_ino, st.st_size, st.st_mtime_ns))
    return (real, tuple(files))


def _parquet_schema(spark, path: str) -> T.StructType:
    if not os.path.exists(path):
        # a remote URI or a missing table: no local identity to key on, so
        # infer every time and let Spark report a missing path as before
        return spark.read.parquet(path).schema
    key = (_file_identity(path), spark.conf.get(_NANOS_AS_LONG, "false"))
    schema = _SCHEMAS.get(key)
    if schema is None:
        # two threads racing here both infer; the value is the same
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark, sf_dir: str, name: str):
    """Parquet scan with Catalyst pushdown; schemas come from parquet footers
    (inferred once per file, `_parquet_schema`), with timestamp encodings
    normalized to one engine-wide convention:
    every timestamp column is TIMESTAMP_LTZ holding the file's wall-clock
    value interpreted as UTC — exactly how DuckDB's naive TIMESTAMP treats
    the same bytes, so oracle comparisons (epoch(), date_format) agree.

    Two generator encodings are handled:
    - TIMESTAMP(NANOS) (early datasets): Spark 4 rejects it by default;
      `get_spark` sets spark.sql.legacy.parquet.nanosAsLong at session build
      (the conf.set below is a fallback for externally-built sessions), and
      the INT64 nanos are truncated to micros — DuckDB's truncation.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current datasets): Spark
      reads it as TIMESTAMP_NTZ, which refuses numeric casts
      (`cast(ts as double)` is analysis-time invalid on NTZ); cast to LTZ —
      an exact identity on wall-clock values under the UTC session timezone
      the engine mandates (session.py).
    """
    if name == "events" and spark.conf.get(_NANOS_AS_LONG, "false") != "true":
        spark.conf.set(_NANOS_AS_LONG, "true")
    path = f"{sf_dir}/{name}.parquet"
    schema = _parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    if name == "events" and dtypes.get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        dtypes["ts"] = "timestamp"
    ntz = [c for c, t in dtypes.items() if t == "timestamp_ntz"]
    if ntz:
        from pyspark.sql import functions as F

        # The NTZ -> LTZ cast is a wall-clock identity ONLY under a UTC
        # session timezone. get_spark sessions enforce that (session.py),
        # but load_table also accepts externally built sessions (round-6
        # ADVICE): pin the conf here too — mirroring the nanosAsLong
        # fallback above — so a non-UTC caller gets correct values
        # instead of silently shifted timestamps.
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df
