"""Row-level cleaning expressions (SURVEY.md §2.3, P1-P7).

Faithful relational re-expression of the reference's defensive coercion
(reference src/calcular_kpi.py:86-118). The crucial semantics trap
(SURVEY §4.3 #1): a failed int/float cast does NOT drop or error the row —
it substitutes a default (0 / 0.0) AND forces parse_result='error', which
later feeds the parse_errors aggregate. Spark's non-ANSI cast returns NULL
on failure, so each coercion is a (cast, isNull-flag) pair.

All helpers are pure Column expressions — they stay inside whole-stage
codegen; no UDFs anywhere in this path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TIMESTAMP_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def parse_date_utc(ts: Column | str) -> Column:
    """P3 — 'YYYY-MM-DDTHH:MM:SSZ' string -> 'YYYY-MM-DD' string.

    Reference src/calcular_kpi.py:51-53 (strptime/strftime round-trip).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    # try_to_timestamp, not to_timestamp: ANSI mode (Spark 4 default) makes
    # the plain variant THROW on malformed input — one bad row would kill a
    # 100 TB job. A garbage timestamp becomes a NULL date_utc group instead
    # (the reference never defines this case: its generator only emits valid
    # timestamps and strptime would have crashed the process).
    return F.date_format(F.try_to_timestamp(c, F.lit(TIMESTAMP_FMT)), "yyyy-MM-dd")


def normalize_endpoint(ep: Column | str) -> Column:
    """P4 — strip query string, collapse variable path families.

    Reference src/calcular_kpi.py:56-71:
      1) '/redirect-to?url=/get' -> '/redirect-to'   (split on first '?')
      2) '/status/403'           -> '/status'        (prefix collapse)
         '/basic-auth/u/p'       -> '/basic-auth'
    Note the reference tests startswith('/status/') — a bare '/status' or
    '/basic-auth' (no trailing slash) passes through unchanged.
    """
    c = F.col(ep) if isinstance(ep, str) else ep
    base = F.split(c, r"\?", 2).getItem(0)
    return (
        F.when(base.startswith("/status/"), F.lit("/status"))
        .when(base.startswith("/basic-auth/"), F.lit("/basic-auth"))
        .otherwise(base)
    )


def clean_http_log(df: DataFrame) -> DataFrame:
    """P1-P7 pipeline: raw (stringly-typed) log -> typed, flagged rows.

    Input columns:  timestamp_utc, endpoint, status_code (string),
                    elapsed_ms (string), parse_result
    Output columns: date_utc, endpoint_base, status_code (int),
                    elapsed_ms (double), parse_result

    Semantics (reference src/calcular_kpi.py:90-116):
      - project the 5 fields (P1) — Catalyst prunes the scan to them
      - drop rows with null timestamp_utc or endpoint (P2)
      - derive date_utc (P3) and endpoint_base (P4)
      - int(status_code) failure  -> 0,   parse_result='error' (P5)
      - float(elapsed_ms) failure -> 0.0, parse_result='error' (P6)
      - null parse_result -> 'error' (P7)
    Order matters: the reference applies P5 then P6 then P7, each
    overwriting parse_result, so a row with BOTH bad casts is still one
    'error', and a null parse_result with good casts becomes 'error'.
    """
    # try_cast, not cast: Spark 4 runs ANSI mode by default, where a plain
    # cast *throws* on malformed input; the reference's semantics is
    # "failed cast is data" (null -> default + error flag), which is
    # exactly try_cast + coalesce.
    status_cast = F.col("status_code").try_cast("int")
    elapsed_cast = F.col("elapsed_ms").try_cast("double")
    cast_failed = status_cast.isNull() | elapsed_cast.isNull()
    return (
        df.select("timestamp_utc", "endpoint", "status_code", "elapsed_ms", "parse_result")
        .filter(F.col("timestamp_utc").isNotNull() & F.col("endpoint").isNotNull())
        .select(
            parse_date_utc("timestamp_utc").alias("date_utc"),
            normalize_endpoint("endpoint").alias("endpoint_base"),
            F.coalesce(status_cast, F.lit(0)).alias("status_code"),
            F.coalesce(elapsed_cast, F.lit(0.0)).alias("elapsed_ms"),
            F.when(cast_failed, F.lit("error"))
            .otherwise(F.coalesce(F.col("parse_result"), F.lit("error")))
            .alias("parse_result"),
        )
    )


def pct_of_total(part: Column | str, total: Column | str) -> Column:
    """P8 — part*100/total with the reference's div-by-zero guard
    (reference src/generar_reporte.py:59-61). Multiply first, as the SQL
    twins do: part/total*100 lands on the other side of a .xx5 rounding
    tie (23/160*100 = 14.374999..., 23*100/160 = 14.375)."""
    p = F.col(part) if isinstance(part, str) else part
    t = F.col(total) if isinstance(total, str) else total
    return F.when(t > 0, p * 100.0 / t).otherwise(F.lit(0.0))


def alert_flag(value: Column | str, threshold: float) -> Column:
    """P9 — 'SI'/'NO' case-when alert (reference src/generar_reporte.py:178)."""
    v = F.col(value) if isinstance(value, str) else value
    return F.when(v > F.lit(threshold), F.lit("SI")).otherwise(F.lit("NO"))
