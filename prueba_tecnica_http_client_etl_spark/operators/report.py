"""Level-2 report aggregation (SURVEY.md §2.4 A9-A13, §2.3 P8-P10, §2.5 O2).

KPI fact table -> per-endpoint report table + single-row global metrics,
reproducing the reference's *intentionally approximate* roll-ups
formula-for-formula (SURVEY §4.3 #5):

- avg/p90 are re-aggregated as request-weighted means of the per-day
  values (reference src/generar_reporte.py:49-52) — the p90 roll-up is a
  heuristic, not a true global p90;
- the global p90 is numpy-style percentile *of the per-group p90 column*
  (reference src/generar_reporte.py:29-31).

`kpi_rollup` is the Spark-native generalization: one GROUPING SETS pass
produces level-1, level-2 and global rows together — a single shuffle
instead of three cascaded jobs; Spark expands grouping sets map-side so
this still partial-aggregates at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import alert_flag, pct_of_total
from ..functions.portable import exact_avg, round2, sql_exact_avg, sql_round2
from ..schemas import REPORT_COLUMNS

DEFAULT_P90_THRESHOLD = 300.0  # reference README.md:137 example --umbral_p90


def report_by_endpoint(kpi: DataFrame, *, p90_threshold: float = DEFAULT_P90_THRESHOLD) -> DataFrame:
    """A9-A11 + P8-P10 + O2 (reference src/generar_reporte.py:34-68,:178)."""
    req = F.col("requests_total")
    # weighted mean in cents fixed-point: the KPI inputs are 2-dp, so
    # floor(x*100+0.5) is lossless and the integer sum is order-independent
    # (same convention as portable.exact_avg).
    weighted = lambda c: (  # noqa: E731
        F.sum(F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long") * req).cast("double")
        / 100
        / F.greatest(F.sum(req), F.lit(1))
    )
    agg = kpi.groupBy("endpoint_base").agg(
        F.sum("requests_total").alias("requests_total"),
        F.sum("success_2xx").alias("success_2xx"),
        F.sum("client_4xx").alias("client_4xx"),
        F.sum("server_5xx").alias("server_5xx"),
        weighted("avg_elapsed_ms").alias("avg_elapsed_ms_w"),
        weighted("p90_elapsed_ms").alias("p90_elapsed_ms_w"),
    )
    return (
        agg.select(
            "endpoint_base",
            "requests_total",
            "success_2xx",
            "client_4xx",
            "server_5xx",
            round2("avg_elapsed_ms_w").alias("avg_elapsed_ms"),
            round2("p90_elapsed_ms_w").alias("p90_elapsed_ms"),
            round2(pct_of_total("success_2xx", "requests_total")).alias("pct_success"),
            round2(pct_of_total("client_4xx", "requests_total")).alias("pct_client_4xx"),
            round2(pct_of_total("server_5xx", "requests_total")).alias("pct_server_5xx"),
        )
        .withColumn("alerta_p90", alert_flag("p90_elapsed_ms", p90_threshold))
        .select(*REPORT_COLUMNS)
        .orderBy(F.col("requests_total").desc(), F.col("endpoint_base"))
    )


def sql_report_by_endpoint_select(source: str = "kpi", p90_threshold: float = DEFAULT_P90_THRESHOLD) -> str:
    w_avg = (
        "(CAST(sum(CAST(floor(avg_elapsed_ms * 100 + 0.5) AS BIGINT) * requests_total) AS DOUBLE)"
        " / 100 / greatest(sum(requests_total), 1))"
    )
    w_p90 = (
        "(CAST(sum(CAST(floor(p90_elapsed_ms * 100 + 0.5) AS BIGINT) * requests_total) AS DOUBLE)"
        " / 100 / greatest(sum(requests_total), 1))"
    )
    pct = lambda c: f"CASE WHEN sum(requests_total) > 0 THEN sum({c}) * 100.0 / sum(requests_total) ELSE 0.0 END"  # noqa: E731
    return f"""
SELECT
  endpoint_base,
  CAST(sum(requests_total) AS BIGINT) AS requests_total,
  CAST(sum(success_2xx) AS BIGINT) AS success_2xx,
  CAST(sum(client_4xx) AS BIGINT) AS client_4xx,
  CAST(sum(server_5xx) AS BIGINT) AS server_5xx,
  {sql_round2(w_avg)} AS avg_elapsed_ms,
  {sql_round2(w_p90)} AS p90_elapsed_ms,
  {sql_round2(pct('success_2xx'))} AS pct_success,
  {sql_round2(pct('client_4xx'))} AS pct_client_4xx,
  {sql_round2(pct('server_5xx'))} AS pct_server_5xx,
  CASE WHEN {sql_round2(w_p90)} > {p90_threshold} THEN 'SI' ELSE 'NO' END AS alerta_p90
FROM {source}
GROUP BY endpoint_base
ORDER BY requests_total DESC, endpoint_base"""


def global_metrics(kpi: DataFrame) -> DataFrame:
    """A12-A13 single-row global aggregate (reference src/generar_reporte.py:19-31).

    pct_errors counts 4xx+5xx; p90_global is the percentile of the
    *p90 column* (approximation inherited from the reference, flagged
    there as 'sin raw no hay exacto global')."""
    total = F.sum("requests_total")
    return kpi.agg(
        total.alias("requests_total"),
        round2(pct_of_total(F.sum("success_2xx"), total)).alias("pct_success"),
        round2(pct_of_total(F.sum("client_4xx") + F.sum("server_5xx"), total)).alias("pct_errors"),
        round2(F.percentile(F.col("p90_elapsed_ms"), F.lit(0.9))).alias("p90_global_approx"),
    )


def sql_global_metrics_select(source: str = "kpi") -> str:
    pct_s = "CASE WHEN sum(requests_total) > 0 THEN sum(success_2xx) * 100.0 / sum(requests_total) ELSE 0.0 END"
    pct_e = (
        "CASE WHEN sum(requests_total) > 0 THEN (sum(client_4xx) + sum(server_5xx)) * 100.0 / sum(requests_total) "
        "ELSE 0.0 END"
    )
    return f"""
SELECT
  CAST(sum(requests_total) AS BIGINT) AS requests_total,
  {sql_round2(pct_s)} AS pct_success,
  {sql_round2(pct_e)} AS pct_errors,
  {sql_round2('quantile_cont(p90_elapsed_ms, 0.9)')} AS p90_global_approx
FROM {source}"""


def global_metrics_exact(clean_log: DataFrame) -> DataFrame:
    """The engine improvement the reference explicitly could not do
    ('sin raw no hay exacto global', reference src/generar_reporte.py:29-30):
    global metrics computed from the RAW clean log in one pass — exact
    global p90 over every elapsed value, not the p90-of-p90s heuristic.
    One aggregation, no KPI intermediate; at 100 TB the exact percentile
    is the sort-based ObjectHashAggregate (spills), with
    percentile_approx as the documented sketch alternative."""
    total = F.count(F.lit(1))
    return clean_log.agg(
        total.alias("requests_total"),
        round2(
            F.when(
                total > 0,
                F.sum(F.when(F.col("status_code").between(200, 299), 1).otherwise(0)) * 100.0 / total,
            ).otherwise(F.lit(0.0))
        ).alias("pct_success"),
        round2(
            F.when(
                total > 0,
                F.sum(F.when(F.col("status_code").between(400, 599), 1).otherwise(0)) * 100.0 / total,
            ).otherwise(F.lit(0.0))
        ).alias("pct_errors"),
        round2(exact_avg(F.col("elapsed_ms"), 100)).alias("avg_elapsed_ms"),
        round2(F.percentile(F.col("elapsed_ms"), F.lit(0.9))).alias("p90_elapsed_ms_exact"),
    )


def sql_global_metrics_exact_select(source: str = "clean_log") -> str:
    pct_s = "CASE WHEN count(*) > 0 THEN sum(CASE WHEN status_code BETWEEN 200 AND 299 THEN 1 ELSE 0 END) * 100.0 / count(*) ELSE 0.0 END"
    pct_e = "CASE WHEN count(*) > 0 THEN sum(CASE WHEN status_code BETWEEN 400 AND 599 THEN 1 ELSE 0 END) * 100.0 / count(*) ELSE 0.0 END"
    return f"""
SELECT
  count(*) AS requests_total,
  {sql_round2(pct_s)} AS pct_success,
  {sql_round2(pct_e)} AS pct_errors,
  {sql_round2(sql_exact_avg('elapsed_ms', 100))} AS avg_elapsed_ms,
  {sql_round2('quantile_cont(elapsed_ms, 0.9)')} AS p90_elapsed_ms_exact
FROM {source}"""


def kpi_rollup(clean_log: DataFrame) -> DataFrame:
    """GROUPING SETS ((date, endpoint), (endpoint), ()) in ONE pass —
    the Spark-native fusion of level-1 + level-2 + global (SURVEY §2.4).

    Unlike the reference's cascade, avg/percentile here are computed from
    the raw rows at every level, so the endpoint-level and global numbers
    are exact, not weighted-mean heuristics."""
    return (
        clean_log.groupingSets(
            [["date_utc", "endpoint_base"], ["endpoint_base"], []],
            "date_utc",
            "endpoint_base",
        )
        .agg(
            F.grouping_id("date_utc", "endpoint_base").cast("int").alias("grp"),
            F.count(F.lit(1)).alias("requests_total"),
            F.sum(F.when(F.col("status_code").between(200, 299), 1).otherwise(0)).alias("success_2xx"),
            round2(exact_avg(F.col("elapsed_ms"), 100)).alias("avg_elapsed_ms"),
            round2(F.percentile(F.col("elapsed_ms"), F.lit(0.9))).alias("p90_elapsed_ms"),
        )
        .orderBy("grp", "date_utc", "endpoint_base")
    )


def sql_kpi_rollup_select(source: str = "clean_log") -> str:
    return f"""
SELECT
  date_utc,
  endpoint_base,
  CAST(GROUPING(date_utc) * 2 + GROUPING(endpoint_base) AS INT) AS grp,
  count(*) AS requests_total,
  CAST(sum(CASE WHEN status_code BETWEEN 200 AND 299 THEN 1 ELSE 0 END) AS BIGINT) AS success_2xx,
  {sql_round2(sql_exact_avg('elapsed_ms', 100))} AS avg_elapsed_ms,
  {sql_round2('quantile_cont(elapsed_ms, 0.9)')} AS p90_elapsed_ms
FROM {source}
GROUP BY GROUPING SETS ((date_utc, endpoint_base), (endpoint_base), ())
ORDER BY grp, date_utc, endpoint_base"""


# --- robust anomaly detection over the KPI series ----------------------------

MAD_K = 3.0  # flag days whose |p90 - median| exceeds K x MAD
MAD_FLOOR_MS = 1.0  # threshold floor: a near-constant series has MAD ~ 0,
# where any rounding jitter would otherwise flag every day


def kpi_anomaly_days(kpi: DataFrame) -> DataFrame:
    """Median/MAD outlier flags over each endpoint's daily p90 series —
    the robust extension of the reference's fixed-threshold alert
    (src/generar_reporte.py umbral_p90): a static threshold misses the
    endpoint whose normal p90 is 20 ms suddenly running at 80 ms, and
    false-alarms the endpoint that always runs hot. Median and MAD are
    insensitive to the outliers being hunted (the mean/stddev version
    masks its own anomalies), which is why production SLO monitoers use
    exactly this shape.

    Per endpoint: med = median(daily p90), mad = median(|p90 - med|),
    anomaly iff |p90 - med| > max(K x mad, MAD_FLOOR_MS). Exactness:
    daily p90s are the KPI table's 2-dp values; F.percentile ==
    quantile_cont bit-for-bit on them (corpus_length_profile precedent),
    the absolute deviations are per-row double arithmetic, and the flag
    comparison runs on identical doubles in both engines.

    Plan shape: the KPI frame is pool-persisted FIRST — it is consumed
    by four branches (med, dev, mad, and the final select), and without
    the persist each branch re-derived the whole clean->aggregate
    lineage from the raw log (measured at sf0.1: 4 parquet scans + 4
    duplicated ObjectHashAggregate subtrees in the physical plan,
    3.86 s; with the persist one scan, 2.6 s). Then two
    partial-aggregated percentile passes over the persisted KPI rows
    (|days x endpoints| — tiny next to the raw log at any scale) with
    broadcast joins back; the raw log is scanned exactly once."""
    from ..functions.cachepool import managed_persist

    kpi = managed_persist(kpi)
    med = kpi.groupBy("endpoint_base").agg(
        F.percentile("p90_elapsed_ms", F.lit(0.5)).alias("med_p90")
    )
    dev = kpi.join(F.broadcast(med), "endpoint_base").withColumn(
        "abs_dev", F.abs(F.col("p90_elapsed_ms") - F.col("med_p90"))
    )
    mad = dev.groupBy("endpoint_base").agg(
        F.percentile("abs_dev", F.lit(0.5)).alias("mad_p90")
    )
    thresh = F.greatest(F.lit(MAD_K) * F.col("mad_p90"), F.lit(MAD_FLOOR_MS))
    return (
        dev.join(F.broadcast(mad), "endpoint_base")
        .select(
            "date_utc",
            "endpoint_base",
            "p90_elapsed_ms",
            round2(F.col("med_p90")).alias("med_p90"),
            round2(F.col("mad_p90")).alias("mad_p90"),
            round2(F.col("abs_dev")).alias("abs_dev"),
            F.when(F.col("abs_dev") > thresh, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("is_anomaly"),
        )
        .orderBy("date_utc", "endpoint_base")
    )


def sql_kpi_anomaly_select(source: str = "kpi") -> str:
    return f"""
, med_t AS (
  SELECT endpoint_base, quantile_cont(p90_elapsed_ms, 0.5) AS med_p90
  FROM {source} GROUP BY endpoint_base
),
dev_t AS (
  SELECT k.date_utc, k.endpoint_base, k.p90_elapsed_ms, m.med_p90,
         abs(k.p90_elapsed_ms - m.med_p90) AS abs_dev
  FROM {source} k JOIN med_t m ON k.endpoint_base = m.endpoint_base
),
mad_t AS (
  SELECT endpoint_base, quantile_cont(abs_dev, 0.5) AS mad_p90
  FROM dev_t GROUP BY endpoint_base
)
SELECT d.date_utc, d.endpoint_base, d.p90_elapsed_ms,
       {sql_round2('d.med_p90')} AS med_p90,
       {sql_round2('t.mad_p90')} AS mad_p90,
       {sql_round2('d.abs_dev')} AS abs_dev,
       CAST(CASE WHEN d.abs_dev > greatest({MAD_K} * t.mad_p90, {MAD_FLOOR_MS}) THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM dev_t d JOIN mad_t t ON d.endpoint_base = t.endpoint_base
ORDER BY d.date_utc, d.endpoint_base"""
