"""Property tests for the cross-engine determinism primitives every
oracle comparison rests on: portable floor-rounding and the md5-based
u60 hash must produce bit-identical values in Spark and DuckDB for
arbitrary inputs, not just the corpus values the parity suite happens to
exercise. One Spark job per example is slow, so each example is a whole
batch of values."""

from __future__ import annotations

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.functions.portable import (
    roundn,
    salted,
    sql_roundn,
    sql_salted,
)

_vals = st.lists(
    st.floats(min_value=0.0, max_value=1e9, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=300,
)


@given(vals=_vals)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_roundn_bit_parity_with_duckdb(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [
        tuple(r)
        for r in df.select(
            roundn(F.col("v"), 2).alias("r2"),
            roundn(F.col("v"), 4).alias("r4"),
            roundn(F.col("v"), 6).alias("r6"),
        ).collect()
    ]
    con = duckdb.connect()
    want = con.execute(
        f"SELECT {sql_roundn('v', 2)}, {sql_roundn('v', 4)}, {sql_roundn('v', 6)} "
        "FROM (SELECT unnest($1::DOUBLE[]) AS v)",
        [vals],
    ).fetchall()
    # both engines must emit the SAME double, bit for bit (floats compare
    # exactly here on purpose)
    assert sorted(got) == sorted(want)


_texts = st.lists(
    st.text(
        alphabet=st.characters(codec="ascii", categories=["L", "N", "P", "Z"]),
        min_size=0,
        max_size=50,
    ),
    min_size=1,
    max_size=200,
)


@given(texts=_texts)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_salted_u60_parity_with_duckdb(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = sorted(r[0] for r in df.select(salted("stream", F.col("t"))).collect())
    con = duckdb.connect()
    want = sorted(
        r[0]
        for r in con.execute(
            f"SELECT {sql_salted('stream', 't')} FROM (SELECT unnest($1::VARCHAR[]) AS t)",
            [texts],
        ).fetchall()
    )
    assert got == want
    # 60-bit contract: non-negative and below 2^60 in both engines
    assert all(0 <= v < (1 << 60) for v in got)


def test_report_percentages_match_sql_twins_on_rounding_tie(spark):
    # 23/160*100 = 14.374999... but 23*100/160 = 14.375 exactly, which
    # round2 takes to 14.38: the Spark side must multiply first, like its
    # SQL twin, or the two engines land on opposite sides of the tie
    from prueba_tecnica_http_client_etl_spark.operators.report import (
        global_metrics,
        report_by_endpoint,
        sql_global_metrics_select,
        sql_report_by_endpoint_select,
    )
    from prueba_tecnica_http_client_etl_spark.schemas import KPI_SCHEMA

    row = ("2026-01-01", "/get", 160, 23, 23, 0, 0, 10.0, 20.0)
    kpi = spark.createDataFrame([row], KPI_SCHEMA)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE kpi (date_utc VARCHAR, endpoint_base VARCHAR, requests_total BIGINT, "
        "success_2xx BIGINT, client_4xx BIGINT, server_5xx BIGINT, parse_errors BIGINT, "
        "avg_elapsed_ms DOUBLE, p90_elapsed_ms DOUBLE)"
    )
    con.execute("INSERT INTO kpi VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)", list(row))
    for spark_df, sql in (
        (global_metrics(kpi), sql_global_metrics_select()),
        (report_by_endpoint(kpi), sql_report_by_endpoint_select()),
    ):
        got = spark_df.collect()[0].asDict()
        rel = con.sql(sql)
        want = dict(zip(rel.columns, rel.fetchone()))
        assert got == want
        assert got["pct_success"] == 14.38
