"""S1/S2 file scans: permissive corrupt-record quarantine, FAILFAST
parity with the reference's fail-fast contract, blank-line skipping, the
typed KPI CSV round-trip, and the parquet table loader's schema memo."""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pytest

from prueba_tecnica_http_client_etl_spark.operators.kpi import kpi_daily
from prueba_tecnica_http_client_etl_spark.functions.cleaning import clean_http_log
from prueba_tecnica_http_client_etl_spark.schemas import load_table
from prueba_tecnica_http_client_etl_spark.sinks.files import write_kpi_csv
from prueba_tecnica_http_client_etl_spark.sources import files as FSRC
from tests.conftest import SF_SMOKE

GOOD = '{"timestamp_utc": "2026-01-01T10:00:00Z", "endpoint": "/get", "status_code": "200", "elapsed_ms": "10.5", "parse_result": "ok"}'
BAD = '{"timestamp_utc": broken'


def test_permissive_scan_quarantines_corrupt(spark, tmp_path):
    (tmp_path / "log.jsonl").write_text("\n".join([GOOD, "", "   ", BAD, GOOD]))
    df = FSRC.read_log_jsonl(spark, str(tmp_path / "log.jsonl"))
    clean, corrupt = FSRC.split_corrupt(df)
    # blank lines skipped (reference calcular_kpi.py:78-79); bad line kept as data
    assert clean.count() == 2
    assert [r["raw"] for r in corrupt.collect()] == [BAD]
    # the clean side feeds the normal pipeline
    assert kpi_daily(clean_http_log(clean)).count() == 1


def test_strict_scan_fail_fast(spark, tmp_path):
    (tmp_path / "log.jsonl").write_text("\n".join([GOOD, BAD]))
    with pytest.raises(Exception) as exc:
        FSRC.read_log_jsonl(spark, str(tmp_path / "log.jsonl"), strict=True).collect()
    # the reference raises ValueError with a line number
    # (calcular_kpi.py:80-83); Spark's FAILFAST names the malformed record
    assert "FAILFAST" in str(exc.value) or "Malformed" in str(exc.value)


def test_kpi_csv_round_trip(spark, tmp_path):
    raw = spark.createDataFrame(
        [("2026-01-01T10:00:00Z", "/get", "200", "10.5", "ok"),
         ("2026-01-01T11:00:00Z", "/get", "503", "99.5", "ok")],
        "timestamp_utc string, endpoint string, status_code string, elapsed_ms string, parse_result string",
    )
    kpi = kpi_daily(clean_http_log(raw))
    write_kpi_csv(kpi, str(tmp_path / "kpi"), single_file=True)
    back = FSRC.read_kpi_csv(spark, str(tmp_path / "kpi"))
    assert back.schema == kpi.schema or [f.name for f in back.schema.fields] == [f.name for f in kpi.schema.fields]
    got = back.collect()[0].asDict()
    assert got["requests_total"] == 2 and got["server_5xx"] == 1
    assert abs(got["avg_elapsed_ms"] - 55.0) < 1e-9


def test_strict_parity_reports_reference_line_number(spark, tmp_path):
    """The reference fail-fasts with `JSON mal formado en línea {N}: {e}`
    counting ALL physical lines from 1 including blanks (calcular_kpi.py
    enumerate(start=1) + blank skip). Line 5 below is the first malformed
    one; the message must carry exactly that number and json's own detail."""
    import json

    lines = [GOOD, "", GOOD, "   ", BAD, GOOD, BAD]
    (tmp_path / "log.jsonl").write_text("\n".join(lines))
    with pytest.raises(ValueError) as exc:
        FSRC.read_log_jsonl_strict_parity(spark, str(tmp_path / "log.jsonl"))
    try:
        json.loads(BAD)
    except json.JSONDecodeError as e:
        expected_detail = str(e)
    assert str(exc.value) == f"JSON mal formado en línea 5: {expected_detail}"


def test_strict_parity_passes_clean_file(spark, tmp_path):
    (tmp_path / "log.jsonl").write_text("\n".join([GOOD, "", GOOD]))
    df = FSRC.read_log_jsonl_strict_parity(spark, str(tmp_path / "log.jsonl"))
    assert df.count() == 2


def test_strict_parity_accepts_nan_like_python_json(spark, tmp_path):
    """Round-12 review: Spark's try_parse_json rejects NaN/Infinity while
    the reference's json.loads ACCEPTS them — the validator must side
    with json.loads (the JVM check is only a prescreen), so a NaN line
    passes validation, and a genuinely malformed line AFTER it still
    raises with its own line number."""
    import json

    nan_line = '{"timestamp_utc": "2026-01-01T10:00:00Z", "endpoint": "/get", "status_code": 200, "elapsed_ms": NaN, "parse_result": "ok"}'
    json.loads(nan_line)  # precondition: the reference's decoder accepts it
    (tmp_path / "ok.jsonl").write_text("\n".join([GOOD, nan_line, GOOD]))
    FSRC.validate_jsonl_lines(spark, str(tmp_path / "ok.jsonl"))  # must not raise

    (tmp_path / "bad.jsonl").write_text("\n".join([nan_line, BAD]))
    with pytest.raises(ValueError, match="JSON mal formado en línea 2"):
        FSRC.validate_jsonl_lines(spark, str(tmp_path / "bad.jsonl"))


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started), counted in a job group.
    The status store fills asynchronously but in posting order, so once a
    marker job run after fn is visible, every job of fn is too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, marker = (f"schema-memo-{uuid.uuid4().hex}" for _ in range(2))
    try:
        sc.setJobGroup(group, "load_table under test")
        out = fn()
        sc.setJobGroup(marker, "marker")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("table", ["events", "orders"])
def test_load_table_infers_schema_once_per_file(spark, tmp_path, table):
    # a fresh copy is a new file identity, so the first load must infer
    shutil.copy(f"{SF_SMOKE}/{table}.parquet", tmp_path / f"{table}.parquet")
    first, jobs1 = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), table))
    second, jobs2 = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), table))
    assert jobs1 >= 1 and jobs2 == 0
    assert second.schema == first.schema
    assert _rows(second) == _rows(first)
    # the known-schema read keeps the timestamp normalisation (NTZ -> LTZ)
    if table == "events":
        assert dict(second.dtypes)["ts"] == "timestamp"


def test_load_table_nanos_timestamps_through_known_schema(spark, tmp_path):
    # TIMESTAMP(NANOS) infers as bigint under nanosAsLong; the memoized
    # schema must carry that through to the micros truncation
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}), tmp_path / "events.parquet")
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = [r[0] for r in df.orderBy("event_id").select(F.unix_micros("ts")).collect()]
        assert got == [n // 1000 for n in ns]


def test_load_table_missing_table_still_raises_spark_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "orders")


def test_load_table_reinfers_rewritten_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    load = lambda: load_table(spark, str(tmp_path), "region")  # noqa: E731
    load()
    assert _jobs_started(spark, load)[1] == 0
    # rewritten with a different size: inferred again, new column visible
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}), path)
    df, jobs = _jobs_started(spark, load)
    assert jobs >= 1 and df.columns == ["r_regionkey", "r_name"]
    # same bytes, new mtime: inferred again
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert _jobs_started(spark, load)[1] >= 1
    assert _jobs_started(spark, load)[1] == 0


def test_load_table_reinfers_directory_when_a_file_is_added(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    spark.range(3).withColumnRenamed("id", "n_nationkey").write.parquet(path)
    load = lambda: load_table(spark, str(tmp_path), "nation")  # noqa: E731
    load()
    assert _jobs_started(spark, load)[1] == 0
    spark.range(3, 5).withColumnRenamed("id", "n_nationkey").write.mode("append").parquet(path)
    df, jobs = _jobs_started(spark, load)
    assert jobs >= 1 and df.count() == 5


def test_two_loads_of_one_table_self_join(spark, duck):
    # the memo shares the schema, never the relation: two loads must stay
    # two relations, or the self-join condition below would be ambiguous
    a = load_table(spark, SF_SMOKE, "orders")
    b = load_table(spark, SF_SMOKE, "orders")
    got = (
        a.join(b, (a.o_custkey == b.o_custkey) & (a.o_orderkey < b.o_orderkey))
        .groupBy(a.o_custkey)
        .count()
    )
    want = duck.sql(
        "SELECT a.o_custkey, count(*) FROM orders a JOIN orders b "
        "ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey GROUP BY a.o_custkey"
    ).fetchall()
    assert len(want) > 0
    assert _rows(got) == sorted(want)
