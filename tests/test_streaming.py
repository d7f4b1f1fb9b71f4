"""Streaming KPI pipeline (SURVEY §7 step 7): the stream over a finite
JSONL directory must reproduce the batch cleaning + aggregation semantics,
with p90 approximate (documented divergence — exact percentile is not
incrementalizable)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.functions.cleaning import clean_http_log
from prueba_tecnica_http_client_etl_spark.streaming import kpi_stream as KS


ROWS = [
    # day 1, /get: two clean rows + one 4xx
    {"timestamp_utc": "2026-01-01T10:00:00Z", "endpoint": "/get", "status_code": "200", "elapsed_ms": "100.0", "parse_result": "ok"},
    {"timestamp_utc": "2026-01-01T11:00:00Z", "endpoint": "/get?x=1", "status_code": "200", "elapsed_ms": "200.0", "parse_result": "ok"},
    {"timestamp_utc": "2026-01-01T12:00:00Z", "endpoint": "/get", "status_code": "404", "elapsed_ms": "300.0", "parse_result": "ok"},
    # day 1, /status/...: collapsed base + 5xx + bad cast (-> error flag)
    {"timestamp_utc": "2026-01-01T13:00:00Z", "endpoint": "/status/500", "status_code": "500", "elapsed_ms": "50.0", "parse_result": "ok"},
    {"timestamp_utc": "2026-01-01T14:00:00Z", "endpoint": "/status/403", "status_code": "not_an_int", "elapsed_ms": "60.0", "parse_result": "ok"},
    # day 2: null parse_result -> 'error'; dropped row (null endpoint)
    {"timestamp_utc": "2026-01-02T09:00:00Z", "endpoint": "/post", "status_code": "201", "elapsed_ms": "80.0", "parse_result": None},
    {"timestamp_utc": "2026-01-02T09:30:00Z", "endpoint": None, "status_code": "200", "elapsed_ms": "10.0", "parse_result": "ok"},
]


@pytest.fixture(scope="module")
def stream_result(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    # two files -> at least two input splits for the directory source
    (d / "a.jsonl").write_text("\n".join(json.dumps(r) for r in ROWS[:4]))
    (d / "b.jsonl").write_text("\n".join(json.dumps(r) for r in ROWS[4:]))
    return KS.run_to_memory(spark, str(d), table_name="kpi_stream_test").collect()


def _by_key(rows):
    return {(r["date_utc"], r["endpoint_base"]): r.asDict() for r in rows}


def test_stream_matches_batch_counts(stream_result, spark):
    got = _by_key(stream_result)
    assert set(got) == {
        ("2026-01-01", "/get"),
        ("2026-01-01", "/status"),
        ("2026-01-02", "/post"),
    }
    g = got[("2026-01-01", "/get")]
    assert (g["requests_total"], g["success_2xx"], g["client_4xx"], g["server_5xx"]) == (3, 2, 1, 0)
    s = got[("2026-01-01", "/status")]
    # bad int cast -> status 0 (unclassified) + parse_result forced 'error'
    assert (s["requests_total"], s["success_2xx"], s["server_5xx"], s["parse_errors"]) == (2, 0, 1, 1)
    p = got[("2026-01-02", "/post")]
    # null parse_result -> 'error' (P7); null-endpoint row dropped (P2)
    assert (p["requests_total"], p["parse_errors"]) == (1, 1)


def test_streaming_quarantine_split(spark, tmp_path):
    """foreachBatch multi-sink: one scan, clean rows to silver, malformed
    lines to quarantine, exactly-once per batch."""
    good = json.dumps(ROWS[0])
    bad = '{"timestamp_utc": broken'
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.jsonl").write_text("\n".join([good, bad, good]))
    (d / "b.jsonl").write_text("\n".join([good, bad]))
    counts = KS.run_with_quarantine(
        spark, str(d), str(tmp_path / "out"), checkpoint=str(tmp_path / "ckpt")
    )
    assert counts == {"silver": 3, "quarantine": 2}
    quarantined = {r["raw"] for r in spark.read.parquet(str(tmp_path / "out/quarantine")).collect()}
    assert quarantined == {bad}


def test_stream_agg_values_match_batch_engine(stream_result, spark):
    """avg must equal the batch engine's exactly; approx p90 must agree at
    this tiny cardinality (sketch is exact below its compression size)."""
    raw = spark.createDataFrame(
        [tuple(r.get(k) for k in ("timestamp_utc", "endpoint", "status_code", "elapsed_ms", "parse_result")) for r in ROWS],
        "timestamp_utc string, endpoint string, status_code string, elapsed_ms string, parse_result string",
    )
    from prueba_tecnica_http_client_etl_spark.operators.kpi import kpi_daily

    batch = {(r["date_utc"], r["endpoint_base"]): r.asDict() for r in kpi_daily(clean_http_log(raw)).collect()}
    got = _by_key(stream_result)
    assert set(got) == set(batch)
    for k, b in batch.items():
        assert abs(got[k]["avg_elapsed_ms"] - b["avg_elapsed_ms"]) < 1e-9, k


def test_stream_run_dirs_unique_and_age_bounded(tmp_path, monkeypatch):
    """Run output/checkpoint dirs are UNIQUE per invocation (a concurrent
    session's live checkpoint must never be cleared mid-query) under a
    root keyed by (kind, sf); disk stays bounded because superseded run
    dirs past the staleness window are swept on the next invocation."""
    import os
    import tempfile

    from prueba_tecnica_http_client_etl_spark.streaming import runner

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    sf = str(tmp_path / "sf0.01")
    out1, ckpt1 = runner._stream_run_dirs(sf, "probe_test")
    (Path(out1) / "part-0000.parquet").write_text("x")
    (Path(ckpt1) / "offsets").mkdir()
    out2, ckpt2 = runner._stream_run_dirs(sf, "probe_test")
    # a fresh invocation gets its OWN dirs and leaves the live run intact
    assert out2 != out1 and ckpt2 != ckpt1
    assert (Path(out1) / "part-0000.parquet").exists()
    root = Path(out1).parent.parent
    assert Path(out2).parent.parent == root  # same (kind, sf) root
    assert len(list(root.iterdir())) == 2
    # a FINISHED run (marked _DONE) older than the staleness window is
    # swept on the next call
    old_run = Path(out1).parent
    runner._finish_stream_run(out1)
    assert (old_run / runner._RUN_DONE_MARKER).exists()
    import time

    hour_ago = time.time() - runner._STAGING_STALE_AFTER_S - 60
    os.utime(old_run, (hour_ago, hour_ago))
    # a marker-LESS sibling of the same age may be a concurrent
    # session's LIVE run (checkpoint writes never refresh the run dir's
    # own mtime) and must survive the normal threshold...
    live_run = Path(out2).parent
    os.utime(live_run, (hour_ago, hour_ago))
    runner._stream_run_dirs(sf, "probe_test")
    assert not old_run.exists()
    assert live_run.exists()
    # ...but a marker-less dir past the orphan threshold (a crashed run
    # that never marked) is still reclaimed — disk stays bounded
    ancient = time.time() - runner._ORPHAN_RUN_STALE_AFTER_S - 60
    os.utime(live_run, (ancient, ancient))
    runner._stream_run_dirs(sf, "probe_test")
    assert not live_run.exists()
    # distinct kinds / scale factors never collide
    out3, _ = runner._stream_run_dirs(str(tmp_path / "sf0.1"), "probe_test")
    out4, _ = runner._stream_run_dirs(sf, "other_kind")
    assert len({Path(p).parent.parent for p in (out1, out3, out4)}) == 3


def _publish(marker: str):
    """A staging writer that publishes the way Spark does: a data file,
    then the _SUCCESS marker."""

    def write(p: str) -> None:
        Path(p).mkdir(parents=True)
        (Path(p) / "part-0.json").write_text(marker)
        (Path(p) / "_SUCCESS").write_text("")

    return write


def test_staged_dir_without_success_is_evicted_and_restaged(tmp_path):
    """A final staging dir without _SUCCESS (a crashed writer) would
    replay incomplete data forever: it is evicted and restaged."""
    from prueba_tecnica_http_client_etl_spark.streaming import runner

    path = tmp_path / "kind_in_sf0p01_0123456789ab"
    path.mkdir()
    (path / "part-0.json").write_text("partial")
    runner._ensure_staged(str(path), _publish("fresh"))
    assert (path / "_SUCCESS").exists()
    assert (path / "part-0.json").read_text() == "fresh"
    assert [p.name for p in tmp_path.iterdir()] == [path.name]  # no .tmp left


def test_orphaned_tmp_sibling_is_swept_only_when_stale(tmp_path):
    """A `.tmp.<pid>` sibling older than the stale threshold is a crashed
    writer's and is swept; a fresh one may be a live concurrent writer's
    and is kept."""
    import os
    import time

    from prueba_tecnica_http_client_etl_spark.streaming import runner

    path = tmp_path / "kind_in_sf0p01_0123456789ab"
    stale, fresh = (tmp_path / f"{path.name}.tmp.{pid}" for pid in (999991, 999992))
    for d in (stale, fresh):
        d.mkdir()
        (d / "part-0.json").write_text("x")
    old = time.time() - runner._STAGING_STALE_AFTER_S - 60
    os.utime(stale, (old, old))
    runner._ensure_staged(str(path), _publish("fresh"))
    assert not stale.exists()
    assert fresh.exists()
    assert (path / "_SUCCESS").exists()


def test_complete_staging_is_reused_without_writing(tmp_path):
    from prueba_tecnica_http_client_etl_spark.streaming import runner

    path = tmp_path / "kind_in_sf0p01_0123456789ab"
    _publish("first")(str(path))

    def must_not_write(p: str) -> None:
        raise AssertionError(f"complete staging rewritten at {p}")

    runner._ensure_staged(str(path), must_not_write)
    assert (path / "part-0.json").read_text() == "first"


def test_directory_table_rewritten_in_place_restages(spark, tmp_path, monkeypatch):
    """Staging is keyed on the table's file identity (schemas._file_identity),
    not on the table path's mtime: rewriting one part file of a directory
    table in place leaves the directory's mtime alone, and the stream must
    still restage instead of replaying the old JSONL."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from prueba_tecnica_http_client_etl_spark import registry

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    table = tmp_path / "sf_dir" / "documents.parquet"
    table.mkdir(parents=True)
    part = table / "part-00000.parquet"

    def write(texts):
        pq.write_table(pa.table({"doc_id": list(range(len(texts))), "text": texts}), part)

    def digests():
        return {r.norm_md5 for r in registry.QUERIES["dedup_stream"](spark, str(table.parent)).collect()}

    write(["alpha one", "beta two", "gamma three"])
    first = digests()
    assert len(first) == 3
    st = os.stat(table)
    write(["delta four", "epsilon five"])
    os.utime(table, ns=(st.st_atime_ns, st.st_mtime_ns))
    second = digests()
    assert len(second) == 2 and not second & first
