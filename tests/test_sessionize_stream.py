"""Stateful streaming sessionization: per-user state must survive
micro-batch boundaries (one file per trigger), close sessions on gaps,
and keep the open tail in state."""

from __future__ import annotations

import json

import pytest

from prueba_tecnica_http_client_etl_spark.streaming import sessionize_stream as SS

H = 3600.0


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sess_in")
    # file 1: user 1 session A (2 events); user 2 starts session (1 event)
    f1 = [
        {"user_id": 1, "ts_s": 0.0, "value": 1.0},
        {"user_id": 1, "ts_s": 600.0, "value": 2.0},
        {"user_id": 2, "ts_s": 0.0, "value": 5.0},
    ]
    # file 2 (later batch): user 1 returns after 2h -> closes session A;
    # user 2 continues within the gap -> same session, still open at end
    f2 = [
        {"user_id": 1, "ts_s": 2 * H + 600.0, "value": 3.0},
        {"user_id": 2, "ts_s": 1500.0, "value": 7.0},
    ]
    # file 3: user 1 gaps again -> closes session B (the single event from f2)
    f3 = [
        {"user_id": 1, "ts_s": 5 * H, "value": 4.0},
    ]
    for i, rows in enumerate((f1, f2, f3)):
        # 0-padded names: the file source lists alphabetically, matching arrival order
        (d / f"f{i}.json").write_text("\n".join(json.dumps(r) for r in rows))
    out = SS.run_files_to_memory(spark, str(d), table_name="sess_stream_test")
    return {(r["user_id"], r["session_seq"]): r.asDict() for r in out.collect()}


def test_closed_sessions_only(result):
    # user 1: sessions 0 and 1 closed; session 2 (event at 5h) still open -> absent.
    # user 2: single session still open -> absent entirely.
    assert set(result) == {(1, 0), (1, 1)}


def test_cross_batch_state(result):
    s0 = result[(1, 0)]
    # both file-1 events, despite the close happening while processing file 2
    assert s0["n_events"] == 2
    assert s0["duration_s"] == 600.0
    assert s0["total_value"] == 3.0


def test_single_event_session(result):
    s1 = result[(1, 1)]
    assert s1["n_events"] == 1
    assert s1["duration_s"] == 0.0
    assert s1["total_value"] == 3.0


def test_registry_replay_is_single_batch(spark):
    """The registry's sessionize_stream oracle is only sound because the
    replay is ONE file -> one availableNow micro-batch (the closed-set
    determinism argument beside the sessionize_stream row in registry.py). Guard the
    staging contract: re-adding a repartition(N) there would silently
    turn the certified replay multi-batch."""
    import glob
    import os

    from tests.conftest import SF_SMOKE
    from prueba_tecnica_http_client_etl_spark import registry
    from prueba_tecnica_http_client_etl_spark.streaming import runner

    registry.queries()["sessionize_stream"](spark, SF_SMOKE)
    staged, _ = runner._stream_staging_path(SF_SMOKE, "sess_stream_in", "events")
    parts = [p for p in glob.glob(os.path.join(staged, "part-*")) if not p.endswith(".crc")]
    assert len(parts) == 1, parts


def test_null_events_are_guarded(spark, tmp_path):
    """Round-12 review: a ts-less event (NaN after Arrow) is incomparable
    — unguarded it joins the open session, poisons last_ts, and no later
    gap can ever close the session. It must be DROPPED; a value-less
    event is counted with value 0. The 2h-gap close must still fire."""
    import json as _json

    d = tmp_path / "nulls_in"
    d.mkdir()
    f1 = [
        {"user_id": 9, "ts_s": 0.0, "value": 1.0},
        {"user_id": 9, "value": 99.0},            # no ts: unsessionizable
        {"user_id": 9, "ts_s": 600.0},            # no value: counts as 0
    ]
    f2 = [{"user_id": 9, "ts_s": 3 * H, "value": 4.0}]  # gap -> closes s0
    for i, rows in enumerate((f1, f2)):
        (d / f"f{i}.json").write_text("\n".join(_json.dumps(r) for r in rows))
    out = SS.run_files_to_memory(spark, str(d), table_name="sess_null_test")
    got = {(r["user_id"], r["session_seq"]): r.asDict() for r in out.collect()}
    assert set(got) == {(9, 0)}, got  # the gap close FIRED (no NaN poison)
    s0 = got[(9, 0)]
    assert s0["n_events"] == 2        # the ts-less event is gone
    assert s0["duration_s"] == 600.0
    assert s0["total_value"] == 1.0   # 1.0 + 0.0, never 99.0 or NaN


def test_replay_closing_no_session_warns_nothing(spark, tmp_path, monkeypatch):
    """The registry replay, with three users whose one batch closes no
    session, raises no pandas FutureWarning in the Python workers (PySpark's
    grouped-state serializer concatenates an all-None padding frame into
    every output batch) and still equals the oracle. The workers run with
    FutureWarning as an error: a new worker environment starts a new
    daemon."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prueba_tecnica_http_client_etl_spark import registry
    from tests.conftest import SF_SMOKE
    from tests.test_oracle_parity import _duck_result, _normalize, _spark_result

    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    lone = events.slice(0, 3).to_pylist()
    for i, row in enumerate(lone):  # three new users, one event each
        row.update(event_id=10**6 + i, user_id=10**6 + i)
    events = pa.concat_tables([events, pa.Table.from_pylist(lone, schema=events.schema)])
    pq.write_table(events, tmp_path / "events.parquet")

    with duckdb.connect() as duck:
        duck.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
        d_rows, d_cols = _duck_result(duck, registry.oracle_sql()["sessionize_stream"])
    assert not {r[d_cols.index("user_id")] for r in d_rows} & {row["user_id"] for row in lone}

    monkeypatch.setitem(spark.sparkContext.environment, "PYTHONWARNINGS", "error::FutureWarning")
    s_rows, s_cols = _spark_result(spark, registry.queries()["sessionize_stream"], str(tmp_path))
    assert _normalize(s_rows, s_cols) == _normalize(d_rows, d_cols)
