"""bench.py output contract: the external driver records only the last
2000 characters of stdout and json-parses the final line. The final line
must therefore (a) be valid standalone JSON, (b) fit the capture window
with margin for every registered query, and (c) carry a complete
per-query timing vector (rounds 1-5 shipped a single oversized line,
front-truncated to "parsed": null)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench
from prueba_tecnica_http_client_etl_spark import registry


def _fake_suite():
    names = list(registry.QUERIES)
    # worst realistic widths: 3-decimal timings in the tens of seconds,
    # every query over the rerun threshold (maximal "reran" payload)
    timings = {n: 12.345 for n in names}
    reran = {n: [99.999, 12.345] for n in names}
    return names, timings, reran


def _fake_canary(n_slots: int):
    # worst-case canary payload: every query retried -> 2 passes of slots,
    # one canary per CANARY_STRIDE plus the bracketing pre/post shots,
    # double-digit canary seconds (a badly throttled host)
    n = 2 + (2 * n_slots) // bench.CANARY_STRIDE
    return [12.345] * n, [min(i * bench.CANARY_STRIDE, 2 * n_slots) for i in range(n)]


def test_final_line_fits_driver_capture_window():
    names, timings, reran = _fake_suite()
    c_t, c_slot = _fake_canary(len(names))
    lines = bench.build_output_lines(timings, reran, sf=0.1, cpus=32,
                                     canary_t=c_t, canary_slot=c_slot)
    assert len(lines) == 2
    final = lines[-1]
    assert len(final) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(final)
    assert parsed["metric"] == "query_suite_total_sec"
    assert parsed["n_queries"] == len(names)
    # completeness: one timing per registered query, aligned alphabetically
    assert len(parsed["t_alpha"]) == len(names)
    assert parsed["t_alpha"] == [timings[n] for n in sorted(names)]
    assert parsed["n_reran"] == len(reran)
    assert 0 < len(parsed["slowest"]) <= bench.N_SLOWEST
    # round-20 additions: alignment digest + canary series (additive only)
    assert parsed["names_sha256"] == bench.names_digest(names)
    assert parsed["c_t"] == c_t and parsed["c_slot"] == c_slot


def test_names_digest_detects_misalignment():
    names, _, _ = _fake_suite()
    assert bench.names_digest(names) == bench.names_digest(sorted(names))
    assert bench.names_digest(names) != bench.names_digest(names[:-1])


def test_full_line_carries_names_and_retry_audit():
    names, timings, reran = _fake_suite()
    full = json.loads(bench.build_output_lines(timings, reran, 0.1, 32)[0])
    assert full["queries"] == timings
    assert full["reran"] == reran  # round-5 ADVICE: retried timings auditable
    assert full["value"] == round(sum(timings.values()), 3)


def test_final_line_sheds_detail_rather_than_overflow():
    # adversarial: absurdly long names force the fallback paths
    names = [f"query_with_a_very_long_name_{i:04d}_padding_padding" for i in range(200)]
    timings = {n: 1.234 for n in names}
    final = bench.build_output_lines(timings, {}, 0.1, 32)[-1]
    assert len(final) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(final)
    assert parsed["value"] == round(sum(timings.values()), 3)


def test_canary_series_is_shed_as_one_unit():
    # sweep the canary length across the budget edge: whenever shedding
    # kicks in, c_t must never survive without its c_slot (or vice versa)
    names, timings, reran = _fake_suite()
    for n in range(1, 300, 3):
        c_t, c_slot = [12.345] * n, list(range(n))
        final = json.loads(bench.build_output_lines(timings, reran, 0.1, 32, c_t, c_slot)[-1])
        assert ("c_t" in final) == ("c_slot" in final), n


def test_streams_run_last_including_non_suffix_names():
    from prueba_tecnica_http_client_etl_spark.streaming.runner import replay

    order = bench.run_order(registry.QUERIES)
    assert sorted(order) == sorted(registry.QUERIES)
    # a streaming query is one that runs through the stream replay path,
    # and every one of them is a row of the spec table
    streams = {n for n, fn in registry.QUERIES.items() if getattr(fn, "func", None) is replay}
    assert streams == set(registry.STREAMS)
    assert len(streams) == 19
    assert set(order[-len(streams):]) == streams
    assert "dedup_stream_ttl" in streams


def test_normalize_bench_tolerates_partial_canary(tmp_path):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import normalize_bench

    names = sorted(registry.QUERIES)
    final = {"metric": "query_suite_total_sec", "t_alpha": [1.0] * len(names),
             "names_sha256": bench.names_digest(names), "c_t": [0.3, 0.4]}
    log = tmp_path / "bench.log"
    log.write_text('log line mentioning "metric" without the JSON object\n' + json.dumps(final) + "\n")
    loaded = normalize_bench.load(str(log))
    assert loaded == final
    # c_t without c_slot cannot be interpolated: raw seconds come back
    assert normalize_bench.normalized(loaded) == dict(zip(names, final["t_alpha"]))
