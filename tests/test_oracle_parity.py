"""Local replica of the driver's correctness gate: for every registered
query with an oracle, run the Spark DataFrame and the DuckDB SQL on the
same parquet tables and require identical row counts, column sets, and
(order-insensitively) identical values.

Comparison is strict: doubles must match bit-for-bit after each side's own
rounding — the same bar as the driver's value-hash.
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_SMOKE


def _normalize(rows, columns):
    """Rows -> sorted list of tuples over name-sorted columns, with
    canonical scalar representations (mirror of a value-hash)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return bool(v)
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return float(v)
        if isinstance(v, int):
            return float(v) if abs(v) < 2**52 else v
        return v

    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _spark_result(spark, fn, sf_dir):
    df = fn(spark, sf_dir)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    return rows, cols


def _duck_result(duck, sql):
    cur = duck.sql(sql)
    cols = list(cur.columns)
    rows = cur.fetchall()
    return rows, cols


def all_query_names():
    from prueba_tecnica_http_client_etl_spark import registry

    return sorted(registry.queries())


@pytest.mark.parametrize("name", all_query_names())
def test_query_matches_oracle(spark, duck, name):
    from prueba_tecnica_http_client_etl_spark import registry

    q = registry.queries()[name]
    oracle = registry.oracle_sql().get(name)
    assert oracle is not None, f"{name}: no oracle_sql() twin"

    s_rows, s_cols = _spark_result(spark, q, SF_SMOKE)
    d_rows, d_cols = _duck_result(duck, oracle)

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"

    s_norm = _normalize(s_rows, s_cols)
    d_norm = _normalize(d_rows, d_cols)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatching rows; first 3: {mismatches[:3]}"


def test_queries_are_registration_order_with_oracles():
    """queries() is the registry table as registered: the four
    reference-surface queries first, and every query has an oracle."""
    from prueba_tecnica_http_client_etl_spark import registry

    names = list(registry.queries())
    assert names == list(registry.QUERIES)
    assert names[:4] == ["clean_coerce", "kpi_daily", "kpi_report_endpoint", "kpi_global"]
    assert set(names) == set(registry.oracle_sql())


def test_normalize_keeps_wide_ints_exact_and_equates_nan():
    # 60-bit fingerprints that differ only in the last bit stay apart
    # (a float cast would merge them), and NaN cells compare equal
    a, b = 2**59 + 1, 2**59
    assert float(a) == float(b)
    assert _normalize([(a,)], ["h"]) != _normalize([(b,)], ["h"])
    assert _normalize([(float("nan"), 1)], ["x", "n"]) == _normalize([(float("nan"), 1)], ["x", "n"])


def test_entry_is_the_flagship_kpi_query(spark):
    import __spark_entry__ as E

    got_rows, got_cols = _spark_result(spark, lambda s, _: E.entry(s), SF_SMOKE)
    want_rows, want_cols = _spark_result(spark, E.queries()["kpi_daily"], SF_SMOKE)
    assert got_rows
    assert sorted(got_cols) == sorted(want_cols)
    assert _normalize(got_rows, got_cols) == _normalize(want_rows, want_cols)
