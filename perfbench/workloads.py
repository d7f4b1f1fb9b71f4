"""Workload definitions: what one pass runs, and how its outputs are checked.

A workload is a list of operations. Each operation builds a DataFrame by
calling the package's public functions (`build`) and then forces it: the
timed passes through the `noop` sink (`act`), the set-up pass by
collecting the rows (`check`), which are compared with a DuckDB answer.
Nothing here compares the engine with itself.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

HERE = Path(__file__).resolve().parent
SF_DIR = str(HERE / "data" / "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Registry queries per workload. The lists are short so that a whole run,
# set-up included, stays under a minute on 4 cores.
ANALYTICS = [
    # relational queries whose time is mostly fixed per-query overhead:
    # aggregate over joins, window top-k, window sessionization, pivot
    "pricing_summary",
    "top_orders_per_customer",
    "sessionize_events",
    "events_daily_pivot",
]
CORPUS_STREAM = [
    # batch corpus operators: prefix-filtered Jaccard self-join over
    # trained shingle artifacts, and an ANN tier whose probe crosses into
    # Python through mapInPandas
    "dedup_jaccard_prefix",
    "ann_pq_topk",
    # an availableNow stream replay of the corpus with dedup state
    "dedup_stream",
]

ETL_RECORDS = 60_000


@dataclass
class Op:
    """One operation: `build` returns a DataFrame (or a tuple of them),
    `act` forces it for timing, `check` forces it and returns the row
    sets to compare against the oracle (name -> (rows, columns))."""

    name: str
    build: Callable[[Any], Any]
    act: Callable[[Any], None]
    check: Callable[[Any], dict[str, tuple[list, list]]]


@dataclass
class Workload:
    name: str
    ops: list[Op]
    oracle: Callable[[], dict[str, tuple[list, list]]]
    prepare: Callable[[Any], None] = lambda spark: None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rows(df) -> tuple[list, list]:
    return [tuple(r) for r in df.collect()], list(df.columns)


def duck_connect():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _duck_rows(con, sql: str) -> tuple[list, list]:
    rel = con.sql(sql)
    return rel.fetchall(), list(rel.columns)


def registry_ops(names: list[str]) -> list[Op]:
    from prueba_tecnica_http_client_etl_spark import registry

    qs = registry.queries()
    return [
        Op(q, lambda spark, q=q: qs[q](spark, SF_DIR), _noop, lambda df, q=q: {q: _rows(df)})
        for q in names
    ]


def registry_oracle(names: list[str]) -> dict[str, tuple[list, list]]:
    from prueba_tecnica_http_client_etl_spark import registry

    oracles = registry.oracle_sql()
    con = duck_connect()
    try:
        return {q: _duck_rows(con, oracles[q]) for q in names}
    finally:
        con.close()


def etl_op(work: Path, seed: int, span) -> tuple[Op, Callable, Callable]:
    """The reference job as one operation: JSONL log -> clean -> daily KPI
    with exact p90 -> KPI CSV -> read back -> endpoint report + global
    metrics -> HTML. Returns (op, prepare, oracle); `prepare` writes the
    seeded JSONL input, untimed."""
    from prueba_tecnica_http_client_etl_spark.functions.cleaning import clean_http_log
    from prueba_tecnica_http_client_etl_spark.operators import kpi as kpi_ops
    from prueba_tecnica_http_client_etl_spark.operators import report as report_ops
    from prueba_tecnica_http_client_etl_spark.sinks import files as sink_files
    from prueba_tecnica_http_client_etl_spark.sinks import report as sink_report
    from prueba_tecnica_http_client_etl_spark.sources import files as src_files
    from prueba_tecnica_http_client_etl_spark.sources import synthetic

    jsonl = str(work / "input" / "http_log.jsonl")
    csv_dir = str(work / "out" / "kpi_csv")
    html = str(work / "out" / "report.html")

    def prepare(spark) -> None:
        sink_files.write_jsonl(synthetic.generate_http_log(spark, ETL_RECORDS, seed), jsonl)

    def build(spark):
        return kpi_ops.kpi_daily(clean_http_log(src_files.read_log_jsonl(spark, jsonl)))

    def act(kpi):
        with span("write_kpi_csv", "sinks"):
            sink_files.write_kpi_csv(kpi, csv_dir)
        with span("read_kpi_csv", "sources"):
            back = src_files.read_kpi_csv(kpi.sparkSession, csv_dir)
        rep, glob = report_ops.report_by_endpoint(back), report_ops.global_metrics(back)
        with span("render_html_report", "sinks"):
            sink_report.render_html_report(glob, rep, html)
        return back, rep, glob

    def check(kpi) -> dict:
        back, rep, glob = act(kpi)
        return {"etl.kpi_csv": _rows(back), "etl.report_by_endpoint": _rows(rep),
                "etl.global_metrics": _rows(glob)}

    def oracle() -> dict[str, tuple[list, list]]:
        import duckdb

        cols = ("{timestamp_utc: 'VARCHAR', endpoint: 'VARCHAR', status_code: 'VARCHAR', "
                "elapsed_ms: 'VARCHAR', parse_result: 'VARCHAR'}")
        log = f"http_log AS (SELECT * FROM read_json('{jsonl}/*.json', format='newline_delimited', columns={cols}))"
        ctes = "WITH " + log + ",\n" + synthetic.sql_clean_log_cte().strip()
        kpi_cte = ctes + ",\nkpi AS (" + kpi_ops.sql_kpi_daily_select() + ")"
        con = duckdb.connect()
        try:
            return {
                "etl.kpi_csv": _duck_rows(con, ctes + "\n" + kpi_ops.sql_kpi_daily_select()),
                "etl.report_by_endpoint": _duck_rows(con, kpi_cte + report_ops.sql_report_by_endpoint_select()),
                "etl.global_metrics": _duck_rows(con, kpi_cte + report_ops.sql_global_metrics_select()),
            }
        finally:
            con.close()

    return Op("etl_pipeline", build, act, check), prepare, oracle


WORKLOADS = ("etl_analytics", "corpus_stream")


def make(name: str, work: Path, seed: int, span) -> Workload:
    """`span(name, layer)` is the tracer's context manager for sub-spans."""
    if name == "etl_analytics":
        op, prepare, etl_oracle = etl_op(work, seed, span)
        return Workload(name, [op] + registry_ops(ANALYTICS),
                        lambda: {**etl_oracle(), **registry_oracle(ANALYTICS)}, prepare)
    if name == "corpus_stream":
        return Workload(name, registry_ops(CORPUS_STREAM), lambda: registry_oracle(CORPUS_STREAM))
    raise SystemExit(f"unknown workload {name!r}; choose one of {', '.join(WORKLOADS)}")


def self_test() -> None:
    """Every workload query is registered with a DuckDB oracle, and the
    stream replay in corpus_stream is a registered streaming query."""
    from prueba_tecnica_http_client_etl_spark import registry

    qs, oracles = registry.queries(), registry.oracle_sql()
    missing = [q for q in ANALYTICS + CORPUS_STREAM if q not in qs or q not in oracles]
    if missing:
        raise SystemExit(f"workload queries without a registered query or oracle: {missing}")
    if not any(q.endswith("_stream") for q in CORPUS_STREAM):
        raise SystemExit("corpus_stream holds no streaming query")


def compare(got: dict[str, tuple[list, list]], want: dict[str, tuple[list, list]]) -> list[str]:
    """Names whose rows differ from the oracle, compared with the
    order-insensitive normalisation of tests/test_oracle_parity.py."""
    from tests.test_oracle_parity import _normalize

    bad = []
    for name, (rows, cols) in got.items():
        w_rows, w_cols = want[name]
        if sorted(cols) != sorted(w_cols) or _normalize(rows, cols) != _normalize(w_rows, w_cols):
            bad.append(name)
    return bad
