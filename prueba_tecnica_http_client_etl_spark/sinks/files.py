"""File sinks (SURVEY.md §2.2 K1-K4).

Distributed-first: every writer is `df.write...` so output scales with the
cluster; `single_file=True` variants exist only for byte-parity with the
reference's single-file outputs (reference src/calcular_kpi.py:121-153,
src/generar_datos.py:61-65) and must never be used at 100 TB — they force
a coalesce(1) barrier onto one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..schemas import KPI_COLUMNS


def write_jsonl(df: DataFrame, path: str, *, single_file: bool = False) -> None:
    """K1: one JSON object per line (reference src/generar_datos.py:61-65)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str, *, columns: list[str] | None = None, single_file: bool = False) -> None:
    """K2: header CSV with a fixed column order (reference
    src/calcular_kpi.py:121-153 writes exactly the 9 KPI columns)."""
    if columns:
        df = df.select(*columns)
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_kpi_csv(df: DataFrame, path: str, *, single_file: bool = False) -> None:
    """The reference KPI sink: 9 columns, exact order."""
    write_csv(df, path, columns=KPI_COLUMNS, single_file=single_file)


def write_text(df: DataFrame, path: str, *, column: str | None = None) -> None:
    """K4: plain-text sink (reference src/http_client.py:27-30)."""
    out = df.select(column) if column else df
    out.write.mode("overwrite").text(path)
