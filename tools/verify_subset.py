#!/usr/bin/env python
"""Driver-mirror oracle verification for a SUBSET of registered queries:
compare queries() vs oracle_sql() in DuckDB at $SPARK_GRAFT_SF_DIR
(default sf0.01), with the same order-insensitive comparison as
tests/test_oracle_parity.py.

Usage: python tools/verify_subset.py QUERY [QUERY...]
Dev tool only; bench.py stays the only driver artifact.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: verify_subset.py QUERY [QUERY...]", file=sys.stderr)
        return 2
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    import duckdb

    import __spark_entry__ as E
    from prueba_tecnica_http_client_etl_spark.session import get_spark
    from tests.test_oracle_parity import _normalize

    spark = get_spark("verify-subset")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs, os_ = E.queries(), E.oracle_sql()
    fails = []
    for name in names:
        sdf = qs[name](spark, sf)
        srows = [tuple(r) for r in sdf.collect()]
        rel = con.sql(os_[name])
        drows, dcols = rel.fetchall(), list(rel.columns)
        ok = (
            sorted(sdf.columns) == sorted(dcols)
            and len(srows) == len(drows)
            and _normalize(srows, sdf.columns) == _normalize(drows, dcols)
        )
        print(f"{name} {'OK' if ok else 'MISMATCH'} {len(srows)}", flush=True)
        if not ok:
            fails.append(name)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
