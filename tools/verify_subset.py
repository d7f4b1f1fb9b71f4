#!/usr/bin/env python
"""Driver-mirror oracle verification for a SUBSET of registered queries
(the .claude/skills/verify recipe, parameterized): compare queries() vs
oracle_sql() in DuckDB at $SPARK_GRAFT_SF_DIR (default sf0.01).

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

    spark = get_spark("verify-subset")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    def norm(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [
            tuple(
                float(r[i])
                if isinstance(r[i], (int, float)) and not isinstance(r[i], bool)
                else r[i]
                for i in order
            )
            for r in rows
        ]
        out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
        return out

    qs, os_ = E.queries(), E.oracle_sql()
    fails = []
    for name in names:
        sdf = qs[name](spark, sf)
        srows = [tuple(r) for r in sdf.collect()]
        if name not in os_:
            print(f"{name} rows-only {len(srows)}", flush=True)
            continue
        rel = con.sql(os_[name])
        drows, dcols = rel.fetchall(), list(rel.columns)
        ok = (
            sorted(sdf.columns) == sorted(dcols)
            and len(srows) == len(drows)
            and norm(srows, sdf.columns) == norm(drows, dcols)
        )
        print(f"{name} {'OK' if ok else 'MISMATCH'} {len(srows)}", flush=True)
        if not ok:
            fails.append(name)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
