#!/usr/bin/env python
"""Per-query isolation harness (guide §1): time one or more registered
queries with the noop sink on a fresh session, optionally several shots,
and optionally dump .explain("formatted") to a file.

Usage:
    python tools/isolate.py QUERY [QUERY...] [--shots N] [--explain DIR] [--suffix TAG]

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the host's CPU count) — same contract as
bench.py.

This is a developer tool, not part of the driver contract; bench.py
remains the only artifact the driver runs.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--shots", type=int, default=2)
    ap.add_argument("--explain", default=None, help="directory for explain dumps")
    ap.add_argument("--suffix", default="before", help="explain file suffix")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import barrier, warm_up
    from prueba_tecnica_http_client_etl_spark.session import get_spark
    from prueba_tecnica_http_client_etl_spark import registry

    spark = get_spark("isolate")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)  # same warm-up as bench.py so shot 1 is comparable

    all_queries = registry.queries()
    for name in args.queries:
        fn = all_queries[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            spark.catalog.clearCache()
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = Path(args.explain) / f"{name}_{args.suffix}.txt"
            out.write_text(plan)
            print(f"explain -> {out}")
        times = []
        for shot in range(args.shots):
            barrier(spark)
            spark.sparkContext.setJobDescription(f"{name} shot{shot}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: {times} min={min(times)}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
