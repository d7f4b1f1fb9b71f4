#!/usr/bin/env python
"""Benchmark harness (driver contract): run every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
(default: the host's CPU count) and print per-query timings as JSON.

Each query is forced end-to-end with the `noop` sink (materializes every
output column on the executors, no driver collect) so timings reflect the
full plan, not a count-pruned subset.

Output format (round 6). The external driver records only the LAST 2000
characters of stdout and json-parses the final line — a single line holding
all ~94 full query names is ~3.1 kB and cannot fit, which is why rounds 1-5
shipped a front-truncated tail and "parsed": null. Two lines are printed:

1. the full human/CI line: {"metric", "value", "unit", "queries": {name:
   sec...}, "reran": {name: [t1, t2]...}, "sf"} — complete, but larger than
   the driver's capture window;
2. a FINAL compact line guaranteed <= 1900 chars that the driver can always
   parse, carrying the suite total plus the COMPLETE per-query timings as
   `t_alpha`, an array aligned with sorted(query names) (the names
   themselves are the repo's registry.queries() keys; `t_note` states the
   pairing). `slowest` repeats the worst offenders by name for direct
   reading, `n_reran` counts retried measurements (full retry pairs are in
   line 1's "reran").

Timing methodology (round 6): every query is timed once; any query over
RERUN_THRESHOLD_SEC gets exactly one additional run and reports the MIN —
the warm steady-state cost. Single-shot timings on this shared host
occasionally eat a multi-second GC/steal pause (observed: the same query
1.35 s and 12.6 s in back-to-back suite runs), and rounds 1-5 could not
tell a real regression from one bad shot. Both raw timings of every
retried query are recorded in "reran" so retried measurements stay
auditable (round-5 ADVICE).

Round-20 additions (round-19 verdict item 1 — ADDITIVE only; no existing
field changed, no query's timing methodology changed):

- `names_sha256`: first 12 hex chars of sha256 over
  ",".join(sorted(query names)) — lets an external reader mechanically
  VERIFY its t_alpha->name alignment against the repo registry instead
  of trusting it.
- CANARY normalization: a fixed synthetic probe (range -> modular
  project -> hash aggregate -> noop; no testdata, no registry, ~0.2 s on
  a quiet host) runs OUTSIDE the timed slots — before the first query,
  after every CANARY_STRIDE timed runs, and after the last. `c_t[j]` is
  the canary's seconds on its j-th firing, `c_slot[j]` how many timed
  query runs had completed by then. This host throttles in multi-minute
  windows (same code 200-255 s suite totals, r19 closing benches); the
  canary series timestamps those windows INSIDE the artifact, so a
  reader can separate host drift (canary inflated too) from a real
  per-query regression (query moved, canary flat) by dividing each
  query's seconds by the nearest canary's ratio to the canary median.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

RERUN_THRESHOLD_SEC = 1.0
FINAL_LINE_BUDGET = 1900  # driver keeps the last 2000 chars of stdout
N_SLOWEST = 8
CANARY_STRIDE = 16  # canary probe after every N timed query runs


def names_digest(names) -> str:
    """First 12 hex chars of sha256 over ','.join(sorted names): the
    mechanical check that an external reader's t_alpha->name alignment
    used the same name list the bench did."""
    import hashlib

    return hashlib.sha256(",".join(sorted(names)).encode()).hexdigest()[:12]


def run_order(names) -> list[str]:
    """Batch queries alphabetical, then the streaming queries (the
    registry's spec table, registry.STREAMS). Streams run LAST: their
    Python state-store workers and file staging contaminate the next
    timed slot (round-1 bench showed the query scheduled right after
    sessionize_stream reading 30-50x its fresh-session floor)."""
    from prueba_tecnica_http_client_etl_spark.registry import STREAMS

    names = sorted(names)
    return [n for n in names if n not in STREAMS] + [n for n in names if n in STREAMS]


def run_canary(spark) -> float:
    """One canary shot: fixed synthetic work (no testdata, no registry)
    exercising the suite's two cost axes — codegen'd per-row compute and
    one hash-aggregate exchange — through the same noop sink as the
    queries. Runs OUTSIDE the timed slots; its series timestamps host
    throttle windows inside the artifact (module docstring)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 4_000_000)
        .select(
            (F.col("id") % 9973).alias("k"),
            (F.col("id") * 2654435761 % 1000003).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return round(time.perf_counter() - t0, 3)


def warm_up(spark, sf_dir: str) -> None:
    """One-time session costs paid outside any timed region, so they are
    not billed to whichever query happens to run first."""
    from pyspark.sql import functions as F

    from prueba_tecnica_http_client_etl_spark.session import default_parallelism

    # JVM / codegen warmup.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Python-worker warmup: the first mapInPandas stage in a session pays
    # ~2.5s of worker spawn + Arrow init that would otherwise be billed to
    # whichever Arrow query happens to run first (multimodal_frame_sample,
    # alphabetically). One worker per core.
    n_workers = default_parallelism()
    spark.range(n_workers * 100).repartition(n_workers).mapInPandas(
        lambda batches: batches, "id long"
    ).write.format("noop").mode("overwrite").save()
    # Scan + broadcast warmup: the session's first parquet footer read and
    # first BroadcastExchange also pay one-time setup.
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    r.join(F.broadcast(r.select(F.col("r_regionkey").alias("k"))),
           r.r_regionkey == F.col("k")).write.format("noop").mode("overwrite").save()


def barrier(spark) -> None:
    """Untimed isolation before each timed query: drop the previous
    query's persisted intermediates (signature/posting tables) so storage
    memory stays flat and timings do not depend on suite order, stop any
    stream so none straddles a timer, and absorb straggler tasks / worker
    teardown with a tiny job."""
    spark.catalog.clearCache()
    for q in spark.streams.active:
        q.stop()
    spark.range(10_000).selectExpr("count(*)").collect()


def build_output_lines(
    timings: dict[str, float],
    reran: dict[str, list[float]],
    sf: float,
    cpus: int,
    canary_t: list[float] | None = None,
    canary_slot: list[int] | None = None,
) -> list[str]:
    """The two stdout lines (full, then compact-final). Pure function so
    tests can assert the final line fits the driver's capture window for
    the real registry's query names."""
    total = round(sum(timings.values()), 3)
    full_d: dict = {
        "metric": "query_suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reran": reran,
        "sf": sf,
    }
    if canary_t:
        full_d["canary"] = {"t": canary_t, "slot": canary_slot}
    full = json.dumps(full_d)
    alpha = sorted(timings)
    compact: dict = {
        "metric": "query_suite_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "n_reran": len(reran),
        "names_sha256": names_digest(alpha),
        "t_note": "t_alpha[i] = sec for sorted(registry query names)[i]",
        "t_alpha": [timings[n] for n in alpha],
        "slowest": {
            n: timings[n]
            for n in sorted(timings, key=timings.get, reverse=True)[:N_SLOWEST]
        },
    }
    if canary_t:
        # untimed fixed-work probes bracketing the suite: c_t[j] seconds,
        # fired after c_slot[j] timed query runs (see module docstring)
        compact["c_t"] = canary_t
        compact["c_slot"] = canary_slot
    line = json.dumps(compact, separators=(",", ":"))
    # defensive shedding, least-essential first: the canary series (c_t
    # and c_slot only make sense together), slowest, then t_alpha —
    # totals always survive
    for keys in (("c_slot", "c_t"), ("slowest",), ("t_alpha",)):
        if len(line) <= FINAL_LINE_BUDGET:
            break
        for key in keys:
            compact.pop(key, None)
        line = json.dumps(compact, separators=(",", ":"))
    return [full, line]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(Path(sf_dir).name.removeprefix("sf"))
    except ValueError:
        sf = -1.0

    from prueba_tecnica_http_client_etl_spark.session import default_parallelism, get_spark
    from prueba_tecnica_http_client_etl_spark import registry

    spark = get_spark(f"bench-sf{sf}")
    spark.sparkContext.setLogLevel("ERROR")
    n_workers = default_parallelism()

    warm_up(spark, sf_dir)
    all_queries = registry.queries()
    ordered = run_order(all_queries)

    def run_once(name: str) -> float:
        barrier(spark)
        t0 = time.perf_counter()
        all_queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    timings: dict[str, float] = {}
    reran: dict[str, list[float]] = {}
    canary_t: list[float] = []
    canary_slot: list[int] = []
    slots_done = 0

    def canary() -> None:
        # outside every timed slot by construction: run_once starts its
        # own timer after the untimed barrier
        canary_t.append(run_canary(spark))
        canary_slot.append(slots_done)

    canary()  # pre-suite reference shot
    for name in ordered:
        timings[name] = run_once(name)
        slots_done += 1
        if slots_done % CANARY_STRIDE == 0:
            canary()
    # Second shots run as a SEPARATE end pass, not back-to-back with the
    # first: host throttling arrives in multi-minute windows, so an
    # immediate rerun lands in the same slow window as the shot it is
    # meant to check (observed: min-of-2 still 9-15 s for queries whose
    # clean floor is 1-4 s). Minutes of separation decorrelate the pair.
    for name in [n for n in ordered if timings[n] > RERUN_THRESHOLD_SEC]:
        t2 = run_once(name)
        reran[name] = [timings[name], t2]
        timings[name] = min(timings[name], t2)
        slots_done += 1
        if slots_done % CANARY_STRIDE == 0:
            canary()
    canary()  # post-suite closing shot

    for line in build_output_lines(timings, reran, sf, n_workers, canary_t, canary_slot):
        print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
