#!/usr/bin/env python
"""Canary-normalize a bench run (round-20; verdict r19 item 1).

Reads a bench.py stdout capture (or the final compact JSON line alone),
aligns `t_alpha` to the registry names — verifying the alignment against
`names_sha256` — and prints per-query canary-relative seconds:

    t_norm[q] = t[q] / (canary_at_slot(q) / min(c_t))

where canary_at_slot is the linear interpolation of the canary series at
the query's timed-slot index. A query that looks slow only because its
slot sat in a host throttle window (canary inflated too) normalizes back
toward its clean-window cost; a real regression stays put.

Usage: python tools/normalize_bench.py BENCH_LOG [BENCH_LOG...]
With two logs, also prints the per-query normalized ratio log2/log1.
Dev/adjudication tool; bench.py remains the only driver artifact.

Caveat: the canary samples the host every CANARY_STRIDE slots, so a
single transient spike deflates its whole neighborhood (observed:
close-2's one 3.6 s canary shot normalized nearby queries too hard,
total 195.6 -> 113.6, while close-1's SUSTAINED inflation normalized
225.4 -> 170.6~clean-window). Use it as a diagnostic — "did the canary
move with the query?" — not as a scoring function; min over separated
runs remains the pin methodology.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def load(path: str) -> dict:
    final = None
    for line in open(path, errors="replace"):
        if '{"metric"' in line:
            final = json.loads(line[line.index('{"metric"'):])
    if final is None:
        raise SystemExit(f"{path}: no bench output line found")
    return final


def normalized(final: dict) -> dict[str, float]:
    import bench
    from prueba_tecnica_http_client_etl_spark import registry

    names = sorted(registry.QUERIES)
    digest = bench.names_digest(names)
    if "names_sha256" in final and final["names_sha256"] != digest:
        raise SystemExit(
            f"alignment digest mismatch: artifact {final['names_sha256']} vs "
            f"registry {digest} — the registry changed since this run; "
            "t_alpha cannot be aligned"
        )
    t = dict(zip(names, final["t_alpha"]))
    ct, cs = final.get("c_t"), final.get("c_slot")
    if not ct or not cs:
        print("(no canary series in this run — returning raw seconds)", file=sys.stderr)
        return t
    floor = min(ct)

    def canary_at(slot: float) -> float:
        if slot <= cs[0]:
            return ct[0]
        for i in range(1, len(cs)):
            if slot <= cs[i]:
                span = cs[i] - cs[i - 1] or 1
                f = (slot - cs[i - 1]) / span
                return ct[i - 1] + f * (ct[i] - ct[i - 1])
        return ct[-1]

    # slot order: bench.run_order; the rerun pass re-times >1s queries in
    # the same order — normalize against the FIRST pass slot (the recorded
    # min usually comes from whichever window was cleaner; first-pass
    # position is deterministic). BENCH_r01-r20 runs timed
    # dedup_stream_ttl among the batch queries, so the slots around it are
    # off by one there — small next to CANARY_STRIDE.
    slot_of = {n: i for i, n in enumerate(bench.run_order(names))}
    return {n: round(t[n] / (canary_at(slot_of[n]) / floor), 3) for n in names}


def main() -> int:
    runs = [(p, normalized(load(p))) for p in sys.argv[1:]]
    if not runs:
        print(__doc__)
        return 2
    base = runs[0][1]
    for p, r in runs:
        print(f"{p}: normalized total {round(sum(r.values()), 1)}s")
    if len(runs) == 2:
        other = runs[1][1]
        deltas = sorted(
            ((n, base[n], other[n], round(other[n] / max(base[n], 1e-9), 2)) for n in base),
            key=lambda x: -x[3],
        )
        print("\nworst normalized ratios (run2/run1):")
        for n, a, b, r in deltas[:10]:
            print(f"  {n:40} {a:7.3f} -> {b:7.3f}  x{r}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
