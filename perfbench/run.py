#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run, in one process on local[nproc]:

1. set up: launch the JVM and start the session, run its first job, run
   one untimed pass that collects every output and WARM_PASSES untimed
   noop passes.
   `setup_s` is the time from process start to the end of those passes,
   less the time spent generating inputs and removing the last run's files.
2. run timed passes, each in a seed-shuffled order through the noop sink,
   until S seconds have passed. `suite_s` is the median pass, `query_p50_s`
   the median operation; `peak_pss_mb` samples the JVM and its Python
   workers for the whole run.
3. check the collected outputs against DuckDB (never against the engine).
4. with --trace 1, restart the context with Spark's event log, a
   streaming listener and the artifact/persist wrappers on, and repeat
   the warm pass and S seconds of passes. The per-layer metrics come from
   these traced passes; the spans go to perfbench/.work/traces/.

The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Metric names and units are the ones BENCHMARK.json lists.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))  # the package, bench.py and tests/ live at the repo root

import tracing  # noqa: E402
import workloads  # noqa: E402

# Untimed noop passes after the collecting one. Pass times keep falling
# for several passes (new plans, cold JIT): the first noop pass ran 20-30 %
# slower than later ones, the third still about 10 % slower than the
# tenth. Without these, a slow host would fit fewer passes into the timed
# window, all of them early, slow ones.
WARM_PASSES = 2


def host_sizing() -> tuple[int, int]:
    """(cores, JVM heap GiB) from this host: every usable core, and a
    sixth of physical RAM clamped to 1..4 GiB, since the machine may be
    shared."""
    cores = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return cores, int(max(1, min(4, ram_gib // 6)))


def isolate(work: Path, cores: int, heap_gib: int) -> float:
    """Fresh per-run directories inside the checkout for everything Spark,
    the JVM and the package write (stream staging and checkpoints follow
    TMPDIR), so no run starts from another run's staging state. Returns
    the seconds spent removing the previous run's files, which set-up
    time leaves out."""
    t0 = time.perf_counter()
    shutil.rmtree(work, ignore_errors=True)
    cleanup_s = time.perf_counter() - t0
    tmp, local, warehouse = work / "tmp", work / "local", work / "warehouse"
    for d in (tmp, local):
        d.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gib}g",
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        # Python workers import the package by name when they unpickle
        # mapInPandas closures; the repo root must be on their path.
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Xms{heap_gib}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            f"--conf spark.sql.warehouse.dir={warehouse} --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    tempfile.tempdir = None
    return cleanup_s


class Runner:
    def __init__(self, args, tracer, cores: int):
        self.args = args
        self.tracer = tracer
        self.cores = cores
        self.rng = random.Random(args.seed)
        self.wl = workloads.make(args.workload, args.work, args.seed, tracer.span)
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def start(self, name: str) -> float:
        from prueba_tecnica_http_client_etl_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start", "session"):
            self.spark = get_spark(name)
            self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def warm_up(self) -> float:
        """First job of the context; the warm pass warms everything else."""
        t0 = time.perf_counter()
        with self.tracer.span("session.warm", "session"):
            self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    def barrier(self) -> None:
        """Untimed: no cache or stream outlives the operation that made it,
        and a tiny job absorbs the previous operation's stragglers. Its own
        span keeps its job out of the per-layer metrics."""
        with self.tracer.span("barrier", "harness"):
            self.spark.catalog.clearCache()
            for q in self.spark.streams.active:
                q.stop()
            self.spark.range(10_000).selectExpr("count(*)").collect()

    def run_pass(self, label: str, mode: str) -> tuple[dict[str, float], dict]:
        """One pass in seeded order; mode is "check" (collect outputs),
        "warm" (untimed) or "timed". Returns seconds per op and, when
        checking, the collected outputs."""
        outputs: dict = {}
        times: dict[str, float] = {}
        ops = list(self.wl.ops)
        self.rng.shuffle(ops)
        with self.tracer.span(label, "workload"):
            for op in ops:
                self.barrier()
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(op.name, "query"):
                        with self.tracer.span(f"build:{op.name}", "build"):
                            obj = op.build(self.spark)
                        with self.tracer.span(f"action:{op.name}", "action"):
                            if mode == "check":
                                outputs.update(op.check(obj))
                            else:
                                op.act(obj)
                except Exception as e:  # a failing operation is counted, not fatal
                    print(f"FAILED {op.name}: {type(e).__name__}: {str(e)[:300]}", flush=True)
                    self.failed += 1
                times[op.name] = time.perf_counter() - t0
                if mode == "timed":
                    self.attempted += 1
        return times, outputs

    def setup(self) -> tuple[float, dict]:
        """Process start to the first timed pass: JVM launch and session,
        first job, one untimed pass that collects the outputs for the check
        and the untimed noop passes. Input generation and the removal of
        the previous run's files are excluded."""
        t = time.perf_counter() - T_PROCESS - self.args.cleanup_s
        t += self.start(f"perfbench-{self.args.workload}")
        t += self.warm_up()
        g0 = time.perf_counter()
        self.wl.prepare(self.spark)
        phase(f"inputs generated in {time.perf_counter() - g0:.2f} s (not timed)")
        checked, outputs = self.run_pass("setup:check", "check")
        warm = 0.0
        for i in range(WARM_PASSES):
            times, _ = self.run_pass(f"setup:warm{i}", "warm")
            warm += sum(times.values())
        return t + sum(checked.values()) + warm, outputs

    def timed(self, seconds: float) -> tuple[list[float], dict[str, list[float]]]:
        """Whole passes until `seconds` have passed: (pass seconds, each
        op's seconds per pass)."""
        passes: list[float] = []
        ops: dict[str, list[float]] = {}
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            times, _ = self.run_pass(f"pass:{len(passes)}", "timed")
            passes.append(sum(times.values()))
            for name, secs in times.items():
                ops.setdefault(name, []).append(secs)
        return passes, ops


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cores, heap = host_sizing()
    args.work = HERE / ".work" / args.workload
    args.cleanup_s = isolate(args.work, cores, heap)
    print(f"host: {cores} cores, JVM heap {heap}g, workload {args.workload}, seed {args.seed}", flush=True)

    tracer = tracing.Tracer(uuid.uuid4().hex[:12])
    if args.trace:
        tracing.install_wrappers(tracer)  # before the registry is imported
    workloads.self_test()
    runner = Runner(args, tracer, cores)

    from pyspark import SparkContext

    try:
        with tracing.MemorySampler() as mem:
            result = measure(runner, args)
            peak = mem.peak_bytes
    finally:
        gateway = SparkContext._gateway
        if runner.spark is not None:
            runner.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        phase("JVM stopped")
    result["peak_pss_mb"] = peak / 2**20
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": result[m["name"]], "unit": m["unit"]} for m in spec[section]}
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


def phase(name: str) -> None:
    print(f"[{time.perf_counter() - T_PROCESS:7.2f}s] {name}", flush=True)


def measure(runner: Runner, args) -> dict:
    setup_s, outputs = runner.setup()
    phase("set-up done")
    passes, ops = runner.timed(args.seconds)
    phase("timed passes done")
    bad = workloads.compare(outputs, runner.wl.oracle())
    runner.attempted += len(outputs)
    runner.failed += len(bad)
    for name in bad:
        print(f"MISMATCH {name}: output differs from the DuckDB answer", flush=True)
    phase("outputs checked")
    res = {
        "setup_s": setup_s,
        "suite_s": statistics.median(passes),
        "query_p50_s": statistics.median(t for times in ops.values() for t in times),
    }
    print(f"setup {setup_s:.3f}  passes {[round(p, 3) for p in passes]}", flush=True)
    for name, times in sorted(ops.items()):
        print(f"  {name}: {[round(t, 3) for t in times]}", flush=True)
    if args.trace:
        res.update(traced(runner, args, res["suite_s"]))
    return res


def traced(runner: Runner, args, untraced_suite: float) -> dict:
    """Restart with tracing on, repeat the warm pass and the timed passes,
    and derive the per-layer metrics from the traced passes."""
    import bench

    tracer, spark = runner.tracer, runner.spark
    canary = [bench.run_canary(spark)]
    log_dir = args.work / "eventlog"
    for k, v in tracing.event_log_conf(log_dir).items():
        spark._jvm.java.lang.System.setProperty(k, v)
    spark.stop()
    tracer.active = True
    listener = tracing.StreamListener()
    start_s = runner.start(f"perfbench-{args.workload}-traced")
    runner.spark.streams.addListener(listener)
    warm_s = runner.warm_up()
    runner.run_pass("setup:traced", "warm")
    passes, _ = runner.timed(args.seconds)
    tracer.active = False
    canary.append(bench.run_canary(runner.spark))
    time.sleep(1.0)  # let the listener bus deliver the last progress events
    runner.spark.stop()
    runner.spark = None
    jobs, stages = tracing.read_event_log(log_dir)
    tracing.attach(tracer, jobs, stages, listener)
    tracing.self_times(tracer.spans)
    timed_spans = [s for s in tracer.spans if s["layer"] == "workload" and s["name"].startswith("pass:")]
    m, selfs = tracing.layer_metrics(tracer, listener, timed_spans, runner.cores)
    suite = statistics.median(passes)
    m.update({
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "host.canary_s": statistics.mean(canary),
        "trace.suite_s": suite,
        "trace.overhead_s": suite - untraced_suite,
    })
    out = HERE / ".work" / "traces" / f"{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"run": tracer.run_id, "workload": args.workload, "seed": args.seed,
                               "metrics": m, "self_s_per_pass": selfs, "spans": tracer.spans}))
    print("self time per pass by layer: " + ", ".join(f"{k} {v:.3f}s" for k, v in sorted(selfs.items())))
    print(f"tracing overhead: traced suite {suite:.3f}s - untraced {untraced_suite:.3f}s "
          f"= {suite - untraced_suite:+.3f}s; spans: {out.relative_to(ROOT)}", flush=True)
    return m


if __name__ == "__main__":
    raise SystemExit(main())
