"""Measurement from outside the package: spans, wrappers, Spark's event
log, a streaming listener and a memory sampler.

Spans are kept in memory and written as JSON when the run ends. Python
spans (pass, query, build, action, artifact training, persist) nest by
call stack; Spark jobs and stages (from the event log) and micro-batches
(from the listener) are attached afterwards to the innermost span whose
interval holds their start. All times are wall-clock epoch seconds.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
SAMPLE_PERIOD_S = 0.2  # MemorySampler's /proc sampling period


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def add(self, name: str, layer: str, start: float, end: float, parent=None, **attrs) -> dict:
        s = {"id": len(self.spans), "run": self.run_id, "name": name, "layer": layer,
             "start": start, "end": end, "parent": parent, **attrs}
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, layer: str):
        """Record a span when tracing is active; a no-op otherwise."""
        if not self.active:
            yield None
            return
        parent = self._stack[-1]["id"] if self._stack else None
        s = self.add(name, layer, time.time(), 0.0, parent)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the artifact store and the persist pool. Must run before the
    registry is imported: operators/dedup.py and operators/similarity.py
    bind both names at import time."""
    from prueba_tecnica_http_client_etl_spark.functions import artifacts, cachepool

    trained_artifact, managed_persist = artifacts.trained_artifact, cachepool.managed_persist

    def traced_artifact(key, build):
        if not tracer.active:
            return trained_artifact(key, build)
        built = []

        def traced_build():
            built.append(True)
            return build()

        with tracer.span(f"artifact:{key[0]}", "functions.artifacts") as s:
            df = trained_artifact(key, traced_build)
            s["miss"] = bool(built)
        return df

    def traced_persist(df):
        if tracer.active:
            now = time.time()
            parent = tracer._stack[-1]["id"] if tracer._stack else None
            tracer.add("persist", "functions.cachepool", now, now, parent)
        return managed_persist(df)

    artifacts.trained_artifact = traced_artifact
    cachepool.managed_persist = traced_persist


class StreamListener(StreamingQueryListener):
    """Keeps every stream's start, progress reports and end."""

    def __init__(self):
        self.started: dict[str, float] = {}
        self.ended: dict[str, float] = {}
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        self.started[str(event.runId)] = _epoch(event.timestamp)

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.ended[str(event.runId)] = time.time()


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class MemorySampler:
    """Peak summed proportional set size (PSS) of this process's
    descendants, the JVM and its Python workers, read from /proc every
    SAMPLE_PERIOD_S. PSS counts a page the forked workers share once,
    so the figure does not jump with the number of idle workers."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(SAMPLE_PERIOD_S):
            children: dict[int, list[int]] = {}
            for d in os.listdir("/proc"):
                if not d.isdigit():
                    continue
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
            total, todo = 0, list(children.get(me, []))
            while todo:
                pid = todo.pop()
                todo.extend(children.get(pid, []))
                try:
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
                except (OSError, StopIteration, ValueError):
                    continue
            self.peak_bytes = max(self.peak_bytes, total)


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """Spark confs that turn the event log on for the next SparkContext.
    Uncompressed, because Spark 4 defaults to zstd, which this Python
    cannot read; one file, because Spark 4 rolls event logs by default."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: Path) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages) from the single finished event log under log_dir.
    A stage carries its summed task metrics and its SQL accumulables."""
    logs = [p for p in log_dir.iterdir() if not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(logs[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"id": e["Job ID"], "start": e["Submission Time"] / 1e3,
                                     "end": None, "stages": e["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], _new_stage(e["Stage ID"]))
                m = e.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["peak_mem"] = max(st["peak_mem"], m.get("Peak Execution Memory", 0))
                st["spill_disk"] += m.get("Disk Bytes Spilled", 0)
                st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage(info["Stage ID"]))
                st["start"] = info.get("Submission Time", 0) / 1e3
                st["end"] = info.get("Completion Time", 0) / 1e3
                for acc in info.get("Accumulables", []):
                    key = PYTHON_METRICS.get(acc.get("Name"))
                    if key:
                        st[key] = st.get(key, 0) + int(acc.get("Value", 0))
    return [j for j in jobs.values() if j["end"] is not None], stages


def _new_stage(sid: int) -> dict:
    return {"id": sid, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "peak_mem": 0,
            "spill_disk": 0, "input_bytes": 0, "output_bytes": 0, "shuffle_read": 0,
            "shuffle_write": 0, "start": None, "end": None}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attach(tracer: Tracer, jobs: list[dict], stages: dict[int, dict], listener: StreamListener) -> None:
    """Add micro-batch, job and stage spans under the innermost span that
    holds their start."""
    python_spans = list(tracer.spans)

    def innermost(t: float, pool: list[dict]):
        best = None
        for s in pool:
            if s["start"] <= t <= s["end"] and s["end"] > s["start"]:
                if best is None or s["end"] - s["start"] < best["end"] - best["start"]:
                    best = s
        return best

    for p in listener.progress:
        start = _epoch(p["timestamp"])
        d = p.get("durationMs", {})
        parent = innermost(start, python_spans)
        tracer.add(f"batch:{p.get('name') or p['runId'][:8]}:{p['batchId']}", "streaming",
                   start, start + d.get("triggerExecution", 0) / 1e3,
                   parent["id"] if parent else None,
                   input_rows=p.get("numInputRows", 0), run_id=p["runId"],
                   add_batch_s=d.get("addBatch", 0) / 1e3,
                   commit_s=(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
                   plan_s=d.get("queryPlanning", 0) / 1e3,
                   state_rows=sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", [])))
    holders = list(tracer.spans)
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["start"]):
        parent = innermost(j["start"], holders)
        js = tracer.add(f"job:{j['id']}", "spark.job", j["start"], j["end"],
                        parent["id"] if parent else None)
        for sid in j["stages"]:
            owner.setdefault(sid, js["id"])
    for sid, st in stages.items():
        if sid in owner and st["start"] is not None:
            fields = {k: v for k, v in st.items() if k not in ("id", "start", "end")}
            tracer.add(f"stage:{sid}", "spark.stage", st["start"], st["end"], owner[sid], **fields)


def self_times(spans: list[dict]) -> None:
    """Set each span's `self_s`: its duration minus the part of its
    interval that its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self_s"] = (s["end"] - s["start"]) - _covered(kids.get(s["id"], []), s["start"], s["end"])


def layer_metrics(tracer: Tracer, listener: StreamListener, timed_passes: list[dict],
                  cores: int) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer metrics, per timed pass, from the attached spans; plus
    each layer's self time per pass. Only spans inside an operation's
    query span count: the barriers between operations are harness work.
    Artifact training time is the one set-up figure: it sums the misses
    outside the timed passes."""
    by_id = {s["id"]: s for s in tracer.spans}

    def chain(s: dict) -> list[dict]:
        """s and every span above it, innermost first."""
        out = []
        while s is not None:
            out.append(s)
            s = by_id.get(s["parent"])
        return out

    def under(s: dict, layer: str) -> bool:
        return any(a["layer"] == layer for a in chain(s))

    def pass_id(s: dict):
        return next((a["id"] for a in chain(s) if a["layer"] == "workload"), None)

    timed_ids = {p["id"] for p in timed_passes}
    n = len(timed_passes)
    in_pass = [s for s in tracer.spans if pass_id(s) in timed_ids]
    spans = [s for s in in_pass if under(s, "query")]
    def of(layer: str) -> list[dict]:
        return [s for s in spans if s["layer"] == layer]

    jobs, stages, batches = of("spark.job"), of("spark.stage"), of("streaming")
    wall = sum(q["end"] - q["start"] for q in of("query"))

    def plan_s(a: dict) -> float:
        """Action time covered by none of the jobs started inside it."""
        inside = [(j["start"], j["end"]) for j in jobs if any(x is a for x in chain(j))]
        return (a["end"] - a["start"]) - _covered(inside, a["start"], a["end"])

    m: dict[str, float] = {
        "registry.build_s": sum(s["end"] - s["start"] for s in of("build")) / n,
        "registry.build_jobs": sum(under(j, "build") for j in jobs) / n,
        "spark.plan_s": sum(plan_s(a) for a in of("action")) / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(s["tasks"] for s in stages) / n,
        "spark.busy_ratio": sum(s["run_s"] for s in stages) / (wall * cores),
        "spark.task_run_s": sum(s["run_s"] for s in stages) / n,
        "spark.task_cpu_s": sum(s["cpu_s"] for s in stages) / n,
        "spark.gc_s": sum(s["gc_s"] for s in stages) / n,
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages) / n,
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages) / n,
        "spark.spill_disk_bytes": sum(s["spill_disk"] for s in stages) / n,
        "spark.peak_exec_mem_bytes": max([s["peak_mem"] for s in stages], default=0),
        "spark.input_bytes": sum(s["input_bytes"] for s in stages) / n,
        "spark.output_bytes": sum(s["output_bytes"] for s in stages) / n,
    }
    for key in PYTHON_METRICS.values():
        total = sum(s.get(key, 0) for s in stages) / n
        m[key] = total / 1e3 if key.endswith("_s") else total  # timings are in ms
    arts = of("functions.artifacts")
    m["functions.artifacts.misses"] = sum(bool(a.get("miss")) for a in arts) / n
    m["functions.artifacts.hits"] = sum(not a.get("miss") for a in arts) / n
    m["functions.artifacts.train_s"] = sum(
        s["end"] - s["start"] for s in tracer.spans
        if s["layer"] == "functions.artifacts" and s.get("miss")
        and pass_id(s) not in timed_ids)
    m["functions.cachepool.persists"] = len(of("functions.cachepool")) / n
    runs = {b["run_id"] for b in batches}
    stream_wall = sum(listener.ended[r] - listener.started[r] for r in runs
                      if r in listener.ended and r in listener.started)
    m.update({
        "streaming.batches": len(batches) / n,
        "streaming.input_rows": sum(b["input_rows"] for b in batches) / n,
        "streaming.add_batch_s": sum(b["add_batch_s"] for b in batches) / n,
        "streaming.commit_s": sum(b["commit_s"] for b in batches) / n,
        "streaming.plan_s": sum(b["plan_s"] for b in batches) / n,
        "streaming.outside_trigger_s": (stream_wall - sum(b["end"] - b["start"] for b in batches)) / n,
        "streaming.state_rows": sum(b["state_rows"] for b in batches) / n,
    })
    for name, key in (("write_kpi_csv", "sinks.files.write_kpi_csv_s"),
                      ("read_kpi_csv", "sources.files.read_kpi_csv_s"),
                      ("render_html_report", "sinks.report.render_s")):
        m[key] = sum(s["end"] - s["start"] for s in spans if s["name"] == name) / n
    selfs: dict[str, float] = {}
    for s in in_pass:
        selfs[s["layer"]] = selfs.get(s["layer"], 0.0) + s["self_s"] / n
    return m, selfs
