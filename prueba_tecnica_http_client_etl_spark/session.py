"""SparkSession factory tuned for the target execution model.

Tests/bench run on local[N] (single JVM), but every knob here is chosen so
the same plans hold on a 1000-executor cluster at 100 TB:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts.
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescePartitions makes the initial number a ceiling, not a constant.
- UTC session timezone: oracle comparisons (DuckDB is UTC-naive) and
  deterministic date derivation.
- Arrow enabled: every Python-boundary crossing (pandas UDFs, toPandas)
  is columnar-batched.

JVM start-up: most of a process's 9-11 s before its first query is the
driver JVM loading classes. get_spark starts that JVM from a dynamic AppCDS
archive kept once per host, at
${XDG_CACHE_HOME:-~/.cache}/spark-graft/cds/<key>.jsa. The key covers the
JDK (real java.home and its release file), the Spark version and the
launch classpath (every jar under $SPARK_HOME/jars by name, size and
mtime_ns, plus the conf dir), so a changed install gets a new archive and
the old one is pruned. The first process with no archive for its key dumps
one when its JVM exits (140-200 MB, and 12-20 s more at exit), and its
perfbench set-up is 13-19 % slower, so the archive pays back after about
four processes. While it runs, its empty <key>.<uuid>.part marks the dump
in flight, and other processes start plainly rather than dump too; a
.part older than an hour belongs to a killed process and the next launch
deletes it. An atexit hook publishes the dump with an atomic rename only
if the JVM exited 0, because a truncated archive crashes every JVM that
maps it (SIGBUS), while a missing or garbage one only falls back to a
plain start. CDS refuses a non-empty directory on the classpath, so the
launch points SPARK_CONF_DIR at an empty directory under the cache root.
The JVM starts plainly, with no
error, when the cache root can't be written, the conf dir holds a real
file (anything but *.template), a JVM is already running, or the caller's
own options name -Xshare or an archive. Deleting the cds directory is
always safe.

Young generation: in local[N] the driver JVM is the whole engine. Its live
set after a full collection is about 100 MB, but G1 grows eden toward 60 % of the heap and
cycles allocation through every region, so the process touches its whole
heap. get_spark caps the young generation at an eighth of the sized heap
(-XX:MaxNewSize=256m at 2 GiB) on both the archive and the plain start.
At perfbench's 2 GiB heap on 4 cores, that took peak PSS from 2528 to
1181 MB on etl_analytics and from 3019 to 1667 MB on corpus_stream
(medians of 10 runs), with pass times unchanged: young collections are
more frequent and each one is cheaper. A caller whose own options name
-Xmn, NewSize, MaxNewSize or NewRatio, e.g.
--driver-java-options "-Xmn512m", sizes the young generation instead and
gets no cap.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# JVM log tags silenced with an archive: unsilenced, a dump prints about
# 1,500 lines to stdout, and a bad archive a warning.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# Environment variables whose JVM options reach the driver.
_CALLER_OPTIONS = ("PYSPARK_SUBMIT_ARGS", "SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
# Caller options that size the young generation themselves.
_YOUNG_GEN_FLAGS = ("-Xmn", "NewSize", "NewRatio")
_PART_MAX_AGE_S = 3600  # older .part files belong to no running dump
_DUMP_WAIT_S = 120


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory() -> str:
    """The driver heap, which in single-JVM local mode is also the
    executor heap: $SPARK_GRAFT_DRIVER_MEM, else a sixth of physical RAM
    clamped to 1-4 GiB, since the machine may be shared (the rule
    perfbench's host sizing uses). A heap that may grow past physical
    memory turns a spill into the OS killing the process."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{int(max(1, min(4, ram_gib // 6)))}g"


def young_gen_options(heap: str) -> str:
    """-XX:MaxNewSize at an eighth of `heap` (a JVM size such as "2g" or
    "2048m"), or "" when the caller's options size the young generation
    or `heap` is not a JVM size."""
    if any(flag in os.environ.get(var, "") for var in _CALLER_OPTIONS for flag in _YOUNG_GEN_FLAGS):
        return ""
    m = re.fullmatch(r"(\d+)([kmgt]?)", heap.strip().lower())
    if m is None:
        return ""
    size = int(m[1]) << 10 * " kmgt".index(m[2] or " ")
    return f"-XX:MaxNewSize={size // 8 >> 20}m"


def java_home() -> Path | None:
    """The JDK spark-class runs: $JAVA_HOME, else the first java on PATH."""
    if os.environ.get("JAVA_HOME"):
        return Path(os.environ["JAVA_HOME"]).resolve()
    java = shutil.which("java")
    return Path(java).resolve().parent.parent if java else None


def archive_key(spark_home: Path, jdk: Path, conf_dir: Path) -> str:
    h = hashlib.sha256(f"{jdk}\0{pyspark.__version__}\0{conf_dir}\0".encode())
    release = jdk / "release"
    h.update(release.read_bytes() if release.is_file() else b"")
    for jar in sorted((spark_home / "jars").iterdir()):
        st = jar.stat()
        h.update(f"\0{jar.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


@dataclass(frozen=True)
class CdsLaunch:
    options: str  # spark.driver.defaultJavaOptions
    conf_dir: Path  # an empty SPARK_CONF_DIR for the launch
    archive: Path
    part: Path | None  # the dump target when the archive is missing


def cds_launch() -> CdsLaunch | None:
    """How to start a new driver JVM from the host's class-data archive,
    or None for a plain start."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # a JVM is already running
    if any(flag in os.environ.get(var, "") for var in _CALLER_OPTIONS for flag in ("-Xshare", "SharedArchive", "ArchiveClasses")):
        return None
    jdk = java_home()
    if jdk is None:
        return None
    root = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache") / "spark-graft" / "cds"
    conf_dir = root / "conf"
    try:
        spark_home = Path(_find_spark_home())
        user_conf = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
        if user_conf.is_dir() and any(not n.endswith(".template") for n in os.listdir(user_conf)):
            return None
        conf_dir.mkdir(parents=True, exist_ok=True)
        if not os.access(root, os.W_OK) or any(conf_dir.iterdir()):
            return None
        key = archive_key(spark_home, jdk, conf_dir)
    except OSError:
        return None
    archive = root / f"{key}.jsa"
    if archive.is_file():
        return CdsLaunch(f'"-XX:SharedArchiveFile={archive}" {_CDS_QUIET}', conf_dir, archive, None)
    prune(root)
    if any(root.glob(f"{key}.*.part")):
        return None  # another process is dumping this key's archive
    part = root / f"{key}.{uuid.uuid4().hex}.part"
    try:
        part.touch(exist_ok=False)  # marks the dump in flight; the JVM replaces it
    except OSError:
        return None
    return CdsLaunch(f'"-XX:ArchiveClassesAtExit={part}" {_CDS_QUIET}', conf_dir, archive, part)


def prune(root: Path, keep: Path | None = None) -> None:
    """Delete .part files older than an hour, which no running dump owns
    (a killed process leaves its dump behind), and, when `keep` is given,
    every other archive."""
    now = time.time()
    with contextlib.suppress(OSError):
        for p in root.iterdir():
            with contextlib.suppress(OSError):
                if (p.suffix == ".jsa" and keep is not None and p != keep) or (
                    p.suffix == ".part" and now - p.stat().st_mtime > _PART_MAX_AGE_S
                ):
                    p.unlink()


def publish_archive(proc: subprocess.Popen, part: Path, archive: Path) -> bool:
    """At exit: let the driver JVM exit and finish its dump, then publish
    `part` as `archive` only if the JVM exited 0 and wrote it. Anything
    else deletes `part`. Publishing prunes the archives of other keys and
    stale .part files."""
    with contextlib.suppress(OSError):
        proc.stdin.close()  # EOF on stdin makes the gateway JVM exit
    try:
        code = proc.wait(_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
    try:
        dumped = code == 0 and part.stat().st_size > 0
    except OSError:
        dumped = False
    if not dumped:
        part.unlink(missing_ok=True)
        return False
    os.replace(part, archive)
    prune(archive.parent, keep=archive)
    return True


def get_spark(app_name: str = "prueba-tecnica-etl-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cores = default_parallelism()
    heap = default_driver_memory()
    shuffle = shuffle_partitions if shuffle_partitions is not None else max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE SMJ->shuffled-hash rewrite for joins whose post-shuffle
        # partitions are all MEASURED below this bound (default 0 = off).
        # Round-20 config pass: mins over 5 interleaved fresh-session
        # pairs at the 10x replica improved 6-12% on the un-hinted
        # relational joins (suppliers_blocking_orders 4.89->4.30,
        # purchases_near_views_range 0.83->0.74, top_orders_per_customer
        # 2.80->2.64). Chosen over preferSortMergeJoin=false (also
        # measured, similar win) because this form is gated on RUNTIME
        # map-output sizes, not planner estimates — at 100 TB a
        # mis-estimated shuffled-hash build is an executor OOM, while
        # this bound caps the build side per task; corpus-sized joins
        # stay sort-merge either way (_corpus_sized merge hints take
        # precedence over AQE's selection).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS); read as INT64 once at session
        # build so table loads never mutate shared session conf mid-query.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Off: PySpark's call-site capture (pyspark/errors/utils.py
        # _with_origin) wraps every DataFrame/Column API call with about
        # four py4j round trips and a Python stack walk that retries a
        # failing `import ipykernel` (~0.1-0.2 ms) each time. Measured on
        # 4 cores at sf0.01: building pricing_summary took 1164 py4j round
        # trips and 0.33 s with it on, 304 and 0.14 s with it off. The only
        # loss is the call-site fragment in analysis-error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # Off: the [Stage N: ...] bar shares a terminal line with the
        # result lines of bench.py and tools/.
        .config("spark.ui.showConsoleProgress", "false")
    )
    cds = cds_launch()
    # The launcher puts spark.driver.defaultJavaOptions ahead of the
    # caller's --driver-java-options, so those still apply.
    java_options = " ".join(filter(None, (young_gen_options(heap), cds and cds.options)))
    if java_options:
        builder.config("spark.driver.defaultJavaOptions", java_options)
    if cds is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(cds.conf_dir)
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if cds.part is not None:
            cds.part.unlink(missing_ok=True)
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if cds.part is not None:
        atexit.register(publish_archive, SparkContext._gateway.proc, cds.part, cds.archive)
    return spark
