"""The driver JVM's class-data-sharing archive (session.py): its key, when
a launch uses it, how a dump is published, and, in fresh processes, that
the archive merges with the caller's JVM options and the young-generation
cap, keeps stdout clean and never breaks a session, even when the file at
its path is garbage."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark import SparkContext

from prueba_tecnica_http_client_etl_spark import session
from tests.conftest import REPO_ROOT, SF_SMOKE

PERFBENCH_SUBMIT_ARGS = '--driver-java-options "-Xms1g" pyspark-shell'


def _fake_install(tmp_path: Path) -> tuple[Path, Path]:
    spark_home, jdk = tmp_path / "spark", tmp_path / "jdk"
    (spark_home / "jars").mkdir(parents=True)
    jdk.mkdir()
    for name in ("spark-core.jar", "scala-library.jar"):
        (spark_home / "jars" / name).write_bytes(b"jar")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    return spark_home, jdk


def test_key_follows_jars_and_jdk(tmp_path):
    spark_home, jdk = _fake_install(tmp_path)
    conf = tmp_path / "conf"
    key = session.archive_key(spark_home, jdk, conf)
    assert key == session.archive_key(spark_home, jdk, conf)

    jar = spark_home / "jars" / "spark-core.jar"
    jar.write_bytes(b"jar2")  # new size
    sized = session.archive_key(spark_home, jdk, conf)
    assert sized != key
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # new mtime only
    touched = session.archive_key(spark_home, jdk, conf)
    assert touched != sized

    (jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert session.archive_key(spark_home, jdk, conf) != touched
    other_jdk = tmp_path / "jdk2"
    other_jdk.mkdir()
    (other_jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert session.archive_key(spark_home, other_jdk, conf) != session.archive_key(spark_home, jdk, conf)


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """A process that has started no JVM, with its cache root under tmp."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in (*session._CALLER_OPTIONS, "PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    return tmp_path / "cache" / "spark-graft" / "cds"


def test_missing_archive_dumps_and_existing_one_is_used(no_jvm, tmp_path, monkeypatch):
    conf = tmp_path / "user-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# spark.master local\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))

    dump = session.cds_launch()
    assert dump.part is not None and dump.part.parent == no_jvm
    assert f'"-XX:ArchiveClassesAtExit={dump.part}"' in dump.options
    assert dump.conf_dir.is_dir() and not any(dump.conf_dir.iterdir())
    assert dump.part.is_file()  # the dump is in flight
    assert session.cds_launch() is None  # so a second process starts plainly

    dump.archive.write_bytes(b"archive")
    use = session.cds_launch()
    assert (use.archive, use.part) == (dump.archive, None)
    assert f'"-XX:SharedArchiveFile={dump.archive}"' in use.options
    assert "-Xlog:cds=off" in use.options


def test_real_spark_defaults_gives_plain_start(no_jvm, tmp_path, monkeypatch):
    conf = tmp_path / "user-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.driver.extraClassPath /opt/x.jar\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session.cds_launch() is None


@pytest.mark.parametrize(
    "case", ["root_not_writable", "jvm_running", "gateway_port", "caller_xshare", "caller_archive"]
)
def test_plain_start_cases(no_jvm, tmp_path, monkeypatch, case):
    session.cds_launch().part.unlink()  # a dump would start; none is in flight
    if case == "root_not_writable":
        blocker = tmp_path / "file"
        blocker.write_text("")  # a file where the cache directory should go
        monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    elif case == "jvm_running":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    elif case == "gateway_port":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "4040")
    elif case == "caller_xshare":
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", '--driver-java-options "-Xshare:off" pyspark-shell')
    else:
        monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:SharedArchiveFile=/elsewhere.jsa")
    assert session.cds_launch() is None


def test_stale_part_is_pruned_and_the_dump_retried(no_jvm):
    first = session.cds_launch()
    assert session.cds_launch() is None
    two_hours_ago = time.time() - 2 * 3600
    os.utime(first.part, (two_hours_ago, two_hours_ago))  # its process was killed
    again = session.cds_launch()
    assert again.part is not None and again.part != first.part
    assert not first.part.exists()


def _dump(root: Path, code: int | None, dump: bytes = b"dump") -> tuple[subprocess.Popen, Path, Path]:
    """A stand-in JVM that wrote `dump` and exits with `code`, or is
    killed mid-dump when `code` is None."""
    root.mkdir(parents=True, exist_ok=True)
    part, archive = root / "k.123.part", root / "k.jsa"
    part.write_bytes(dump)
    if code is None:
        proc = subprocess.Popen(["sleep", "60"], stdin=subprocess.PIPE)
        proc.kill()
    else:
        proc = subprocess.Popen([sys.executable, "-c", f"import sys; sys.stdin.read(); sys.exit({code})"], stdin=subprocess.PIPE)
    return proc, part, archive


@pytest.mark.parametrize("code,dump", [(None, b"dump"), (1, b"dump"), (134, b"dump"), (0, b"")])
def test_failed_killed_or_skipped_dump_is_never_published(tmp_path, code, dump):
    proc, part, archive = _dump(tmp_path, code, dump)
    assert not session.publish_archive(proc, part, archive)
    assert not archive.exists() and not part.exists()


def test_publish_prunes_superseded_archives_and_stale_parts(tmp_path):
    proc, part, archive = _dump(tmp_path, 0)
    old = tmp_path / "old.jsa"
    stale, live = tmp_path / "x.1.part", tmp_path / "y.2.part"
    for p in (old, stale, live):
        p.write_bytes(b"x")
    hour_ago = time.time() - 2 * 3600
    os.utime(stale, (hour_ago, hour_ago))

    assert session.publish_archive(proc, part, archive)
    assert proc.returncode == 0
    assert archive.read_bytes() == b"dump"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["k.jsa", "y.2.part"]


PROBE = """
import json
from prueba_tecnica_http_client_etl_spark.session import get_spark
spark = get_spark("cds-probe")
spark.sparkContext.setLogLevel("ERROR")
assert spark.range(1000).selectExpr("sum(id)").collect()[0][0] == 499500
jvm = spark.sparkContext._jvm
mx = jvm.java.lang.management.ManagementFactory
print("ARGS " + json.dumps(list(mx.getRuntimeMXBean().getInputArguments())))
hotspot = mx.getPlatformMXBean(jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print("VM " + json.dumps({o: hotspot.getVMOption(o).getValue() for o in ("MaxNewSize", "UseSharedSpaces")}))
"""


def _run(args: list[str], cache: Path) -> subprocess.CompletedProcess:
    env = dict(
        os.environ,
        XDG_CACHE_HOME=str(cache),
        PYSPARK_SUBMIT_ARGS=PERFBENCH_SUBMIT_ARGS,
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_SF_DIR=SF_SMOKE,
        PYTHONPATH=str(REPO_ROOT),
    )
    proc = subprocess.run([sys.executable, *args], cwd=REPO_ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    noise = [line for line in proc.stdout.splitlines() if "[cds" in line or "[warning]" in line]
    assert not noise, noise[:5]
    return proc


def _probe(proc: subprocess.CompletedProcess, tag: str):
    [line] = [line for line in proc.stdout.splitlines() if line.startswith(f"{tag} ")]
    return json.loads(line[len(tag) + 1:])


def test_archive_build_use_and_garbage_in_fresh_processes(tmp_path):
    cache = tmp_path / "cache"
    root = cache / "spark-graft" / "cds"
    try:
        # no archive: the run dumps one at exit and publishes it; the
        # young generation is capped at an eighth of the 1g heap
        proc = _run(["-c", PROBE], cache)
        built = _probe(proc, "ARGS")
        assert "-Xms1g" in built
        assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in built)
        assert _probe(proc, "VM")["MaxNewSize"] == str(128 << 20)
        [archive] = root.glob("*.jsa")
        assert not list(root.glob("*.part"))

        # the next run starts from it, with the caller's options kept, and
        # the cap costs no class-data sharing
        proc = _run(["-c", PROBE], cache)
        used = _probe(proc, "ARGS")
        assert "-Xms1g" in used
        assert f"-XX:SharedArchiveFile={archive}" in used
        assert _probe(proc, "VM") == {"MaxNewSize": str(128 << 20), "UseSharedSpaces": "true"}

        # a garbage file at the archive path still gives a working session
        archive.chmod(0o644)
        archive.write_bytes(os.urandom(1 << 20))
        out = _run(["tools/verify_subset.py", "kpi_daily"], cache).stdout
        assert "kpi_daily OK" in out
    finally:
        for p in root.glob("*"):
            if p.is_file():
                p.unlink()
