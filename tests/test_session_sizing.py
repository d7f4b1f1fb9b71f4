"""The driver heap is sized from the host unless SPARK_GRAFT_DRIVER_MEM
says otherwise, and the young generation is capped at an eighth of it
unless the caller's JVM options size it."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from prueba_tecnica_http_client_etl_spark import session


@pytest.mark.parametrize("ram_gib, heap", [(2, "1g"), (15, "2g"), (24, "4g"), (128, "4g")])
def test_driver_memory_is_a_sixth_of_ram_clamped(monkeypatch, ram_gib, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    assert session.default_driver_memory() == heap


def test_driver_memory_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "16g")
    monkeypatch.setattr(session.os, "sysconf", lambda name: pytest.fail(f"read {name} despite the override"))
    assert session.default_driver_memory() == "16g"


def test_session_uses_the_sized_heap(spark):
    assert spark.sparkContext.getConf().get("spark.driver.memory") == session.default_driver_memory()


@pytest.fixture
def no_caller_options(monkeypatch):
    for var in session._CALLER_OPTIONS:
        monkeypatch.delenv(var, raising=False)


@pytest.mark.parametrize("ram_gib, cap", [(6, "128m"), (15, "256m"), (24, "512m")])
def test_young_gen_cap_is_an_eighth_of_the_sized_heap(monkeypatch, no_caller_options, ram_gib, cap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    assert session.young_gen_options(session.default_driver_memory()) == f"-XX:MaxNewSize={cap}"


@pytest.mark.parametrize("heap, cap", [("2048m", "256m"), ("2G", "256m"), ("3g", "384m"), ("1048576k", "128m")])
def test_young_gen_cap_reads_any_unit(monkeypatch, no_caller_options, heap, cap):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", heap)
    assert session.young_gen_options(session.default_driver_memory()) == f"-XX:MaxNewSize={cap}"


@pytest.mark.parametrize(
    "var, value",
    [
        ("PYSPARK_SUBMIT_ARGS", '--driver-java-options "-Xms2g -Xmn512m" pyspark-shell'),
        ("PYSPARK_SUBMIT_ARGS", '--driver-java-options "-XX:NewSize=64m" pyspark-shell'),
        ("PYSPARK_SUBMIT_ARGS", '--driver-java-options "-XX:MaxNewSize=1g" pyspark-shell'),
        ("JAVA_TOOL_OPTIONS", "-XX:NewRatio=3"),
    ],
)
def test_caller_young_gen_options_mean_no_cap(monkeypatch, no_caller_options, var, value):
    monkeypatch.setenv(var, value)
    assert session.young_gen_options("2g") == ""


@pytest.mark.parametrize("archive", [False, True])
def test_both_launch_paths_carry_the_cap(monkeypatch, no_caller_options, tmp_path, archive):
    launch = session.CdsLaunch('"-XX:SharedArchiveFile=/x.jsa" -Xlog:cds=off', tmp_path, tmp_path / "x.jsa", None)
    monkeypatch.setattr(session, "cds_launch", lambda: launch if archive else None)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    options = session.get_spark()
    assert options["spark.driver.memory"] == "2g"
    cap = "-XX:MaxNewSize=256m"
    assert options["spark.driver.defaultJavaOptions"] == (f"{cap} {launch.options}" if archive else cap)
