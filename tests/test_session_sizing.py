"""The driver heap is sized from the host unless SPARK_GRAFT_DRIVER_MEM
says otherwise."""

from __future__ import annotations

import pytest

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
