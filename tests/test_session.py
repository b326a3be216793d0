"""Session defaults that depend on the host."""

from __future__ import annotations

import os

import pytest

from map_reduce_engine_cdps_spark import session

PAGE = 4096


@pytest.mark.parametrize("ram_gb", [1, 15, 256])
def test_default_driver_memory_never_exceeds_ram(monkeypatch, ram_gb):
    pages = ram_gb * 2**30 // PAGE
    monkeypatch.setattr(session.os, "sysconf", {
        "SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": PAGE}.__getitem__)
    mb = int(session.default_driver_memory().removesuffix("m"))
    assert 0 < mb <= min(ram_gb * 1024 // 2, 16 * 1024)


def test_session_uses_default_driver_memory(spark):
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    assert mem == (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                   or session.default_driver_memory())
