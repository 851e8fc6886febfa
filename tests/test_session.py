"""Session defaults that depend on the host."""

from __future__ import annotations

import os

from index_search_monorepo_spark.session import DATAFRAME_DEBUGGING, driver_memory


def test_driver_memory_fits_host(monkeypatch):
    """The default driver heap is half the host's memory (1..16 GiB), never
    a fixed 16g; SPARK_DRIVER_MEMORY still wins."""
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    gb = int(driver_memory().removesuffix("g"))
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= gb <= 16
    assert gb == 1 or gb * 2**31 <= host
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"


def test_dataframe_debugging_off(spark):
    """get_spark turns off PySpark's per-call origin capture (~5 Py4J round
    trips on every Column call while a plan is built)."""
    assert spark.conf.get(DATAFRAME_DEBUGGING) == "false"
