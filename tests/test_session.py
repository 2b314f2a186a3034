"""Host-derived session defaults: the driver heap must fit the machine.

A heap larger than physical memory lets the shared test JVM grow past RAM
until the kernel's OOM killer ends it, and every later test then fails with
``ConnectionRefusedError``.  These checks start no second JVM.
"""

from __future__ import annotations

import os

from distributed_spatial_index_spark.session import driver_memory


def test_default_driver_memory_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    mem = driver_memory()
    assert mem.endswith("g") and mem[:-1].isdigit(), mem
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 1 <= int(mem[:-1]) and int(mem[:-1]) * 2**30 <= phys


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_shared_session_applies_driver_memory(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == driver_memory()
