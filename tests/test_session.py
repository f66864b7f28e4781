"""Session factory settings derived from the host."""

import os

from table_annotation_spark import session


def test_driver_memory_capped_at_half_ram(monkeypatch):
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 21
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "100000g")
    assert session._driver_memory() == f"{half_mb}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert session._driver_memory() == "1024m"
