"""Session defaults that must fit the machine, checked without starting
a session."""

from __future__ import annotations

import os

from geneticalgorithmsusingmapreduce_spark import session


def test_driver_mem_is_a_third_of_ram_capped(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    gib_pages = (1 << 30) // 4096

    def fake_sysconf(ram_gib):
        return lambda name: {
            "SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * gib_pages,
        }[name]

    monkeypatch.setattr(os, "sysconf", fake_sysconf(15))
    assert session._driver_mem() == "5120m"
    monkeypatch.setattr(os, "sysconf", fake_sysconf(512))
    assert session._driver_mem() == f"{48 << 10}m"  # the old fixed 48g
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    assert session._driver_mem() == "4g"
