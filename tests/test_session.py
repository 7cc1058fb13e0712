"""Session defaults that depend on the host."""

import os

from graph_partitioning_spark import session


def _with_ram(monkeypatch, gib: float) -> str:
    pages = {"SC_PHYS_PAGES": int(gib * 2**30 / 4096), "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    return session.default_driver_memory()


def test_driver_memory_fits_the_host(monkeypatch):
    # 60% of physical RAM, so the JVM fails in the JVM before the kernel
    # kills the process; never below 1g, never above the old fixed 24g
    assert _with_ram(monkeypatch, 15.7) == "9g"
    assert _with_ram(monkeypatch, 1.0) == "1g"
    assert _with_ram(monkeypatch, 512) == "24g"
