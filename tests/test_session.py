"""Session defaults that must fit the host they run on."""

from __future__ import annotations

import os

from sparkcheck.session import driver_memory


def test_default_driver_memory_below_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARKCHECK_DRIVER_MEM", raising=False)
    mem = driver_memory()
    assert mem.endswith("m")
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 0 < int(mem[:-1]) << 20 < phys
    assert int(mem[:-1]) <= 48 << 10


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARKCHECK_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
