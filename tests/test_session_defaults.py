"""Launch defaults fitted to the machine they run on (no Spark needed)."""

from __future__ import annotations

import os

import pytest

from ocr_service_spark import session


def _gib(size: str) -> int:
    assert size.endswith("g"), size
    return int(size[:-1])


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo")
def test_default_heap_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_kib = _gib(session.driver_memory()) << 20
    assert heap_kib <= mem_kib
    assert heap_kib <= max(1 << 20, 0.4 * mem_kib)


def test_default_heap_bounds(monkeypatch):
    monkeypatch.setattr(session, "_mem_total_bytes", lambda: 1 << 40)
    assert session._fitted_driver_memory() == "32g"
    monkeypatch.setattr(session, "_mem_total_bytes", lambda: 15 << 30)
    assert session._fitted_driver_memory() == "6g"
    monkeypatch.setattr(session, "_mem_total_bytes", lambda: 1 << 30)
    assert session._fitted_driver_memory() == "1g"


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"
