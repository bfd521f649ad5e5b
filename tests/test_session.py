"""Local-session sizing: ``get_spark`` defaults follow the host, not a
fixed 32-core / 48g machine."""

import os

from mhw3d_detection_spark import session


def _fake_ram(monkeypatch, gib: float) -> None:
    page = 4096
    pages = int(gib * (1 << 30)) // page
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)


def test_default_cpus_follow_affinity_mask(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session._default_cpus() == 3


def test_default_driver_memory_is_half_of_ram(monkeypatch):
    _fake_ram(monkeypatch, 15)
    assert session._default_driver_memory() == f"{15 * 1024 // 2}m"


def test_default_driver_memory_keeps_48g_ceiling(monkeypatch):
    _fake_ram(monkeypatch, 512)
    assert session._default_driver_memory() == f"{48 * 1024}m"


def test_default_driver_memory_floor(monkeypatch):
    _fake_ram(monkeypatch, 1)
    assert session._default_driver_memory() == "1024m"
