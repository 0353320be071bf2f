"""Session defaults that depend on the host."""

import os

from cassandra_es_index_spark import session


def _host(monkeypatch, gib):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)


def test_driver_memory_is_half_of_a_small_host(monkeypatch):
    _host(monkeypatch, 15)
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"


def test_driver_memory_caps_at_16g(monkeypatch):
    _host(monkeypatch, 64)
    assert session.default_driver_memory() == f"{16 * 1024}m"
