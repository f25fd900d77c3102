"""get_spark's default driver heap, computed without starting a session."""

import os

from blacklab_spark import session


def _host(monkeypatch, gib):
    pages = {"SC_PHYS_PAGES": gib << 18, "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


def test_default_driver_heap_is_half_the_host(monkeypatch):
    _host(monkeypatch, 16)
    assert session._default_driver_memory() == "8192m"


def test_default_driver_heap_capped_at_64g(monkeypatch):
    _host(monkeypatch, 512)
    assert session._default_driver_memory() == "65536m"


def test_default_driver_heap_without_sysconf(monkeypatch):
    def missing(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", missing)
    assert session._default_driver_memory() == "64g"
