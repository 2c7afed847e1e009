"""Session defaults derived from the machine: the local core count is
the CPU count and the driver heap half the usable memory, so a default
session cannot ask for more heap than the machine has."""

from __future__ import annotations

import os

from beeradvocate_crawler_spark import session

GB = 1 << 30


def test_defaults_follow_the_machine():
    assert session.machine_defaults(16 * GB, 4) == (4, "8192m")
    assert session.machine_defaults(15 * GB, 32) == (32, "7680m")


def test_defaults_have_floors():
    assert session.machine_defaults(GB, None) == (1, "1024m")
    assert session.machine_defaults(0, 0) == (1, "1024m")


def test_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session.session_defaults() == (3, "2g")


def test_usable_memory_is_capped_by_physical_memory():
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 0 < session._usable_memory_bytes() <= phys
