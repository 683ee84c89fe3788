"""Local session defaults come from the machine, not from a fixed
32-core, 24 GB assumption."""

from __future__ import annotations

import os

from ibis_olap_aggregation_spark import session


def _mb(setting: str) -> int:
    units = {"k": 2**-10, "m": 1, "g": 2**10, "t": 2**20}
    return int(float(setting[:-1]) * units[setting[-1].lower()])


def test_default_heap_fits_physical_memory():
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert session.physical_memory_bytes() // 2**20 <= phys_mb
    heap_mb = _mb(session.default_driver_memory())
    assert 0 < heap_mb <= phys_mb // 4

