"""Session defaults that depend on the machine."""

from __future__ import annotations

import os

from okapi_spark.session import default_driver_memory


def test_default_driver_memory_fits_physical_memory():
    """The resolved driver-heap default is a whole number of GiB that
    never exceeds physical memory (nor the 48g cap)."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mem = default_driver_memory()
    assert mem.endswith("g") and mem[:-1].isdigit(), mem
    heap = int(mem[:-1]) * 2**30
    assert 2**30 <= heap <= 48 * 2**30
    assert heap <= max(phys, 2**30)
    if phys >= 4 * 2**30:
        # room is left for the Python workers and the JVM's off-heap use
        assert heap <= phys // 2
