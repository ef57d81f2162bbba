"""The session's default driver heap: half of physical memory, capped at 16g."""

import pytest

from facematch_spark import session

GIB = 1 << 30


@pytest.mark.parametrize(
    "phys, heap", [(GIB, "512m"), (16 * GIB, "8192m"), (32 * GIB, "16384m"), (128 * GIB, "16384m"), (None, "16384m")]
)
def test_default_driver_memory(monkeypatch, phys, heap):
    def sysconf(name):
        if phys is None:  # a platform that does not report its memory
            raise ValueError(name)
        return {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys // 4096}[name]

    monkeypatch.setattr(session.os, "sysconf", sysconf)
    assert session.default_driver_memory() == heap
