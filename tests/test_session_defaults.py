"""Resource defaults of session.get_spark derive from the machine."""

from __future__ import annotations

import os

from pero_ocr_api_spark import session


def _mb(size: str) -> int:
    assert size.endswith("m"), size
    return int(size[:-1])


def test_default_driver_memory_never_exceeds_physical_memory():
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < _mb(session.default_driver_memory()) <= physical_mb


def _fake_sysconf(phys_bytes):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    return lambda name: pages[name]


def test_default_driver_memory_is_a_capped_share_of_physical_memory(monkeypatch):
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(16_000_000 * 1024))
    assert _mb(session.default_driver_memory()) == 16_000_000 // 2 // 1024
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(1_056_000_000 * 1024))  # ~1 TB
    assert _mb(session.default_driver_memory()) == 32 * 1024
