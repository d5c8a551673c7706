"""Session defaults (miletos_spark/session.py) that do not need a
second SparkSession to check."""

from __future__ import annotations

import os

from miletos_spark.session import default_driver_memory


def test_default_driver_memory_is_a_third_of_ram_capped_at_48g(monkeypatch):
    def host(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
        return default_driver_memory()

    assert host(16) == "5461m"      # 16 GiB // 3
    assert host(144) == "49152m"    # exactly 48g
    assert host(1024) == "49152m"   # capped
    assert host(3) == "1024m"
