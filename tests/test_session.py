"""Session factory helpers that need no JVM."""

from __future__ import annotations

import os

from searchengine_spark.session import MergeDicts, driver_memory

GIB = 1024 ** 3


def test_driver_memory_sized_from_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(15 * GIB) == "7680m"  # half the host
    assert driver_memory(64 * GIB) == "16384m"  # capped at 16g
    assert driver_memory(GIB // 2) == "512m"  # floor
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert driver_memory() == driver_memory(phys)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")  # the override still wins
    assert driver_memory(64 * GIB) == "3g"


def test_merge_dicts_merges_per_key():
    p = MergeDicts(xor=("x",))
    a = p.addInPlace(p.zero(None), {1: {"n": 2, "x": 0b1100, "l": [("a", 0, 1)]}})
    p.addInPlace(a, {1: {"n": 3, "x": 0b1010, "l": [("b", 2, 2)]},
                     2: {"n": 1, "x": 7, "l": []}})
    assert a == {1: {"n": 5, "x": 0b0110, "l": [("a", 0, 1), ("b", 2, 2)]},
                 2: {"n": 1, "x": 7, "l": []}}
