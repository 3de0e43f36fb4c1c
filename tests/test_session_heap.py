"""Default driver heap sizing: half of physical memory, capped at 24g."""

from __future__ import annotations

from cassandra_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_memtotal_capped():
    small = "MemTotal:       16111804 kB\nMemFree:        14000000 kB\n"
    assert default_driver_memory(small) == "7867m"
    big = "MemFree:  1 kB\nMemTotal:      131072000 kB\n"
    assert default_driver_memory(big) == "24g"
    assert default_driver_memory("no total here") == "24g"
