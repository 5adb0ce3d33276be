"""Session defaults derived from the host."""

import os

from niamoto_spark.session import driver_memory


def test_driver_memory_is_a_quarter_of_the_host():
    gib = 1 << 30
    assert driver_memory(16_874_930_176) == "3g"     # 15.7 GiB
    assert driver_memory(64 * gib) == "16g"
    assert driver_memory(2 * gib) == "1g"            # never below 1g
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f
                          if ln.startswith("MemTotal")).split()[1])
    assert driver_memory() == f"{max(1, mem_kb // (4 << 20))}g"
    assert driver_memory() == driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
