"""Session defaults that do not need a running SparkContext."""

from __future__ import annotations

import os

from hw_kafka_streams_spark.session import default_driver_memory

GIB = 1 << 30


def test_driver_memory_is_half_of_ram_capped_at_32g():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(8 * GIB) == "4096m"
    assert default_driver_memory(64 * GIB) == "32768m"
    assert default_driver_memory(512 * GIB) == "32768m"


def test_driver_memory_reads_this_host():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(phys)
    assert int(default_driver_memory()[:-1]) << 20 <= phys // 2
