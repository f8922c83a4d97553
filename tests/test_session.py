"""Session defaults that depend on the host."""

from __future__ import annotations

from crawl4ai_spark.session import default_driver_memory

GIB = 1 << 30


def test_driver_memory_is_half_the_host_up_to_24g():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(48 * GIB) == "24576m"
    assert default_driver_memory(256 * GIB) == "24576m"
    assert default_driver_memory(None) == "24576m"
