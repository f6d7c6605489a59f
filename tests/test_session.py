"""Driver-heap sizing rule: the default heap follows the host, so the
local-mode JVM fits the machine it runs on."""

from go_scrapper_spark.session import driver_memory

GIB_KB = 1024 * 1024


def test_driver_memory_is_half_of_host_capped_at_48g():
    assert driver_memory(15 * GIB_KB) == "7680m"
    assert driver_memory(128 * GIB_KB) == "49152m"  # 48g cap
    assert driver_memory(96 * GIB_KB) == "49152m"

