"""Default driver heap of ``session.get_spark``, sized to the host.

A fixed 48g default let G1 grow the local-mode JVM past the physical memory
of a 15.7 GiB host, and the kernel OOM-killed it mid-suite. The rule is
checked without starting a JVM.
"""

from kafka_streaming_polymarket_pipeline_spark.session import (
    driver_memory,
    host_memory_bytes,
)

GIB = 2**30
HOST_15_7_GIB = 16851337216  # sysconf total of a 15.7 GiB VM


def test_small_host_gets_half_rounded_down():
    assert driver_memory({}, host_bytes=HOST_15_7_GIB) == "7g"


def test_large_host_keeps_48g_cap():
    assert driver_memory({}, host_bytes=256 * GIB) == "48g"
    assert driver_memory({}, host_bytes=96 * GIB) == "48g"


def test_tiny_host_gets_at_least_1g():
    assert driver_memory({}, host_bytes=GIB) == "1g"


def test_lower_cgroup_limit_lowers_heap(tmp_path):
    limit = tmp_path / "memory.max"
    limit.write_text(f"{4 * GIB}\n")
    host = host_memory_bytes(str(limit))
    assert host == min(4 * GIB, host_memory_bytes(str(tmp_path / "absent")))
    assert driver_memory({}, host_bytes=host) == "2g"


def test_unlimited_cgroup_leaves_physical_memory(tmp_path):
    limit = tmp_path / "memory.max"
    limit.write_text("max\n")
    assert host_memory_bytes(str(limit)) == host_memory_bytes(str(tmp_path / "absent"))


def test_explicit_env_is_returned_unchanged():
    assert driver_memory({"SPARK_DRIVER_MEM": "3g"}, host_bytes=HOST_15_7_GIB) == "3g"
    assert driver_memory({"SPARK_DRIVER_MEM": "100g"}, host_bytes=HOST_15_7_GIB) == "100g"
