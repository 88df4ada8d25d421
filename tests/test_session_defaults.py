"""Host-derived session defaults, checked without starting Spark."""

from __future__ import annotations

from flink_realtime_datawarehouse_v3_spark import session


def test_driver_mem_is_60_percent_of_memtotal():
    meminfo = (
        "MemTotal:       16456384 kB\n"
        "MemFree:         1234567 kB\n"
        "MemAvailable:    9876543 kB\n"
    )
    # 16456384 kB * 0.6 = 9873830 kB = 9642 MiB
    assert session.driver_mem_from_meminfo(meminfo) == "9642m"
    assert session.driver_mem_from_meminfo("MemFree: 1 kB\n") is None


def test_driver_mem_env_overrides_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_mem() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session.default_driver_mem().endswith(("m", "g"))
