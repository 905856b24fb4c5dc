"""Driver-memory sizing: the local driver heap defaults to half the host's
physical memory, read from /proc/meminfo, instead of a fixed size that can
exceed the machine."""

from __future__ import annotations

from crawler_service_spark.session import default_driver_memory


def test_driver_memory_is_half_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemTotal:       16384000 kB\nMemFree:         1024000 kB\n"
        "MemAvailable:    8192000 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == "8000m"


def test_driver_memory_falls_back_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "4g"
    empty = tmp_path / "empty"
    empty.write_text("")
    assert default_driver_memory(str(empty)) == "4g"
