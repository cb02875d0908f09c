"""session: the driver heap default fits the host."""

from __future__ import annotations

import pytest

from flink_template_spark.session import driver_memory


@pytest.fixture
def no_override(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)


def test_driver_memory_is_sixty_percent_of_memtotal(tmp_path, no_override):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456384 kB\nMemFree:        14164628 kB\n")
    assert driver_memory(str(meminfo)) == "9642m"  # 16456384 kB * 0.6 / 1024
    meminfo.write_text("MemFree: 1 kB\nMemTotal: 4194304 kB\n")
    assert driver_memory(str(meminfo)) == "2457m"


def test_driver_memory_falls_back_without_meminfo(tmp_path, no_override):
    assert driver_memory(str(tmp_path / "absent")) == "16g"
    (tmp_path / "garbled").write_text("MemTotal: lots\n")
    assert driver_memory(str(tmp_path / "garbled")) == "16g"


def test_driver_memory_env_override(tmp_path, monkeypatch):
    (tmp_path / "meminfo").write_text("MemTotal: 4194304 kB\n")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory(str(tmp_path / "meminfo")) == "3g"
    assert driver_memory(str(tmp_path / "absent")) == "3g"
