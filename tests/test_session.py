"""Session defaults that are derived from the host, checked without a JVM."""

from __future__ import annotations

import pytest

from log_analysis_system_spark.session import default_driver_memory


def test_default_driver_memory_is_a_quarter_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemFree:         2048000 kB\n"
        "MemTotal:       15728640 kB\n"
        "MemAvailable:    9000000 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == "3840m"


def test_default_driver_memory_needs_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:         2048000 kB\n")
    with pytest.raises(RuntimeError, match="MemTotal"):
        default_driver_memory(str(meminfo))
