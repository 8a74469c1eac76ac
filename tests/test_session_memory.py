"""Driver heap default: sized from the machine's RAM unless set."""

from __future__ import annotations

import pytest

from anti_ddos_spark.session import driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


@pytest.mark.parametrize(
    "kb, want",
    [
        (16_479_424, "7g"),  # a 16 GB machine: half its RAM, rounded down
        (64 * 2**20, "32g"),
        (1 * 2**20, "1g"),  # never below 1g
        (512 * 2**20, "48g"),  # never above the former fixed default
    ],
)
def test_driver_memory_is_half_of_ram(tmp_path, monkeypatch, kb, want):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(_meminfo(tmp_path, kb)) == want


def test_explicit_driver_memory_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(_meminfo(tmp_path, 16_479_424)) == "3g"


def test_driver_memory_without_meminfo(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(str(tmp_path / "absent")) == "48g"
