"""Session defaults that need no Spark."""

from __future__ import annotations

from b3_analytics_engine_spark.session import default_driver_memory


def _meminfo(tmp_path, text: str) -> str:
    p = tmp_path / "meminfo"
    p.write_text(text)
    return str(p)


def test_driver_memory_is_half_the_ram_capped_at_16g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    small = _meminfo(tmp_path, "MemTotal:       15728640 kB\nMemFree: 1 kB\n")
    assert default_driver_memory(small) == "7680m"  # 15 GB box
    big = _meminfo(tmp_path, "MemFree: 1 kB\nMemTotal:      131072000 kB\n")
    assert default_driver_memory(big) == "16384m"
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
    assert default_driver_memory(_meminfo(tmp_path, "MemFree: 1 kB\n")) == "16g"


def test_driver_memory_env_override_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal: 1024 kB\n")) == "3g"
