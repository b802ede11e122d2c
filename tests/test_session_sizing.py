"""Driver-heap sizing in session.get_spark: the explicit env var wins,
otherwise half the host's MemTotal capped at 32g. Pure Python — no JVM
starts here."""

from __future__ import annotations

from flink_start_spark import session


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_env_var_wins(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    monkeypatch.setattr(session, "_MEMINFO", _meminfo(tmp_path, 16_000_000))
    assert session._driver_mem() == "6g"


def test_half_of_host_memory(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # a 15 GiB host: 15 * 2^20 kB -> 7.5 GiB = 7680 MiB
    monkeypatch.setattr(session, "_MEMINFO", _meminfo(tmp_path, 15 * 2**20))
    assert session._driver_mem() == "7680m"


def test_capped_at_32g(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_MEMINFO", _meminfo(tmp_path, 256 * 2**20))
    assert session._driver_mem() == "32768m"


def test_unreadable_meminfo_falls_back_to_32g(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_MEMINFO", str(tmp_path / "missing"))
    assert session._driver_mem() == "32g"
