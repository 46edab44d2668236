"""Session factory defaults that depend on the machine."""

from us_equity_datalake_spark import session


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_sized_from_meminfo(tmp_path, monkeypatch):
    """The default heap is half of MemTotal, capped at 48g; the environment
    variable still wins; an unreadable meminfo falls back to the cap."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "8192m"
    assert session._driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "49152m"
    assert session._driver_memory(str(tmp_path / "absent")) == "49152m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert session._driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "1g"
