"""Session defaults come from the host, not from a bigger machine."""

from __future__ import annotations

from judyst_web_crawler_spark import session


def test_host_sizing_derives_from_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 4)
    monkeypatch.setattr(session, "_mem_total_bytes", lambda: 15 << 30)
    assert session.host_sizing() == ("4", "7680m")  # every core, half of RAM


def test_host_sizing_floor_and_overrides(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "cpu_count", lambda: None)
    monkeypatch.setattr(session, "_mem_total_bytes", lambda: 1 << 30)
    assert session.host_sizing() == ("1", "1024m")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.host_sizing() == ("2", "3g")

