"""Session factory defaults (no Spark session needed)."""

from __future__ import annotations

from mapreduce_join_comparison_spark import session


def test_default_parallelism_falls_back_to_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    assert session.default_parallelism() == 3


def test_default_parallelism_honours_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    assert session.default_parallelism() == 5
