"""Session defaults, checked without starting a JVM."""

from python_web_scraper_cleaner_spark import session


def test_local_defaults_fall_back_to_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    assert session.local_defaults() == ("3", 3)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "12")
    assert session.local_defaults() == ("6", 12)
