"""Session sizing: ``get_spark`` defaults to the host, env vars win."""

import os

from flink_ml__spark import session


def test_session_size_defaults_to_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    cpus, heap_mb = session.host_size()
    assert cpus >= 1
    assert session.HEAP_MB[0] <= heap_mb <= session.HEAP_MB[1]
    assert session.session_size() == (str(cpus), f"{heap_mb}m")


def test_session_size_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session.session_size() == ("3", "2g")


def test_host_size_without_affinity(monkeypatch):
    # platforms without sched_getaffinity count every core
    monkeypatch.delattr(os, "sched_getaffinity", raising=False)
    assert session.host_size()[0] == (os.cpu_count() or 1)
