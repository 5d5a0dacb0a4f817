"""Session defaults fit the host they start on."""

from __future__ import annotations

import os

from geoclimate_spark import session


def test_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.default_cores() == len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f
                         if line.startswith("MemTotal:"))
    mem = session.default_driver_memory()
    assert mem.endswith("m")
    mib = int(mem[:-1])
    assert 0 < mib <= total_kib // 2048
    assert mib <= session.MAX_DRIVER_MEM_MIB == 16 * 1024


def test_environment_overrides_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert session.default_cores() == 3
    assert session.default_driver_memory() == "5g"
