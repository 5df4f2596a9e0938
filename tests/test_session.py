"""Session defaults are measured from the machine, not hard-coded."""

from __future__ import annotations

from pdf_extractor_spark import session


def _host(monkeypatch, cores: int, phys_bytes: int,
          machine_cores: int | None = None) -> None:
    """`cores` usable by this process, on a machine of `machine_cores`
    (default: the same)."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity",
                        lambda pid: set(range(cores)))
    monkeypatch.setattr(session.os, "cpu_count",
                        lambda: machine_cores or cores)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_defaults_follow_cores_and_memory(monkeypatch):
    _host(monkeypatch, cores=4, phys_bytes=16 << 30)
    master, parts, mem = session.host_defaults()
    assert master == "local[4]"
    assert parts == 8                      # floor of 8
    assert mem == f"{int((16 << 30) * 0.4) >> 20}m"

    _host(monkeypatch, cores=48, phys_bytes=256 << 30)
    assert session.host_defaults() == (
        "local[48]", 48, f"{int((256 << 30) * 0.4) >> 20}m")
    # `local[*]` and cluster masters size partitions from the cores too
    assert session.host_defaults("local[*]")[1] == 48
    assert session.host_defaults("yarn")[1] == 48
    assert session.host_defaults("local[12]")[1] == 12


def test_defaults_follow_affinity_not_machine(monkeypatch):
    # e.g. `taskset -c 0` on a 4-core machine
    _host(monkeypatch, cores=1, phys_bytes=16 << 30, machine_cores=4)
    assert session.host_defaults()[:2] == ("local[1]", 8)


def test_environment_overrides_measurement(monkeypatch):
    _host(monkeypatch, cores=4, phys_bytes=16 << 30)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.host_defaults() == ("local[16]", 16, "3g")
