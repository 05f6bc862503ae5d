"""Host sizing of the session defaults: CPUs from the affinity mask,
driver heap from the host's MemTotal, both overridable by env."""

from __future__ import annotations

import os

from vectordb_acc_and_speed_exp_spark.session import (
    default_driver_memory,
    default_parallelism,
)


def test_driver_memory_is_60_percent_of_memtotal(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mi = tmp_path / "meminfo"
    mi.write_text(
        "MemTotal:       15728640 kB\nMemFree:         1000000 kB\n"
    )
    assert default_driver_memory(str(mi)) == "9216m"  # 0.6 x 15 GiB
    mi.write_text("MemTotal:       134217728 kB\n")
    assert default_driver_memory(str(mi)) == "78643m"  # 0.6 x 128 GiB


def test_driver_memory_env_override_and_fallback(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    assert default_driver_memory(str(tmp_path / "absent")) == "4g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert default_driver_memory(str(tmp_path / "absent")) == "16g"
    bad = tmp_path / "bad"
    bad.write_text("MemTotal: lots\n")
    assert default_driver_memory(str(bad)) == "16g"


def test_default_parallelism_follows_affinity_unless_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    want = (
        len(os.sched_getaffinity(0))
        if hasattr(os, "sched_getaffinity") else os.cpu_count()
    )
    assert default_parallelism() == want
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
