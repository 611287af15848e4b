"""Host-sized local-session defaults (session.host_cpus / driver_memory /
default_shuffle_partitions).

No SparkSession: the derivation is pure Python over the environment,
the CPU affinity mask and /proc/meminfo.
"""

from __future__ import annotations

import os

import pytest

from gnames_spark import session


@pytest.fixture
def no_overrides(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


def _meminfo(tmp_path, monkeypatch, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:         1024 kB\n")
    monkeypatch.setattr(session, "_MEMINFO", str(p))


@pytest.mark.usefixtures("no_overrides")
class TestHostSizedDefaults:
    def test_cpus_follow_the_affinity_mask(self):
        assert session.host_cpus() == len(os.sched_getaffinity(0))

    def test_cpus_override_wins(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        assert session.host_cpus() == 3

    def test_driver_memory_is_a_fraction_of_memtotal(self, tmp_path, monkeypatch):
        _meminfo(tmp_path, monkeypatch, 16 * 2**20)  # 16 GiB
        assert session.DRIVER_MEM_FRACTION == 0.5
        assert session.driver_memory() == "8g"
        _meminfo(tmp_path, monkeypatch, 16_456_384)  # 15.7 GiB → whole GiB, floored
        assert session.driver_memory() == "7g"

    def test_driver_memory_floor_and_unreadable_meminfo(self, tmp_path, monkeypatch):
        _meminfo(tmp_path, monkeypatch, 512 * 1024)  # 0.5 GiB host
        assert session.driver_memory() == "1g"
        monkeypatch.setattr(session, "_MEMINFO", str(tmp_path / "missing"))
        assert session.driver_memory() == "4g"

    def test_driver_memory_override_wins(self, tmp_path, monkeypatch):
        _meminfo(tmp_path, monkeypatch, 16 * 2**20)
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "10g")
        assert session.driver_memory() == "10g"



@pytest.mark.usefixtures("no_overrides")
class TestDefaultShufflePartitions:
    @pytest.mark.parametrize("master, cpus, want", [
        ("local[*]", "12", 12),
        ("local[*,3]", "12", 12),
        ("local[*]", "2", 4),  # floor of 4
        ("local[16]", None, 16),
        ("local[4,2]", None, 4),  # N threads, 2 max task failures
        ("local[8, 2]", None, 8),
        ("local[2]", None, 4),
        ("local", None, 4),  # one slot, floored
        ("local-cluster[2,1,1024]", None, 32),
        ("spark://host:7077", None, 32),
        ("yarn", None, 32),
    ])
    def test_master_forms(self, monkeypatch, master, cpus, want):
        if cpus is not None:
            monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        assert session.default_shuffle_partitions(master) == want
