"""Driver heap and core-count defaults: pure arithmetic, no JVM is started."""

import pytest

from kmcp_spark import config
from kmcp_spark.config import _default_cores, _default_driver_mem, _driver_mem

GIB = 1024 ** 3


def _mib(spark_mem: str) -> int:
    units = {"m": 1, "g": 1024}
    return int(spark_mem[:-1]) * units[spark_mem[-1].lower()]


@pytest.mark.parametrize("avail_gib", [15, 4, 64])
@pytest.mark.parametrize("cores", [1, 4])
def test_heap_fits_mem_available(avail_gib, cores):
    heap = _mib(_default_driver_mem(avail_gib * GIB, cores))
    assert heap <= avail_gib * 1024
    # the per-core Python workers' reserve fits beside the heap
    assert heap + cores * config._WORKER_RESERVE_MIB <= avail_gib * 1024


def test_heap_capped_at_16g():
    assert _mib(_default_driver_mem(64 * GIB, 4)) == 16 * 1024
    assert _mib(_default_driver_mem(1024 * GIB, 1)) == 16 * 1024


@pytest.mark.parametrize("avail", [0, 512 * 1024 * 1024, 4 * GIB])
def test_heap_at_least_1g(avail):
    assert _mib(_default_driver_mem(avail, 32)) >= 1024


def test_heap_grows_with_host():
    small = _mib(_default_driver_mem(8 * GIB, 4))
    large = _mib(_default_driver_mem(15 * GIB, 4))
    assert 1024 < small < large < 16 * 1024


def test_explicit_driver_mem_passes_through(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert _driver_mem(4) == "2g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "40g")
    assert _driver_mem(4) == "40g"


@pytest.mark.parametrize("env", [None, ""])
def test_unset_driver_mem_uses_host_default(monkeypatch, env):
    if env is None:
        monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_DRIVER_MEM", env)
    monkeypatch.setattr(config, "_mem_available_bytes", lambda: 15 * GIB)
    assert _driver_mem(4) == _default_driver_mem(15 * GIB, 4)


def test_mem_available_is_positive():
    assert config._mem_available_bytes() > 0


@pytest.mark.parametrize("env, want", [(None, 4), ("", 4), ("2", 2)])
def test_default_cores(monkeypatch, env, want):
    """`SPARK_GRAFT_CPUS` wins when set; otherwise the CPUs this process
    may run on, never a fixed count."""
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    monkeypatch.setattr(config.os, "sched_getaffinity", lambda pid: {0, 1, 2, 3}, raising=False)
    assert _default_cores() == want
