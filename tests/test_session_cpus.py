"""``SPARK_GRAFT_CPUS`` is parsed in one place: ``*`` (or no variable)
means every core of the host, a positive integer is taken as is,
anything else raises.
The driver heap defaults to half of physical memory, capped at 16g."""

from __future__ import annotations

import os

import pytest

from hbase_tohdfs_spark.session import CPUS_ENV, driver_memory, graft_cpus


def test_star_means_every_host_core(monkeypatch):
    monkeypatch.setenv(CPUS_ENV, "*")
    assert graft_cpus() == os.cpu_count()


def test_unset_means_every_host_core(monkeypatch):
    monkeypatch.delenv(CPUS_ENV, raising=False)
    assert graft_cpus() == os.cpu_count()


def test_positive_integer_is_taken_as_is(monkeypatch):
    monkeypatch.setenv(CPUS_ENV, "4")
    assert graft_cpus() == 4


@pytest.mark.parametrize("raw", ["abc", "0", "-2", "4.5", ""])
def test_anything_else_raises_naming_the_variable(monkeypatch, raw):
    monkeypatch.setenv(CPUS_ENV, raw)
    with pytest.raises(ValueError, match=CPUS_ENV):
        graft_cpus()


@pytest.mark.parametrize(
    "gib,env,heap",
    [(15, None, "7680m"), (64, None, "16384m"), (15, "3g", "3g"), (64, "3g", "3g")],
)
def test_driver_heap_is_half_of_host_memory_capped_at_16g(monkeypatch, gib, env, heap):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 1024**3 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    if env is None:
        monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_DRIVER_MEM", env)
    assert driver_memory() == heap
