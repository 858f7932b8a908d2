"""``SPARK_GRAFT_CPUS`` is parsed in one place: ``*`` means every core
of the host, a positive integer is taken as is, anything else raises."""

from __future__ import annotations

import os

import pytest

from hbase_tohdfs_spark.session import CPUS_ENV, graft_cpus


def test_star_means_every_host_core(monkeypatch):
    monkeypatch.setenv(CPUS_ENV, "*")
    assert graft_cpus() == os.cpu_count()


def test_positive_integer_is_taken_as_is(monkeypatch):
    monkeypatch.setenv(CPUS_ENV, "4")
    assert graft_cpus() == 4


@pytest.mark.parametrize("raw", ["abc", "0", "-2", "4.5", ""])
def test_anything_else_raises_naming_the_variable(monkeypatch, raw):
    monkeypatch.setenv(CPUS_ENV, raw)
    with pytest.raises(ValueError, match=CPUS_ENV):
        graft_cpus()
