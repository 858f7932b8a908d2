"""Every registry query runs at sf0.001 and matches its DuckDB oracle.

This is the same comparison the driver's correctness gate performs
(row count + sorted column names + values), at the smoke scale factor so
the suite stays fast; tools/check_oracle.py covers sf0.01.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from hbase_tohdfs_spark.queries import REGISTRY
from tools.check_oracle import compare, duck_connection


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, mirroring the driver
        return
    problems = compare(name, df, duck, spec.oracle)
    assert not problems, "\n".join(problems)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 10


def test_funnel_requires_stage_order(spark):
    """A click BEFORE the user's first view must not count toward stage
    2, and a purchase before the first qualifying click must not count
    toward stage 3 — the funnel is ordered, not a set intersection."""
    import datetime as dt

    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.queries import q_funnel_conversion

    def us(minute):
        return dt.datetime(2024, 1, 1, 10, minute)

    rows = [
        # user 1: proper order view(1) < click(2) < purchase(3)
        (1, us(1), 1, "view"), (2, us(2), 1, "click"), (3, us(3), 1, "purchase"),
        # user 2: click BEFORE first view -> stage 2 not reached
        (4, us(1), 2, "click"), (5, us(2), 2, "view"),
        # user 3: purchase before their qualifying click -> stage 3 no
        (6, us(1), 3, "view"), (7, us(2), 3, "purchase"), (8, us(3), 3, "click"),
    ]
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="funnel")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).withColumn("ts", F.unix_micros("ts") * 1000).withColumn(
        "value", F.lit(1.0)
    ).withColumn("props", F.lit("{}")).select(
        "event_id", F.col("ts").cast("long").alias("ts"), "user_id",
        "event_type", "value", "props"
    ).write.parquet(os.path.join(d, "events.parquet"))

    got = {r["stage"]: r["n_users"] for r in q_funnel_conversion(spark, d).collect()}
    assert got == {
        "1_view": 3,          # users 1, 2, 3 all viewed
        "2_click_after_view": 2,   # users 1 and 3 clicked after viewing
        "3_purchase_after_click": 1,  # only user 1 purchased after clicking
    }


def test_every_entry_has_an_oracle():
    missing = [n for n, spec in REGISTRY.items() if spec.oracle is None]
    assert missing == [], f"oracle=None entries get only rows-only checks: {missing}"


def test_bench_queries_exist():
    from bench import BENCH_QUERIES

    assert all(n in REGISTRY for n in BENCH_QUERIES)
