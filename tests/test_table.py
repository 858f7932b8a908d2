"""KV table storage: range-partitioned writes and the bucketed
zero-shuffle export path (SURVEY §4 "map-only, zero-shuffle export")."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_tohdfs_spark import generate, table
from hbase_tohdfs_spark.operators import pivot as piv


@pytest.fixture(scope="module")
def cells(spark):
    return generate.populate_cells(spark, 2, 200, "tbl")


def test_write_read_roundtrip(spark, cells, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("kv") / "t1")
    table.create_table(spark, path, "c", 4)
    table.write_cells(cells, path)
    got = table.read_table(spark, path)
    assert got.count() == cells.count()
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in cells.schema.fields
    ]
    assert table.table_meta(path)["num_regions"] == 4


def test_bucketed_pivot_is_shuffle_free(spark, cells):
    """groupBy(row_key) over a row_key-bucketed scan must not shuffle:
    the bucket spec satisfies the aggregation's required distribution."""
    table.write_cells_bucketed(cells, "kv_bucketed_test", num_buckets=4)
    try:
        kv = table.read_bucketed_table(spark, "kv_bucketed_test")
        cols = [f"C{i}" for i in range(10)]
        wide = piv.pivot_cells(kv, cols)
        plan = wide._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and it still computes the right thing
        assert wide.count() == kv.select("row_key").distinct().count()
    finally:
        spark.sql("DROP TABLE IF EXISTS kv_bucketed_test")


def test_unbucketed_pivot_shuffles(spark, cells):
    """Contrast case: the plain path needs one exchange for the pivot."""
    cols = [f"C{i}" for i in range(10)]
    wide = piv.pivot_cells(cells, cols)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan


def test_bucketed_upsert_is_shuffle_free(spark):
    """upsert_cells on two identically-bucketed tables needs no exchange:
    bucketing on row_key clusters every (row_key, cf, qualifier) group
    into one partition (superset-key distribution), and Union propagates
    the compatible partitioning — the compaction analogue of the
    zero-shuffle export."""
    import re
    import shutil
    import uuid

    from hbase_tohdfs_spark import generate
    from hbase_tohdfs_spark import table as tbl

    tag = uuid.uuid4().hex[:8]
    names = (f"ub_base_{tag}", f"ub_delta_{tag}")
    try:
        tbl.write_cells_bucketed(
            generate.populate_cells(spark, 2, 200, "u"), names[0], num_buckets=4
        )
        tbl.write_cells_bucketed(
            generate.populate_cells(spark, 1, 100, "u"), names[1], num_buckets=4
        )
        merged = tbl.upsert_cells(spark.table(names[0]), spark.table(names[1]))
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert not re.findall(r"Exchange", plan), plan
        assert merged.count() > 0
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
            shutil.rmtree(f"spark-warehouse/{n}", ignore_errors=True)


def test_upsert_ties_break_deterministically(spark):
    """Equal-ts cells for one coordinate: the winner is the max value
    bytes, not an arbitrary partition-order pick (review fix)."""
    from hbase_tohdfs_spark import table as tbl

    mk = lambda v: [("k", "c", "q", v.encode(), 7)]  # noqa: E731
    schema = "row_key string, cf string, qualifier string, value binary, ts long"
    base = spark.createDataFrame(mk("aaa"), schema)
    delta = spark.createDataFrame(mk("zzz"), schema)
    for b, d in ((base, delta), (delta, base)):  # order-independent
        row = tbl.upsert_cells(b, d).collect()[0]
        assert bytes(row["value"]) == b"zzz" and row["ts"] == 7
