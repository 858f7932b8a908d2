"""CreateTable equivalent: a range-partitioned managed KV dataset.

The reference pre-splits an HBase table into N regions at even key-range
boundaries (``CreateTable.java:61-74``: split points at
``Short.MAX_VALUE/N`` intervals, keys zero-padded to width 5), with snappy
compression and 64KB blocks (``CreateTable.java:50-52``).

Our "table" is a Parquet dataset of CELL_SCHEMA cells.  The pre-split
becomes ``repartitionByRange(n, row_key)`` + ``sortWithinPartitions`` at
write time — the same even spread of the key space across files, and the
sorted-by-rowkey layout restores the property the reference's map-only
export relied on (cells of one row are adjacent).  Bulk-load machinery
(``PopulateTable.java:68-88``, HFileUtils chmod) has no Spark analogue and
is deliberately absent.

Scale: range partitioning samples the key distribution (no driver
collect); N files of ~even size regardless of key skew.  At 100 TB you
would additionally bucket by ``row_key`` (``write.bucketBy``) so the pivot
reuses the storage partitioning and skips its shuffle.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from hbase_tohdfs_spark.model import CELL_SCHEMA

_META_FILE = "_kv_table.json"


def create_table(
    spark: SparkSession, path: str, column_family: str = "c", num_regions: int = 4
) -> None:
    """DDL: create an empty KV dataset with table metadata.

    Mirrors ``CreateTable {table} {cf} {regions}`` (``CreateTable.java:20``).
    """
    empty = spark.createDataFrame([], CELL_SCHEMA)
    empty.write.mode("errorifexists").parquet(path)
    meta = {
        "column_family": column_family,
        "num_regions": num_regions,
        "compression": "snappy",
        "version": 1,
    }
    with open(os.path.join(path, _META_FILE), "w", encoding="utf-8") as fh:
        json.dump(meta, fh)


def table_meta(path: str) -> dict:
    with open(os.path.join(path, _META_FILE), encoding="utf-8") as fh:
        return json.load(fh)


def write_cells(
    cells: DataFrame, path: str, num_regions: int | None = None, mode: str = "append"
) -> None:
    """Bulk-ingest cells, range-partitioned and sorted like HFiles.

    ``repartitionByRange(num_regions, row_key)`` is the
    TotalOrderPartitioner analogue (``PopulateTable.java:68``);
    ``sortWithinPartitions(row_key, qualifier, ts)`` matches HBase's cell
    ordering so downstream scans see rows contiguously.
    """
    if num_regions is None:
        try:
            num_regions = table_meta(path).get("num_regions", 4)
        except FileNotFoundError:
            num_regions = 4
    (
        cells.repartitionByRange(num_regions, "row_key")
        .sortWithinPartitions("row_key", "qualifier", "ts")
        .write.mode(mode)
        .option("compression", "snappy")
        .parquet(path)
    )


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Scan the KV dataset (S1): the range-partitioned / bucketed parquet
    cell dataset written by :func:`write_cells`, as CELL_SCHEMA rows.
    Family pruning and row-key predicates are plain filters that Parquet
    row-group stats push down — what the reference's ``Scan`` +
    ``addFamily`` does server-side
    (ExportHBaseTableToDelimiteredTxt.java:69-80).

    This is THE HBase connector seam: every scan of the KV table comes
    through here.  On a live cluster, swap the parquet read for the
    public hbase-connectors DataSource (``spark.read.format(
    "org.apache.hadoop.hbase.spark").option("hbase.catalog", ...)``),
    mapping cells to the same CELL_SCHEMA contract (row_key, family,
    qualifier, ts, value).  The JVM-side connector pushes rowkey ranges
    and column-family projection into the RegionServer scan exactly like
    the filters pushed to parquet here.  Its jar is not installed in
    this environment.  Downstream operators (pivot, export,
    upsert-compact) depend only on the returned DataFrame's schema,
    never on the storage, which is the whole point of the seam."""
    return spark.read.schema(CELL_SCHEMA).parquet(path)


def write_cells_bucketed(
    cells: DataFrame, table_name: str, num_buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Bucketed variant of the KV store: ``bucketBy(row_key)`` into a
    managed table.

    This is the 100 TB export path: the pivot's ``groupBy(row_key)``
    requires a hash distribution on ``row_key``, and a bucketed scan
    already *provides* it, so Catalyst elides the exchange — the whole
    export becomes a zero-shuffle map-side pipeline, the exact Spark
    analogue of the reference's map-only job
    (``setNumReduceTasks(0)``, ``ExportHBaseTableToDelimiteredTxt.java:85``).
    Verified by test_bucketed_pivot_is_shuffle_free.
    """
    (
        cells.write.mode(mode)
        .bucketBy(num_buckets, "row_key")
        .sortBy("row_key", "qualifier", "ts")
        .option("compression", "snappy")
        .format("parquet")
        .saveAsTable(table_name)
    )


def read_bucketed_table(spark: SparkSession, table_name: str) -> DataFrame:
    """Scan a bucketed KV table; the bucket spec rides along in the plan."""
    return spark.table(table_name)


def upsert_cells(base: DataFrame, delta: DataFrame) -> DataFrame:
    """HBase-style last-write-wins compaction: merge a delta cell batch
    (a memstore flush / incremental bulk load) into the base table,
    keeping the newest version of every cell coordinate — the batch form
    of an HBase major compaction, and the KV analogue of a MERGE/upsert.

    One union (no shuffle) + one keyed aggregation with map-side partial
    agg; the LWW rule is ``max_by(value, (ts, value))`` — newest ts
    wins, and an exact ts TIE breaks on the value bytes, so the winner
    is deterministic across runs, partitionings, and engines (a bare
    ``max_by(value, ts)`` picks an arbitrary tied cell, exactly the
    nondeterminism SURVEY §2.8 exists to avoid).  On a bucketed base
    table with a bucket-aligned delta the aggregation's distribution
    requirement is already satisfied and the shuffle disappears,
    exactly like the zero-shuffle export.
    """
    from pyspark.sql import functions as F

    u = base.unionByName(delta)
    return u.groupBy("row_key", "cf", "qualifier").agg(
        F.expr("max_by(value, struct(ts, value))").alias("value"),
        F.max("ts").alias("ts"),
    )
