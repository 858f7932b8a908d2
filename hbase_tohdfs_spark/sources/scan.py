"""Scan-edge parallelism repair for under-split inputs.

Parquet parallelism is bounded by *row groups*: a byte-range split that
contains no row-group start reads zero rows, so a 600k-row table written
as one row group scans on ONE core no matter how many byte splits Spark
makes.  That is a harness/test-data artifact (a healthy 100 TB dataset
has ~1 MB-128 MB row groups across thousands of files and needs no help)
— but compute-heavy map stages (per-document hashing, per-vector
products, unpivot encoding) must not serialize on it.

``read_parallel`` measures the *real* split count (files x row groups,
via footer metadata, driver-side, no data read) and round-robin
repartitions only when the source cannot feed the cluster.  The guard
makes the operation free at scale: a well-laid-out dataset takes the
no-shuffle path.  Filters still push down to the scan — Catalyst moves
predicates through ``Repartition`` — but plan-time pruning is preserved
regardless because the guard only fires on tiny sources.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession


def _local_split_count(path: str) -> int | None:
    """files x row-groups for a local parquet file/dir; None if unknown."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return None
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = glob.glob(os.path.join(path, "*.parquet"))
    else:
        return None
    if not files:
        return None
    try:
        return sum(pq.ParquetFile(f).num_row_groups for f in files)
    except Exception:
        return None


def read_parallel(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet; fan out to ``defaultParallelism`` partitions iff the
    file layout cannot, by itself, keep the cluster busy."""
    df = spark.read.parquet(path)
    splits = _local_split_count(path)
    target = spark.sparkContext.defaultParallelism
    if splits is not None and splits < target:
        return df.repartition(target)
    return df
