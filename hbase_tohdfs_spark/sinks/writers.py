"""Sinks: delimited text (+gzip), SequenceFile, Avro, Parquet.

Reference surface K1-K4 (SURVEY.md §2.3).  All four consume a *pivoted*
frame; text/seq render the delimited line (nulls -> empty field), while
Avro/Parquet write typed columns (nulls stay null) — the null-semantics
split documented in SURVEY.md §1.2.

Every sink is a distributed write: one part file per partition, written by
the tasks themselves (never collected to the driver).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from hbase_tohdfs_spark.formats import avrolite
from hbase_tohdfs_spark.model import ExportSchema
from hbase_tohdfs_spark.operators.pivot import render_delimited

_SEQ_CODECS = {
    "snappy": "org.apache.hadoop.io.compress.SnappyCodec",
    "gzip": "org.apache.hadoop.io.compress.GzipCodec",
}


def write_delimited_text(
    wide: DataFrame,
    path: str,
    columns: list[str],
    delimiter: str,
    gzip: bool = False,
) -> None:
    """K1: one delimited line per row, optional gzip
    (``ExportHBaseTableToDelimiteredTxt.java:111-118,166-186``)."""
    lines = render_delimited(wide, columns, delimiter)
    writer = lines.write.mode("overwrite")
    if gzip:
        writer = writer.option("compression", "gzip")
    writer.text(path)


def write_sequencefile(
    wide: DataFrame,
    path: str,
    columns: list[str],
    delimiter: str,
    codec: str = "none",
) -> None:
    """K2: SequenceFile<Text, NullWritable> of delimited lines
    (``ExportHBaseTableToDelimiteredSeq.java:85-99,169-188``).

    SequenceFile has no DataFrame writer; this is the one RDD-API sink.
    Codec names mirror the reference: snappy / gzip / anything-else=none.
    """
    lines = render_delimited(wide, columns, delimiter)
    pairs = lines.rdd.map(lambda r: (r.line, None))
    codec_class = _SEQ_CODECS.get(codec.lower())
    pairs.saveAsSequenceFile(path, compressionCodecClass=codec_class)


def read_sequencefile_lines(spark: SparkSession, path: str) -> DataFrame:
    """Read back K2 output as a one-column ``line`` frame."""
    rdd = spark.sparkContext.sequenceFile(path).map(lambda kv: (kv[0],))
    return spark.createDataFrame(rdd, "line: string")


def write_avro(
    typed: DataFrame,
    path: str,
    schema: ExportSchema,
    codec: str = "deflate",
) -> None:
    """K3: Avro container sink (``ExportHBaseTableToAvro.java:90-105``).

    No spark-avro jar in this environment, so each task writes its own
    part file through the pure-Python container codec
    (:mod:`hbase_tohdfs_spark.formats.avrolite`).  Parallelism is
    preserved (one file per partition, written task-side); with spark-avro
    on the classpath this function would be `df.write.format("avro")`.
    ``schema`` is a parsed Avro schema file (``load_schema(..., fmt="avro")``):
    its columns are written, its record JSON heads every part file.

    Codec mapping mirrors the reference args: ``gzip`` -> Avro
    ``deflate``, ``none``/other -> ``null``; ``snappy`` works when
    python-snappy is importable (``ExportHBaseTableToAvro.java:99-105``
    parity) and raises a clear plan-time error otherwise.

    Overwrite + commit protocol (what a Hadoop committer would do):
    the output directory is cleared driver-side before the job — a
    re-export can never mix old part files with new ones — and each
    task writes to an attempt-unique temp name and renames only on
    success, so a failed/retried/speculative attempt never leaves a
    half-written ``part-*.avro``.  ``_SUCCESS`` is dropped last.
    """
    codec = {"gzip": "deflate", "none": "null"}.get(codec.lower(), codec.lower())
    if codec == "snappy" and not avrolite.HAVE_SNAPPY:
        # Surface avrolite's explanatory error at plan time, not in tasks.
        raise ValueError(
            "snappy Avro codec unavailable (needs python-snappy); use gzip/none"
        )
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)
    frame = typed.select(*schema.columns)

    def _write_part(idx: int, rows):
        final = os.path.join(path, f"part-{idx:05d}.avro")
        tmp = f"{final}.tmp-{uuid.uuid4().hex}"
        n = avrolite.write_container(
            tmp, schema.avro_json, (row.asDict() for row in rows), codec=codec
        )
        if n == 0:
            os.remove(tmp)  # match MR behavior: no empty part files kept
            return
        os.replace(tmp, final)  # atomic publish; last successful attempt wins
        yield (idx, n)

    # Materialize: the mapPartitions write happens task-side; count() just
    # forces execution and returns per-part record counts to the driver.
    frame.rdd.mapPartitionsWithIndex(_write_part).count()
    # Sweep any temp leftovers from failed attempts, then commit.
    for name in os.listdir(path):
        if ".tmp-" in name:
            os.remove(os.path.join(path, name))
    # _SUCCESS marker for parity with Hadoop committers.
    open(os.path.join(path, "_SUCCESS"), "w").close()


def write_parquet(typed: DataFrame, path: str, codec: str = "snappy") -> None:
    """K4: Parquet sink (``ExportHBaseTableToParquet.java:87-101``)."""
    codec = {"none": "uncompressed"}.get(codec.lower(), codec.lower())
    typed.write.mode("overwrite").option("compression", codec).parquet(path)


def write_orc(typed: DataFrame, path: str, codec: str = "snappy") -> None:
    """ORC sink — extension beyond the reference's four formats (K1-K4):
    the other mainstream columnar container, wired exactly like the
    Parquet sink so a user can swap formats per-verb.  Codec names
    mirror the reference args (``none`` -> uncompressed); ORC's native
    codecs are zlib/snappy/lzo/zstd."""
    codec = {"none": "uncompressed", "gzip": "zlib"}.get(
        codec.lower(), codec.lower()
    )
    typed.write.mode("overwrite").option("compression", codec).orc(path)
