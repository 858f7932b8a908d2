"""Sinks: delimited text (+gzip), SequenceFile, Avro, Parquet.

Reference surface K1-K4 (SURVEY.md §2.3).  All four consume a *pivoted*
frame; text/seq render the delimited line (nulls -> empty field), while
Avro/Parquet write typed columns (nulls stay null) — the null-semantics
split documented in SURVEY.md §1.2.

Every sink is a distributed write: one part file per partition, written by
the tasks themselves (never collected to the driver) and committed by
Hadoop's output committer, so it commits on any Hadoop filesystem.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from hbase_tohdfs_spark import hadoop
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

    One Hive ``INSERT OVERWRITE DIRECTORY`` through AvroSerDe: tasks
    encode in the JVM and Hadoop's committer replaces ``path`` (any Hadoop
    filesystem URI) with the ``part-*.avro`` files and ``_SUCCESS``.
    ``schema`` is a parsed Avro schema file (``load_schema(...,
    fmt="avro")``): its columns are written, its record JSON heads every
    part file.  Codecs mirror the reference args
    (``ExportHBaseTableToAvro.java:99-105``): ``gzip`` -> ``deflate``,
    ``none`` -> ``null``, ``snappy``; they are set on a child session, so
    the caller's conf never sees them.  Reading snappy output back with
    :mod:`~hbase_tohdfs_spark.formats.avrolite` needs python-snappy.
    """
    codec = {"gzip": "deflate", "none": "null"}.get(codec.lower(), codec.lower())
    session = typed.sparkSession.newSession()
    session.conf.set("hive.exec.compress.output", str(codec != "null").lower())
    session.conf.set("avro.output.codec", codec)
    session.conf.set("hive.output.file.extension", ".avro")
    view = f"avro_export_{uuid.uuid4().hex}"
    typed.select(*schema.columns).createGlobalTempView(view)
    try:
        session.sql(
            f"INSERT OVERWRITE DIRECTORY {hadoop.sql_str(path)}"
            f" {hadoop.avro_storage(schema.avro_json)}"
            f" SELECT * FROM global_temp.{view}"
        )
    finally:
        session.catalog.dropGlobalTempView(view)


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
