"""Sinks: delimited text (+gzip), SequenceFile, Avro, Parquet.

Reference surface K1-K4 (SURVEY.md §2.3).  All four consume a *pivoted*
frame; text/seq render the delimited line (nulls -> empty field), while
Avro/Parquet write typed columns (nulls stay null) — the null-semantics
split documented in SURVEY.md §1.2.

Every sink is a distributed write: one part file per partition, written by
the tasks themselves (never collected to the driver) and committed by
Hadoop's output committer, so it commits on any Hadoop filesystem.  Every
sink encodes in the JVM; none starts a Python worker.
"""

from __future__ import annotations

import functools
import uuid

from pyspark.sql import DataFrame, SparkSession

from hbase_tohdfs_spark import hadoop
from hbase_tohdfs_spark.model import ExportSchema
from hbase_tohdfs_spark.operators.pivot import render_delimited

_SEQ_KEY_VALUE = ("org.apache.hadoop.io.Text", "org.apache.hadoop.io.NullWritable")
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

    Runs in the JVM: the ``(line, NULL)`` string pairs go through the
    converter PySpark's own ``saveAsSequenceFile`` uses (String ->
    ``Text``, null -> ``NullWritable``) into Hadoop's mapred
    ``SequenceFileOutputFormat``, whose committer writes ``path`` (a path
    or any Hadoop URI) and raises if it exists.  An empty frame commits a
    0-row output.  Codec names mirror the reference: snappy / gzip /
    anything-else=none.
    """
    jvm = wide.sparkSession.sparkContext._jvm
    lines = render_delimited(wide, columns, delimiter)
    # Dataset.as: ``as`` is a Python keyword, hence getattr.
    strings = getattr(lines.selectExpr("line", "CAST(NULL AS STRING)")._jdf, "as")(
        _string_pair(jvm)
    )
    to_writable = jvm.org.apache.spark.api.python.JavaToWritableConverter()
    pairs = jvm.org.apache.spark.api.python.PythonHadoopUtil.convertRDD(
        jvm.org.apache.spark.api.java.JavaRDD.toRDD(strings.javaRDD()),
        to_writable,
        to_writable,
    )
    classes = [*_SEQ_KEY_VALUE, "org.apache.hadoop.mapred.SequenceFileOutputFormat"]
    codec_class = _SEQ_CODECS.get(codec.lower())
    if codec_class:
        classes.append(codec_class)
    jvm.org.apache.spark.api.java.JavaPairRDD.fromJavaRDD(
        pairs.toJavaRDD()
    ).saveAsHadoopFile(path, *(_jclass(jvm, name) for name in classes))


def read_sequencefile_lines(spark: SparkSession, path: str) -> DataFrame:
    """Read back K2 output (a path or any Hadoop URI) as a one-column
    ``line`` frame, in the JVM: ``Text`` keys become strings through the
    converter PySpark's own ``sequenceFile`` uses.  A directory holding
    only ``_SUCCESS`` reads as 0 rows; a missing ``path`` raises
    ``FileNotFoundError`` naming it."""
    fs, qualified = hadoop.hadoop_path(spark, path)
    if not fs.exists(qualified):
        raise FileNotFoundError(f"no such file or directory: {path}")
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    writables = jsc.sc().sequenceFile(
        path, *(_jclass(jvm, name) for name in _SEQ_KEY_VALUE)
    )
    conf = jsc.broadcast(
        jvm.org.apache.spark.util.SerializableConfiguration(jsc.hadoopConfiguration())
    )
    to_java = jvm.org.apache.spark.api.python.WritableToJavaConverter(conf)
    pairs = jvm.org.apache.spark.api.python.PythonHadoopUtil.convertRDD(
        writables, to_java, to_java
    )
    strings = spark._jsparkSession.createDataset(pairs, _string_pair(jvm))
    return DataFrame(strings.toDF(), spark).selectExpr("_1 AS line")


def _string_pair(jvm):
    """The encoder of a ``(String, String)`` tuple."""
    encoders = jvm.org.apache.spark.sql.Encoders
    return encoders.tuple(encoders.STRING(), encoders.STRING())


def _jclass(jvm, name: str):
    """The ``java.lang.Class`` of the JVM class ``name``."""
    return functools.reduce(getattr, name.split("."), jvm)._java_lang_class


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
