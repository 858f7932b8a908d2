"""Driver-side Hadoop access shared by the Avro sink and source and the KV
table metadata.

Every path here goes through Hadoop ``FileSystem``, so a plain path, a
``file://`` URI and any other Hadoop filesystem URI behave alike.  The
AvroSerDe storage clause lives here once: the Avro sink writes with it
(``INSERT OVERWRITE DIRECTORY``) and the Avro reader scans with it
(``CREATE EXTERNAL TABLE``).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def sql_str(text: str) -> str:
    """``text`` as a Spark SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def avro_storage(schema_json: dict) -> str:
    """The Hive row format and storage of an Avro container whose record
    schema is ``schema_json`` (the ``avro.schema.literal``)."""
    return (
        "ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.avro.AvroSerDe'"
        f" WITH SERDEPROPERTIES ('avro.schema.literal'={sql_str(json.dumps(schema_json))})"
        " STORED AS"
        " INPUTFORMAT 'org.apache.hadoop.hive.ql.io.avro.AvroContainerInputFormat'"
        " OUTPUTFORMAT 'org.apache.hadoop.hive.ql.io.avro.AvroContainerOutputFormat'"
    )


def hadoop_path(spark: SparkSession, path: str):
    """-> (FileSystem, qualified Path) of ``path`` under the session's
    Hadoop configuration."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(p)


def data_files(spark: SparkSession, path: str) -> list[str]:
    """The data files at ``path``: the file itself, or a directory's files
    whose names start with neither ``_`` nor ``.`` (the ones Hadoop's
    input formats read), sorted by name.  Raises ``FileNotFoundError``
    naming ``path`` when there is none."""
    fs, p = hadoop_path(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(f"no such file or directory: {path}")
    if not fs.getFileStatus(p).isDirectory():
        return [p.toString()]
    files = sorted(
        s.getPath().toString()
        for s in fs.listStatus(p)
        if s.isFile() and not s.getPath().getName().startswith(("_", "."))
    )
    if not files:
        raise FileNotFoundError(f"no part files under {path}")
    return files


def read_text(spark: SparkSession, path: str) -> str:
    """The UTF-8 text of the file at ``path``; ``FileNotFoundError`` if
    there is none."""
    fs, p = hadoop_path(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(f"no such file: {path}")
    stream = fs.open(p)
    try:
        return spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` as UTF-8 to the file at ``path``, replacing it."""
    fs, p = hadoop_path(spark, path)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
