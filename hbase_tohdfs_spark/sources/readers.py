"""Sources/readers: Avro + Parquet file readers with a print limit.

Reference surface S3/S4/K6 (``AvroReader.java:19-52``,
``ParquetReader.java:11-41``): open a file, print its schema, then up to N
records (default unlimited).  ``limit(n)`` is the reference's only top-k
operator.  Every reader scans in the JVM, so it reads any Hadoop
filesystem path or URI.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from hbase_tohdfs_spark import hadoop
from hbase_tohdfs_spark.model import parse_avro_schema_json


def read_avro(spark: SparkSession, path: str, reader_schema_json: str | None = None) -> DataFrame:
    """S3: Avro container(s) -> DataFrame.

    ``path`` is one container file or a directory of part files, as a
    path or any Hadoop URI.  It is scanned as a Hive external table over
    AvroSerDe, the SerDe the Avro sink writes with, whose
    ``avro.schema.literal`` is the *reader schema*: ``reader_schema_json``
    if given (``AvroReader``'s schema argument), else the first part's
    own schema.  Avro resolves each file's schema against it the way the
    reference's ``GenericDatumReader`` does (``AvroReader.java:32-36``):
    fields are projected and ordered by the reader schema; a reader field
    the file lacks reads as its default (NULL for a ``null`` default) and,
    without a default, fails with ``missing required field``.  The
    temporary table is dropped before returning; the frame is already
    analyzed, so it still reads.
    """
    parts = hadoop.data_files(spark, path)
    if reader_schema_json is None:
        reader_schema_json = _file_schema(spark, parts[0])
    schema = parse_avro_schema_json(reader_schema_json, strict=False)
    location = hadoop.hadoop_path(spark, path)[1].toString()
    # CREATE takes only a directory, and the metastore lists the whole
    # tree under it: use the parts' own directory, never a wider one.
    # SET LOCATION then narrows a table made for one part file to it.
    jvm = spark.sparkContext._jvm
    directory = jvm.org.apache.hadoop.fs.Path(parts[0]).getParent().toString()
    table = f"avro_read_{uuid.uuid4().hex}"
    try:
        spark.sql(
            f"CREATE EXTERNAL TABLE {table} {hadoop.avro_storage(schema.avro_json)}"
            f" LOCATION {hadoop.sql_str(directory)}"
        )
        if directory != location:
            spark.sql(f"ALTER TABLE {table} SET LOCATION {hadoop.sql_str(location)}")
        # The metastore lower-cases column names; restore the schema's.
        return spark.table(table).toDF(*schema.struct.fieldNames())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def _file_schema(spark: SparkSession, part: str) -> str:
    """The writer schema in the header of the Avro container ``part``."""
    jvm = spark.sparkContext._jvm
    source = jvm.org.apache.avro.mapred.FsInput(
        jvm.org.apache.hadoop.fs.Path(part), spark.sparkContext._jsc.hadoopConfiguration()
    )
    reader = jvm.org.apache.avro.file.DataFileReader.openReader(
        source, jvm.org.apache.avro.generic.GenericDatumReader()
    )
    try:
        return reader.getSchema().toString()
    finally:
        reader.close()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S4: Parquet -> DataFrame (schema from footer)."""
    return spark.read.parquet(path)


def print_records(df: DataFrame, limit: int | None = None) -> list[str]:
    """K6: console sink with limit — print schema then up to N records,
    mirroring ``AvroReader.java:45-51`` / ``ParquetReader.java:28-40``.
    Returns the printed lines (for tests).

    The reference's no-limit default streams record-at-a-time
    (``AvroReader.java:27-30``); ``toLocalIterator`` is the Spark
    equivalent — one partition on the driver at a time, never the whole
    table."""
    out = [df.schema.simpleString()]
    rows = df.limit(limit).collect() if limit is not None else df.toLocalIterator()
    for row in rows:
        out.append(str(row.asDict()))
    for line in out:
        print(line)
    return out


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC -> DataFrame (schema from file metadata) — reader twin of
    :func:`hbase_tohdfs_spark.sinks.writers.write_orc`."""
    return spark.read.orc(path)
