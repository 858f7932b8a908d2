"""Sources/readers: Avro + Parquet file readers with a print limit.

Reference surface S3/S4/K6 (``AvroReader.java:19-52``,
``ParquetReader.java:11-41``): open a file, print its schema, then up to N
records (default unlimited).  ``limit(n)`` is the reference's only top-k
operator.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from hbase_tohdfs_spark.formats import avrolite
from hbase_tohdfs_spark.model import parse_avro_schema_json


def _avro_paths(path: str) -> list[str]:
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.avro")))
        if not parts:
            raise FileNotFoundError(f"no .avro part files under {path}")
        return parts
    return [path]


def read_avro(spark: SparkSession, path: str, reader_schema_json: str | None = None) -> DataFrame:
    """S3: Avro container(s) -> DataFrame.

    ``path`` is one container file or a directory of ``*.avro`` parts.
    ``binaryFiles`` ships each part to a task, which decodes it with
    avrolite, a decoder independent of the JVM writer.  An optional
    external *reader schema* projects/renames like ``AvroReader``'s
    schema argument (``AvroReader.java:32-36``).
    """
    parts = _avro_paths(path)
    file_schema = avrolite.read_schema(parts[0])
    schema_json = file_schema
    if reader_schema_json is not None:
        import json

        schema_json = json.loads(reader_schema_json)
    export = parse_avro_schema_json(
        __import__("json").dumps(schema_json), strict=False
    )
    struct = export.struct
    names = [f.name for f in struct.fields]

    def _decode(kv):
        _, content = kv
        for rec in avrolite.read_container(bytes(content)):
            yield Row(**{n: rec.get(n) for n in names})

    rdd = spark.sparkContext.binaryFiles(",".join(parts)).flatMap(_decode)
    return spark.createDataFrame(rdd, struct)


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
