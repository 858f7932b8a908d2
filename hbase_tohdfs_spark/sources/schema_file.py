"""Schema-file readers (S5/S6) — thin wrappers over model.py parsers.

The reference loads these from HDFS inside each mapper's ``setup()``
(``ExportHBaseTableToDelimiteredTxt.java:131-145``,
``ExportHBaseTableToAvro.java:93-97``); here they are parsed once on the
driver and the resulting StructType travels in the plan.
"""

from __future__ import annotations

from hbase_tohdfs_spark.model import (
    ExportSchema,
    parse_avro_schema_file,
    parse_csv_schema_file,
)


def load_schema(path: str, fmt: str) -> ExportSchema:
    """Load a CSV (one-line column list) or Avro JSON schema file.

    ``fmt``: ``"csv"`` | ``"avro"``.
    """
    if fmt == "avro":
        return parse_avro_schema_file(path)
    if fmt == "csv":
        return parse_csv_schema_file(path)
    raise ValueError(f"unknown schema format: {fmt}")
