"""Data model: narrow KV cell schema and schema-file parsing.

The reference's input model is HBase's sorted key-value cells: a logical row
is a set of cells ``(rowKey, columnFamily, qualifier, value)`` (see
``ExportHBaseTableToDelimiteredTxt.java:148-151``).  We represent a "table"
as a Parquet dataset of such cells with an explicit ``ts`` (the HBase cell
timestamp) so last-write-wins is deterministic instead of scan-order
dependent (SURVEY.md §2.8 B1).

Schemas are external files, schema-on-read, in two formats mirroring the
reference:

* one-line CSV column list (``ExportHBaseTableToDelimiteredTxt.java:131-145``)
* Avro JSON record schema (``ExportHBaseTableToAvro.java:93-97``;
  example fixture ``schema/test.schema``)
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import types as T

#: Narrow cell schema — the engine's canonical "HBase table" representation.
CELL_SCHEMA = T.StructType(
    [
        T.StructField("row_key", T.StringType(), False),
        T.StructField("cf", T.StringType(), False),
        T.StructField("qualifier", T.StringType(), False),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("ts", T.LongType(), False),
    ]
)

CELL_COLUMNS = [f.name for f in CELL_SCHEMA.fields]

#: Types the reference's putValue decodes (ExportHBaseTableToAvro.java:199-209).
#: Anything else raises, mirroring the fail-fast `Unknown datatype` branch.
_AVRO_TO_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
}

#: Extended types our engine accepts beyond the reference floor.
_AVRO_TO_SPARK_EXTENDED: dict[str, T.DataType] = {
    **_AVRO_TO_SPARK,
    "boolean": T.BooleanType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
}


class UnknownDatatypeError(ValueError):
    """Mirrors the reference's ``RuntimeException("Unknown datatype …")``
    (``ExportHBaseTableToAvro.java:207``)."""


@dataclass
class ExportSchema:
    """A parsed export schema: ordered columns with Spark types."""

    struct: T.StructType
    #: original Avro JSON (None when parsed from a CSV column list)
    avro_json: dict | None = None

    @property
    def columns(self) -> list[str]:
        return [f.name for f in self.struct.fields]

    def field_type(self, name: str) -> T.DataType:
        return self.struct[name].dataType


def parse_csv_schema_line(line: str) -> ExportSchema:
    """One-line comma-split column list -> all-string schema.

    Mirrors ``generateColumnsFromSchemaFile``
    (``ExportHBaseTableToDelimiteredTxt.java:131-145``): names only, no
    types — everything is stringified in the delimited output.
    """
    cols = [c.strip() for c in line.strip().split(",") if c.strip()]
    if not cols:
        raise ValueError("schema file is empty: expected one comma-separated line")
    return ExportSchema(
        T.StructType([T.StructField(c, T.StringType(), True) for c in cols])
    )


def parse_csv_schema_file(path: str) -> ExportSchema:
    with open(path, encoding="utf-8") as fh:
        first_line = fh.readline()
    return parse_csv_schema_line(first_line)


def _avro_field_type(ftype, strict: bool) -> tuple[T.DataType, bool]:
    """Avro field type -> (spark type, nullable). Unions only as [null, T]."""
    nullable = False
    if isinstance(ftype, list):  # union
        members = [m for m in ftype if m != "null"]
        nullable = len(members) < len(ftype)
        if len(members) != 1:
            raise UnknownDatatypeError(f"Unknown datatype {ftype}")
        ftype = members[0]
    if not isinstance(ftype, str):
        raise UnknownDatatypeError(f"Unknown datatype {ftype}")
    mapping = _AVRO_TO_SPARK if strict else _AVRO_TO_SPARK_EXTENDED
    if ftype not in mapping:
        raise UnknownDatatypeError(f"Unknown datatype {ftype.upper()}")
    return mapping[ftype], nullable


def parse_avro_schema_json(text: str, strict: bool = True) -> ExportSchema:
    """Avro JSON record schema -> typed StructType.

    ``strict=True`` accepts only the types the reference decodes
    (string/int/long — ``ExportHBaseTableToAvro.java:199-209``) and fails
    fast on anything else, matching the ``Unknown datatype`` behavior.
    """
    schema = json.loads(text)
    if schema.get("type") != "record" or "fields" not in schema:
        raise ValueError("expected an Avro record schema with a 'fields' list")
    fields = []
    for f in schema["fields"]:
        dtype, nullable = _avro_field_type(f["type"], strict)
        # All columns can be absent for a given row key -> nullable output.
        fields.append(T.StructField(f["name"], dtype, True))
    return ExportSchema(T.StructType(fields), avro_json=schema)


def parse_avro_schema_file(path: str) -> ExportSchema:
    with open(path, encoding="utf-8") as fh:
        return parse_avro_schema_json(fh.read())
