"""The Avro sink (K3) and source (S3): one Hive ``INSERT OVERWRITE
DIRECTORY`` through AvroSerDe, read back both by the independent avrolite
decoder and by ``read_avro``'s Hive external table over the same SerDe."""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

import pytest

from hbase_tohdfs_spark.formats import avrolite
from hbase_tohdfs_spark.model import parse_avro_schema_json
from hbase_tohdfs_spark.sinks import writers
from hbase_tohdfs_spark.sources import readers

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LONG_SCHEMA = parse_avro_schema_json(
    '{"type": "record", "name": "T", "fields": [{"name": "l", "type": "long"}]}'
)


def _parts(out) -> list[str]:
    return sorted(glob.glob(os.path.join(str(out), "part-*.avro")))


def _header(part: str) -> tuple[dict, str]:
    with open(part, "rb") as fh:
        schema_json, codec, _ = avrolite.read_header(fh)
    return schema_json, codec


@pytest.mark.parametrize(
    "codec, file_codec", [("gzip", "deflate"), ("none", "null"), ("snappy", "snappy")]
)
def test_codec_per_call_does_not_leak(spark, tmp_path, codec, file_codec):
    out = tmp_path / "out"
    frame = spark.range(0, 50, 1, 2).selectExpr("id AS l")
    writers.write_avro(frame, str(out), LONG_SCHEMA, codec)
    parts = _parts(out)
    assert parts and {_header(p)[1] for p in parts} == {file_codec}
    if file_codec != "snappy" or avrolite.HAVE_SNAPPY:
        got = sorted(r["l"] for p in parts for r in avrolite.read_container(p))
        assert got == list(range(50))
    assert spark.conf.get("avro.output.codec", None) is None
    assert spark.conf.get("hive.exec.compress.output", None) is None


def _round_trip_all_types(spark, tmp_path, codec):
    schema = parse_avro_schema_json(
        json.dumps(
            {
                "type": "record",
                "name": "AllTypes",
                "doc": "it's a back\\slash: \\' and '\\",
                "fields": [
                    {"name": "i", "type": "int"},
                    {"name": "l", "type": "long"},
                    {"name": "f", "type": "float"},
                    {"name": "d", "type": "double"},
                    {"name": "b", "type": "boolean"},
                    {"name": "raw", "type": "bytes"},
                    {"name": "s", "type": "string"},
                    {"name": "opt", "type": ["null", "string"]},
                ],
            }
        ),
        strict=False,
    )
    rows = [
        (1, 2**40, 1.5, -0.25, True, bytearray(b"\x00\xff"), "uniçode ✓", None),
        (-7, -(2**62), -2.0, 1e300, False, bytearray(b""), "", "it's"),
        (0, 0, 0.0, 0.0, True, bytearray(b"xyz"), "a\\b", "x"),
    ]
    out = tmp_path / "out"
    frame = spark.createDataFrame(rows, schema.struct)
    writers.write_avro(frame, str(out), schema, codec)
    assert all(_header(p)[0] == schema.avro_json for p in _parts(out))
    got = readers.read_avro(spark, str(out)).collect()
    assert sorted(tuple(r) for r in got) == sorted(rows)


def test_every_model_type_round_trips_with_quoted_schema(spark, tmp_path):
    """The schema literal is spliced into SQL: a ``doc`` holding ``'`` and
    ``\\`` must reach the file header unchanged."""
    _round_trip_all_types(spark, tmp_path, "gzip")


@pytest.mark.parametrize("codec", ["none", "snappy"])
def test_every_model_type_reads_back_under_codec(spark, tmp_path, codec):
    """``read_avro`` decodes every codec the sink writes, snappy included."""
    _round_trip_all_types(spark, tmp_path, codec)


def test_file_uri_lands_under_the_path(spark, tmp_path, monkeypatch):
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = tmp_path / "out"
    frame = spark.range(0, 10, 1, 2).selectExpr("id AS l")
    writers.write_avro(frame, out.as_uri(), LONG_SCHEMA)
    assert os.listdir(cwd) == []
    assert readers.read_avro(spark, str(out)).count() == 10
    assert readers.read_avro(spark, out.as_uri()).count() == 10
    assert os.listdir(cwd) == []


def test_each_part_file_reads_on_its_own(spark, tmp_path):
    """A single part file is the reference's own form (``AvroReader
    {dataFile}``); the parts' counts add up to the directory's."""
    out = tmp_path / "out"
    frame = spark.range(0, 100, 1, 3).selectExpr("id AS l")
    writers.write_avro(frame, str(out), LONG_SCHEMA)
    parts = _parts(out)
    assert len(parts) == 3
    counts = [readers.read_avro(spark, p).count() for p in parts]
    assert all(counts) and sum(counts) == readers.read_avro(spark, str(out)).count()


def test_missing_path_or_part_names_the_path(spark, tmp_path):
    missing = tmp_path / "missing"
    with pytest.raises(FileNotFoundError, match=re.escape(str(missing))):
        readers.read_avro(spark, str(missing))
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    with pytest.raises(FileNotFoundError, match=re.escape(str(empty))):
        readers.read_avro(spark, str(empty))


def test_read_is_a_hive_avroserde_scan(spark, tmp_path):
    out = str(tmp_path / "out")
    writers.write_avro(spark.range(0, 5).selectExpr("id AS l"), out, LONG_SCHEMA)
    plan = readers.read_avro(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert "Scan hive" in plan and "HiveTableRelation" in plan and "AvroSerDe" in plan
    assert "ExistingRDD" not in plan


def test_reader_schema_resolves_like_generic_datum_reader(spark, tmp_path):
    """``AvroReader.java:32-36``: the reader schema projects and reorders;
    a field the file lacks reads as its ``null`` default, and without a
    default it fails."""
    writer = parse_avro_schema_json(
        json.dumps(
            {
                "type": "record",
                "name": "W",
                "fields": [
                    {"name": "A", "type": "long"},
                    {"name": "b", "type": "string"},
                    {"name": "c", "type": "int"},
                ],
            }
        ),
        strict=False,
    )
    out = str(tmp_path / "out")
    frame = spark.createDataFrame([(1, "x", 10), (2, "y", 20)], writer.struct)
    writers.write_avro(frame, out, writer)

    def reader(*fields):
        return json.dumps({"type": "record", "name": "W", "fields": list(fields)})

    projected = readers.read_avro(
        spark, out, reader({"name": "c", "type": "int"}, {"name": "A", "type": "long"})
    )
    assert projected.columns == ["c", "A"]
    assert sorted(map(tuple, projected.collect())) == [(10, 1), (20, 2)]

    defaulted = readers.read_avro(
        spark,
        out,
        reader({"name": "b", "type": "string"},
               {"name": "d", "type": ["null", "string"], "default": None}),
    )
    assert sorted(map(tuple, defaulted.collect())) == [("x", None), ("y", None)]

    required = readers.read_avro(
        spark, out, reader({"name": "A", "type": "long"}, {"name": "e", "type": "string"})
    )
    with pytest.raises(Exception, match="missing required field"):
        required.collect()


def test_empty_frame_reads_back_as_zero_rows(spark, tmp_path):
    out = str(tmp_path / "out")
    empty = spark.range(0, 10, 1, 3).filter("id < 0").selectExpr("id AS l")
    writers.write_avro(empty, out, LONG_SCHEMA)
    assert readers.read_avro(spark, out).count() == 0


# Runs in a fresh interpreter, so get_spark's JVM launch options apply.
_CLI_RUN = """
import sys
from hbase_tohdfs_spark import cli
cols = ["C1", "C3", "C4", "C5", "C6", "C7", "C8"]
with open("schema.avsc", "w") as fh:
    fh.write('{"type": "record", "name": "Test", "fields": ['
             + ", ".join('{"name": "%s", "type": "string"}' % c for c in cols) + "]}")
for argv in (["CreateTable", "kvtable", "c", "2"],
             ["PopulateTable", "2", "50", "gen", "kvtable", "c", "run1"],
             ["ExportHBaseTableToAvro", "kvtable", "c", "out_avro", "gzip", "schema.avsc"],
             ["AvroReader", "out_avro", "schema.avsc", "3"]):
    if cli.main(argv) != 0:
        sys.exit(1)
"""


def test_cli_avro_export_leaves_no_metastore_in_cwd(spark, tmp_path):
    env = dict(
        os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g"
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CLI_RUN],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert readers.read_avro(spark, str(tmp_path / "out_avro")).count() == 100
    assert not [t for t in spark.catalog.listTables() if t.name.startswith("avro_read_")]
    assert not (tmp_path / "metastore_db").exists()
    assert not (tmp_path / "derby.log").exists()
