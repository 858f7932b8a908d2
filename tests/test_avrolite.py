"""Pure-Python Avro container codec: spec conformance + round-trips."""

from __future__ import annotations

import io

import pytest

from hbase_tohdfs_spark.formats import avrolite

SCHEMA = {
    "type": "record",
    "name": "T",
    "fields": [
        {"name": "s", "type": ["null", "string"]},
        {"name": "i", "type": ["null", "int"]},
        {"name": "l", "type": "long"},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "bytes"},
        {"name": "flag", "type": "boolean"},
    ],
}

RECORDS = [
    {"s": "hello", "i": 42, "l": -(2**40), "d": 3.5, "b": b"\x00\xff", "flag": True},
    {"s": None, "i": None, "l": 0, "d": -0.25, "b": b"", "flag": False},
    {"s": "uniçode ✓", "i": -1, "l": 2**62, "d": 1e300, "b": b"xyz", "flag": True},
]


def test_zigzag_varint_spec_vectors():
    # Values from the Avro spec's binary-encoding examples.
    for value, expected in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                            (-2, b"\x03"), (2, b"\x04"), (-64, b"\x7f"),
                            (64, b"\x80\x01")]:
        buf = io.BytesIO()
        avrolite.write_long(buf, value)
        assert buf.getvalue() == expected, value
        assert avrolite.read_long(io.BytesIO(expected)) == value


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip(tmp_path, codec):
    path = str(tmp_path / "t.avro")
    n = avrolite.write_container(path, SCHEMA, RECORDS, codec=codec)
    assert n == 3
    back = list(avrolite.read_container(path))
    assert back == RECORDS
    assert avrolite.read_schema(path) == SCHEMA


def test_container_magic_and_sync(tmp_path):
    path = str(tmp_path / "t.avro")
    avrolite.write_container(path, SCHEMA, RECORDS)
    raw = open(path, "rb").read()
    assert raw[:4] == b"Obj\x01"
    # corrupt the sync marker -> reader must fail loudly
    bad = raw[:-1] + bytes([raw[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="sync"):
        list(avrolite.read_container(bad))


def test_block_splitting(tmp_path):
    path = str(tmp_path / "many.avro")
    recs = [{"s": str(i), "i": i, "l": i, "d": float(i), "b": b"", "flag": False}
            for i in range(1000)]
    avrolite.write_container(path, SCHEMA, recs, block_records=128)
    assert list(avrolite.read_container(path)) == recs


@pytest.mark.skipif(avrolite.HAVE_SNAPPY, reason="python-snappy installed")
def test_snappy_rejected_without_lib():
    with pytest.raises(ValueError, match="snappy"):
        avrolite.write_container("/tmp/x.avro", SCHEMA, [], codec="snappy")


@pytest.mark.skipif(not avrolite.HAVE_SNAPPY, reason="python-snappy absent")
def test_snappy_roundtrip(tmp_path):
    path = str(tmp_path / "s.avro")
    n = avrolite.write_container(path, SCHEMA, RECORDS, codec="snappy")
    assert n == len(RECORDS)
    assert list(avrolite.read_container(path)) == RECORDS


def test_write_avro_overwrite_leaves_no_stale_parts(spark, tmp_path):
    """Re-exporting into an existing folder must not mix part files from
    the previous (more-partitioned) run with the new ones."""
    import os

    from hbase_tohdfs_spark.model import parse_avro_schema_json
    from hbase_tohdfs_spark.sinks import writers

    schema = parse_avro_schema_json(
        '{"type": "record", "name": "T", "fields": [{"name": "l", "type": "long"}]}'
    )
    out = str(tmp_path / "avro_out")
    big = spark.range(0, 100, 1, 8).selectExpr("id AS l")
    writers.write_avro(big, out, schema)
    assert len([f for f in os.listdir(out) if f.endswith(".avro")]) == 8

    small = spark.range(100, 103, 1, 1).selectExpr("id AS l")
    writers.write_avro(small, out, schema)
    parts = sorted(f for f in os.listdir(out) if f.endswith(".avro"))
    assert len(parts) == 1
    got = [r["l"] for r in avrolite.read_container(os.path.join(out, parts[0]))]
    assert got == [100, 101, 102]
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not [f for f in os.listdir(out) if ".tmp-" in f]
