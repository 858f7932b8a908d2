"""The SequenceFile sink (K2) and its read-back: ``(line, NULL)`` pairs
written as ``SequenceFile<Text, NullWritable>`` and read back as lines,
both in the JVM."""

from __future__ import annotations

import glob
import os
import re

import pytest

from hbase_tohdfs_spark.operators.pivot import render_delimited
from hbase_tohdfs_spark.sinks import writers

COLS = ["C1", "C2", "C3"]

CODEC_CLASSES = {
    "none": None,
    "gzip": "org.apache.hadoop.io.compress.GzipCodec",
    "snappy": "org.apache.hadoop.io.compress.SnappyCodec",
}


@pytest.fixture(scope="module")
def wide(spark):
    rows = [
        ("r1", "plain", "ascii"),
        ("r2", None, "tail"),  # a NULL cell renders as an empty field
        ("r3", "uniçode ✓", None),
        ("r4", "a|b", "pipe|inside"),  # the delimiter inside a value
        (None, None, None),
        ("r6", "", "日本語"),
    ]
    return spark.createDataFrame(rows * 5, "C1 string, C2 string, C3 string").repartition(3)


def _header(part: str) -> tuple[str, str, str | None]:
    """(key class, value class, codec class or None) of a SequenceFile
    part: ``SEQ``, version 6, two ``Text`` class names, the
    compressed and block-compressed flags, then the codec's class name."""

    def text(buf: bytes, at: int) -> tuple[str, int]:
        size = buf[at]
        assert size < 0x80, "class name longer than a one-byte vint"
        return buf[at + 1 : at + 1 + size].decode(), at + 1 + size

    with open(part, "rb") as fh:
        buf = fh.read(256)
    assert buf[:4] == b"SEQ\x06"
    key, at = text(buf, 4)
    value, at = text(buf, at)
    compressed = buf[at] == 1
    codec = text(buf, at + 2)[0] if compressed else None
    return key, value, codec


def _assert_same_rows(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.mark.parametrize("codec", sorted(CODEC_CLASSES))
def test_round_trip_equals_rendered_lines(spark, wide, tmp_path, codec):
    out = str(tmp_path / "out")
    writers.write_sequencefile(wide, out, COLS, "|", codec)
    parts = sorted(glob.glob(os.path.join(out, "part-*")))
    assert parts and os.path.exists(os.path.join(out, "_SUCCESS"))
    for part in parts:
        assert _header(part) == (
            "org.apache.hadoop.io.Text",
            "org.apache.hadoop.io.NullWritable",
            CODEC_CLASSES[codec],
        )
    got = writers.read_sequencefile_lines(spark, out)
    assert got.columns == ["line"]
    assert got.count() == wide.count()
    _assert_same_rows(got, render_delimited(wide, COLS, "|"))


def test_plain_path_and_file_uri_read_and_write_alike(spark, wide, tmp_path):
    expected = render_delimited(wide, COLS, "|")
    plain, uri = tmp_path / "plain", tmp_path / "uri"
    writers.write_sequencefile(wide, str(plain), COLS, "|", "gzip")
    writers.write_sequencefile(wide, uri.as_uri(), COLS, "|", "gzip")
    for path in (str(plain), plain.as_uri(), str(uri), uri.as_uri()):
        _assert_same_rows(writers.read_sequencefile_lines(spark, path), expected)


def test_the_read_is_a_jvm_scan(spark, wide, tmp_path):
    out = str(tmp_path / "out")
    writers.write_sequencefile(wide, out, COLS, "|")
    plan = writers.read_sequencefile_lines(spark, out)._jdf.queryExecution()
    plan = plan.executedPlan().toString()
    assert "SerializeFromObject" in plan and "Scan[obj" in plan
    assert "ExistingRDD" not in plan and "Python" not in plan


def test_empty_frame_writes_success_and_reads_zero_rows(spark, wide, tmp_path):
    out = str(tmp_path / "out")
    writers.write_sequencefile(wide.filter("false"), out, COLS, "|", "snappy")
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert writers.read_sequencefile_lines(spark, out).count() == 0


def test_existing_path_raises(spark, wide, tmp_path):
    out = tmp_path / "out"
    out.mkdir()
    with pytest.raises(Exception, match="already exists"):
        writers.write_sequencefile(wide, str(out), COLS, "|")


def test_missing_path_raises_naming_it(spark, tmp_path):
    missing = tmp_path / "missing"
    for path in (str(missing), missing.as_uri()):
        with pytest.raises(FileNotFoundError, match=re.escape(path)):
            writers.read_sequencefile_lines(spark, path)
