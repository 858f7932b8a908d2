"""The paper's pipeline starts no Python worker: CreateTable ->
PopulateTable -> the five exports -> their read-backs and ``AvroReader``
all run in the JVM.  A fresh interpreter points ``PYSPARK_PYTHON`` at a
program that does not exist, so any task that needs a Python worker
fails with ``Cannot run program``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MAPPERS, RECORDS = 2, 150

_PIPELINE = f"""
import json, sys
from hbase_tohdfs_spark import cli
from hbase_tohdfs_spark.session import get_spark
from hbase_tohdfs_spark.sinks import writers
from hbase_tohdfs_spark.sources import readers

cols = ["C1", "C3", "C4", "C5", "C6", "C7", "C8"]
with open("schema.csv", "w") as fh:
    fh.write(",".join(cols) + "\\n")
with open("schema.avsc", "w") as fh:
    fh.write('{{"type": "record", "name": "Test", "fields": ['
             + ", ".join('{{"name": "%s", "type": "string"}}' % c for c in cols) + "]}}")
for argv in (
    ["CreateTable", "kvtable", "c", "2"],
    ["PopulateTable", "{MAPPERS}", "{RECORDS}", "gen", "kvtable", "c", "run1"],
    ["ExportHBaseTableToDelimiteredTxt", "kvtable", "c", "out_txt", "true", "schema.csv", "|", "C1"],
    ["ExportHBaseTableToDelimiteredSeq", "kvtable", "c", "out_seq", "snappy", "schema.csv", "|"],
    ["ExportHBaseTableToAvro", "kvtable", "c", "out_avro", "gzip", "schema.avsc"],
    ["ExportHBaseTableToParquet", "kvtable", "c", "out_parquet", "snappy", "schema.avsc", "C1"],
    ["ExportHBaseTableToOrc", "kvtable", "c", "out_orc", "snappy", "schema.avsc", "C1"],
    ["AvroReader", "out_avro", "schema.avsc", "3"],
):
    if cli.main(argv) != 0:
        sys.exit(1)
spark = get_spark()
counts = {{
    "txt": spark.read.text("out_txt").count(),
    "seq": writers.read_sequencefile_lines(spark, "out_seq").count(),
    "avro": readers.read_avro(spark, "out_avro").count(),
    "parquet": readers.read_parquet(spark, "out_parquet").count(),
    "orc": readers.read_orc(spark, "out_orc").count(),
}}
print("COUNTS " + json.dumps(counts))
"""


def test_pipeline_runs_with_no_python_worker(tmp_path):
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON="/nonexistent/python3",
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _PIPELINE],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "Cannot run program" not in proc.stderr
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("COUNTS ")]
    counts = json.loads(line[-1][len("COUNTS "):])
    assert counts == dict.fromkeys(["txt", "seq", "avro", "parquet", "orc"], MAPPERS * RECORDS)
