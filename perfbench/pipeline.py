"""One pass of the paper's pipeline, driven through the package's public calls.

A pass runs these phases on freshly generated cells and times each:

* ``ingest``: generate the base cells and write the KV table;
* ``upsert`` (workloads with delta rounds only): per round, write the
  delta, merge it into the table with ``table.upsert_cells`` and write the
  merged table;
* ``export``: the five export formats (text, seq, avro, parquet, orc);
* ``read``: read every export back in full and check it against DuckDB.

The layout decides how a table is written and scanned: a plain
range-partitioned dataset driven through the ``cli`` verbs, or a bucketed
managed table driven through ``table``, ``operators.pivot`` and
``sinks.writers`` (the verbs take a path and would lose the buckets).

With ``probes`` on, each phase is followed by noop materializations of the
frames its calls consume, so the per-layer report can split a call into the
layers it fuses. See README.md for how self times are derived.
"""

from __future__ import annotations

import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import oracle
from hbase_tohdfs_spark import cli, generate, table
from hbase_tohdfs_spark.operators import pivot
from hbase_tohdfs_spark.plans.inspect import plan_facts
from hbase_tohdfs_spark.sinks import writers
from hbase_tohdfs_spark.sources import readers, schema_file
from tracing import Tracer

COLS = oracle.COLS
FORMATS = ("text", "seq", "avro", "parquet", "orc")
PHASES = ("ingest", "upsert", "export", "read")

_VERBS = {
    "text": ("ExportHBaseTableToDelimiteredTxt", "true", "csv", "|"),
    "seq": ("ExportHBaseTableToDelimiteredSeq", "snappy", "csv", "|"),
    "avro": ("ExportHBaseTableToAvro", "gzip", "avsc"),
    "parquet": ("ExportHBaseTableToParquet", "snappy", "avsc"),
    "orc": ("ExportHBaseTableToOrc", "snappy", "avsc"),
}
# Each reader returns (frame, its line column, the expected output it holds).
_READERS = {
    "text": lambda spark, p: (spark.read.text(p), F.col("value"), "lines"),
    "seq": lambda spark, p: (writers.read_sequencefile_lines(spark, p), F.col("line"), "lines"),
    "avro": lambda spark, p: (readers.read_avro(spark, p), oracle.spark_row_line(), "rows"),
    "parquet": lambda spark, p: (readers.read_parquet(spark, p), oracle.spark_row_line(), "rows"),
    "orc": lambda spark, p: (readers.read_orc(spark, p), oracle.spark_row_line(), "rows"),
}


@dataclass(frozen=True)
class Workload:
    tasks: int
    records: int
    delta_rounds: int
    bucketed: bool
    buckets: int = 8
    regions: int = 4

    @property
    def cells(self) -> int:
        return self.tasks * self.records * 10

    @property
    def phases(self) -> tuple[str, ...]:
        return PHASES if self.delta_rounds else tuple(p for p in PHASES if p != "upsert")

    def warmup(self) -> Workload:
        """The same pipeline on about 1/15 of the cells. Fewer tasks of the
        same size where there are enough tasks: the generator's plan then
        compiles to the same code as the timed passes'."""
        if self.tasks >= 30:
            return replace(self, tasks=self.tasks // 15)
        return replace(self, records=max(20, self.records // 15))


WORKLOADS = {
    # Sinks and the Python boundary do most of the work: nearly every row
    # key is distinct, so the pivot only collapses 10 cells to 7 columns.
    "export_wide": Workload(tasks=30, records=1000, delta_rounds=0, bucketed=False),
    # Few tasks with many records: row keys repeat within a task, so the
    # pivot's last-write-wins aggregate and its shuffle do more of the work.
    "export_merge": Workload(tasks=2, records=25_000, delta_rounds=0, bucketed=False),
    # Bucketed writes and the shuffle-free last-write-wins compaction. Left
    # out of BENCHMARK.json: table.upsert_cells loses merges on bucketed
    # tables, so its correctness gate fails (README.md).
    "compact_bucketed": Workload(tasks=100, records=1000, delta_rounds=2, bucketed=True),
}


class Ops:
    """Operations attempted and failed: each call into the package, each check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def _count(self, failed: bool, what: str | None = None) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += failed
            if what is not None and failed:
                self.errors.append(what)

    def call(self, fn, *args, **kwargs):
        try:
            out = fn(*args, **kwargs)
        except Exception:
            self._count(True)
            raise
        self._count(False)
        return out

    def check(self, ok: bool, what: str) -> None:
        self._count(not ok, what)


def noop_count(df: DataFrame) -> int:
    """Materialize ``df`` to the noop sink; return its row count."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get["n"]


def tree_size(path: str) -> tuple[int, int]:
    """(bytes of every file, number of part files) under ``path``."""
    total = parts = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
            parts += name.startswith("part-")
    return total, parts


class Pipeline:
    """Runs passes of one workload in one session, in ``work``."""

    def __init__(self, spark: SparkSession, work: str, wl: Workload, seed: int,
                 expected: dict, ops: Ops, tracer: Tracer, concurrent: bool = False) -> None:
        self.spark, self.work, self.wl, self.seed = spark, work, wl, seed
        self.expected, self.ops, self.tr = expected, ops, tracer
        # A warm-up pass only has to reach every call once: it runs the calls
        # of a phase concurrently. Timed passes run them one after another.
        self.concurrent = concurrent
        self.run_id = oracle.run_id(seed)
        self.csv = os.path.join(work, "schema.csv")
        self.avsc = os.path.join(work, "schema.avsc")
        with open(self.csv, "w", encoding="utf-8") as fh:
            fh.write(",".join(COLS) + "\n")
        with open(self.avsc, "w", encoding="utf-8") as fh:
            fields = ", ".join(f'{{"name": "{c}", "type": "string"}}' for c in COLS)
            fh.write(f'{{"type": "record", "name": "Export", "fields": [{fields}]}}')
        self.schema = schema_file.load_schema(self.avsc, fmt="avro")
        self.sizes: dict | None = None  # repeatable output sizes of the first pass
        self.plans: dict = {}

    # ---- layout: plain (cli verbs on a path) or bucketed (managed table)
    def _loc(self, tag: str, name: str) -> str:
        if self.wl.bucketed:
            wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            return os.path.join(wh, f"{tag}_{name}")
        return os.path.join(self.work, tag, name)

    def _write(self, df: DataFrame, tag: str, name: str) -> None:
        if self.wl.bucketed:
            table.write_cells_bucketed(df, f"{tag}_{name}", self.wl.buckets)
        else:
            table.write_cells(df, self._loc(tag, name), self.wl.regions, mode="overwrite")

    def _read(self, tag: str, name: str) -> DataFrame:
        if self.wl.bucketed:
            return table.read_bucketed_table(self.spark, f"{tag}_{name}")
        return table.read_table(self.spark, self._loc(tag, name))

    def _cells(self) -> DataFrame:
        return generate.populate_cells(self.spark, self.wl.tasks, self.wl.records, self.run_id)

    def _delta(self, rnd: int) -> DataFrame:
        off = oracle.delta_ts_offset(self.wl.cells, self.seed, rnd)
        return self._cells().filter(F.expr(oracle.delta_filter_sql(rnd))).select(
            "row_key",
            "cf",
            "qualifier",
            F.concat(F.col("value").cast("string"), F.lit(f":u{rnd}")).cast("binary").alias("value"),
            (F.col("ts") + F.lit(off)).alias("ts"),
        )

    def _wide(self, cells: DataFrame) -> DataFrame:
        return pivot.pivot_cells(cells, COLS, column_family="c", drop_empty=False)

    def _typed(self, cells: DataFrame) -> DataFrame:
        return pivot.pivot_typed(cells, self.schema, column_family="c").select(*COLS)

    def _out(self, tag: str, fmt: str) -> str:
        return os.path.join(self.work, tag, f"out_{fmt}")

    # ---- phases
    def _ingest(self, tag: str) -> None:
        if self.wl.bucketed:
            with self.tr.span("table.write_bucketed"):
                self.ops.call(self._write, self._cells(), tag, "kv0")
            return
        with self.tr.span("table.write_cells"):
            self.ops.call(cli.main, [
                "PopulateTable", str(self.wl.tasks), str(self.wl.records),
                os.path.join(self.work, tag, "gen"), self._loc(tag, "kv0"), "c", self.run_id,
            ], spark=self.spark)

    def _upsert(self, tag: str) -> None:
        for r in range(1, self.wl.delta_rounds + 1):
            with self.tr.span("table.write_delta"):
                self.ops.call(self._write, self._delta(r), tag, f"d{r}")
            with self.tr.span("table.write_merged"):
                merged = table.upsert_cells(self._read(tag, f"kv{r - 1}"), self._read(tag, f"d{r}"))
                self.ops.call(self._write, merged, tag, f"kv{r}")

    def _export_one(self, tag: str, fmt: str) -> None:
        src, out = f"kv{self.wl.delta_rounds}", self._out(tag, fmt)
        if not self.wl.bucketed:
            verb, codec, schema_kind, *delim = _VERBS[fmt]
            schema = self.csv if schema_kind == "csv" else self.avsc
            args = [verb, self._loc(tag, src), "c", out, codec, schema, *delim]
            cli.main(args, spark=self.spark)
            return
        cells = self._read(tag, src)
        if fmt == "text":
            writers.write_delimited_text(self._wide(cells), out, COLS, "|", gzip=True)
        elif fmt == "seq":
            writers.write_sequencefile(self._wide(cells), out, COLS, "|", codec="snappy")
        elif fmt == "avro":
            writers.write_avro(self._typed(cells), out, self.schema, codec="gzip")
        elif fmt == "parquet":
            writers.write_parquet(self._typed(cells), out, codec="snappy")
        else:
            writers.write_orc(self._typed(cells), out, codec="snappy")

    def _each_format(self, fn) -> None:
        if not self.concurrent:
            for fmt in FORMATS:
                fn(fmt)
            return
        with ThreadPoolExecutor(len(FORMATS)) as pool:
            for future in [pool.submit(fn, fmt) for fmt in FORMATS]:
                future.result()

    def _export(self, tag: str) -> None:
        def one(fmt: str) -> None:
            with self.tr.span(f"writers.{fmt}"):
                self.ops.call(self._export_one, tag, fmt)

        self._each_format(one)

    def read_back(self, tag: str) -> None:
        def one(fmt: str) -> None:
            with self.tr.span(f"readers.{fmt}"):
                df, line, want = _READERS[fmt](self.spark, self._out(tag, fmt))
                got = self.ops.call(oracle.spark_digest, df, line)
            self.ops.check(got == self.expected[want], f"{fmt}: {got} != {self.expected[want]}")

        self._each_format(one)

    # ---- probes: the frames each phase's calls consume, to noop
    def _probe(self, tag: str, phase: str, counts: dict) -> None:
        if phase == "ingest":
            with self.tr.span("generate"):
                counts["generate.cells"] = noop_count(self._cells())
        elif phase == "upsert":
            for r in range(1, self.wl.delta_rounds + 1):
                merged = table.upsert_cells(self._read(tag, f"kv{r - 1}"), self._read(tag, f"d{r}"))
                with self.tr.span("table.upsert"):
                    counts["table.upsert_cells_out"] = noop_count(merged)
        elif phase == "export":
            cells = self._read(tag, f"kv{self.wl.delta_rounds}")
            with self.tr.span("scan.read_kv"):
                counts["scan.cells"] = noop_count(cells)
            with self.tr.span("pivot.cells"):
                counts["pivot.rows_out"] = noop_count(self._wide(cells))
            with self.tr.span("pivot.render"):
                noop_count(pivot.render_delimited(self._wide(cells), COLS, "|"))
            with self.tr.span("pivot.typed"):
                noop_count(self._typed(cells))

    def run_pass(self, tag: str, probes: bool, keep: bool = False) -> dict:
        """Run one pass; returns its root span, counts and output sizes. The
        outputs are checked for size and deleted unless ``keep``."""
        os.makedirs(os.path.join(self.work, tag))
        if not self.wl.bucketed:
            self.ops.call(cli.main, ["CreateTable", self._loc(tag, "kv0"), "c", str(self.wl.regions)],
                          spark=self.spark)
        counts: dict = {}
        steps = {"ingest": self._ingest, "upsert": self._upsert,
                 "export": self._export, "read": self.read_back}
        with self.tr.span("pass") as root:
            for phase in self.wl.phases:
                with self.tr.span(phase):
                    steps[phase](tag)
                if probes:
                    with self.tr.span(f"probe.{phase}"):
                        self._probe(tag, phase, counts)
        sizes = self._sizes(tag)
        self._check_sizes(sizes)
        if not keep:
            self.cleanup(tag)
        return {"span": root, "counts": counts, "sizes": sizes}

    # ---- outputs: sizes, correctness, cleanup
    def _tables(self) -> list[str]:
        rounds = range(1, self.wl.delta_rounds + 1)
        return ["kv0"] + [f"d{r}" for r in rounds] + [f"kv{r}" for r in rounds]

    def _sizes(self, tag: str) -> dict:
        """(bytes, part files) of each export and of each table. Table bytes
        vary with the range boundaries Spark samples, so only the exports'
        bytes have to repeat exactly."""
        sizes = {fmt: tree_size(self._out(tag, fmt)) for fmt in FORMATS}
        sizes.update({name: tree_size(self._loc(tag, name)) for name in self._tables()})
        return sizes

    def _check_sizes(self, sizes: dict) -> None:
        repeatable = {k: v if k in FORMATS else v[1] for k, v in sizes.items()}
        if self.sizes is None:
            self.sizes = repeatable
        self.ops.check(repeatable == self.sizes, "outputs differ from the first pass: " + str(
            {k: (self.sizes[k], v) for k, v in repeatable.items() if self.sizes[k] != v}))

    def full_check(self, tag: str) -> None:
        """Read back every table of a kept pass (each pass reads its exports
        back itself), and count the shuffles in the upsert and export plans."""
        for name in self._tables():
            got = self.ops.call(oracle.spark_digest, self._read(tag, name), oracle.spark_cell_line())
            self.ops.check(got == self.expected[name], f"table {name}: {got} != {self.expected[name]}")
        last = f"kv{self.wl.delta_rounds}"
        self.plans = {"pivot": plan_facts(self._typed(self._read(tag, last))).n_exchanges}
        if self.wl.delta_rounds:
            merged = table.upsert_cells(self._read(tag, f"kv{self.wl.delta_rounds - 1}"),
                                        self._read(tag, f"d{self.wl.delta_rounds}"))
            self.plans["upsert"] = plan_facts(merged).n_exchanges
        if self.wl.bucketed:
            for what, n in self.plans.items():
                self.ops.check(n == 0, f"bucketed {what} plan has {n} Exchange(s)")

    def cleanup(self, tag: str) -> None:
        if self.wl.bucketed:
            for name in self._tables():
                self.spark.sql(f"DROP TABLE IF EXISTS {tag}_{name}")
        shutil.rmtree(os.path.join(self.work, tag))
