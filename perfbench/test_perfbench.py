"""Self-test of the benchmark at a tiny size, in one Spark session.

    python -m pytest perfbench/test_perfbench.py -q

Checks that every metric BENCHMARK.json names appears with its unit, that
the counts repeat across two runs with the same seed, that the traced
export path adds up, that a corrupted output fails the correctness gate,
and that the benchmark refuses to run without the package.
"""

from __future__ import annotations

import gzip
import glob
import json
import os
import shutil
import subprocess
import sys
from dataclasses import replace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import layers  # noqa: E402
import pipeline  # noqa: E402
import run  # noqa: E402
from tracing import dur  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)

TINY = {name: replace(wl, tasks=2, records=60) for name, wl in pipeline.WORKLOADS.items()}
KEPT = [w["name"] for w in SPEC["workloads"]]
COUNTS = ("pivot.rows_out", "pivot.exchanges", "table.write_cells_files") + tuple(
    f"writers.{f}_{k}" for f in pipeline.FORMATS for k in ("files", "mb")
)


@pytest.fixture(scope="module")
def env():
    work = os.path.join(HERE, ".work", f"test-{os.getpid()}")
    os.makedirs(work)
    pinned = run.pin_environment(work)
    yield work, pinned["extra_conf"]
    from pyspark.sql import SparkSession

    run.stop_spark(SparkSession.getActiveSession())
    shutil.rmtree(work, ignore_errors=True)


def _bench(env, name: str, trace: bool, seed: int = 7) -> run.Bench:
    work, conf = env
    sub = os.path.join(work, f"{name}-{trace}-{seed}-{len(os.listdir(work))}")
    os.makedirs(sub)
    bench = run.Bench(TINY[name], seed, sub, conf, trace)
    bench.setup(0)
    return bench


def _measure(bench: run.Bench, monkeypatch) -> tuple[list[dict], list[dict]]:
    monkeypatch.setattr(run, "MIN_PASSES", 1)
    return bench.measure(0)


@pytest.mark.parametrize("name", KEPT)
def test_metrics_named_with_units(env, name, monkeypatch):
    bench = _bench(env, name, trace=True)
    plain, traced = _measure(bench, monkeypatch)
    assert bench.ops.failed == 0, bench.ops.errors
    for kind, got in (("end_to_end", run.end_to_end(bench, plain)),
                      ("per_layer", layers.report(bench, plain, traced))):
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        assert {k: u for k, (_, u) in got.items()} == want


@pytest.mark.parametrize("name", KEPT)
def test_counts_repeat_with_the_same_seed(env, name, monkeypatch):
    reports = []
    for _ in range(2):
        bench = _bench(env, name, trace=True)
        plain, traced = _measure(bench, monkeypatch)
        reports.append(layers.report(bench, plain, traced) | run.end_to_end(bench, plain))
    for key in COUNTS + ("output_mb",):
        assert reports[0][key] == reports[1][key], key


def test_export_self_times_add_up_to_the_export_span(env, monkeypatch):
    bench = _bench(env, "export_wide", trace=True)
    plain, traced = _measure(bench, monkeypatch)
    m = layers.report(bench, plain, traced)
    (export,) = [s for s in bench.tracer.spans
                 if s["name"] == "export" and s["parent"] == traced[0]["span"]["id"]]
    feed = {"text": "pivot.render_self_s", "seq": "pivot.render_self_s"}
    total = m["export.unattributed_s"][0] + sum(
        m[f"writers.{f}_self_s"][0] + m[feed.get(f, "codec.decode_self_s")][0]
        + m["pivot.self_s"][0] + m["scan.read_kv_s"][0]
        for f in pipeline.FORMATS
    )
    assert total == pytest.approx(dur(export), abs=1e-9)


def test_corrupted_output_fails_the_gate(env):
    bench = _bench(env, "export_wide", trace=False)
    bench.pipe.run_pass("bad", probes=False, keep=True)
    assert bench.ops.failed == 0
    part = sorted(glob.glob(os.path.join(bench.pipe._out("bad", "text"), "part-*.gz")))[0]
    with gzip.open(part, "rt") as fh:
        lines = fh.read().splitlines()
    lines[0] = lines[0].replace("counter:", "counter:9")
    with gzip.open(part, "wt") as fh:
        fh.write("\n".join(lines) + "\n")
    # drop the Hadoop checksum, which would fail the read before the digest
    os.remove(os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc"))
    bench.pipe.read_back("bad")
    bench.pipe.cleanup("bad")
    assert bench.ops.failed == 1
    assert bench.ops.errors[0].startswith("text:")


@pytest.mark.xfail(strict=True, reason=(
    "table.upsert_cells over two bucketed tables plans no Exchange, but Union "
    "concatenates the buckets instead of zipping them, so base and delta cells "
    "of one key are never merged"))
def test_compact_bucketed_is_correct(env, monkeypatch):
    bench = _bench(env, "compact_bucketed", trace=False)
    _measure(bench, monkeypatch)
    assert bench.ops.failed == 0, bench.ops.errors


def test_refuses_to_run_without_the_package(env):
    bare = os.path.join(env[0], "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(".work"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", KEPT[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
