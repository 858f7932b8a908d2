"""Per-layer metrics of a traced run.

The values come from one traced pass: the one whose total time is the
median of the traced passes. Each span wraps one public call, materialized
to its sink or to noop. Spark fuses the layers of a call into one job, so a
layer's self time is its span minus the span of the frame it consumes, run
on its own to noop right after the phase:

    writers.text/seq  <- pivot.render  <- pivot.cells <- scan.read_kv
    writers.avro/...  <- codec.decode  <- pivot.cells <- scan.read_kv
    table.write_cells (or table.write_bucketed) <- generate
    table.write_merged <- table.upsert

Along one export call the self times add up to the call's span, and the
export phase span is the sum of its calls plus ``export.unattributed_s``.
"""

from __future__ import annotations

import os
import statistics
import time

from pipeline import FORMATS
from tracing import dur

AVRO_BATCH = 100_000


def _avrolite_rates(work: str) -> tuple[float, float]:
    """Driver-side rows/s of the Avro codec on a fixed 100k-row batch."""
    from hbase_tohdfs_spark.formats import avrolite

    cols = ["C1", "C3", "C4", "C5", "C6", "C7", "C8"]
    schema = {"type": "record", "name": "Export",
              "fields": [{"name": c, "type": "string"} for c in cols]}
    rows = [{c: f"counter:{i * 10 + k}" for k, c in enumerate(cols)} for i in range(AVRO_BATCH)]
    path = os.path.join(work, "avrolite_batch.avro")
    t0 = time.perf_counter()
    avrolite.write_container(path, schema, rows, codec="deflate")
    t1 = time.perf_counter()
    n = sum(1 for _ in avrolite.read_container(path))
    t2 = time.perf_counter()
    os.remove(path)
    if n != AVRO_BATCH:
        raise RuntimeError(f"avrolite read back {n} of {AVRO_BATCH} rows")
    return AVRO_BATCH / (t1 - t0), AVRO_BATCH / (t2 - t1)


def _spans(tracer, root: dict) -> dict[str, list[float]]:
    """Durations under ``root`` by span name, in the order they ran."""
    out: dict[str, list[float]] = {}
    ids = {root["id"]}
    for s in tracer.spans[root["id"] + 1:]:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.setdefault(s["name"], []).append(dur(s))
    return out


def _phases(tracer, root: dict) -> dict[str, dict]:
    return {s["name"]: s for s in tracer.spans if s["parent"] == root["id"]}


def _unattributed(tracer, phase: dict) -> float:
    """The phase span minus the calls it made."""
    return dur(phase) - sum(dur(s) for s in tracer.spans if s["parent"] == phase["id"])


def report(bench, plain: list[dict], traced: list[dict]) -> dict:
    tr = bench.tracer
    traced = sorted(traced, key=lambda p: dur(p["span"]))
    res = traced[(len(traced) - 1) // 2]
    sp = _spans(tr, res["span"])
    phases = _phases(tr, res["span"])
    counts, sizes, plans = res["counts"], res["sizes"], bench.pipe.plans

    def one(name: str) -> float:
        return sp[name][0]

    def med(name: str) -> float:
        return statistics.median(sp[name])

    m = {"session.start_s": (bench.session_s[0], "s")}
    m["generate.s"] = (one("generate"), "s")
    m["generate.cells"] = (counts["generate.cells"], "count")
    write = "table.write_bucketed" if bench.wl.bucketed else "table.write_cells"
    m[f"{write}_s"] = (one(write), "s")
    m[f"{write}_self_s"] = (one(write) - one("generate"), "s")
    m[f"{write}_files"] = (sizes["kv0"][1], "count")
    if bench.wl.delta_rounds:
        m["table.write_delta_s"] = (med("table.write_delta"), "s")
        m["table.write_merged_s"] = (med("table.write_merged"), "s")
        m["table.write_merged_self_s"] = (statistics.median(
            w - u for w, u in zip(sp["table.write_merged"], sp["table.upsert"])), "s")
        m["table.upsert_s"] = (med("table.upsert"), "s")
        m["table.upsert_cells_out"] = (counts["table.upsert_cells_out"], "count")
        m["table.upsert_exchanges"] = (plans["upsert"], "count")

    scan, cells, render, typed = (one(n) for n in
                                  ("scan.read_kv", "pivot.cells", "pivot.render", "pivot.typed"))
    m["scan.read_kv_s"] = (scan, "s")
    m["scan.cells"] = (counts["scan.cells"], "count")
    m["pivot.cells_s"] = (cells, "s")
    m["pivot.self_s"] = (cells - scan, "s")
    m["pivot.rows_out"] = (counts["pivot.rows_out"], "count")
    m["pivot.cells_per_row"] = (counts["scan.cells"] / counts["pivot.rows_out"], "cells/row")
    m["pivot.exchanges"] = (plans["pivot"], "count")
    m["pivot.render_s"] = (render, "s")
    m["pivot.render_self_s"] = (render - cells, "s")
    m["codec.decode_s"] = (typed, "s")
    m["codec.decode_self_s"] = (typed - cells, "s")
    for fmt in FORMATS:
        w = one(f"writers.{fmt}")
        m[f"writers.{fmt}_s"] = (w, "s")
        m[f"writers.{fmt}_self_s"] = (w - (render if fmt in ("text", "seq") else typed), "s")
        m[f"writers.{fmt}_mb"] = (sizes[fmt][0] / 1e6, "MB")
        m[f"writers.{fmt}_files"] = (sizes[fmt][1], "count")
    for fmt in FORMATS:
        m[f"readers.{fmt}_s"] = (one(f"readers.{fmt}"), "s")
    enc, dec = _avrolite_rates(bench.work)
    m["avrolite.encode_rows_per_s"] = (enc, "1/s")
    m["avrolite.decode_rows_per_s"] = (dec, "1/s")

    plain_phase = [{s["name"]: dur(s) for s in _phases(tr, p["span"]).values()} for p in plain]
    for phase in bench.wl.phases:
        m[f"{phase}.unattributed_s"] = (_unattributed(tr, phases[phase]), "s")
        untraced = statistics.median(p[phase] for p in plain_phase)
        m[f"{phase}.trace_overhead_s"] = (dur(phases[phase]) - untraced, "s")
    return m
