"""Export-pipeline benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload export_wide --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The run pins its own environment (cores,
driver memory, scratch directories inside ``perfbench/.work``), sets up
several times and reports the median set-up, then runs pipeline passes
until ``--seconds`` have passed and reports the median of each phase. Every
output is checked against DuckDB. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer ones.
See README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MIN_PASSES = 3


def _host_mem_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _loadavg() -> str:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return " ".join(fh.read().split()[:3])


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def pin_environment(work: str) -> dict:
    """Cores, driver heap, scratch dirs and the workers' import path."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = max(1024, min(4096, _host_mem_mb() // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    })
    return {
        "nproc": cpus,
        "driver_mem": f"{mem_mb}m",
        "extra_conf": {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    }


class Bench:
    """Set-up and measurement of one workload in one session."""

    def __init__(self, wl, seed: int, work: str, extra_conf: dict, trace: bool) -> None:
        import pipeline
        from tracing import Tracer

        self.wl, self.seed, self.work, self.trace = wl, seed, work, trace
        self.extra_conf = extra_conf
        self.ops = pipeline.Ops()
        self.tracer = Tracer()
        self.spark = None
        self.pipe = None
        self.setup_s: list[float] = []
        self.session_s: list[float] = []

    def setup(self, rep: int) -> None:
        """Session start, DuckDB oracle, and one warm-up pass on ~1/15 of the cells."""
        import oracle
        import pipeline
        from hbase_tohdfs_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.extra_conf)
        self.session_s.append(time.perf_counter() - t0)
        wl = self.wl
        expected = oracle.expected(wl.tasks, wl.records, wl.delta_rounds, self.seed)
        small = wl.warmup()
        small_expected = oracle.expected(small.tasks, small.records, small.delta_rounds, self.seed)
        t_oracle = time.perf_counter() - t0 - self.session_s[-1]
        warm = pipeline.Pipeline(self.spark, self.work, small, self.seed, small_expected,
                                 self.ops, self.tracer, concurrent=True)
        warm.run_pass(f"w{rep}", probes=self.trace)
        self.pipe = pipeline.Pipeline(self.spark, self.work, wl, self.seed, expected,
                                      self.ops, self.tracer)
        self.setup_s.append(time.perf_counter() - t0)
        print(f"setup {rep}: {self.setup_s[-1]:.3f}s (session {self.session_s[-1]:.3f}s,"
              f" oracle {t_oracle:.3f}s)", file=sys.stderr)

    def measure(self, seconds: float) -> tuple[list[dict], list[dict]]:
        """Passes until ``seconds`` have passed: (untraced, traced). A traced
        run spends the first half untraced, to give the tracing overhead."""
        start = time.perf_counter()
        plain: list[dict] = []
        traced: list[dict] = []

        def run(probes: bool) -> dict:
            from tracing import dur

            n = len(plain) + len(traced)
            res = self.pipe.run_pass(f"p{n}", probes=probes, keep=n == 0)
            phases = {s["name"]: dur(s) for s in self.tracer.spans
                      if s["parent"] == res["span"]["id"]}
            print(f"pass {n}{' traced' if probes else ''}: "
                  + " ".join(f"{k}={v:.3f}" for k, v in phases.items()), file=sys.stderr)
            return res

        def more(until: float, passes: list[dict]) -> bool:
            return len(passes) < MIN_PASSES or time.perf_counter() - start < until

        while more(seconds / 2 if self.trace else seconds, plain):
            plain.append(run(False))
        while self.trace and (not traced or time.perf_counter() - start < seconds):
            traced.append(run(True))
        self.pipe.full_check("p0")
        self.pipe.cleanup("p0")
        return plain, traced


def end_to_end(bench: Bench, passes: list[dict]) -> dict:
    """Per phase, the sum over its calls of each call's median over the
    passes; plus set-up and output size."""
    from pipeline import FORMATS
    from tracing import dur

    roots = {p["span"]["id"] for p in passes}
    phases = {s["id"]: s["name"] for s in bench.tracer.spans if s["parent"] in roots}
    calls: dict[str, dict[tuple, list[float]]] = {}  # phase -> (call, nth in pass) -> times
    seen: dict[tuple, int] = {}
    for s in bench.tracer.spans:
        if s["parent"] in phases:
            nth = seen[s["parent"], s["name"]] = seen.get((s["parent"], s["name"]), -1) + 1
            calls.setdefault(phases[s["parent"]], {}).setdefault((s["name"], nth), []).append(dur(s))
    m = {"setup_s": (statistics.median(bench.setup_s), "s")}
    for phase in bench.wl.phases:
        m[f"{phase}_s"] = (sum(statistics.median(v) for v in calls[phase].values()), "s")
    m["output_mb"] = (statistics.median(
        sum(p["sizes"][fmt][0] for fmt in FORMATS) for p in passes) / 1e6, "MB")
    return m


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hbase_tohdfs_spark")):
        print(f"perfbench: no hbase_tohdfs_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import layers
    import pipeline

    if args.workload not in pipeline.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(pipeline.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work)
    env = pin_environment(work)
    load_start, ticks_start = _loadavg(), _cpu_ticks()
    bench = Bench(pipeline.WORKLOADS[args.workload], args.seed, work, env["extra_conf"],
                  bool(args.trace))
    metrics: dict = {}
    try:
        for rep in range(SETUP_REPS):
            bench.setup(rep)
        plain, traced = bench.measure(args.seconds)
        if args.trace:
            metrics = layers.report(bench, plain, traced)
        else:
            metrics = end_to_end(bench, plain)
    except Exception:
        traceback.print_exc()
        bench.ops.failed += 1
        bench.ops.attempted += 1
    finally:
        stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    for err in bench.ops.errors:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    steal, total = (end - begin for end, begin in zip(_cpu_ticks(), ticks_start))
    print(f"host nproc={env['nproc']} driver_mem={env['driver_mem']} "
          f"loadavg_start={load_start} loadavg_end={_loadavg()} "
          f"cpu_steal={100 * steal / max(total, 1):.1f}%")
    if args.trace:
        print("spans " + json.dumps(bench.tracer.spans))
    ok = bench.ops.failed == 0
    print(json.dumps({
        "correct": ok,
        "attempted": bench.ops.attempted,
        "failed": bench.ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
