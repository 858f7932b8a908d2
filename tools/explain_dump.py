"""Dump `.explain("formatted")` for registry queries to per-query files.

The optimization-round deliverable: `plans/r12/<query>_<tag>.txt` holds
the formatted physical plan for every query a round touches, captured
before and after the change, so plan claims in OPTIMIZATION_r12.md are
checkable without running Spark.

Uses the same lazy-plans environment as tools/dump_plans.py so operator
queries keep their executable plan (no eager materialization) and
fan-out conf scopes leave their executed-shape confs applied for the
explain.

Usage: python tools/explain_dump.py OUTDIR TAG [query ...]
       (no query args = every non-streaming registry query)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

STREAMING = {
    "stream_hourly_rollup",
    "stream_last_event_by_user",
    "stream_lww_custom_state",
    "stream_kmv_distinct",
    "stream_hll_distinct",
    "stream_cms_counts",
    "stream_dedup_events",
    "stream_session_window",
    "stream_interval_join",
}


def main() -> None:
    outdir = sys.argv[1]
    tag = sys.argv[2]
    names = sys.argv[3:]

    os.environ["SPARK_GRAFT_LAZY_PLANS"] = "1"

    from hbase_tohdfs_spark.queries import REGISTRY
    from hbase_tohdfs_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="explain_dump")
    if not names:
        names = [n for n in REGISTRY if n not in STREAMING]
    for name in names:
        if name in STREAMING:
            print(f"[skip-streaming] {name}")
            continue
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf_dir}\n")
            fh.write(plan if plan.endswith("\n") else plan + "\n")
        print(f"[ok] {path}")
    spark.stop()


if __name__ == "__main__":
    main()
