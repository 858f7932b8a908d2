"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark at a scale factor and its
``oracle_sql()`` twin in DuckDB over the same parquet tables, then compares
row count, column names, and sorted values.

The value compare is DTYPE-STRICT, mirroring the driver's hash: the driver
stringifies materialized pandas values, so an int64 ``1234`` and a float64
``1234.0`` are DIFFERENT even though Python ``==`` says equal (the round-2
``conditional_agg_priority`` failure: DuckDB ``sum(CASE…)`` -> HUGEINT ->
pandas float64 vs Spark int64).  Every value is rendered as a type-tagged
string before comparison; a tolerant numeric pass runs only as a
diagnostic, and a query that passes tolerantly but fails strictly is
reported as a DRIVER FAILURE.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import sys

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canonical(v) -> str:
    """Type-tagged rendering: two values compare equal only if the driver's
    dtype-faithful stringification would render them identically."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "@null"
    if isinstance(v, (float, np.floating)) and math.isnan(v):
        return "@null"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        return f"f:{float(v)!r}"
    if isinstance(v, decimal.Decimal):
        # raw Decimal output violates the repo convention (cast to double
        # or stringify); tag it so the mismatch is visible
        return f"dec:{v}"
    if isinstance(v, (bytes, bytearray)):
        return f"y:{bytes(v).hex()}"
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        return f"ts:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, _dt.date):
        # date vs midnight-timestamp is a cross-engine rendering hazard;
        # keep them distinct so raw DATE columns get flagged and stringified
        return f"date:{v.isoformat()}"
    if isinstance(v, np.ndarray):
        return "[" + ",".join(canonical(x) for x in v) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canonical(x) for x in v) + "]"
    if isinstance(v, str):
        return f"s:{v}"
    return f"{type(v).__name__}:{v}"


def _loose(v):
    """Tolerant normalization for the diagnostic pass only."""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def compare(name, spark_df, con, oracle_sql):
    sdf = spark_df.toPandas()
    odf = con.execute(oracle_sql).df()
    problems = []
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    if s_cols != o_cols:
        problems.append(f"columns differ: spark={s_cols} oracle={o_cols}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
    s_rows = sorted(
        tuple(canonical(v) for v in row)
        for row in sdf[s_cols].itertuples(index=False)
    )
    o_rows = sorted(
        tuple(canonical(v) for v in row)
        for row in odf[o_cols].itertuples(index=False)
    )
    strict_mism = sum(a != b for a, b in zip(s_rows, o_rows))
    if not strict_mism and len(s_rows) == len(o_rows):
        return problems
    for a, b in zip(s_rows, o_rows):
        if a != b:
            problems.append(f"strict row mismatch:\n  spark : {a}\n  oracle: {b}")
            if len([p for p in problems if p.startswith("strict")]) >= 3:
                break
    problems.append(f"{strict_mism} strict-mismatching rows (of {len(s_rows)})")

    # diagnostic: would a tolerant (1e-9 float) compare have passed?
    sl = sorted(
        (tuple(_loose(v) for v in row) for row in sdf[s_cols].itertuples(index=False)),
        key=str,
    )
    ol = sorted(
        (tuple(_loose(v) for v in row) for row in odf[o_cols].itertuples(index=False)),
        key=str,
    )
    tol_ok = len(sl) == len(ol)
    max_d = 0.0
    if tol_ok:
        for a, b in zip(sl, ol):
            for x, y in zip(a, b):
                if isinstance(x, float) and isinstance(y, float):
                    d = abs(x - y)
                    max_d = max(max_d, d)
                    if d > 1e-9:
                        tol_ok = False
                elif x != y:
                    tol_ok = False
            if not tol_ok:
                break
    if tol_ok:
        problems.append(
            "values are numerically equal but DTYPE/RENDERING differs -> "
            "the DRIVER'S HASH WILL FAIL (e.g. int64 vs float64, date vs "
            f"timestamp); max float delta {max_d:.2e}"
        )
    return problems


def main() -> int:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            raise SystemExit("usage: --json OUT requires a path argument")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from hbase_tohdfs_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")
    con = duck_connection(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    record = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                n = df.count()
                print(f"[rows-only] {name}: {n} rows")
                record[name] = {"ok": True, "rows_only": True, "rows": n}
                continue
            problems = compare(name, df, con, oracles[name])
        except Exception as exc:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(exc).__name__}: {exc}"]
        record[name] = {"ok": not problems, "problems": problems[:4]}
        if problems:
            failed.append(name)
            print(f"[FAIL] {name}")
            for p in problems:
                print(f"   {p}")
        else:
            print(f"[ok]   {name}")
    print(f"\n{len(failed)} failures: {failed}" if failed else "\nall queries match")
    if json_out:
        import json as _json

        payload = {
            "sf_dir": sf_dir,
            "n_checked": len(record),
            "n_failed": len(failed),
            "results": record,
        }
        with open(json_out, "w") as fh:
            _json.dump(payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
