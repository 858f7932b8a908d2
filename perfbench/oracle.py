"""Expected outputs from DuckDB, and the matching digests of Spark outputs.

Every output is compared by row count and an order-independent digest: the
sum over rows of the first 32 bits of ``md5(line)``. Spark computes it with
``conv(substr(md5(line), 1, 8), 16, 10)``, DuckDB with
``('0x' || substr(md5(line), 1, 8))::BIGINT``.

The cells come from ``generate.populate_cells_oracle_sql``, the deltas and
the last-write-wins merges are rebuilt here in SQL, independently of the
Spark code under test.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_tohdfs_spark import generate

COLS = ["C1", "C3", "C4", "C5", "C6", "C7", "C8"]
DELTA_MULT = 2654435761
DELTA_MOD = 1000003


def run_id(seed: int) -> str:
    return f"s{seed % 1_000_000:06d}"


def delta_ts_offset(cells: int, seed: int, rnd: int) -> int:
    """Round ``rnd`` stamps its cells after the base and every earlier round."""
    return rnd * cells + 1 + seed % 997


def delta_filter_sql(rnd: int) -> str:
    """About a tenth of the cells, a different tenth each round."""
    return f"((ts * {DELTA_MULT + 2 * rnd}) % {DELTA_MOD}) % 10 = 0"


# ---------------------------------------------------------------- Spark side
def spark_cell_line():
    return F.concat_ws(
        "|", "row_key", "qualifier", F.col("value").cast("string"), F.col("ts").cast("string")
    )


def spark_row_line():
    return F.concat_ws("|", *[F.coalesce(F.col(c), F.lit("")) for c in COLS])


def spark_digest(df: DataFrame, line) -> tuple[int, int]:
    h = F.conv(F.substring(F.md5(line), 1, 8), 16, 10).cast("long")
    n, d = df.agg(F.count(F.lit(1)), F.coalesce(F.sum(h), F.lit(0))).first()
    return int(n), int(d)


# ---------------------------------------------------------------- DuckDB side
_CELL_LINE = "concat_ws('|', row_key, qualifier, value_str, CAST(ts AS VARCHAR))"
_ROW_LINE = "concat_ws('|', " + ", ".join(f'coalesce("{c}", \'\')' for c in COLS) + ")"


def _digest(con, table: str, line: str, where: str = "TRUE") -> tuple[int, int]:
    n, d = con.execute(
        f"SELECT count(*), coalesce(sum(('0x' || substr(md5({line}), 1, 8))::BIGINT), 0)"
        f" FROM {table} WHERE {where}"
    ).fetchone()
    return int(n), int(d)


def expected(tasks: int, records: int, delta_rounds: int, seed: int) -> dict:
    """(rows, digest) of every output of one pass, keyed by output name:
    the base table ``kv0``, each delta ``d<r>`` and merged table ``kv<r>``,
    the delimited ``lines`` (text, seq) and the typed ``rows`` (avro,
    parquet, orc) exported from the last merged table."""
    cells = tasks * records * 10
    out = {}
    with duckdb.connect() as con:
        con.execute(
            "CREATE TABLE kv0 AS "
            + generate.populate_cells_oracle_sql(tasks, records, run_id(seed))
        )
        out["kv0"] = _digest(con, "kv0", _CELL_LINE)
        for r in range(1, delta_rounds + 1):
            con.execute(
                f"CREATE TABLE d{r} AS SELECT row_key, cf, qualifier,"
                f" value_str || ':u{r}' AS value_str,"
                f" ts + {delta_ts_offset(cells, seed, r)} AS ts"
                f" FROM kv0 WHERE {delta_filter_sql(r)}"
            )
            con.execute(
                f"CREATE TABLE kv{r} AS SELECT row_key, cf, qualifier,"
                f" arg_max(value_str, ts) AS value_str, max(ts) AS ts"
                f" FROM (SELECT * FROM kv{r - 1} UNION ALL SELECT * FROM d{r})"
                f" GROUP BY row_key, cf, qualifier"
            )
            out[f"d{r}"] = _digest(con, f"d{r}", _CELL_LINE)
            out[f"kv{r}"] = _digest(con, f"kv{r}", _CELL_LINE)
        pivots = ", ".join(
            f"arg_max(value_str, ts) FILTER (WHERE qualifier = '{c}') AS \"{c}\""
            for c in COLS
        )
        con.execute(
            f"CREATE TABLE wide AS SELECT row_key, {pivots}"
            f" FROM kv{delta_rounds} WHERE cf = 'c' GROUP BY row_key"
        )
        out["lines"] = _digest(con, "wide", _ROW_LINE)
        any_cell = " OR ".join(f'"{c}" IS NOT NULL' for c in COLS)
        out["rows"] = _digest(con, "wide", _ROW_LINE, any_cell)
    return out
