"""Query registry: every SURVEY.md §2 operator as a (spark_fn, oracle_sql) pair.

Each entry is ``name -> QuerySpec(fn, oracle)`` where ``fn(spark, sf_dir)``
builds the DataFrame with the engine's operators and ``oracle`` is the
ANSI-SQL equivalent DuckDB runs on the same parquet tables (views
``region nation customer supplier part orders lineitem events documents
embeddings`` are pre-registered by the driver).  Column names/aliases match
exactly — the driver's compare sorts columns by name before hashing.

Conventions for hash-stable results:
* double aggregates are rounded (2 decimals) on BOTH sides;
* timestamps are rendered with an explicit format on BOTH sides;
* every ordering used under a LIMIT carries a unique tiebreak key.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_tohdfs_spark import generate
from hbase_tohdfs_spark.model import parse_avro_schema_json
from hbase_tohdfs_spark.operators import pivot as piv
from hbase_tohdfs_spark.operators import unpivot as unp
from hbase_tohdfs_spark.sources import scan


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> driver runs rows-only check


# Tables whose consumers are compute-bound map stages (unpivot/encode,
# per-document hashing, per-vector products): fan the scan out when the
# file layout under-splits (see sources/scan.py) so those stages use the
# whole cluster instead of one row-group's worth of tasks.
_FANOUT_TABLES = {"lineitem", "events", "documents", "embeddings"}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name in _FANOUT_TABLES:
        return scan.read_parallel(spark, path)
    return spark.read.parquet(path)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's ``ts`` storage type has varied across testdata
    generations (TIMESTAMP(NANOS) -> long under the legacy conf, now
    TIMESTAMP(MICROS) -> TIMESTAMP_NTZ); normalize to TimestampType under
    a UTC session zone so downstream operators and the DuckDB oracles
    (naive ``epoch_us`` arithmetic) agree regardless of generation."""
    from hbase_tohdfs_spark.session import (
        ensure_nanos_as_long,
        ensure_utc,
        normalize_event_ts,
    )

    ensure_nanos_as_long(spark)
    ensure_utc(spark)
    return normalize_event_ts(_t(spark, sf_dir, "events"))


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --------------------------------------------------------------------------
# Reference surface: the pivot family (SURVEY §2.2)
# --------------------------------------------------------------------------
def q_pivot_last_event_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2: pivot narrow cells to wide with last-write-wins.

    The `events` table plays the HBase scan: each event is a cell
    ``(row_key=user_id, qualifier=event_type, value, ts)``; the wide row
    holds each user's most recent value per event type.
    """
    events = _events(spark, sf_dir)
    cells = events.select(
        F.col("user_id").cast("string").alias("row_key"),
        F.lit("c").alias("cf"),
        F.col("event_type").alias("qualifier"),
        F.col("value").cast("string").cast("binary").alias("value"),
        F.unix_micros(F.col("ts")).alias("ts"),
    )
    wide = piv.pivot_cells(cells, EVENT_TYPES)
    return wide.select(
        "row_key",
        *[F.col(c).cast("string").cast("double").alias(c) for c in EVENT_TYPES],
    )


_PIVOT_LAST_EVENT_ORACLE = (
    "SELECT CAST(user_id AS VARCHAR) AS row_key, "
    + ", ".join(
        f"arg_max(value, epoch_us(ts)) FILTER (WHERE event_type = '{t}') AS {t}"
        for t in EVENT_TYPES
    )
    + " FROM events GROUP BY user_id"
)


_KV_ROUNDTRIP_SCHEMA = parse_avro_schema_json(
    """{"type":"record","name":"Lineitem","fields":[
        {"name":"l_partkey","type":"long"},
        {"name":"l_suppkey","type":"long"},
        {"name":"l_linenumber","type":"int"},
        {"name":"l_returnflag","type":"string"},
        {"name":"l_linestatus","type":"string"}]}"""
)


def q_pivot_kv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P3+P5: typed round-trip lineitem -> BE-encoded cells -> pivot ->
    decode.  Exercises the Bytes.toInt/toLong codec end-to-end."""
    li = _t(spark, sf_dir, "lineitem")
    # No subset of lineitem columns is guaranteed unique in this synthetic
    # data, so the row key covers every projected column: colliding keys
    # then carry identical cell values and the pivot's merge is exactly
    # SELECT DISTINCT of the projection.
    row_key = F.concat_ws(
        "-",
        F.lpad(F.col("l_orderkey").cast("string"), 10, "0"),
        F.lpad(F.col("l_linenumber").cast("string"), 2, "0"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
    )
    cells = unp.typed_cells(
        li,
        row_key,
        ["l_partkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_linestatus"],
    )
    return piv.pivot_typed(cells, _KV_ROUNDTRIP_SCHEMA, drop_empty=True)


_KV_ROUNDTRIP_ORACLE = """
    SELECT DISTINCT
           lpad(CAST(l_orderkey AS VARCHAR), 10, '0') || '-'
             || lpad(CAST(l_linenumber AS VARCHAR), 2, '0') || '-'
             || CAST(l_partkey AS VARCHAR) || '-'
             || CAST(l_suppkey AS VARCHAR) || '-'
             || l_returnflag || '-' || l_linestatus AS row_key,
           l_partkey, l_suppkey, l_linenumber, l_returnflag, l_linestatus
    FROM lineitem
"""


def q_export_delimited_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: the delimited-text sink's exact line rendering (pivot -> typed
    decode -> '|'-joined line with empty string for NULL), checked as a
    query so the oracle verifies byte-for-byte line format."""
    from hbase_tohdfs_spark.operators.pivot import render_delimited

    wide = q_pivot_kv_roundtrip(spark, sf_dir)
    cols = [
        "row_key",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
    ]
    return render_delimited(wide, cols, "|")


_EXPORT_LINES_ORACLE = """
    SELECT concat_ws('|',
             lpad(CAST(l_orderkey AS VARCHAR), 10, '0') || '-'
               || lpad(CAST(l_linenumber AS VARCHAR), 2, '0') || '-'
               || CAST(l_partkey AS VARCHAR) || '-'
               || CAST(l_suppkey AS VARCHAR) || '-'
               || l_returnflag || '-' || l_linestatus,
             CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR),
             CAST(l_linenumber AS VARCHAR), l_returnflag, l_linestatus
           ) AS line
    FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                          l_returnflag, l_linestatus FROM lineitem)
"""


def q_pivot_projection_rowkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4: projection drops undeclared qualifiers; the virtual row-key
    column materializes the key when no cell provides it."""
    events = _events(spark, sf_dir)
    cells = unp.unpivot_to_cells(
        events,
        F.col("event_id"),
        ["event_type", "props"],  # 'props' exists but is NOT in the schema
    )
    wide = piv.pivot_cells(cells, ["rk", "event_type"], row_key_col="rk")
    return wide.select(
        "row_key",
        F.col("rk").cast("string").alias("rk"),
        F.col("event_type").cast("string").alias("event_type"),
    )


_PIVOT_PROJECTION_ORACLE = """
    SELECT CAST(event_id AS VARCHAR) AS row_key,
           CAST(event_id AS VARCHAR) AS rk,
           event_type
    FROM events
"""


def q_generator_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: the deterministic PopulateTable generator (2 tasks x 500 rows),
    cell values stringified for comparison."""
    cells = generate.populate_cells(spark, 2, 500, "bench")
    return cells.select(
        "row_key",
        "cf",
        "qualifier",
        F.col("value").cast("string").alias("value_str"),
        "ts",
    )


def q_kv_upsert_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5+P2 extension: LWW upsert/compaction — merge a later delta batch
    (same run id, overlapping row keys, ts offset +100000 so every
    colliding cell is overwritten) into the base table and keep the
    newest version per cell coordinate.  The KV analogue of MERGE, and
    the batch form of an HBase major compaction."""
    from hbase_tohdfs_spark import table as tbl

    base = generate.populate_cells(spark, 2, 500, "bench")
    delta = generate.populate_cells(spark, 1, 200, "bench").withColumn(
        "ts", F.col("ts") + F.lit(100000)
    )
    merged = tbl.upsert_cells(base, delta)
    return merged.select(
        "row_key",
        "cf",
        "qualifier",
        F.col("value").cast("string").alias("value_str"),
        "ts",
    )


_KV_UPSERT_ORACLE = f"""
    WITH base AS ({generate.populate_cells_oracle_sql(2, 500, "bench")}),
    delta AS (SELECT row_key, cf, qualifier, value_str, ts + 100000 AS ts
              FROM ({generate.populate_cells_oracle_sql(1, 200, "bench")})),
    allc AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
    m AS (SELECT row_key, cf, qualifier,
                 max({{'t': ts, 'v': value_str}}) AS mx
          FROM allc GROUP BY 1, 2, 3)
    SELECT row_key, cf, qualifier, mx.v AS value_str, mx.t AS ts
    FROM m
"""


def q_reader_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6: the console-reader limit — the reference's only top-k."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy("o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


_READER_LIMIT_ORACLE = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 2) AS o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           o_orderpriority
    FROM orders ORDER BY o_orderkey LIMIT 10
"""


# --------------------------------------------------------------------------
# Analytics headliners (TPC-H-style) — the "query engine" capability the
# north star adds on the reference's floor; also the bench workload.
# --------------------------------------------------------------------------
def _dsum(expr, alias: str, scale: int = 2):
    """Order-independent money sum: double expr -> DECIMAL(38,6) -> exact
    decimal sum -> double -> round.  Plain double sums change their last
    2-decimal digit with partitioning/summation order at ~10^6 rows;
    decimal accumulation is exact so every partitioning agrees (and the
    DuckDB oracle replays the identical cast chain)."""
    return F.round(
        F.sum(expr.cast("decimal(38,6)")).cast("double"), scale
    ).alias(alias)


def _cents(col: str):
    """Exact integer 'cents' sum of a <=2-decimal column: double ->
    DECIMAL(18,2) (unambiguous for money/quantity values) -> *100 -> BIGINT.
    The sum is then exact integer arithmetic in both Spark and DuckDB."""
    return F.sum((F.col(col).cast("decimal(18,2)") * 100).cast("long"))


def _exact_avg(cents_col: str, n_col: str, out_decimals: int):
    """round_half_up(avg, d) computed entirely in BIGINT so Spark and the
    DuckDB oracle agree bit-for-bit.  round(a/b, d) for a positive cents
    sum a and count b is (2*a*10^(d-2) + b) DIV (2*b), then /10^d.
    (Decimal division is no alternative: DuckDB promotes DECIMAL/BIGINT to
    DOUBLE, and round(double, .xx5) differs between the engines.)"""
    m = 10 ** (out_decimals - 2)
    q = F.expr(f"(2 * {m} * {cents_col} + {n_col}) DIV (2 * {n_col})")
    return q.cast("double") / (10**out_decimals)


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc, "sum_disc_price"),
            _dsum(disc * (1 + F.col("l_tax")), "sum_charge"),
            _cents("l_quantity").alias("_qty_c"),
            _cents("l_extendedprice").alias("_price_c"),
            _cents("l_discount").alias("_disc_c"),
            n.alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            _exact_avg("_qty_c", "count_order", 2).alias("avg_qty"),
            _exact_avg("_price_c", "count_order", 2).alias("avg_price"),
            _exact_avg("_disc_c", "count_order", 4).alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_TPCH_Q1_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 2)
             AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,6))) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                              AS DECIMAL(38,6))) AS DOUBLE), 2) AS sum_charge,
           CAST((2 * sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
                 + count(*)) // (2 * count(*)) AS DOUBLE) / 100 AS avg_qty,
           CAST((2 * sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                 + count(*)) // (2 * count(*)) AS DOUBLE) / 100 AS avg_price,
           CAST((200 * sum(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
                 + count(*)) // (2 * count(*)) AS DOUBLE) / 10000 AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + top-k.  `customer` is tiny at every SF -> broadcast."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_TPCH_Q3_ORACLE = """
    SELECT l_orderkey,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-way join through the dimension chain; small dims broadcast."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        j.groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


_TPCH_Q5_ORACLE = """
    SELECT n_name,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


_TPCH_Q6_ORACLE = """
    SELECT round(CAST(sum(CAST(l_extendedprice * l_discount
                              AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average)
    decorrelated into an aggregate + self-join; small-quantity outliers'
    revenue."""
    li = _t(spark, sf_dir, "lineitem")
    thr = li.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.sum("l_quantity") / F.count(F.lit(1))).alias("thr")
    )
    dsum = F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double")
    return (
        li.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("thr"))
        .agg(F.round(dsum / 7.0, 2).alias("avg_yearly"))
    )


_TPCH_Q17_ORACLE = """
    WITH thr AS (SELECT l_partkey AS pk,
                        0.5 * sum(l_quantity) / count(*) AS thr
                 FROM lineitem GROUP BY l_partkey)
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
                 / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN thr ON l_partkey = pk
    WHERE l_quantity < thr
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery decorrelated to a left-semi join.

    This schema has no ``l_commitdate``/``l_receiptdate``, so the "late
    line item" predicate becomes l_shipdate > o_orderdate + 60 days.  The
    semi-join shuffles both sides on the order key and keeps only order
    columns — no row multiplication, no dedup step.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_TPCH_Q4_ORACLE = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue report.  Fact-side filters
    (date window on orders, returnflag on lineitem) are applied before the
    fact-fact join; customer and nation broadcast at every SF that matters
    (customer is ~1.5k rows/SF-0.01; at 100 TB customer would exceed the
    broadcast threshold and AQE falls back to a shuffle join on its own)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    # Cast each FACTOR to decimal before multiplying (not the double
    # product): price and discount are 2-decimal quantities whose
    # double->decimal(…,6) conversion is unambiguous, and the decimal
    # multiply is then exact — whereas casting the double product can
    # round its 6th decimal differently across engines and flip a
    # rounded cent when a group's sum sits on a .xx5 boundary.
    rev = F.col("l_extendedprice").cast("decimal(18,6)") * (
        1 - F.col("l_discount")
    ).cast("decimal(18,6)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # Round while still in decimal (exact, HALF_UP in both engines),
        # THEN cast to double: round(double, 2) itself diverges across
        # engines when the true sum's 3rd decimal is exactly 5.
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_TPCH_Q10_ORACLE = """
    SELECT c_custkey, c_name, n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * CAST(1 - l_discount AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional aggregation over
    a broadcast dimension join.  Both sums accumulate in DECIMAL(38,6)
    (partitioning-independent) and only the final ratio is computed in
    double."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-03-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,6)"
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(38,6)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double"),
                2,
            ).alias("promo_share")
        )
    )


_TPCH_Q14_ORACLE = """
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                 ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,6))) AS DOUBLE), 2) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-03-01'
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — IN-subquery with HAVING,
    expressed as aggregate-then-join.  The per-order quantity rollup
    shuffles once on l_orderkey; the filtered survivor set joins orders on
    the same key and customer by broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double"), 2
            ).alias("total_qty")
        )
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


_TPCH_Q18_ORACLE = """
    WITH big AS (
      SELECT l_orderkey AS ok,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 2)
               AS total_qty
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           o_totalprice, total_qty
    FROM big
    JOIN orders ON o_orderkey = ok
    JOIN customer ON o_custkey = c_custkey
    WHERE total_qty > 150
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
"""


def _rev_dec():
    """price·(1−discount) with each FACTOR cast to decimal — the
    cross-engine-exact money expression (see q_tpch_q10 for why the
    double product must not be cast)."""
    return F.col("l_extendedprice").cast("decimal(18,6)") * (
        1 - F.col("l_discount")
    ).cast("decimal(18,6)")


_REV_DEC_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,6))"
    " * CAST(1 - l_discount AS DECIMAL(18,6))"
)


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade between two
    nations by year.  The nation dim plays two roles (supplier side,
    customer side) — broadcast twice under different aliases; the
    cross-nation OR filter lands on broadcast-join outputs, so the only
    shuffles are the two fact joins and the final small agg."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_rev_dec()), 2).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_TPCH_Q7_ORACLE = f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(round(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year, l_extendedprice, l_discount
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_3's share of
    ECONOMY-part revenue sold into AMERICA, by order year.  Numerator and
    denominator are exact decimal sums; the share divides them as
    doubles (identical inputs → identical IEEE result in both engines)
    and both raw sums ride along so the ratio is auditable."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cr_key") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
    )
    vol = _rev_dec()
    target = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    agg = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(target).alias("num_dec"), F.sum(vol).alias("den_dec")
    )
    return agg.select(
        "o_year",
        F.round(
            F.col("num_dec").cast("double") / F.col("den_dec").cast("double"), 4
        ).alias("mkt_share"),
        F.round(F.col("num_dec"), 2).cast("double").alias("nation_volume"),
        F.round(F.col("den_dec"), 2).cast("double").alias("total_volume"),
    ).orderBy("o_year")


_TPCH_Q8_ORACLE = f"""
    WITH j AS (
      SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
             {_REV_DEC_SQL} AS vol
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'),
    agg AS (
      SELECT o_year,
             sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS num_dec,
             sum(vol) AS den_dec
      FROM j GROUP BY o_year)
    SELECT o_year,
           round(CAST(num_dec AS DOUBLE) / CAST(den_dec AS DOUBLE), 4)
             AS mkt_share,
           CAST(round(num_dec, 2) AS DOUBLE) AS nation_volume,
           CAST(round(den_dec, 2) AS DOUBLE) AS total_volume
    FROM agg ORDER BY o_year
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join so
    zero-order customers survive, then a histogram of counts.  Two
    aggregations, both keyed; the first groups the join output on
    c_custkey, the second is over ~distinct-count rows (tiny)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_TPCH_Q13_ORACLE = """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    keep the supplier(s) hitting the global maximum.  The max is a
    1-row broadcast joined back on exact DECIMAL equality (the rounded
    decimal is exact in both engines; double equality would be a trap)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(_rev_dec()), 2).alias("total_dec")
    )
    top = rev.agg(F.max("total_dec").alias("max_dec"))
    return (
        rev.join(F.broadcast(top), rev.total_dec == top.max_dec)
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_TPCH_Q15_ORACLE = f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             round(sum({_REV_DEC_SQL}), 2) AS total_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_dec AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON supplier_no = s_suppkey
    WHERE total_dec = (SELECT max(total_dec) FROM rev)
    ORDER BY s_suppkey
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate revenue): OR of three
    (brand, size-range, quantity-range) conjuncts across a lineitem-part
    join.  Catalyst splits the common p_partkey equi-key out of the OR so
    the join stays a hash join with the disjunction as a post-join
    filter; part-side conjuncts (brand OR'd with brand) still prune the
    broadcast build side."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#2") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(1, 15) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(F.sum(_rev_dec()), 2).cast("double").alias("revenue")
    )


_TPCH_Q19_ORACLE = f"""
    SELECT CAST(round(sum({_REV_DEC_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales opportunity): rich customers (above
    the positive-balance average) with no orders, grouped by nation.
    The average is an exact decimal sum divided as double (identical in
    both engines — a plain avg(double) varies with summation order); the
    no-orders test is a left-anti join, never NOT IN."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    rich = (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    )
    return (
        rich.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


_TPCH_Q22_ORACLE = """
    SELECT c_nationkey, count(*) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               / count(*)
        FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
"""


# --------------------------------------------------------------------------
# TPC-H completion: the 7 remaining query shapes, adapted to this schema.
# The testdata has no partsupp table, so supplier-part facts are derived
# from lineitem:  ps_supplycost = min unit price a supplier charged for the
# part, ps_availqty = total quantity that supplier shipped of it.  The sum
# is over integer-valued doubles (quantities are 1..50), so it is exact and
# summation-order-independent without a decimal cast.
# --------------------------------------------------------------------------
_PS_CTE = """ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               min(l_extendedprice / l_quantity) AS ps_supplycost,
               sum(l_quantity) AS ps_availqty
        FROM lineitem GROUP BY 1, 2)"""


def _partsupp(
    spark: SparkSession,
    sf_dir: str,
    part_filter: DataFrame | None = None,
    supp_filter: DataFrame | None = None,
) -> DataFrame:
    """The derived partsupp: one shuffle on (partkey, suppkey), reused by
    q2/q9/q11/q16.  At 100 TB this is a partial-agg-combined shuffle whose
    output is |part|x|supp-per-part| rows — far smaller than lineitem.

    ``part_filter`` / ``supp_filter`` (single-column key frames) are
    broadcast-semi-joined BELOW the aggregation: per-(part, supp) facts
    for the surviving keys are unchanged by dropping other keys' rows,
    and Catalyst cannot push a dimension filter through the agg by
    itself — doing it here shrinks the shuffle 10-100x for the selective
    queries (q2 aggregates 0.3% of lineitem instead of all of it)."""
    li = _t(spark, sf_dir, "lineitem")
    if part_filter is not None:
        li = li.join(
            F.broadcast(part_filter),
            F.col("l_partkey") == part_filter[part_filter.columns[0]],
            "left_semi",
        )
    if supp_filter is not None:
        li = li.join(
            F.broadcast(supp_filter),
            F.col("l_suppkey") == supp_filter[supp_filter.columns[0]],
            "left_semi",
        )
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "ps_supplycost"
        ),
        F.sum("l_quantity").alias("ps_availqty"),
    )


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): correlated MIN subquery
    decorrelated into a per-part min + equality join.

    Every dimension side is broadcast: the filtered part list, the
    supplier->nation->region chain, and the per-part min table (|parts
    that survive the filter| rows) — so the only shuffle is the derived
    partsupp aggregation itself.  Double equality on ps_supplycost is
    safe because both sides of the compare are the *same* stored double.
    """
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "PROMO")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    elig = (
        _partsupp(spark, sf_dir, part_filter=part.select("p_partkey"))
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    )
    mn = elig.groupBy(F.col("p_partkey").alias("pk")).agg(
        F.min("ps_supplycost").alias("mincost")
    )
    return (
        elig.join(
            F.broadcast(mn),
            (F.col("p_partkey") == F.col("pk"))
            & (F.col("ps_supplycost") == F.col("mincost")),
        )
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            F.round("ps_supplycost", 4).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_TPCH_Q2_ORACLE = f"""
    WITH {_PS_CTE},
    elig AS (
      SELECT p_partkey, ps_supplycost, s_acctbal, s_name, n_name
      FROM part JOIN ps ON p_partkey = ps_partkey
      JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE p_size = 15 AND p_type = 'PROMO' AND r_name = 'EUROPE'),
    mn AS (SELECT p_partkey AS pk, min(ps_supplycost) AS mincost
           FROM elig GROUP BY 1)
    SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
           round(ps_supplycost, 4) AS supplycost
    FROM elig JOIN mn ON p_partkey = pk AND ps_supplycost = mincost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
"""


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): the heaviest join tree in the
    suite.  lineitem joins the derived partsupp on the composite
    (partkey, suppkey) — a genuine big-big shuffle join — while part
    (LIKE-filtered), supplier, nation are broadcast; orders joins on the
    orderkey.  Profit = revenue minus sourcing cost, decimal-summed."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    ps = _partsupp(spark, sf_dir, part_filter=part.select("p_partkey"))
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(_t(spark, sf_dir, "nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    orders = _t(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dsum(amount, "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_TPCH_Q9_ORACLE = f"""
    WITH {_PS_CTE}
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              - ps_supplycost * l_quantity
                              AS DECIMAL(38,6))) AS DOUBLE), 2) AS sum_profit
    FROM lineitem
    JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): HAVING against a scalar
    subquery.  The global total is a 1-row aggregate broadcast-joined
    against the per-part values; both the per-part and global sums run
    through exact decimals so the > compare is partitioning-independent."""
    nation_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") == 2
    )
    nps = (
        _partsupp(
            spark, sf_dir, supp_filter=nation_supp.select("s_suppkey")
        )
        .join(
            F.broadcast(nation_supp),
            F.col("ps_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty"))
            .cast("decimal(38,6)")
            .alias("v"),
        )
    )
    per_part = nps.groupBy("ps_partkey").agg(F.sum("v").alias("vsum"))
    total = nps.agg(F.sum("v").cast("double").alias("tot"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("vsum").cast("double") > F.lit(0.0008) * F.col("tot"))
        .select(
            "ps_partkey",
            # round the exact decimal, THEN cast: rounding after the
            # double cast can flip a .xx5 tie differently per engine
            F.round(F.col("vsum"), 2).cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


_TPCH_Q11_ORACLE = f"""
    WITH {_PS_CTE},
    nps AS (SELECT ps_partkey,
                   CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6)) AS v
            FROM ps JOIN supplier ON ps_suppkey = s_suppkey
            WHERE s_nationkey = 2)
    SELECT ps_partkey, CAST(round(sum(v), 2) AS DOUBLE) AS value
    FROM nps GROUP BY 1
    HAVING CAST(sum(v) AS DOUBLE) >
           0.0008 * (SELECT CAST(sum(v) AS DOUBLE) FROM nps)
    ORDER BY value DESC, ps_partkey
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority mix): CASE-based
    conditional counts over an order/lineitem join.  This schema has no
    l_shipmode/commitdate/receiptdate, so "late" is shipped >90 days
    after the order date and the group key is l_returnflag."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


_TPCH_Q12_ORACLE = """
    SELECT l_returnflag,
           count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY 1 ORDER BY 1
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier-part relationship count): COUNT DISTINCT
    plus a NOT IN subquery.  The excluded-supplier list ("complaints" =
    negative balance) is NULL-free, so NOT IN is exactly a left-anti
    join — the scalable form; DuckDB keeps the literal NOT IN."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    ps = _partsupp(spark, sf_dir, part_filter=part.select("p_partkey"))
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_TPCH_Q16_ORACLE = f"""
    WITH {_PS_CTE}
    SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#5' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess inventory): nested semi-join chain.  With
    no ps_availqty column, "stock" is the quantity a supplier shipped of
    a part in 1997 vs 0.5x its 1996 shipments; suppliers of 'small%'
    parts in region 3 whose 1997 volume exceeds that bound qualify.
    Quantity sums are integer-valued doubles — exact in any order."""
    small = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    # The part restriction is semi-joined BELOW both year aggregations —
    # only 'small%' parts' lineitems are worth aggregating at all (the
    # same agg-shrinking move as _partsupp's part_filter).
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(small),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )

    def year_qty(y: int, alias: str) -> DataFrame:
        return (
            li.filter(
                (F.col("l_shipdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .groupBy(
                F.col("l_partkey").alias(f"pk{alias}"),
                F.col("l_suppkey").alias(f"sk{alias}"),
            )
            .agg(F.sum("l_quantity").alias(f"q{alias}"))
        )
    qualifying = (
        year_qty(1997, "97")
        .join(
            year_qty(1996, "96"),
            (F.col("pk97") == F.col("pk96")) & (F.col("sk97") == F.col("sk96")),
        )
        .filter(F.col("q97") > 0.5 * F.col("q96"))
        .select(F.col("sk97").alias("qual_sk"))
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(
            _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 3)
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    return (
        supp.join(
            F.broadcast(qualifying),
            F.col("s_suppkey") == F.col("qual_sk"),
            "left_semi",
        )
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


_TPCH_Q20_ORACLE = """
    WITH s96 AS (SELECT l_partkey pk, l_suppkey sk, sum(l_quantity) q96
                 FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1, 2),
    s97 AS (SELECT l_partkey pk, l_suppkey sk, sum(l_quantity) q97
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01' GROUP BY 1, 2)
    SELECT s_name, round(s_acctbal, 2) AS s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey = 3
      AND s_suppkey IN (
        SELECT s97.sk FROM s97
        JOIN s96 ON s97.pk = s96.pk AND s97.sk = s96.sk
        JOIN part ON p_partkey = s97.pk
        WHERE p_name LIKE 'small%' AND s97.q97 > 0.5 * s96.q96)
    ORDER BY s_name
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS / NOT-EXISTS double self-join, decorrelated into ONE
    per-order aggregate — count the distinct suppliers and the distinct
    *late* suppliers (shipped >60 days after the order date, standing in
    for receipt>commit); an order "waited on" exactly one supplier when
    n_supp > 1 and n_late = 1, and max(CASE) recovers that supplier
    without a second pass over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(
            _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    return (
        agg.join(F.broadcast(supp), F.col("s_suppkey") == F.col("late_supp"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


_TPCH_Q21_ORACLE = """
    WITH agg AS (
      SELECT l_orderkey AS ok,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN l_shipdate > o_orderdate
                                      + INTERVAL 60 DAY
                                 THEN l_suppkey END) AS n_late,
             max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                      THEN l_suppkey END) AS late_supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY 1)
    SELECT s_name, count(*) AS numwait
    FROM agg JOIN supplier ON s_suppkey = late_supp
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_supp > 1 AND n_late = 1 AND n_regionkey = 2
    GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100
"""


def _hour_bucket() -> F.Column:
    """The rollup family's shared hour key (full recompute, incremental
    merge, and the DuckDB oracle's strftime all render identically)."""
    return F.date_format(
        F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
    ).alias("hour")


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (batch twin of the streaming pivot)."""
    events = _events(spark, sf_dir)
    return (
        events.groupBy(
            _hour_bucket(),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value"), "sum_value"),
        )
        .orderBy("hour", "event_type")
    )


_EVENTS_HOURLY_ORACLE = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 2)
             AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the hourly rollup rebuilt by MERGING
    partial aggregates — the base partition's rollup and a "new batch"
    rollup (events split 80/20 by a deterministic id predicate) are
    combined with a second-stage sum, never rescanning base rows.

    count and decimal-sum are mergeable aggregates, so the merged result
    is byte-identical to the full recompute — this query shares
    events_hourly_rollup's oracle verbatim, which IS the IVM proof.  At
    100 TB this is how a materialized rollup absorbs a daily increment:
    aggregate the increment, union with the stored partials, re-reduce
    (state volume = |groups|, not |rows|)."""
    ev = _events(spark, sf_dir)
    base, delta = (
        ev.filter(F.col("event_id") % 10 < 8),
        ev.filter(F.col("event_id") % 10 >= 8),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(_hour_bucket(), "event_type").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("ps"),
        )

    return (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("hour", "event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("ps").cast("double"), 2).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


def q_window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-customer running revenue + order sequence."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
    )


_WINDOW_RUNNING_ORACLE = """
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS order_seq,
           round(sum(o_totalprice) OVER w, 2) AS running_revenue
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: 3 priciest orders within each order priority."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_orderpriority",
            "rank",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


_TOPK_PER_PRIORITY_ORACLE = """
    SELECT o_orderpriority, rank, o_orderkey,
           round(o_totalprice, 2) AS o_totalprice
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rank
          FROM orders)
    WHERE rank <= 3
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grouping_id — subtotal
    and grand-total rows alongside the detail."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("grp_id"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "grp_id", "sum_qty", "revenue", "n_rows")
    )


_ROLLUP_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS grp_id,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (the SQL percentile_cont family) of
    order totals per priority.  Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the standard (1-g)*a + g*b definition, so
    the doubles agree to the ulp and round(2) renders identically.

    Scale note: exact quantiles sort each group's values; per-group data
    volume is |orders|/5 here.  At 100 TB the same query would switch to
    ``approx_percentile`` (t-digest, mergeable map-side) — kept exact
    here because exactness is what makes it oracle-checkable."""
    orders = _t(spark, sf_dir, "orders")
    qs = "array(0.5D, 0.9D, 0.99D)"
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.expr(f"percentile(o_totalprice, {qs})").alias("q"))
        .select(
            "o_orderpriority",
            F.round(F.expr("q[0]"), 2).alias("p50"),
            F.round(F.expr("q[1]"), 2).alias("p90"),
            F.round(F.expr("q[2]"), 2).alias("p99"),
        )
        .orderBy("o_orderpriority")
    )


_PRICE_QUANTILES_ORACLE = """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99
    FROM orders GROUP BY 1 ORDER BY 1
"""


def q_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(10) deciles of customer balance WITHIN each nation — the
    partitioned form, so no global single-reducer sort exists anywhere in
    the plan (an unpartitioned ntile would serialize the corpus through
    one task at scale).  Output: per (nation, decile) counts and exact
    decimal balance sums."""
    cust = _t(spark, sf_dir, "customer")
    from pyspark.sql import Window

    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        cust.withColumn("decile", F.ntile(10).over(w))
        .groupBy("c_nationkey", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            _dsum(F.col("c_acctbal"), "sum_bal"),
        )
        .orderBy("c_nationkey", "decile")
    )


_CUSTOMER_DECILES_ORACLE = """
    WITH d AS (SELECT c_nationkey,
                      ntile(10) OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal, c_custkey) AS decile,
                      c_acctbal
               FROM customer)
    SELECT c_nationkey, decile, count(*) AS n_cust,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE), 2)
             AS sum_bal
    FROM d GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag,
    computed from exact decimal moments instead of the built-in ``corr``:
    plain double moment sums reorder under partitioning and the last
    digits drift run-to-run; decimal accumulation makes the statistic
    bit-stable on any cluster layout, and the oracle replays the same
    chain.  The shuffle carries 6 numbers per group — the mergeable-
    moments shape that scales to any corpus."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(x)).cast("double").alias("sx"),
        F.sum(dec(y)).cast("double").alias("sy"),
        F.sum(dec(x * x)).cast("double").alias("sxx"),
        F.sum(dec(y * y)).cast("double").alias("syy"),
        F.sum(dec(x * y)).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "l_returnflag",
        "n",
        F.round(cov / F.sqrt(varx * vary), 6).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


_QTY_PRICE_CORR_ORACLE = """
    WITH m AS (SELECT l_returnflag, count(*) AS n,
                      CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                      CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                      CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
                      CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
                      CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
               FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
             AS corr_qty_price
    FROM m ORDER BY 1
"""


def q_cube_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source) — all four grouping sets in one pass
    (rollup_revenue covers ROLLUP; this completes the grouping-sets
    family).  grouping_id disambiguates subtotal rows from real NULLs;
    Spark and DuckDB both put the first cube column in the MSB."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.grouping_id().alias("grp_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select("lang", "source", "grp_id", "n_docs", "sum_chars")
    )


_CUBE_DOC_ORACLE = """
    SELECT lang, source, GROUPING(lang, source) AS grp_id,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY CUBE (lang, source)
"""


def q_docs_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + source round-trip: write documents as JSON lines,
    read them back schema-enforced, and aggregate a content checksum.

    The checksum is an order-independent XOR of a 60-bit md5 prefix of
    each text — any dropped, duplicated, or corrupted row flips it, so
    the oracle (which aggregates the ORIGINAL table) proves the
    round-trip was lossless, not merely row-count-preserving.  JSONL is
    the interchange format of most public text-corpus pipelines, hence
    worth the dedicated round-trip proof next to the avro/parquet ones.
    """
    import os
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    # per-process unique dir: a fixed shared path would race concurrent
    # sessions (one process's overwrite deletes files another is reading
    # — a false "lossy round-trip" verdict); the lazily-read result must
    # outlive this function, so cleanup is left to the OS tmp reaper
    out = os.path.join(
        tempfile.mkdtemp(prefix="hbase_tohdfs_jsonl_"),
        os.path.basename(sf_dir.rstrip("/")),
    )
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(docs.schema).json(out)
    checksum = F.expr(
        "bit_xor(cast(conv(substr(md5(text), 1, 15), 16, 10) as bigint))"
    )
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            checksum.alias("text_xor"),
        )
        .orderBy("lang", "source")
    )


_JSONL_ROUNDTRIP_ORACLE = """
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT))
             AS text_xor
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
"""


def q_conditional_agg_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style conditional aggregation: high/low line counts per
    order priority via CASE inside SUM."""
    orders = _t(spark, sf_dir, "orders")
    high = F.when(F.col("o_totalprice") > 300000, 1).otherwise(0)
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.sum(high).alias("high_value_orders"),
            F.sum(1 - high).alias("low_value_orders"),
            _cents("o_totalprice").alias("_price_c"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "o_orderpriority",
            "high_value_orders",
            "low_value_orders",
            _exact_avg("_price_c", "_n", 2).alias("avg_price"),
        )
        .orderBy("o_orderpriority")
    )


_CONDITIONAL_AGG_ORACLE = """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END)
             AS BIGINT) AS high_value_orders,
           CAST(sum(CASE WHEN o_totalprice > 300000 THEN 0 ELSE 1 END)
             AS BIGINT) AS low_value_orders,
           CAST((2 * sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                 + count(*)) // (2 * count(*)) AS DOUBLE) / 100 AS avg_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_events_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type profile in ONE aggregation: exact distinct count
    plus exact interpolated percentiles.  One shuffle on event_type; the
    distinct triggers Spark's Expand, the percentiles a sort-based agg —
    both partial-aggregated map-side first."""
    events = _events(spark, sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


_TYPE_PROFILE_ORACLE = """
    SELECT event_type, count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
"""


SESSION_GAP_MIN = 30


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows: per-user activity sessions with a 30-minute
    inactivity gap (``F.session_window`` — merge while the next event
    starts before current_end = last_ts + gap, i.e. diff < gap)."""
    events = _events(spark, sf_dir)
    sw = F.session_window("ts", f"{SESSION_GAP_MIN} minutes")
    return (
        events.groupBy(sw.alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value"), "sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# Gaps-and-islands replay of session_window: a new session starts when
# the microsecond gap to the previous event is >= the gap (Spark's
# session interval is [start, last+gap) — an event landing exactly on
# the boundary opens a new session); session_end = last event + gap.
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history: compress each user's event stream into
    validity intervals of their current event_type — a row survives only
    when the state CHANGES (lag compare), then ``lead`` closes each
    interval and a row_number stamps the version.  The classic
    warehouse changelog -> dimension-history transform.

    One keyed shuffle: both window passes and the change filter share
    the (user_id) partitioning, so Catalyst plans a single Exchange +
    one sort reused by both Window operators.  Timestamps render as
    strings (the sessionize convention) so the oracle compare is
    TZ-independent."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.withColumn(
        "prev", F.lag("event_type").over(w)
    ).filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    fmt = "yyyy-MM-dd HH:mm:ss"
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(F.lead("ts").over(w), fmt).alias("valid_to"),
        F.row_number().over(w).alias("version"),
    )


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys for the (user_id, event-hour) plane — the z-value
    computation behind ``operators/layout.py``'s multi-dimensional
    clustering, surfaced as a checkable query (the layout write itself
    is exercised in tests; SCALE.md records the measured per-file span
    shrink vs a single-column layout).  Pure codegen bit-interleave;
    the oracle replays the identical shift/mask formula.

    The hour dimension is REBASED to hours-since-min(ts): only the low
    16 bits of each dimension interleave, and hour-since-epoch (~491k
    in 2026) would wrap mod 65536 and alias far-apart hours into the
    same cell.  The dataset-relative origin is one 1-row broadcast —
    model-sized state, no extra shuffle on the fact side."""
    from hbase_tohdfs_spark.operators import layout

    hour = "unix_micros(ts) div 3600000000"
    ev = _events(spark, sf_dir).withColumn("_h", F.expr(hour))
    origin = ev.agg(F.min("_h").alias("_h0"))
    z = layout.zorder_sql("user_id", "_h - _h0")
    return (
        ev.crossJoin(F.broadcast(origin))
        .select("event_id", F.expr(z).alias("zval"))
        .orderBy("event_id")
    )


def _zorder_oracle() -> str:
    from hbase_tohdfs_spark.operators import layout

    z = layout.zorder_sql_duckdb("user_id", "_h - _h0")
    return f"""
    WITH h AS (SELECT event_id, user_id,
                      epoch_us(ts) // 3600000000 AS _h FROM events),
         o AS (SELECT min(_h) AS _h0 FROM h)
    SELECT event_id, {z} AS zval FROM h, o ORDER BY event_id
    """


_SCD2_ORACLE = """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
               FROM events),
    l AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
                                          ORDER BY us, event_id) AS prev
          FROM e),
    c AS (SELECT user_id, event_type, us, event_id FROM l
          WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type AS state,
           strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(make_timestamp(lead(us) OVER (PARTITION BY user_id
                                                  ORDER BY us, event_id)),
                    '%Y-%m-%d %H:%M:%S') AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS INT) AS version
    FROM c
"""


_SESSIONIZE_ORACLE = f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
    marked AS (SELECT user_id, us, value,
                      CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                                >= {SESSION_GAP_MIN} * 60 * 1000000
                             OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                           THEN 1 ELSE 0 END AS new_s
               FROM e),
    sess AS (SELECT user_id, us, value,
                    sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                     ROWS UNBOUNDED PRECEDING) AS sid
             FROM marked)
    SELECT user_id,
           strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(make_timestamp(max(us) + {SESSION_GAP_MIN} * 60 * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 2)
             AS sum_value
    FROM sess GROUP BY user_id, sid
"""


def q_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup in one pass: day and
    day+hour aggregates via GROUPING SETS, through the spark.sql API."""
    events = _events(spark, sf_dir)
    events.createOrReplaceTempView("events_v")
    return spark.sql("""
        SELECT event_type,
               date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day,
               date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm') AS hour,
               count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 2)
                 AS sum_value
        FROM events_v
        GROUP BY event_type, GROUPING SETS ((day), (day, hour))
    """)


_MULTIRES_ORACLE = """
    SELECT event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 2)
             AS sum_value
    FROM events
    GROUP BY event_type, GROUPING SETS ((day), (day, hour))
"""


def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the same user's most
    recent prior-or-equal click (point-in-time feature lookup)."""
    from hbase_tohdfs_spark.operators.asof import asof_join

    e = _events(spark, sf_dir).select(
        "event_id", "user_id", F.unix_micros("ts").alias("us"), "value", "event_type"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us", "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "us",
        F.col("value").alias("click_value"),
        F.col("us").alias("click_us"),
        "event_id",
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        ts="us",
        value_cols=["click_value", "click_us"],
        tiebreak="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("us").alias("purchase_us"),
        F.round("value", 2).alias("purchase_value"),
        F.round("click_value", 2).alias("click_value"),
        "click_us",
    )


_ASOF_ORACLE = """
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, value, event_type
               FROM events),
    p AS (SELECT event_id, user_id, us, value FROM e
          WHERE event_type = 'purchase'),
    c0 AS (SELECT user_id, us, value, event_id FROM e
           WHERE event_type = 'click'),
    c AS (SELECT user_id, us, value FROM (
            SELECT user_id, us, value,
                   row_number() OVER (PARTITION BY user_id, us
                                      ORDER BY event_id DESC) AS rn
            FROM c0) WHERE rn = 1)
    SELECT p.event_id, p.user_id, p.us AS purchase_us,
           round(p.value, 2) AS purchase_value,
           round(c.value, 2) AS click_value, c.us AS click_us
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us
"""


def q_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per purchase, how many clicks the same user made in
    the hour strictly before it (bucketized window join, no nested loop)."""
    from hbase_tohdfs_spark.operators.rangejoin import range_join

    e = _events(spark, sf_dir).select(
        "event_id", "user_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("us").alias("click_us")
    )
    hour_us = 3600 * 1000 * 1000
    pairs = range_join(
        purchases, clicks, on="user_id",
        left_ts="us", right_ts="click_us",
        lower=-hour_us, upper=-1,
    )
    counts = pairs.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_clicks_1h"))
    return (
        purchases.join(counts, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.col("us").alias("purchase_us"),
            F.coalesce("n_clicks_1h", F.lit(0)).alias("n_clicks_1h"),
        )
    )


_RANGE_JOIN_ORACLE = """
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
               FROM events),
    p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, us AS click_us FROM e WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.us AS purchase_us,
           count(c.click_us) AS n_clicks_1h
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.click_us >= p.us - 3600000000 AND c.click_us <= p.us - 1
    GROUP BY p.event_id, p.user_id, p.us
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers that never placed an order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


_ANTI_JOIN_ORACLE = """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_users_click_purchase_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators in one result: EXCEPT (clicked, never purchased) and
    INTERSECT (clicked and purchased), tagged and unioned.  Both set ops
    shuffle on user_id; the union itself is free (no exchange)."""
    events = _events(spark, sf_dir)
    clicked = events.filter(F.col("event_type") == "click").select("user_id")
    purchased = events.filter(F.col("event_type") == "purchase").select("user_id")
    only = clicked.subtract(purchased)  # EXCEPT (distinct) semantics
    both = clicked.intersect(purchased)
    return only.withColumn("relation", F.lit("clicked_only")).unionByName(
        both.withColumn("relation", F.lit("clicked_and_purchased"))
    )


_SET_OPS_ORACLE = """
    SELECT user_id, 'clicked_only' AS relation FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT user_id, 'clicked_and_purchased' AS relation FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase')
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel (view → click → purchase): a user counts
    for a stage only if it happened strictly after their first event of
    the previous stage.  Three keyed min-aggregations chained by
    broadcast-size joins (each stage's frame is one row per qualifying
    user, far smaller than the event stream); the event scan is shared
    lineage, filtered per stage.  Output is one row per stage with the
    surviving-user count and the conversion rate off stage 1."""
    e = _events(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    stages = (
        v.agg(F.count(F.lit(1)).alias("n_users"))
        .withColumn("stage", F.lit("1_view"))
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n_users")).withColumn(
                "stage", F.lit("2_click_after_view")
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n_users")).withColumn(
                "stage", F.lit("3_purchase_after_click")
            )
        )
    )
    base = v.agg(F.count(F.lit(1)).alias("n_base"))
    return (
        stages.join(F.broadcast(base))
        .select(
            "stage",
            "n_users",
            F.round(
                F.col("n_users").cast("double") / F.col("n_base").cast("double"), 4
            ).alias("conversion"),
        )
        .orderBy("stage")
    )


_FUNNEL_ORACLE = """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
    v AS (SELECT user_id, min(us) AS v_us FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND us > v_us GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND us > c_us GROUP BY e.user_id),
    stages AS (
      SELECT '1_view' AS stage, (SELECT count(*) FROM v) AS n_users
      UNION ALL
      SELECT '2_click_after_view', (SELECT count(*) FROM c)
      UNION ALL
      SELECT '3_purchase_after_click', (SELECT count(*) FROM p))
    SELECT stage, n_users,
           round(CAST(n_users AS DOUBLE)
                 / CAST((SELECT count(*) FROM v) AS DOUBLE), 4) AS conversion
    FROM stages ORDER BY stage
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted per subsequent active week.  Two keyed aggregations (first
    activity per user; distinct user-week pairs) and one join — the
    classic big-event-data analytic, all in weekly date arithmetic that
    replays exactly in SQL."""
    e = _events(spark, sf_dir).select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    active = e.distinct()
    joined = active.join(first, "user_id").select(
        "user_id",
        "cohort_wk",
        (F.datediff("wk", "cohort_wk") / 7).cast("long").alias("week_offset"),
    )
    return (
        joined.groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


_COHORT_ORACLE = """
    WITH e AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
               FROM events),
    first AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id)
    SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cohort_wk, wk) / 7 AS BIGINT) AS week_offset,
           count(*) AS n_users
    FROM e JOIN first USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------
REGISTRY: dict[str, QuerySpec] = {
    "pivot_last_event_by_user": QuerySpec(
        q_pivot_last_event_by_user, _PIVOT_LAST_EVENT_ORACLE
    ),
    "pivot_kv_roundtrip": QuerySpec(q_pivot_kv_roundtrip, _KV_ROUNDTRIP_ORACLE),
    "export_delimited_lines": QuerySpec(
        q_export_delimited_lines, _EXPORT_LINES_ORACLE
    ),
    "pivot_projection_rowkey": QuerySpec(
        q_pivot_projection_rowkey, _PIVOT_PROJECTION_ORACLE
    ),
    "generator_cells": QuerySpec(
        q_generator_cells,
        generate.populate_cells_oracle_sql(2, 500, "bench").replace(
            "AS value_str", "AS value_str"
        ),
    ),
    "reader_limit": QuerySpec(q_reader_limit, _READER_LIMIT_ORACLE),
    "kv_upsert_compact": QuerySpec(q_kv_upsert_compact, _KV_UPSERT_ORACLE),
    "tpch_q1": QuerySpec(q_tpch_q1, _TPCH_Q1_ORACLE),
    "tpch_q3": QuerySpec(q_tpch_q3, _TPCH_Q3_ORACLE),
    "tpch_q5": QuerySpec(q_tpch_q5, _TPCH_Q5_ORACLE),
    "tpch_q6": QuerySpec(q_tpch_q6, _TPCH_Q6_ORACLE),
    "tpch_q17": QuerySpec(q_tpch_q17, _TPCH_Q17_ORACLE),
    "tpch_q4": QuerySpec(q_tpch_q4, _TPCH_Q4_ORACLE),
    "tpch_q10": QuerySpec(q_tpch_q10, _TPCH_Q10_ORACLE),
    "tpch_q14": QuerySpec(q_tpch_q14, _TPCH_Q14_ORACLE),
    "tpch_q18": QuerySpec(q_tpch_q18, _TPCH_Q18_ORACLE),
    "tpch_q7": QuerySpec(q_tpch_q7, _TPCH_Q7_ORACLE),
    "tpch_q8": QuerySpec(q_tpch_q8, _TPCH_Q8_ORACLE),
    "tpch_q13": QuerySpec(q_tpch_q13, _TPCH_Q13_ORACLE),
    "tpch_q15": QuerySpec(q_tpch_q15, _TPCH_Q15_ORACLE),
    "tpch_q19": QuerySpec(q_tpch_q19, _TPCH_Q19_ORACLE),
    "tpch_q22": QuerySpec(q_tpch_q22, _TPCH_Q22_ORACLE),
    "tpch_q2": QuerySpec(q_tpch_q2, _TPCH_Q2_ORACLE),
    "tpch_q9": QuerySpec(q_tpch_q9, _TPCH_Q9_ORACLE),
    "tpch_q11": QuerySpec(q_tpch_q11, _TPCH_Q11_ORACLE),
    "tpch_q12": QuerySpec(q_tpch_q12, _TPCH_Q12_ORACLE),
    "tpch_q16": QuerySpec(q_tpch_q16, _TPCH_Q16_ORACLE),
    "tpch_q20": QuerySpec(q_tpch_q20, _TPCH_Q20_ORACLE),
    "tpch_q21": QuerySpec(q_tpch_q21, _TPCH_Q21_ORACLE),
    "events_hourly_rollup": QuerySpec(q_events_hourly_rollup, _EVENTS_HOURLY_ORACLE),
    # merged partial aggregates must equal the full recompute, so the
    # incremental-merge query shares the full rollup's oracle verbatim
    "rollup_incremental_merge": QuerySpec(
        q_rollup_incremental_merge, _EVENTS_HOURLY_ORACLE
    ),
    "window_running_revenue": QuerySpec(
        q_window_running_revenue, _WINDOW_RUNNING_ORACLE
    ),
    "topk_orders_per_priority": QuerySpec(
        q_topk_orders_per_priority, _TOPK_PER_PRIORITY_ORACLE
    ),
    "rollup_revenue": QuerySpec(q_rollup_revenue, _ROLLUP_ORACLE),
    "cube_doc_profile": QuerySpec(q_cube_doc_profile, _CUBE_DOC_ORACLE),
    "price_quantiles": QuerySpec(q_price_quantiles, _PRICE_QUANTILES_ORACLE),
    "customer_deciles": QuerySpec(
        q_customer_deciles, _CUSTOMER_DECILES_ORACLE
    ),
    "qty_price_corr": QuerySpec(q_qty_price_corr, _QTY_PRICE_CORR_ORACLE),
    "docs_jsonl_roundtrip": QuerySpec(
        q_docs_jsonl_roundtrip, _JSONL_ROUNDTRIP_ORACLE
    ),
    "multires_rollup": QuerySpec(q_multires_rollup, _MULTIRES_ORACLE),
    "conditional_agg_priority": QuerySpec(
        q_conditional_agg_priority, _CONDITIONAL_AGG_ORACLE
    ),
    "events_type_profile": QuerySpec(q_events_type_profile, _TYPE_PROFILE_ORACLE),
    "sessionize_events": QuerySpec(q_sessionize_events, _SESSIONIZE_ORACLE),
    "scd2_user_state": QuerySpec(q_scd2_user_state, _SCD2_ORACLE),
    "zorder_cells": QuerySpec(q_zorder_cells, _zorder_oracle()),
    "asof_purchase_click": QuerySpec(q_asof_purchase_click, _ASOF_ORACLE),
    "clicks_before_purchase": QuerySpec(
        q_clicks_before_purchase, _RANGE_JOIN_ORACLE
    ),
    "customers_without_orders": QuerySpec(
        q_customers_without_orders, _ANTI_JOIN_ORACLE
    ),
    "users_click_purchase_sets": QuerySpec(
        q_users_click_purchase_sets, _SET_OPS_ORACLE
    ),
    "funnel_conversion": QuerySpec(q_funnel_conversion, _FUNNEL_ORACLE),
    "cohort_retention": QuerySpec(q_cohort_retention, _COHORT_ORACLE),
}

# North-star pipeline operators (dedup / similarity / text / multimodal)
# register themselves to keep this module readable.
from hbase_tohdfs_spark import queries_pipeline  # noqa: E402

queries_pipeline.register(REGISTRY)
