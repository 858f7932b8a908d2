"""SparkSession factory.

Local defaults tuned for the test harness (local[N], one JVM); the same
settings are what you would want on a real cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for any Pandas-UDF
path, and an explicit shuffle-partition count instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CPUS_ENV = "SPARK_GRAFT_CPUS"


def graft_cpus() -> int:
    """Cores the local session runs on: ``$SPARK_GRAFT_CPUS``, where
    ``*`` (and an unset variable) means every core of this host.  The
    one parse of the variable, so the master URL, the shuffle width (and
    with it the fan-out width) and the bench's recorded core count always
    agree.  Anything else that is not a positive integer raises."""
    raw = os.environ.get(CPUS_ENV, "*").strip()
    if raw == "*":
        return os.cpu_count() or 1
    if raw.isdigit() and int(raw) > 0:
        return int(raw)
    raise ValueError(f"{CPUS_ENV}={raw!r}: expected a positive integer or '*'")


def driver_memory() -> str:
    """Driver heap: ``$SPARK_DRIVER_MEM`` if set, else half of physical
    memory capped at 16g, in ``m`` units, so the default never asks for
    more heap than the host has."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 16 * 1024**3) // 1024**2}m"


def get_spark(
    app_name: str = "hbase_tohdfs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    ``master`` defaults to ``local[N]`` and ``shuffle_partitions`` to N,
    with N from :func:`graft_cpus`.  On a real cluster, pass
    ``master=None`` with a pre-configured spark-submit and these conf
    values simply confirm the defaults.
    """
    cpus = graft_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS); read as long nanos
        # (sessions not built here get this via ensure_nanos_as_long)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # The Avro sink writes through Hive's AvroSerDe.  An in-memory
        # metastore and a discarded Derby log leave nothing in the cwd;
        # defaultJavaOptions leaves extraJavaOptions to the caller.
        .enableHiveSupport()
        .config(
            "spark.hadoop.javax.jdo.option.ConnectionURL",
            "jdbc:derby:memory:metastore;create=true",
        )
        .config("spark.driver.defaultJavaOptions", "-Dderby.stream.error.file=/dev/null")
    )
    # Scratch placement is OPT-IN via SPARK_GRAFT_LOCAL_DIR (the bench
    # harness points it at /dev/shm — measured tpch_q9 2.01s -> 1.62s
    # at sf0.1).  The factory default stays Spark's disk-backed /tmp:
    # this constructor also serves the real CLI export path, where a
    # RAM default would turn an unclean shutdown into a RAM leak and
    # die ENOSPC on hosts with a small tmpfs.  On a real cluster the
    # same knob maps to the NVMe scratch array.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # DDLUtils logs a harmless "Failed to find data source: avro" stack
    # trace on every Avro export (no spark-avro jar); silence only it.
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.command.DDLUtils", log4j.Level.OFF
    )
    return spark


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Idempotently enable the runtime-settable legacy conf that lets the
    parquet reader accept TIMESTAMP(NANOS) columns as long nanos.

    ``get_spark`` sets this at build time; this helper exists for
    externally-created sessions (the correctness driver's, notebooks)
    so query builders don't scatter raw ``spark.conf.set`` calls."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(key, "false") != "true":
        spark.conf.set(key, "true")


def ensure_utc(spark: SparkSession) -> None:
    """Idempotently pin the session time zone to UTC (runtime-settable).

    Every timestamp the engine renders or buckets assumes UTC; DuckDB's
    naive TIMESTAMP arithmetic (``epoch_us``, ``strftime``) is wall-clock,
    so the two engines only agree when Spark's session zone is UTC.
    ``get_spark`` sets this at build time; externally-created sessions
    (the correctness driver's) get it here."""
    key = "spark.sql.session.timeZone"
    if spark.conf.get(key, "") != "UTC":
        spark.conf.set(key, "UTC")


def normalize_event_ts(df):
    """Return ``df`` with ``ts`` as a plain TimestampType column, whatever
    physical/logical type the parquet file stored:

    * ``long`` — legacy TIMESTAMP(NANOS) read under ``nanosAsLong``:
      rebuild microseconds via ``timestamp_micros(ts div 1000)`` (the same
      truncation DuckDB applies for TIMESTAMP_NS -> epoch_us);
    * ``timestamp_ntz`` — TIMESTAMP(MICROS, isAdjustedToUTC=false): cast to
      TimestampType (identity under the UTC session zone ``ensure_utc``
      pins — the naive wall clock IS the UTC instant);
    * ``timestamp`` — already what downstream operators expect.

    Keeping the output type fixed means every downstream consumer
    (``unix_micros``, windows, watermarks, ``date_trunc``) is untouched by
    testdata regeneration that changes the column's storage type.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    t = df.schema["ts"].dataType
    if isinstance(t, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(t, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
