"""Structured Streaming twins of the batch operators.

The reference has no streaming surface; its pivot, however, is exactly a
streaming aggregation (accumulate cells per row key, emit on boundary —
``ExportHBaseTableToDelimiteredTxt.java:148-164``).  These operators are
the Spark-native version of that: ``readStream`` over an events feed,
watermarked windowed aggregation, ``max_by`` last-write-wins state.

Test/driver mode uses ``availableNow`` (bounded backfill of whatever
files exist) + a memory sink, which makes results comparable to the batch
oracle.  A production deployment would swap trigger and sink
(``trigger(processingTime=...)``, kafka/delta sink) without touching the
transformation — that is the point of declaring the logic on the
streaming DataFrame API.

Scale posture: state is bounded by the watermark (late events beyond 1
day are dropped); the rollup keys (window x event_type) and the LWW keys
(user x event_type) are both low-cardinality relative to input volume,
and the state store is RocksDB-backed on a real cluster.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: keyed by (sf_dir, events.parquet mtime) so regenerating testdata
#: within one session invalidates the memo instead of serving a stale
#: schema (the footer probe is cheap; the wrong-schema read is not).
_SCHEMA_CACHE: dict[tuple[str, float], T.StructType] = {}


def _events_mtime(sf_dir: str) -> float:
    try:
        return os.stat(os.path.join(sf_dir, "events.parquet")).st_mtime
    except OSError:
        return -1.0


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the events table (S1's streaming analogue).

    ``readStream`` requires an explicit schema; a hard-coded one silently
    misreads the file when the testdata's ``ts`` storage type changes
    (parquet stores both nanos and micros as physical INT64, so a stale
    long schema "works" and yields 1000x-off timestamps).  Probe the
    actual schema with a batch footer read, then normalize ``ts`` to
    TimestampType exactly like the batch reader."""
    from hbase_tohdfs_spark.session import (
        ensure_nanos_as_long,
        ensure_utc,
        normalize_event_ts,
    )

    ensure_nanos_as_long(spark)
    ensure_utc(spark)
    # FileStreamSource needs a directory; narrow it to the events table
    # with a glob filter.  The schema probe is a footer-only batch read,
    # memoized per (path, file mtime) — a property of the files, so six
    # streaming queries share one probe job, yet a regenerated dataset
    # re-probes instead of serving the stale schema.
    cache_key = (sf_dir, _events_mtime(sf_dir))
    schema = _SCHEMA_CACHE.get(cache_key)
    if schema is None:
        schema = (
            spark.read.option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .schema
        )
        _SCHEMA_CACHE[cache_key] = schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def _run_to_memory(
    agg: DataFrame,
    mode: str,
    needs_watermark_flush: bool = False,
    parts: int | None = None,
) -> DataFrame:
    """Execute a bounded backfill into a memory sink; return the result.

    Stateful streaming ops create one state-store instance PER shuffle
    partition, and every instance pays provider init + commit +
    maintenance on every micro-batch whether or not it holds state — at
    the harness's bounded toy backfills that fixed cost dominates wall
    clock (measured: the interval join drops 6.7s -> 2.8s going 32 -> 8
    partitions at sf0.01).  State partitions are sized by ``parts``
    (default 4; r7 measured the sf0.1 interval join at 1.86s/8 parts vs
    1.06s/4 parts); a production deployment with real state volume
    passes O(cluster cores).  Both confs are scoped to the run: the
    streaming query captures them at start and prior values are
    restored for subsequent batch queries.

    ``needs_watermark_flush``: by default the run DISABLES the no-data
    micro-batch (r6 verdict task 4 — it costs ~0.6-0.9s of state-store
    commits per query and exists to advance the watermark after the
    last data batch).  That is safe for every current twin: complete
    mode re-emits everything per batch, update mode emits on change,
    and the append-mode sites (stream-stream inner join,
    dropDuplicates) emit eagerly in the data batch — the flush batch
    only evicts state a terminating backfill no longer needs.  An
    APPEND-MODE AGGREGATION (window/session agg emitted only once the
    watermark passes) gets NO rows without the flush batch — such a
    call site MUST pass needs_watermark_flush=True.

    ``parts``: per-call partition override.  JVM-state ops prefer FEW
    partitions (each state store pays init+commit per batch); PYTHON-
    state ops (applyInPandasWithState) prefer MORE, because partitions
    bound Python-worker parallelism for the per-group state loop
    (measured sf0.1 LWW: 1.79s at 4 parts vs 1.35s at 8).

    Checkpoint placement: a bounded ``availableNow`` backfill into a
    memory sink is throwaway by construction — its checkpoint (offset
    log, commit log, state snapshots, all synced per micro-batch) has
    no recovery value, so it goes to a RAM-backed dir when one exists
    (``/dev/shm``; override with ``SPARK_GRAFT_STREAM_CKPT_DIR``) and
    is deleted on return.  Measured: 1.17s -> 0.87s on the sf0.1 HLL
    twin vs the disk-backed default temp dir.  A PRODUCTION stream is
    the opposite case: its checkpoint IS the recovery contract and
    must point at durable shared storage (HDFS/object store) — that
    swap is part of the same trigger/sink swap documented in the
    module docstring.
    """
    import os
    import shutil
    import tempfile

    from hbase_tohdfs_spark.operators import cacheutil

    spark = agg.sparkSession
    parts = parts or 4
    ckpt_root = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    )
    ckpt = os.path.join(ckpt_root, f"stream-ckpt-{uuid.uuid4().hex[:12]}")
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    saved_nodata = spark.conf.get(nodata_key, "true")
    with cacheutil.scoped_shuffle_partitions(spark, parts):
        spark.conf.set(
            nodata_key, "true" if needs_watermark_flush else "false"
        )
        try:
            name = f"stream_{uuid.uuid4().hex[:8]}"
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set(nodata_key, saved_nodata)
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def hourly_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window rollup — the streaming twin of
    ``queries.q_events_hourly_rollup`` (same oracle)."""
    events = stream_events(spark, sf_dir).withWatermark("ts", "1 day")
    agg = events.groupBy(
        F.window("ts", "1 hour").alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        # Decimal accumulation: exact, so the result is independent of
        # micro-batch boundaries and matches the batch/oracle twin.
        F.round(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 2
        ).alias("sum_value"),
    )
    result = _run_to_memory(agg, "complete")
    return result.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n_events",
        "sum_value",
    ).orderBy("hour", "event_type")


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_LWW_STATE_SCHEMA = T.StructType(
    [
        T.StructField("types", T.ArrayType(T.StringType())),
        T.StructField("tss", T.ArrayType(T.LongType())),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
    ]
)

_LWW_OUTPUT_SCHEMA = T.StructType(
    [T.StructField("user_id", T.LongType()), T.StructField("max_ts", T.LongType())]
    + [T.StructField(t, T.DoubleType()) for t in EVENT_TYPES]
)


def last_event_pivot_stream_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LWW pivot as a *custom stateful operator*:
    ``applyInPandasWithState`` keyed on ``user_id``, state = the
    last-written (ts, value) per event type — the from-scratch version
    of what ``max_by`` state does in :func:`last_event_pivot_stream`,
    for operators whose transition function built-in aggregates can't
    express (the reference's streaming HashMap pivot made explicit,
    ``ExportHBaseTableToDelimiteredTxt.java:148-164``).

    Each micro-batch emits the key's current wide row stamped with the
    state's max ts; because state evolves monotonically, the final row
    per key (greatest ``max_ts``) is the batch-pivot answer, recovered
    by the small ``max_by`` dedup after the memory sink.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_lww(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            types, tss, vals = state.get
            lww = {t: (ts, v) for t, ts, v in zip(types, tss, vals)}
        else:
            lww = {}
        for pdf in pdfs:
            for t, ts, v in zip(pdf["event_type"], pdf["ts_us"], pdf["value"]):
                ts = int(ts)
                if t not in lww or ts >= lww[t][0]:
                    lww[t] = (ts, float(v))
        state.update((list(lww), [lww[t][0] for t in lww], [lww[t][1] for t in lww]))
        row = {"user_id": key[0], "max_ts": max(ts for ts, _ in lww.values())}
        for t in EVENT_TYPES:
            row[t] = lww[t][1] if t in lww else None
        yield pd.DataFrame([row])

    events = stream_events(spark, sf_dir).select(
        "user_id", "event_type", "value", F.unix_micros("ts").alias("ts_us")
    )
    updates = events.groupBy("user_id").applyInPandasWithState(
        update_lww,
        outputStructType=_LWW_OUTPUT_SCHEMA,
        stateStructType=_LWW_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # parts=8: ~10k user_id groups run a Python state loop; partitions
    # bound Python-worker parallelism here (see _run_to_memory)
    emitted = _run_to_memory(updates, "update", parts=8)
    # Keep each user's final emission (monotone max_ts); ties carry
    # identical payloads, so max_by's tie-break is immaterial.
    final = emitted.groupBy("user_id").agg(
        *[F.max_by(t, "max_ts").alias(t) for t in EVENT_TYPES]
    )
    return final.select(
        F.col("user_id").cast("string").alias("row_key"), *EVENT_TYPES
    )


def last_event_pivot_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming last-write-wins pivot — the streaming twin of the core
    operator (``queries.q_pivot_last_event_by_user``, same oracle).

    The streaming stage maintains ``max_by(value, ts)`` state per
    (user, event_type); the finite-arity pivot to wide rows is a cheap
    batch step on the (tiny) aggregated state.
    """
    from hbase_tohdfs_spark.operators.pivot import pivot_cells

    events = stream_events(spark, sf_dir)
    agg = events.groupBy("user_id", "event_type").agg(
        F.max_by("value", F.unix_micros("ts")).alias("last_value"),
        F.max(F.unix_micros("ts")).alias("last_ts"),
    )
    state = _run_to_memory(agg, "complete")
    cells = state.select(
        F.col("user_id").cast("string").alias("row_key"),
        F.lit("c").alias("cf"),
        F.col("event_type").alias("qualifier"),
        F.col("last_value").cast("string").cast("binary").alias("value"),
        F.col("last_ts").alias("ts"),
    )
    event_types = ["click", "error", "purchase", "signup", "view"]
    wide = pivot_cells(cells, event_types)
    return wide.select(
        "row_key",
        *[F.col(c).cast("string").cast("double").alias(c) for c in event_types],
    )


def dedup_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: at most one event per (user, event_type,
    minute), kept on first arrival — the ingest-side guard against
    re-delivered events (at-least-once sources replay; downstream wants
    exactly-once rows).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes the key's event time, so state is bounded by the
    delay (1 day) x key arrival rate regardless of total stream length —
    the property that makes this run forever at ingest scale, unlike an
    unbounded ``dropDuplicates``.  Output projects the key columns only:
    which *row* survives is arrival-order-dependent, the key set is not
    (and is what the batch DISTINCT oracle checks).
    """
    events = stream_events(spark, sf_dir).withWatermark("ts", "1 day")
    keyed = events.select(
        "user_id",
        "event_type",
        F.date_trunc("minute", "ts").alias("minute"),
        "ts",
    )
    dd = keyed.dropDuplicatesWithinWatermark(["user_id", "event_type", "minute"])
    result = _run_to_memory(
        dd.select("user_id", "event_type", "minute"), "append"
    )
    return result.select(
        "user_id",
        "event_type",
        F.date_format("minute", "yyyy-MM-dd HH:mm:ss").alias("minute"),
    )


def interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: every (purchase, click) pair where
    the same user's click landed in the hour strictly before the
    purchase — the streaming twin of the batch range join
    (``queries.q_clicks_before_purchase``'s pair stage).

    Both sides are watermarked; the join condition carries an explicit
    event-time bound (``click in [purchase − 1h, purchase)``), which is
    what lets Spark expire join state instead of buffering both streams
    forever: a click older than watermark + 1 h can never match a future
    purchase and is evicted.  Inner joins emit in append mode as soon as
    both rows are present — no watermark wait — so the availableNow
    backfill produces exactly the batch join's rows.

    Scale posture: state is two RocksDB-backed buffers bounded by
    (watermark + interval), keyed on user_id; the join itself shuffles
    both streams on the equi-key like any keyed stream op.
    """
    ev = stream_events(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 day")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 day")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
    )
    out = j.select(
        "event_id",
        "user_id",
        F.unix_micros("p_ts").alias("purchase_us"),
        F.unix_micros("c_ts").alias("click_us"),
    )
    return _run_to_memory(out, "append")


def session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows — the streaming twin of
    ``queries.q_sessionize_events`` (same 30-minute gap, same oracle).

    ``F.session_window`` merges an event into the current session while
    it lands before ``last_ts + gap``; state is per (user, open session)
    and closes once the watermark passes ``session_end``, which bounds
    it the same way the tumbling rollup's windows are bounded.  Decimal
    accumulation keeps the per-session sum independent of micro-batch
    boundaries."""
    from hbase_tohdfs_spark.queries import SESSION_GAP_MIN

    events = stream_events(spark, sf_dir).withWatermark("ts", "1 day")
    sw = F.session_window("ts", f"{SESSION_GAP_MIN} minutes")
    agg = events.groupBy(sw.alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 2
        ).alias("sum_value"),
    )
    result = _run_to_memory(agg, "complete")
    return result.select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "sum_value",
    )


# ------------------------------------------------------- streaming sketch
_KMV_K = 64

_KMV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("hashes", T.ArrayType(T.DoubleType())),
        T.StructField("n_rows", T.LongType()),
    ]
)

_KMV_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("n_exact_capped", T.LongType()),
        T.StructField("n_kmv", T.DoubleType()),
    ]
)


def kmv_distinct_stream(
    spark: SparkSession, sf_dir: str, k: int = _KMV_K
) -> DataFrame:
    """Streaming distinct-count via the KMV sketch as CUSTOM STATE: per
    event type, the state is the k smallest distinct md5 hashes of the
    user ids seen so far — O(k) doubles per key forever, the
    mergeable-sketch property doing exactly what streaming state needs
    it to do (HLL state would be the same shape but unreplayable; see
    operators/sketch.py).

    Because bottom-k-of-distinct is associative and insensitive to
    arrival order and micro-batch boundaries, the FINAL state equals the
    batch sketch over the same rows — so this query shares the batch
    ``kmv_distinct`` oracle verbatim.  Each batch emits the key's
    current estimate stamped with a monotone version (rows processed);
    the final row per key is recovered with ``max_by`` after the sink,
    like the custom LWW operator.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = stream_events(spark, sf_dir)

    def update_kmv(key, pdfs, state: GroupState):
        import hashlib

        import pandas as pd

        if state.exists:
            hashes, n_rows = state.get
            hs = set(hashes)
        else:
            hs, n_rows = set(), 0
        for pdf in pdfs:
            n_rows += len(pdf)
            for uid in pdf["user_id"]:
                h = (
                    int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)
                    + 1
                ) / float(1 << 60)
                hs.add(h)
            if len(hs) > k:  # truncate per batch: state stays O(k)
                hs = set(sorted(hs)[:k])
        arr = sorted(hs)[:k]
        state.update((list(arr), n_rows))
        n_seen = len(arr)
        # emit the RAW estimate; rounding happens in the final Spark
        # aggregation with F.round so the rendered value goes through
        # the exact same Round expression as the batch twin — a Python
        # floor(x*100+0.5) can flip a .xx5-boundary double differently
        est = float(n_seen) if n_seen < k else (k - 1) / arr[-1]
        yield pd.DataFrame(
            [
                {
                    "event_type": key[0],
                    "version": n_rows,
                    "n_exact_capped": n_seen,
                    "n_kmv": est,
                }
            ]
        )

    updates = events.groupBy("event_type").applyInPandasWithState(
        update_kmv,
        outputStructType=_KMV_OUTPUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_to_memory(updates, "update")
    final = emitted.groupBy("event_type").agg(
        F.max_by("n_exact_capped", "version").alias("n_exact_capped"),
        F.round(F.max_by("n_kmv", "version"), 2).alias("n_kmv"),
    )
    return final.orderBy("event_type")


def cms_counts_stream(
    spark: SparkSession, sf_dir: str, probe_values: list
) -> DataFrame:
    """Streaming count-min sketch as a plain UPDATE-mode streaming
    aggregation — no Python state at all: each event fans out to its
    ``rows`` hash cells JVM-side (generator explode + md5 bucket expr)
    and the streaming ``groupBy(r, bucket).count()`` state IS the
    sketch, at most rows*width counters regardless of stream length.

    Counter merges are associative and arrival-order-insensitive, so the
    final state equals the batch ``cms_counts`` over the same rows and
    the query shares the batch oracle verbatim (the same argument as the
    streaming KMV).  Update mode re-emits a cell on every batch that
    touches it; counts are monotone per cell, so a per-cell ``max``
    after the sink recovers the final sketch — and that max folds INTO
    ``cms_estimate``'s single global probe aggregation
    (``merge_emissions=True``) instead of paying a separate
    ``groupBy(r, bucket)`` exchange over the emitted cells, so the
    probe is the SAME code and plan shape as the batch path.
    """
    from hbase_tohdfs_spark.operators import sketch
    from hbase_tohdfs_spark.queries import _events

    events = stream_events(spark, sf_dir)
    # shared cell fan-out with the batch build: ONE md5 per event, hash
    # rows read digest slices (the 4M-row probe showed the per-cell md5
    # was this twin's scaling term — SCALE.md)
    cells = sketch.cms_cells(events, "user_id")
    counts = cells.groupBy("r", "bucket").count()
    # parts=1: the state is <= rows*width cells BY CONSTRUCTION, so a
    # single state store is right-sized at any corpus scale — the
    # per-event work happens in the map-side partial aggregation, which
    # parallelizes with input partitions regardless of this setting
    # (measured sf0.1: 2.05s at 4 parts -> 1.72s at 1)
    emitted = _run_to_memory(counts, "update", parts=1)
    return sketch.cms_estimate(
        _events(spark, sf_dir),
        "user_id",
        probe_values,
        sketch=emitted.select("r", "bucket", F.col("count").alias("c")),
        merge_emissions=True,
    )


def hll_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog as a plain UPDATE-mode streaming
    aggregation — the third streaming sketch, and like the CMS twin it
    needs no Python state: each event derives its (grp, bucket, rho)
    cell JVM-side and the streaming ``groupBy(grp, bucket).max(rho)``
    state IS the register array, bounded at groups*m rows forever.

    Register max-merge is associative and arrival-order-insensitive, so
    the final state equals the batch registers over the same rows and
    the query shares the batch ``hll_distinct`` oracle verbatim.
    Update mode re-emits a register on every batch that raises it; the
    post-sink max recovers the final value, which flows through the
    SAME exact-integer read-out as the batch path.
    """
    from hbase_tohdfs_spark.operators import sketch

    events = stream_events(spark, sf_dir)
    cells = sketch.hll_cells(events, "event_type", "user_id", b=5)
    regs = cells.groupBy("grp", "bucket").agg(F.max("rho").alias("rho"))
    # parts=1: groups*m registers by construction — see the CMS twin
    emitted = _run_to_memory(regs, "update", parts=1)
    final_regs = emitted.groupBy("grp", "bucket").agg(
        F.max("rho").alias("reg")
    )
    return sketch.hll_estimate_from_registers(final_regs, "event_type", b=5)
