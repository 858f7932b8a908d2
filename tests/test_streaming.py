"""Structured Streaming operators under *multi-batch* incremental
execution: the single-file availableNow run in the oracle harness is one
micro-batch, which can't catch state bugs (lost partial aggregates,
non-commutative updates).  Here the events table is split into several
files and fed one file per trigger, so aggregation state must survive
and merge across batches to produce the batch-equal answer.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F


from hbase_tohdfs_spark.session import ensure_nanos_as_long, normalize_event_ts


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """events.parquet re-written as 8 files (preserving rows)."""
    out = str(tmp_path_factory.mktemp("stream") / "events_split")
    ensure_nanos_as_long(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    df.repartition(8).write.parquet(out)
    return out


def _read_batch(spark, events_dir):
    """Batch read with the same ts normalization the stream applies."""
    return normalize_event_ts(spark.read.parquet(events_dir))


def _stream(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema  # footer-only probe
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force one batch per file
        .parquet(events_dir)
    )
    return normalize_event_ts(raw)


def _run(agg, mode):
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 1
    return agg.sparkSession.table(name), batches


def test_multibatch_rollup_equals_batch(spark, sf_dir, events_dir):
    stream = _stream(spark, events_dir).withWatermark("ts", "1 day")
    agg = stream.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
    got, batches = _run(agg, "complete")
    assert batches > 1, "expected multiple micro-batches"

    batch = (
        _read_batch(spark, events_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_multibatch_custom_state_lww(spark, sf_dir, events_dir, monkeypatch):
    """applyInPandasWithState keeps per-key LWW state across batches."""
    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    monkeypatch.setattr(
        ps,
        "stream_events",
        lambda spark_, _sf: _stream(spark_, events_dir),
    )
    got = ps.last_event_pivot_stream_custom(spark, "ignored")

    batch = (
        _read_batch(spark, events_dir)
        .groupBy("user_id")
        .pivot("event_type", ps.EVENT_TYPES)
        .agg(F.max_by("value", F.unix_micros("ts")))
        .select(F.col("user_id").cast("string").alias("row_key"), *ps.EVENT_TYPES)
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, batch.collect()), key=str
    )


def test_multibatch_stream_dedup(spark, sf_dir, events_dir, monkeypatch):
    """dropDuplicatesWithinWatermark suppresses re-deliveries arriving in
    LATER micro-batches.  Files are split by event-time range and each is
    delivered twice, in time order with increasing mod-times — the
    at-least-once replay shape.  (A time-random split would lose keys:
    once the watermark advances past an event's time, a later batch
    carrying its only occurrence is dropped as late — that's watermark
    semantics, not a dedup bug.)"""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    slices_root = tempfile.mkdtemp(prefix="sliced_events")
    df = spark.read.parquet(events_dir).withColumn(
        "bucket", F.ntile(8).over(Window.orderBy("ts"))
    )
    for b in range(1, 9):
        df.filter(F.col("bucket") == b).drop("bucket").coalesce(1).write.parquet(
            f"{slices_root}/s{b}"
        )

    dup_dir = tempfile.mkdtemp(prefix="dup_events")
    t = 1_000_000_000
    for b in range(1, 9):
        (src,) = glob.glob(f"{slices_root}/s{b}/*.parquet")
        for tag in ("a", "b"):  # original, then immediate re-delivery
            dst = f"{dup_dir}/{tag}{b}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (t, t))
            t += 60

    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    monkeypatch.setattr(
        ps,
        "stream_events",
        lambda spark_, _sf: _stream(spark_, dup_dir),
    )
    got = ps.dedup_events_stream(spark, "ignored")

    batch = (
        _read_batch(spark, events_dir)
        .select(
            "user_id",
            "event_type",
            F.date_format(
                F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm:ss"
            ).alias("minute"),
        )
        .distinct()
    )
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(set(got_rows)), "stream emitted duplicate keys"
    assert got_rows == sorted(map(tuple, batch.collect()))


def test_multibatch_interval_join(spark, sf_dir, events_dir, monkeypatch):
    """Stream-stream interval join across micro-batches: a click arrives
    in an earlier batch than its matching purchase, so the click-side
    join state must persist across triggers until the purchase shows up.

    Files are sliced in event-time order with increasing mod-times (the
    same discipline as the dedup test): a time-random split would
    advance the watermark past later batches' events, which the join
    then correctly drops as late — watermark semantics, not a join bug.
    """
    import glob
    import os
    import tempfile

    from pyspark.sql import Window

    slices_root = tempfile.mkdtemp(prefix="ij_events")
    df = spark.read.parquet(events_dir).withColumn(
        "bucket", F.ntile(8).over(Window.orderBy("ts"))
    )
    t = 2_000_000_000
    for b in range(1, 9):
        df.filter(F.col("bucket") == b).drop("bucket").coalesce(1).write.parquet(
            f"{slices_root}/s{b}"
        )
        (part,) = glob.glob(f"{slices_root}/s{b}/*.parquet")
        os.utime(part, (t, t))
        t += 60

    ordered = f"{slices_root}/ordered"
    os.makedirs(ordered)
    for b in range(1, 9):
        (part,) = glob.glob(f"{slices_root}/s{b}/*.parquet")
        os.link(part, f"{ordered}/b{b}.parquet")

    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    monkeypatch.setattr(
        ps,
        "stream_events",
        lambda spark_, _sf: _stream(spark_, ordered),
    )
    got = ps.interval_join_stream(spark, "ignored")

    e = (
        _read_batch(spark, events_dir)
        .select("event_id", "user_id", F.unix_micros("ts").alias("us"), "event_type")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us"
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("us").alias("click_us")
    )
    hour_us = 3600 * 1000 * 1000
    batch = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_us") >= F.col("us") - hour_us)
        & (F.col("click_us") < F.col("us")),
    ).select("event_id", "user_id", F.col("us").alias("purchase_us"), "click_us")
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows, "join produced no pairs — fixture broken?"
    assert got_rows == sorted(map(tuple, batch.collect()))


def test_multibatch_session_window_merges_across_batches(
    spark, sf_dir, events_dir, monkeypatch
):
    """A session whose events straddle a micro-batch boundary must come
    out as ONE merged session: session state has to survive the trigger
    and extend when the next batch's events land within the gap.
    Time-ordered slices (see the interval-join test) keep the watermark
    honest."""
    import glob
    import os
    import tempfile

    from pyspark.sql import Window

    slices_root = tempfile.mkdtemp(prefix="sw_events")
    df = spark.read.parquet(events_dir).withColumn(
        "bucket", F.ntile(8).over(Window.orderBy("ts"))
    )
    t = 3_000_000_000
    ordered = f"{slices_root}/ordered"
    os.makedirs(ordered)
    for b in range(1, 9):
        df.filter(F.col("bucket") == b).drop("bucket").coalesce(1).write.parquet(
            f"{slices_root}/s{b}"
        )
        (part,) = glob.glob(f"{slices_root}/s{b}/*.parquet")
        os.utime(part, (t, t))
        os.link(part, f"{ordered}/b{b}.parquet")
        t += 60

    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    monkeypatch.setattr(
        ps, "stream_events", lambda spark_, _sf: _stream(spark_, ordered)
    )
    got = ps.session_window_stream(spark, "ignored")

    from hbase_tohdfs_spark.queries import SESSION_GAP_MIN, _dsum

    batch = (
        _read_batch(spark, events_dir)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), _dsum(F.col("value"), "sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(map(tuple, batch.collect()))


# ---------------------------------------------------------------- OOO
# Out-of-order replay: an event that arrives in a LATER micro-batch with
# an OLDER timestamp — late but still inside the 1-day watermark — must
# survive state eviction.  The sliced-replay tests above keep batches in
# event-time order, so they never exercise this path.
def _write_ooo_batches(spark, batches, tmp_path_factory, tag):
    """Each batch -> one parquet file, mtimes increasing, so
    maxFilesPerTrigger=1 delivers batch i strictly before batch i+1."""
    import glob
    import os

    root = str(tmp_path_factory.mktemp(f"ooo_{tag}"))
    feed = f"{root}/feed"
    os.makedirs(feed)
    t = 4_000_000_000
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    for i, rows in enumerate(batches):
        d = f"{root}/b{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        (part,) = glob.glob(f"{d}/*.parquet")
        os.link(part, f"{feed}/f{i}.parquet")
        os.utime(f"{feed}/f{i}.parquet", (t, t))
        t += 60
    return feed


def test_session_window_keeps_late_in_watermark_event(
    spark, tmp_path_factory, monkeypatch
):
    """User A's 10:05 event arrives one batch AFTER their 10:00/10:10
    events.  It is out-of-order but within the watermark, so the open
    session must absorb it: one merged A-session with all 4 events."""
    import datetime as dt

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    batches = [
        [
            (1, ts(10, 0), 1, "click", 1.0, "{}"),
            (2, ts(10, 10), 1, "click", 1.0, "{}"),
            (3, ts(10, 30), 9, "view", 1.0, "{}"),
        ],
        [
            (4, ts(10, 5), 1, "click", 1.0, "{}"),  # late, in-watermark
            (5, ts(10, 20), 1, "click", 1.0, "{}"),
            (6, ts(10, 35), 9, "view", 1.0, "{}"),
        ],
    ]
    feed = _write_ooo_batches(spark, batches, tmp_path_factory, "sw")

    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    monkeypatch.setattr(
        ps, "stream_events", lambda spark_, _sf: _stream(spark_, feed)
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in ps.session_window_stream(spark, "ignored").collect()
    }
    assert got == {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:50:00"): 4,
        (9, "2024-01-01 10:30:00", "2024-01-01 11:05:00"): 2,
    }


def test_interval_join_keeps_late_in_watermark_click(
    spark, tmp_path_factory, monkeypatch
):
    """A click arriving one batch late (older ts, within watermark) must
    still be in join state when the purchase shows up two batches on:
    the 10:30 purchase joins ALL THREE clicks in (09:30, 10:30)."""
    import datetime as dt

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    us = lambda h, m: int(ts(h, m).replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)  # noqa: E731

    batches = [
        [
            (1, ts(10, 0), 1, "click", 1.0, "{}"),
            (2, ts(10, 4), 1, "click", 1.0, "{}"),
            (3, ts(10, 5), 9, "view", 1.0, "{}"),
        ],
        [
            (4, ts(10, 2), 1, "click", 1.0, "{}"),  # late, in-watermark
            (5, ts(10, 6), 9, "view", 1.0, "{}"),
        ],
        [
            (6, ts(10, 30), 1, "purchase", 1.0, "{}"),
        ],
    ]
    feed = _write_ooo_batches(spark, batches, tmp_path_factory, "ij")

    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    monkeypatch.setattr(
        ps, "stream_events", lambda spark_, _sf: _stream(spark_, feed)
    )
    got = sorted(
        (r["event_id"], r["user_id"], r["purchase_us"], r["click_us"])
        for r in ps.interval_join_stream(spark, "ignored").collect()
    )
    assert got == [
        (6, 1, us(10, 30), us(10, 0)),
        (6, 1, us(10, 30), us(10, 2)),
        (6, 1, us(10, 30), us(10, 4)),
    ]


def test_multibatch_kmv_sketch_equals_batch(spark, sf_dir, events_dir, monkeypatch):
    """The streaming KMV state merges across micro-batches into exactly
    the batch sketch: bottom-k-of-distinct is order- and
    batch-boundary-insensitive, so with one file per trigger the final
    emission per key must equal operators.sketch.kmv_distinct over the
    same rows."""
    from hbase_tohdfs_spark.operators import sketch
    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    monkeypatch.setattr(
        ps, "stream_events", lambda spark_, _sf: _stream(spark_, events_dir)
    )
    got = ps.kmv_distinct_stream(spark, "ignored", k=16).collect()

    batch = sketch.kmv_distinct(
        _read_batch(spark, events_dir), "event_type", "user_id", k=16
    ).collect()
    assert sorted(map(tuple, got), key=str) == sorted(map(tuple, batch), key=str)


def test_multibatch_cms_sketch_equals_batch(spark, sf_dir, events_dir, monkeypatch):
    """The streaming CMS is a plain update-mode streaming agg whose
    state merges across micro-batches into exactly the batch sketch
    (counter addition is order- and batch-boundary-insensitive), so the
    probe estimates must equal operators.sketch.cms_estimate over the
    same rows."""
    from hbase_tohdfs_spark.operators import sketch
    from hbase_tohdfs_spark.queries import _events
    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    monkeypatch.setattr(
        ps, "stream_events", lambda spark_, _sf: _stream(spark_, events_dir)
    )
    probes = list(range(10))
    got = ps.cms_counts_stream(spark, sf_dir, probes).collect()
    batch = sketch.cms_estimate(
        _events(spark, sf_dir), "user_id", probes
    ).collect()
    assert sorted(map(tuple, got), key=str) == sorted(
        map(tuple, batch), key=str
    )


def test_multibatch_hll_sketch_equals_batch(spark, sf_dir, events_dir, monkeypatch):
    """The streaming HLL is an update-mode max aggregation whose
    register state merges across micro-batches into exactly the batch
    registers (max is order- and batch-boundary-insensitive), so the
    estimates must equal operators.sketch.hll_distinct over the same
    rows."""
    from hbase_tohdfs_spark.operators import sketch
    from hbase_tohdfs_spark.queries import _events
    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    monkeypatch.setattr(
        ps, "stream_events", lambda spark_, _sf: _stream(spark_, events_dir)
    )
    got = ps.hll_distinct_stream(spark, sf_dir).collect()
    batch = sketch.hll_distinct(
        _events(spark, sf_dir), "event_type", "user_id", b=5
    ).collect()
    assert sorted(map(tuple, got), key=str) == sorted(
        map(tuple, batch), key=str
    )


def test_schema_memo_invalidates_on_regenerated_testdata(spark, tmp_path):
    """The footer-schema memo is keyed by (dir, events.parquet mtime):
    regenerating the dataset inside one session must re-probe, not
    serve the stale schema (round-5 advisory)."""
    import datetime
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    d = str(tmp_path)
    p = os.path.join(d, "events.parquet")  # single FILE, like testdata
    base = {
        "event_id": [1],
        "ts": [datetime.datetime(2024, 1, 1)],
        "user_id": [7],
        "event_type": ["view"],
        "value": [1.0],
    }
    pq.write_table(pa.table(base), p)
    first = ps.stream_events(spark, d).schema.fieldNames()
    assert "props" not in first
    # regenerate with an extra column and a strictly newer mtime
    pq.write_table(pa.table({**base, "props": ["x"]}), p)
    future = time.time() + 5
    os.utime(p, (future, future))
    second = ps.stream_events(spark, d).schema.fieldNames()
    assert "props" in second, "stale memoized schema served after regen"


def test_append_mode_aggregation_requires_watermark_flush(spark, sf_dir):
    """The r7 backfill-floor change disables the no-data flush batch by
    default. This pins the documented CONTRACT: an append-mode windowed
    aggregation emits nothing without the flush batch (the watermark
    never passes the windows' ends), and emits the closed windows when
    the call site passes needs_watermark_flush=True. No current twin
    uses that shape — this test exists so whoever adds one hits a green
    example instead of a silent empty result."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    def agg():
        ev = ps.stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
        return ev.groupBy(F.window("ts", "1 hour")).agg(
            F.count(F.lit(1)).alias("n")
        )

    without = ps._run_to_memory(agg(), "append")
    assert without.count() == 0  # the footgun the parameter guards

    with_flush = ps._run_to_memory(
        agg(), "append", needs_watermark_flush=True
    )
    assert with_flush.count() > 0


def test_backfill_checkpoint_dir_is_removed(spark, sf_dir, tmp_path, monkeypatch):
    """_run_to_memory owns its throwaway checkpoint dir (RAM-backed by
    default since r7): it must delete it on return — success AND
    failure — or every backfill leaks offset/state files into /dev/shm
    for the life of the host."""
    import os

    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    root = str(tmp_path / "ckpts")
    os.makedirs(root)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_DIR", root)

    ev = ps.stream_events(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = ps._run_to_memory(agg, "complete")
    assert out.count() > 0
    assert os.listdir(root) == []  # success path cleaned up

    # failure path: an agg whose execution throws mid-stream must still
    # remove the dir (ANSI cast of a non-numeric string raises at
    # RUNTIME, inside the micro-batch — not at analysis, so the
    # checkpoint dir exists by the time the failure happens)
    bad = ev.groupBy("event_type").agg(
        F.max(F.col("event_type").cast("int")).alias("boom")
    )
    try:
        ps._run_to_memory(bad, "complete")
    except Exception:  # noqa: BLE001 — the raise itself is incidental
        pass
    assert os.listdir(root) == []
