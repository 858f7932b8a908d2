"""Cache, session-conf and fan-out hygiene for operators with
driver-side loops, cache-barrier persists or exploding self-joins.

Three findings live here:

* Pipeline ops (`minhash_dedup_pairs`, `ngram_jaccard_pairs`,
  `simhash_dup_pairs`, `contamination_report`) persisted intermediates
  and never released them — on a long-lived session those accumulate
  executor storage.  `materialize_and_release` runs the consuming action
  eagerly and unpersists the intermediates before returning.

* Loop operators (`connected_components`, `kmeans_train`, streaming
  backfills) clamp ``spark.sql.shuffle.partitions`` for their own jobs.
  SQL conf is SESSION-global, so a concurrent query planned on the same
  session mid-loop would observe the clamp; `scoped_shuffle_partitions`
  documents the single-threaded-per-session assumption and makes
  violations loud (nested/concurrent clamps raise) instead of silently
  fighting over the setting.  Cluster deployments that need concurrent
  loops run each on its own ``spark.newSession()``.

* Fan-out self-joins (inverted-index / LSH-bucket shapes whose join
  OUTPUT dwarfs both inputs) once ran in ONE task whenever their small
  input compressed under AQE's coalesce floor (r9).  The fix lives in
  the plan, not in session conf: `fanout_repartition` pins the join
  inputs with a REPARTITION_BY_NUM exchange AQE never coalesces, and
  the planner keeps its defaults everywhere else.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession

#: set to keep lazy plans (no eager materialization, intermediates stay
#: persisted) — used by tools/dump_plans.py so PLANS.md shows the real
#: operator plans instead of a post-materialization RDD scan.
LAZY_PLANS_ENV = "SPARK_GRAFT_LAZY_PLANS"

_CLAMP_SENTINEL = "spark.hbase_tohdfs.shuffle_clamp_owner"


def materialize_and_release(result: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Run the consuming action now and release the cache-barrier frames.

    ``localCheckpoint(eager=True)`` executes the plan once and stores the
    (small — pair/report-sized) result as MEMORY_AND_DISK RDD blocks owned
    by the ContextCleaner, which frees them when the returned frame is
    garbage collected — unlike SQL-cache entries, which survive until an
    explicit unpersist.  The persisted intermediates are released in
    ``finally`` so an action failure can't leak them (ADVICE r4).

    Call sites guarantee the result is orders of magnitude smaller than
    the intermediates (near-dup pairs vs the shingled corpus); do NOT use
    this on corpus-sized results.
    """
    if os.environ.get(LAZY_PLANS_ENV):
        return result
    try:
        return result.localCheckpoint(eager=True)
    finally:
        for frame in intermediates:
            try:
                frame.unpersist()
            except Exception:  # noqa: BLE001 — best-effort release
                pass


def fanout_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Pin a fan-out join input wide: ``repartition(n, cols)`` with an
    EXPLICIT ``n`` = the session ``spark.sql.shuffle.partitions`` (the
    knob every other exchange obeys, so the fan-out scales with total
    cores; a 1-partition test session gets a 1-wide pin), never
    ``repartition(cols)`` — a column-only repartition is a
    REPARTITION_BY_COL shuffle AQE may coalesce to one partition on a
    small-compressing input, which is exactly the r9 single-task hole.
    REPARTITION_BY_NUM is preserved verbatim by AQE, so the explosion
    runs ``n`` wide no matter how small the INPUT compresses."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


@contextlib.contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Clamp ``spark.sql.shuffle.partitions`` for a driver-side loop,
    restoring the previous value on exit.

    The clamp is session-global while held — loop operators are
    single-threaded-per-session by contract.  A nested or concurrent
    clamp on the same session raises immediately rather than corrupting
    the restore value; run concurrent loops on separate
    ``spark.newSession()`` clones (shared SparkContext, isolated conf).
    """
    key = "spark.sql.shuffle.partitions"
    if spark.conf.get(_CLAMP_SENTINEL, None):
        raise RuntimeError(
            "concurrent shuffle-partition clamps on one SparkSession: "
            "loop operators (connected_components, kmeans_train, streaming "
            "backfills) are single-threaded per session — run each loop on "
            "its own spark.newSession() or serialize the calls"
        )
    prev = spark.conf.get(key)
    spark.conf.set(_CLAMP_SENTINEL, "1")
    try:
        spark.conf.set(key, str(n))
        yield
    finally:
        spark.conf.set(key, prev)
        spark.conf.unset(_CLAMP_SENTINEL)


def clamped_partitions(spark: SparkSession, wanted: int, floor: int = 4) -> int:
    """Loop-shuffle sizing with the session value as a TRUE ceiling:
    ``min(session, max(floor, wanted))`` — never raises partitions above
    a deliberately small session setting (ADVICE r4: the old
    ``max(floor, min(session, wanted))`` could grow a 1-partition test
    session to 4)."""
    raw = spark.conf.get("spark.sql.shuffle.partitions")
    session = int(raw) if str(raw).isdigit() else 200
    return min(session, max(floor, wanted))
