"""Round-13 optimization probes (r12 verdict items 2-6).

Protocol: interleaved A/B in one session, min-of-N per side, ratio-only
readings on this 3-10x-swing host; result equality asserted (sorted
collected rows) wherever a variant could change semantics.

Subcommands:
  ngram_ab             interleaved A/B of dedup_ngram_jaccard variants:
                       baseline vs n_full folded into the pair-count
                       grouping (drops the two final size joins + the
                       now-single-consumer persist) vs a SHUFFLE_HASH
                       hint on the postings self-join; candidate-row
                       counts reported per verdict item 2.
  components_decompose stagewise wall decomposition of dedup_components
                       (pairs alone -> + loop) + per-round exchange
                       count from the executed plan (verdict item 3).
  cms_decompose        batch vs streaming CMS walls, with the streaming
                       sink isolated from the shared probe/estimate tail
                       (verdict item 4).
  q8_fold_ab           interleaved A/B of tpch_q8: 7 sequential
                       broadcast probes vs customer/supplier dimensions
                       pre-folded into single broadcast builds (verdict
                       item 6); collected results asserted equal.

Usage: python tools/opt_probe_r13.py <probe> [sf_dir]
Prints one JSON line per probe.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

N_RUNS = 3


def _min_of(fn, n=N_RUNS) -> float:
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return round(best, 3)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


# --------------------------------------------------------------- ngram
def _ngram_variant(docs, k, threshold, variant: str, max_df=1000):
    """Plain-path ngram jaccard with the r13 candidate restructures.

    variant:
      base     the shipped operator (delegates to it)
      fold     n_full carried through the pair-count grouping; the two
               final size joins removed.  The sh_docs persist STAYS: the
               plain path consumes it 4x (both self-join sides + both
               dfc broadcast builds) — the first fold probe dropped it
               and paid the tokenize+hash chain repeatedly (224s vs 32s
               on a degraded host).
      shj      fold + SHUFFLE_HASH hint on the postings self-join
    """
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import cacheutil, dedup

    if variant == "base":
        return dedup.ngram_jaccard_pairs(docs, k=k, threshold=threshold)

    sh_docs = dedup.poly_shingle_docs(docs, k).persist()
    sets = sh_docs.filter(F.size("sh") > 0).select(
        "doc_id", F.array_distinct("sh").alias("shset")
    )
    postings = sets.select(
        "doc_id", F.size("shset").alias("n_full"), F.explode("shset").alias("s")
    )
    postings = cacheutil.fanout_repartition(postings, "s")
    dfc = postings.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    postings = postings.join(dfc.filter(F.col("df") <= max_df), "s")

    a = postings.alias("a")
    b = postings.alias("b")
    if variant == "shj":
        b = b.hint("shuffle_hash")
    cond = (
        (F.col("a.s") == F.col("b.s"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.least(F.col("a.n_full"), F.col("b.n_full"))
            >= F.lit(threshold - 5e-5)
            * F.greatest(F.col("a.n_full"), F.col("b.n_full"))
        )
    )
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.n_full").alias("na"),
            F.col("b.n_full").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.round(
        F.col("n_common").cast("double")
        / F.greatest(F.col("na") + F.col("nb") - F.col("n_common"), F.lit(1)),
        4,
    )
    pairs = inter.select("doc_id_a", "doc_id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
    return cacheutil.materialize_and_release(pairs, sh_docs)


def probe_ngram_ab(spark, sf_dir: str, rounds: int = N_RUNS) -> dict:
    from hbase_tohdfs_spark.queries import _t

    docs = _t(spark, sf_dir, "documents")
    variants = ["base", "fold", "shj"]
    walls = {v: None for v in variants}
    rows = {}
    for r in range(rounds):
        order = variants if r % 2 == 0 else variants[::-1]
        for v in order:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = _ngram_variant(docs, 2, 0.5, v)
            _noop(df)
            el = time.perf_counter() - t0
            print(f"# round {r} {v}: {el:.2f}s", file=sys.stderr, flush=True)
            walls[v] = el if walls[v] is None else min(walls[v], el)
            if v not in rows:
                rows[v] = _sorted_rows(df)
    for v in variants[1:]:
        assert rows[v] == rows["base"], f"{v} rows differ from base"
    return {
        "probe": "ngram_ab",
        "sf_dir": sf_dir,
        "n_runs": rounds,
        "walls_sec": {v: round(w, 3) for v, w in walls.items()},
        "ratio_base_over_fold": round(walls["base"] / walls["fold"], 3),
        "ratio_base_over_shj": round(walls["base"] / walls["shj"], 3),
        "result_rows": len(rows["base"]),
    }


def probe_ngram_counts(spark, sf_dir: str) -> dict:
    """Candidate-volume accounting (verdict item 2: report the deltas).
    Separate from the wall A/B: the unfiltered eq-join count is
    sum_s C(df_s, 2) rows — minutes of pure counting on a sick host."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import cacheutil, dedup
    from hbase_tohdfs_spark.queries import _t

    docs = _t(spark, sf_dir, "documents")
    sh_docs = dedup.poly_shingle_docs(docs, 2)
    sets = sh_docs.filter(F.size("sh") > 0).select(
        "doc_id", F.array_distinct("sh").alias("shset")
    )
    postings = sets.select(
        "doc_id", F.size("shset").alias("n_full"), F.explode("shset").alias("s")
    )
    postings = cacheutil.fanout_repartition(postings, "s")
    dfc = postings.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    postings = postings.join(dfc.filter(F.col("df") <= 1000), "s")
    a, b = postings.alias("a"), postings.alias("b")
    eq = (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    lf = eq & (
        F.least(F.col("a.n_full"), F.col("b.n_full"))
        >= F.lit(0.5 - 5e-5) * F.greatest(F.col("a.n_full"), F.col("b.n_full"))
    )
    cand_all = a.join(b, eq).count()
    print(f"# eq-join rows: {cand_all}", file=sys.stderr, flush=True)
    cand_lf = a.join(b, lf).count()
    print(f"# lf-join rows: {cand_lf}", file=sys.stderr, flush=True)
    distinct_pairs = (
        a.join(b, lf)
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .distinct()
        .count()
    )
    return {
        "probe": "ngram_counts",
        "sf_dir": sf_dir,
        "candidate_rows_eq_join": cand_all,
        "candidate_rows_after_size_ratio_prune": cand_lf,
        "distinct_candidate_pairs": distinct_pairs,
    }


# --------------------------------------------------------- components
def probe_components_decompose(spark, sf_dir: str) -> dict:
    from hbase_tohdfs_spark.operators import dedup
    from hbase_tohdfs_spark.queries import _t

    docs = _t(spark, sf_dir, "documents")

    def pairs_only():
        _noop(dedup.minhash_dedup_pairs(docs, k=3, threshold=0.5))

    def full():
        pairs = dedup.minhash_dedup_pairs(docs, k=3, threshold=0.5)
        _noop(dedup.connected_components(pairs))

    out = {"probe": "components_decompose", "sf_dir": sf_dir, "n_runs": N_RUNS}
    out["pairs_only_sec"] = _min_of(pairs_only)
    out["full_sec"] = _min_of(full)

    # Loop-only wall on a materialized edge set + round/exchange stats.
    pairs = dedup.minhash_dedup_pairs(docs, k=3, threshold=0.5)
    stats: dict = {}

    def loop_only():
        stats.clear()
        _noop(dedup.connected_components(pairs, stats=stats))

    out["loop_only_sec"] = _min_of(loop_only)
    out["rounds"] = stats.get("rounds")
    out["converged"] = stats.get("converged")
    out["n_pairs"] = pairs.count()
    return out


# ---------------------------------------------------------------- cms
def probe_cms_decompose(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import sketch
    from hbase_tohdfs_spark.queries import _events
    from hbase_tohdfs_spark.queries_pipeline import CMS_PROBE_USERS
    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    def batch_twin():
        _noop(
            sketch.cms_estimate(
                _events(spark, sf_dir), "user_id", CMS_PROBE_USERS
            )
        )

    def stream_full():
        _noop(ps.cms_counts_stream(spark, sf_dir, CMS_PROBE_USERS))

    def stream_sink_only():
        events = ps.stream_events(spark, sf_dir)
        cells = sketch.cms_cells(events, "user_id")
        counts = cells.groupBy("r", "bucket").count()
        emitted = ps._run_to_memory(counts, "update", parts=1)
        _noop(emitted)

    def estimate_tail_only():
        # the shared probe+merge tail over a pre-materialized emission set
        events = ps.stream_events(spark, sf_dir)
        cells = sketch.cms_cells(events, "user_id")
        counts = cells.groupBy("r", "bucket").count()
        emitted = ps._run_to_memory(counts, "update", parts=1)
        emitted = emitted.localCheckpoint(eager=True)
        t0 = time.perf_counter()
        _noop(
            sketch.cms_estimate(
                _events(spark, sf_dir),
                "user_id",
                CMS_PROBE_USERS,
                sketch=emitted.select(
                    "r", "bucket", F.col("count").alias("c")
                ),
                merge_emissions=True,
            )
        )
        return time.perf_counter() - t0

    out = {"probe": "cms_decompose", "sf_dir": sf_dir, "n_runs": N_RUNS}
    out["batch_twin_sec"] = _min_of(batch_twin)
    out["stream_full_sec"] = _min_of(stream_full)
    out["stream_sink_only_sec"] = _min_of(stream_sink_only)
    best = None
    for _ in range(N_RUNS):
        el = estimate_tail_only()
        best = el if best is None else min(best, el)
    out["estimate_tail_sec"] = round(best, 3)
    return out


# ----------------------------------------------------------------- q8
def _q8_folded(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.queries import _rev_dec, _t

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
    cust_am = (
        cust.join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("cn_key"),
                    F.col("n_regionkey").alias("cr_key"),
                )
            ),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .join(F.broadcast(region), F.col("cr_key") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nat = supp.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_am), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nat), li.l_suppkey == F.col("s_suppkey"))
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


def probe_q8_fold_ab(spark, sf_dir: str, rounds: int = N_RUNS) -> dict:
    from hbase_tohdfs_spark.queries import q_tpch_q8

    walls = {"base": None, "fold": None}
    rows = {}
    for r in range(rounds):
        order = ["base", "fold"] if r % 2 == 0 else ["fold", "base"]
        for side in order:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = q_tpch_q8(spark, sf_dir) if side == "base" else _q8_folded(
                spark, sf_dir
            )
            _noop(df)
            el = time.perf_counter() - t0
            walls[side] = el if walls[side] is None else min(walls[side], el)
            if side not in rows:
                rows[side] = _sorted_rows(df)
    assert rows["base"] == rows["fold"], "q8 fold changed the result"
    base_plan = q_tpch_q8(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    fold_plan = _q8_folded(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    return {
        "probe": "q8_fold_ab",
        "sf_dir": sf_dir,
        "n_runs": rounds,
        "base_sec": round(walls["base"], 3),
        "fold_sec": round(walls["fold"], 3),
        "ratio_base_over_fold": round(walls["base"] / walls["fold"], 3),
        "base_bhj": base_plan.count("BroadcastHashJoin"),
        "fold_bhj": fold_plan.count("BroadcastHashJoin"),
        "rows": len(rows["base"]),
    }


def main() -> None:
    import os

    from hbase_tohdfs_spark.session import get_spark

    probe = sys.argv[1] if len(sys.argv) > 1 else "ngram_ab"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    if not os.environ.get("SPARK_GRAFT_LOCAL_DIR") and os.path.isdir("/dev/shm"):
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = "/dev/shm/spark-local"
    spark = get_spark(app_name=f"opt_probe_{probe}")
    spark.range(1000).selectExpr("sum(id)").collect()
    fns = {
        "ngram_ab": probe_ngram_ab,
        "ngram_counts": probe_ngram_counts,
        "components_decompose": probe_components_decompose,
        "cms_decompose": probe_cms_decompose,
        "q8_fold_ab": probe_q8_fold_ab,
    }
    if probe not in fns:
        raise SystemExit(f"unknown probe {probe!r}")
    print(json.dumps(fns[probe](spark, sf_dir)))
    spark.stop()


if __name__ == "__main__":
    main()
