"""Cache and session-conf hygiene (round-4 verdict items 4-5).

Every pipeline operator that persists intermediates must release them
before returning its (materialized) result — a long-lived session must
not accumulate executor storage across calls.  Loop operators clamp
``spark.sql.shuffle.partitions`` only within a guarded scope that
restores the session value and refuses concurrent clamps.  Fan-out
operators pin their join inputs with a REPARTITION_BY_NUM exchange."""

from __future__ import annotations

import pytest

from hbase_tohdfs_spark.operators import cacheutil, curation, dedup, similarity


def _sql_cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def docs(spark):
    rows = [
        (i, f"token{i % 7} common words appear here plus token{i % 5} and token{i}", "en", "s", 60)
        for i in range(1, 41)
    ]
    rows += [(100, rows[0][1], "en", "dup", 60)]
    return spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    )


@pytest.fixture()
def vectors(spark):
    rows = [(i, [float((i * j) % 5 + 1) for j in range(8)]) for i in range(1, 31)]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


@pytest.mark.parametrize(
    "op",
    [
        lambda d: dedup.minhash_dedup_pairs(d, k=3, threshold=0.5),
        lambda d: dedup.ngram_jaccard_pairs(d, k=2, threshold=0.5),
        lambda d: dedup.simhash_dup_pairs(d, max_hamming=3),
        lambda d: curation.contamination_report(d, eval_pct=10, min_common=2),
        lambda d: curation.domain_rebalance(d),
        lambda d: curation.temperature_mix(d),
    ],
    ids=["minhash", "ngram", "simhash", "contamination", "rebalance",
         "temperature"],
)
def test_pipeline_ops_release_their_caches(spark, docs, op):
    spark.catalog.clearCache()
    result = op(docs)
    result.count()  # the op already materialized; count is the consumer
    assert _sql_cache_empty(spark), "operator left frames in the SQL cache"


def test_ivf_topk_releases_assignment_cache(spark, vectors):
    spark.catalog.clearCache()
    similarity.ivf_topk(vectors, query_ids=[1, 2], k=3, num_cells=4).count()
    assert _sql_cache_empty(spark)


def test_connected_components_releases_and_restores(spark):
    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_id_a: long, doc_id_b: long"
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = dedup.connected_components(pairs)
    assert out.count() == 5
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert _sql_cache_empty(spark)


def test_connected_components_releases_on_failure(spark):
    # A mid-loop failure must not leak the edge/label caches or the conf.
    spark.catalog.clearCache()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    bad = spark.createDataFrame(
        [("1", "2")], "doc_id_a: string, doc_id_b: string"
    ).selectExpr(
        "cast(doc_id_a as long) doc_id_a",
        # ANSI cast failure surfaces when the loop first executes
        "cast(concat(doc_id_b, 'x') as long) doc_id_b",
    )
    with pytest.raises(Exception):
        dedup.connected_components(bad)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert _sql_cache_empty(spark)


def test_kmeans_releases_and_restores(spark, vectors):
    spark.catalog.clearCache()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    _cents, assigned = similarity.kmeans_train(vectors, k=2, iters=2)
    assert assigned.count() == 30
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert _sql_cache_empty(spark)


def test_nested_clamp_raises(spark):
    with cacheutil.scoped_shuffle_partitions(spark, 4):
        with pytest.raises(RuntimeError, match="concurrent shuffle-partition"):
            with cacheutil.scoped_shuffle_partitions(spark, 2):
                pass
    # guard fully released after exit: a fresh clamp works
    with cacheutil.scoped_shuffle_partitions(spark, 4):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_clamped_partitions_session_is_true_ceiling(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "2")
        # ADVICE r4: a session below the floor must NOT be raised to it
        assert cacheutil.clamped_partitions(spark, 1) == 2
        spark.conf.set(key, "32")
        assert cacheutil.clamped_partitions(spark, 1) == 4  # floor applies
        assert cacheutil.clamped_partitions(spark, 7) == 7
        assert cacheutil.clamped_partitions(spark, 1000) == 32  # ceiling
    finally:
        spark.conf.set(key, prev)


def test_lazy_plans_env_keeps_plan_lazy(spark, docs, monkeypatch):
    monkeypatch.setenv(cacheutil.LAZY_PLANS_ENV, "1")
    spark.catalog.clearCache()
    result = dedup.minhash_dedup_pairs(docs, k=3, threshold=0.5)
    # lazy mode: no eager materialization, plan still shows the operator
    # (intermediates stay cached — plan-dump tooling clears them itself)
    assert "InMemory" in result._jdf.queryExecution().toString() or not _sql_cache_empty(spark)
    spark.catalog.clearCache()


def test_repart_mode_pins_fanout_joins_by_num(spark, docs, monkeypatch):
    """The fan-out width guarantee lives in the PLAN: the join inputs
    carry a REPARTITION_BY_NUM shuffle (AQE never coalesces those — an
    unpinned repartition(cols) would be REPARTITION_BY_COL, coalescible,
    which reopens the r9 single-task hole)."""
    monkeypatch.setenv(cacheutil.LAZY_PLANS_ENV, "1")  # keep the plan inspectable
    spark.catalog.clearCache()
    result = dedup.minhash_dedup_pairs(docs, k=3, threshold=0.5)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan[:2000]
    assert "REPARTITION_BY_COL" not in plan, plan[:2000]
    spark.catalog.clearCache()


def test_repart_mode_pins_at_top_of_pipeline(spark, docs, monkeypatch):
    """r11 late-pin regression guard: the pin must sit at the TOP of the
    postings pipeline so the df aggregation and the pair self-join REUSE
    the pinned HashPartitioning(s).  A pin placed below the df-cap join
    re-introduces a planner-owned exchange on the shingle key for the df
    groupBy (ENSURE_REQUIREMENTS origin) and leaves the explode+probe
    chain at the input's width — the measured 1-task hole (SCALE.md
    round 11)."""
    import re

    monkeypatch.setenv(cacheutil.LAZY_PLANS_ENV, "1")
    spark.catalog.clearCache()
    result = dedup.ngram_jaccard_pairs(docs, k=2, threshold=0.5)
    plan = result._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(
        r"Exchange hashpartitioning\(([^)]*)\), (\w+)", plan
    )
    s_keyed = [orig for cols, orig in exchanges if re.match(r"s#\d+L?,", cols)]
    assert s_keyed, "no shingle-keyed exchange found — pin missing entirely"
    assert set(s_keyed) == {"REPARTITION_BY_NUM"}, (
        f"df agg or self-join planned its own exchange on s: {exchanges}"
    )
    spark.catalog.clearCache()
