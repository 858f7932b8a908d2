"""Scale probes for the round-5 operators: Bloom pre-filter at 50M rows,
SemDeDup at 100k vectors — the 1000x-over-gate-SF evidence runs, same
spirit as tools/scale_demo.py (50M-cell export).

Usage: python tools/scale_probe.py [bloom|semdedup|ngram|minhash|components|embedding|streaming|text|all]
Prints one JSON line per probe.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def probe_bloom(spark) -> dict:
    """50M probe rows vs a 100k-key build side: the bloom mask prunes
    map-side (no shuffle, no join); the baseline is the broadcast
    semi-join Spark would otherwise run.  Both return exact counts of
    survivors, so the bloom's extra rows are exactly its false
    positives."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import sketch

    n_probe, n_build = 50_000_000, 100_000
    # disjoint halves + an overlap band: 50k of the build keys occur
    probe = spark.range(n_probe).selectExpr(
        "cast(id % 10000000 as string) as k"
    )
    build = spark.range(n_build).selectExpr(
        "cast(id + 9950000 as string) as k"
    )

    t0 = time.perf_counter()
    words = sketch.bloom_mask(build, "k", m_bits=1 << 20, k_hashes=3)
    build_sec = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_pass = probe.filter(
        sketch.bloom_contains("k", words, m_bits=1 << 20, k_hashes=3)
    ).count()
    probe_sec = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_exact = probe.join(
        F.broadcast(build.select("k").distinct()), "k", "left_semi"
    ).count()
    join_sec = time.perf_counter() - t0

    return {
        "probe": "bloom_50M",
        "n_probe_rows": n_probe,
        "n_build_keys": n_build,
        "bloom_build_sec": round(build_sec, 2),
        "bloom_probe_sec": round(probe_sec, 2),
        "bloom_pass": n_pass,
        "exact_semijoin_sec": round(join_sec, 2),
        "exact_match": n_exact,
        "false_positives": n_pass - n_exact,
        "probe_rows_per_sec": int(n_probe / probe_sec),
    }


def probe_semdedup(spark) -> dict:
    """100k 64-dim vectors, k=256 clusters: the pairwise stage scores
    ~n^2/k pairs instead of n^2 — the measured candidate count proves
    the blocking ratio at 20x the gate corpus."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import similarity

    n, dim, k = 100_000, 64, 256
    n_planted = 5_000  # the last 5% duplicate earlier vectors exactly
    # deterministic pseudo-embeddings: 8 latent directions + id noise,
    # with the planted tail re-deriving its source vector bit-for-bit
    emb = spark.range(n).selectExpr(
        "id as vec_id",
        f"CASE WHEN id < {n - n_planted} THEN id ELSE id - {n - n_planted}"
        " END as src",
    ).selectExpr(
        "vec_id",
        f"transform(sequence(0, {dim - 1}), d -> "
        "  cast(sin(src % 8 + d) + pmod(hash(src, d), 97) / 97.0 as double)"
        ") as embedding",
    )
    t0 = time.perf_counter()
    out = similarity.semantic_dedup(emb, k=k, iters=2, tau=0.98)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dropped"),
    ).collect()[0]
    total_sec = time.perf_counter() - t0
    return {
        "probe": "semdedup_100k",
        "n_vectors": n,
        "dim": dim,
        "k_clusters": k,
        "rows_out": agg["n"],
        "n_dropped": int(agg["n_dropped"]),
        "n_planted_dups": n_planted,
        "total_sec": round(total_sec, 2),
        "pairs_without_blocking": n * (n - 1) // 2,
        "expected_pairs_with_blocking": n * (n - 1) // (2 * k),
    }


def probe_ngram(spark, n_docs: int) -> dict:
    """n-gram Jaccard at probe scale: measures the INDEX-JOIN candidate
    volume (sum over kept postings of C(df,2) — exactly the pairs the
    inverted-index join emits) with and without the df cap, plus the
    full operator runtime.  Run at two corpus sizes, the candidate/doc
    ratio staying ~flat is the near-linearity proof for the round-5
    verdict item (the cap kills the quadratic boilerplate postings)."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup
    from hbase_tohdfs_spark.operators.text import shingle_docs

    n_uniq = n_docs - n_docs // 20  # plant 5% exact-text dups
    docs = spark.range(n_docs).selectExpr(
        f"id as doc_id", f"pmod(id, {n_uniq}) as src"
    ).selectExpr(
        "doc_id",
        # 2 boilerplate tokens shared by every doc (high-df shingles the
        # cap must drop) + 10 content tokens from a 400k vocabulary
        "concat_ws(' ', 'the', 'data', transform(sequence(0, 9), i ->"
        " concat('w', pmod(hash(src * 13 + 7, i), 400000)))) as text",
    )
    sh = shingle_docs(docs, 2).select(
        "doc_id", F.array_distinct("sh").alias("shset")
    )
    df_counts = (
        sh.select(F.explode("shset").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .persist()
    )
    stats = df_counts.agg(
        F.sum(F.expr("df * (df - 1) / 2")).alias("cand_uncapped"),
        F.sum(
            F.expr(
                f"CASE WHEN df <= {dedup.NGRAM_MAX_DF} THEN df * (df - 1) / 2"
                " ELSE 0 END"
            )
        ).alias("cand_capped"),
        F.max("df").alias("max_df"),
    ).collect()[0]
    df_counts.unpersist()

    t0 = time.perf_counter()
    n_pairs = dedup.ngram_jaccard_pairs(docs, k=2, threshold=0.5).count()
    op_sec = time.perf_counter() - t0
    return {
        "probe": f"ngram_jaccard_{n_docs}",
        "n_docs": n_docs,
        "n_planted_dup_docs": n_docs // 20,
        "candidates_capped": int(stats["cand_capped"]),
        "candidates_uncapped": int(stats["cand_uncapped"]),
        "candidates_per_doc": round(stats["cand_capped"] / n_docs, 2),
        "max_df": int(stats["max_df"]),
        "pairs_out": n_pairs,
        "operator_sec": round(op_sec, 2),
        "pairs_per_sec": int(stats["cand_capped"] / op_sec),
    }


def probe_ngram_ab(spark, n_docs: int, rounds: int = 2) -> dict:
    """r8-verdict task 1: measure what each SSJoin pruning buys at 1M
    docs on a LENGTH-VARIED corpus (the regime where the size-ratio and
    prefix bounds actually bite — real web corpora are heavy-tailed in
    length; the uniform-length probe_ngram corpus can't show this).

    Corpus: 5%% planted exact dups, 2 boilerplate tokens (df-cap food),
    4..28 content tokens per doc from a 400k vocabulary.  Measures the
    CANDIDATE volume (the index join's real output before verification)
    for plain / plain+length / prefix / prefix+length, plus interleaved
    min-of-N operator wall for plain vs plain+length (only the ratio is
    host-noise-safe), and asserts all variants emit the same pair count.
    """
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup
    from hbase_tohdfs_spark.operators.text import shingle_docs

    threshold = 0.5
    n_uniq = n_docs - n_docs // 20
    docs = spark.range(n_docs).selectExpr(
        "id as doc_id", f"pmod(id, {n_uniq}) as src"
    ).selectExpr(
        "doc_id",
        # varied length: 4 + hash(src) % 25 content tokens -> 4..28
        "concat_ws(' ', 'the', 'data', transform("
        " sequence(0, 3 + pmod(hash(src, 11), 25)), i ->"
        " concat('w', pmod(hash(src * 13 + 7, i), 400000)))) as text",
    )

    # ---- candidate counts: mirror the operator's posting construction
    sets = (
        shingle_docs(docs, 2)
        .filter(F.size("sh") > 0)
        .select("doc_id", F.array_distinct("sh").alias("shset"))
    )
    postings = sets.select(
        "doc_id", F.size("shset").alias("n_full"), F.explode("shset").alias("s")
    )
    dfc = postings.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    postings = postings.join(
        dfc.filter(F.col("df") <= dedup.NGRAM_MAX_DF), "s"
    ).persist()

    def join_count(frame, with_length: bool) -> int:
        a, b = frame.alias("a"), frame.alias("b")
        cond = (F.col("a.s") == F.col("b.s")) & (
            F.col("a.doc_id") < F.col("b.doc_id")
        )
        if with_length:
            cond = cond & (
                F.least(F.col("a.n_full"), F.col("b.n_full"))
                >= F.lit(threshold - 5e-5)
                * F.greatest(F.col("a.n_full"), F.col("b.n_full"))
            )
        return a.join(b, cond).count()

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("df", "s")
    ranked = postings.select(
        "doc_id",
        "n_full",
        "s",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_rare"),
    )
    prefix = ranked.filter(
        F.col("rnk")
        <= F.col("n_rare")
        - F.ceil(F.lit(threshold) * F.col("n_full") - F.lit(1e-9))
        + 1
    ).select("doc_id", "n_full", "s").persist()

    cand = {
        "plain": join_count(postings, False),
        "plain_length": join_count(postings, True),
        "prefix": join_count(prefix, False),
        "prefix_length": join_count(prefix, True),
    }
    prefix.unpersist()
    postings.unpersist()

    # ---- interleaved operator wall: plain vs plain+length
    walls: dict[str, list[float]] = {"filter_off": [], "filter_on": []}
    pairs_out: dict[str, int] = {}
    for _ in range(rounds):
        for key, lf in (("filter_off", False), ("filter_on", True)):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n = dedup.ngram_jaccard_pairs(
                docs, k=2, threshold=threshold, length_filter=lf
            ).count()
            walls[key].append(round(time.perf_counter() - t0, 2))
            pairs_out[key] = n
    assert pairs_out["filter_off"] == pairs_out["filter_on"], pairs_out
    return {
        "probe": f"ngram_ab_{n_docs}",
        "n_docs": n_docs,
        "threshold": threshold,
        "candidates": cand,
        "length_cut": round(1 - cand["plain_length"] / max(cand["plain"], 1), 4),
        "prefix_cut": round(1 - cand["prefix"] / max(cand["plain"], 1), 4),
        "both_cut": round(
            1 - cand["prefix_length"] / max(cand["plain"], 1), 4
        ),
        "pairs_out": pairs_out["filter_on"],
        "wall_filter_off": walls["filter_off"],
        "wall_filter_on": walls["filter_on"],
        "ratio_min_on_over_off": round(
            min(walls["filter_on"]) / min(walls["filter_off"]), 3
        ),
    }


def probe_ngram_hash_ab(spark, n_docs: int, rounds: int = 3) -> dict:
    """r9 continuation: poly-hashed shingles vs string shingles for the
    plain inverted-index ngram-Jaccard path (the winnowing r9 map-side
    form applied to the SSJoin family).  Same length-varied corpus as
    probe_ngram_ab; interleaved min-of-N operator wall (only the ratio
    is host-noise-safe); pair sets asserted identical via count plus an
    order-independent pair checksum."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup

    threshold = 0.5
    n_uniq = n_docs - n_docs // 20
    docs = spark.range(n_docs).selectExpr(
        "id as doc_id", f"pmod(id, {n_uniq}) as src"
    ).selectExpr(
        "doc_id",
        "concat_ws(' ', 'the', 'data', transform("
        " sequence(0, 3 + pmod(hash(src, 11), 25)), i ->"
        " concat('w', pmod(hash(src * 13 + 7, i), 400000)))) as text",
    )

    walls: dict[str, list[float]] = {"str": [], "poly": []}
    sums: dict[str, tuple] = {}
    for _ in range(rounds):
        for fam in ("str", "poly"):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            agg = (
                dedup.ngram_jaccard_pairs(
                    docs, k=2, threshold=threshold, shingle_hash=fam
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.hash("doc_id_a", "doc_id_b")).alias("chk"),
                )
                .collect()[0]
            )
            walls[fam].append(round(time.perf_counter() - t0, 2))
            sums[fam] = (agg["n"], agg["chk"])
    assert sums["str"] == sums["poly"], sums
    return {
        "probe": f"ngram_hash_ab_{n_docs}",
        "n_docs": n_docs,
        "threshold": threshold,
        "pairs_out": sums["poly"][0],
        "wall_str": walls["str"],
        "wall_poly": walls["poly"],
        "ratio_min_poly_over_str": round(
            min(walls["poly"]) / min(walls["str"]), 3
        ),
    }


def probe_minhash_hash_ab(spark, n_docs: int, rounds: int = 3) -> dict:
    """r9 continuation: poly-hashed vs string shingles for the full
    MinHash+LSH+verify pipeline (same trade the ngram_hash_ab probe
    measures for the SSJoin family, plus MinHash's own term: the str
    family pays one md5 per SHINGLE STRING, poly one md5 per TOKEN —
    ~k x fewer hashed bytes, no shingle string).  Pair OUTPUT differs
    between families only via LSH bucketing luck, so this asserts the
    planted exact dups (jaccard 1.0 — always bucketed together) are
    found by both; walls are interleaved min-of-N, ratio-only."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup

    n_uniq = n_docs - n_docs // 20
    docs = spark.range(n_docs).selectExpr(
        "id as doc_id", f"pmod(id, {n_uniq}) as src"
    ).selectExpr(
        "doc_id",
        "concat_ws(' ', 'the', 'data', transform(sequence(0, 9), i ->"
        " concat('w', pmod(hash(src * 13 + 7, i), 400000)))) as text",
    )
    walls: dict[str, list[float]] = {"str": [], "poly": []}
    exact: dict[str, int] = {}
    for _ in range(rounds):
        for fam in ("str", "poly"):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n = (
                dedup.minhash_dedup_pairs(
                    docs, k=3, threshold=0.8, shingle_hash=fam
                )
                .filter(F.col("jaccard") == 1.0)
                .count()
            )
            walls[fam].append(round(time.perf_counter() - t0, 2))
            exact[fam] = n
    assert exact["str"] == exact["poly"] == n_docs // 20, exact
    return {
        "probe": f"minhash_hash_ab_{n_docs}",
        "n_docs": n_docs,
        "planted_exact_pairs_found": exact["poly"],
        "wall_str": walls["str"],
        "wall_poly": walls["poly"],
        "ratio_min_poly_over_str": round(
            min(walls["poly"]) / min(walls["str"]), 3
        ),
    }


def _growth_corpus(spark, n_docs: int):
    """The shared candidate-growth corpus shape (probe_ngram /
    probe_minhash): 5% planted exact-text dups, 2 boilerplate tokens in
    every doc, 10 content tokens from a 400k vocabulary."""
    n_uniq = n_docs - n_docs // 20
    docs = spark.range(n_docs).selectExpr(
        "id as doc_id", f"pmod(id, {n_uniq}) as src"
    ).selectExpr(
        "doc_id",
        "concat_ws(' ', 'the', 'data', transform(sequence(0, 9), i ->"
        " concat('w', pmod(hash(src * 13 + 7, i), 400000)))) as text",
    )
    return docs, n_uniq


def probe_simhash_growth(
    spark, n_docs: int, run_operator: bool = True
) -> dict:
    """r11 verdict task 3: the chunk-collision candidate curve for
    simhash_dup_pairs.  Measures the exact join mass the 4x15-bit chunk
    blocking emits (sum over (chunk_idx, chunk) groups of C(cnt, 2) —
    counted from the signature frame, no join needed) vs corpus size,
    plus the end-to-end operator wall and the planted-dup recall
    invariant (exact-text dups share all 4 chunks, so every planted
    pair MUST appear in pairs_out at hamming 0)."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup

    docs, n_uniq = _growth_corpus(spark, n_docs)
    s = dedup.simhash(docs).persist()
    chunk_counts = s.select(
        F.explode(
            F.array(
                *[
                    F.expr(
                        f"struct({c} as chunk_idx,"
                        f" cast(shiftright(simhash, {c * 15}) & 32767L as int)"
                        " as chunk)"
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc")
    ).groupBy("cc").agg(F.count(F.lit(1)).alias("cnt"))
    stats = chunk_counts.agg(
        F.sum(F.expr("cnt * (cnt - 1) / 2")).alias("candidates"),
        F.max("cnt").alias("max_bucket"),
    ).collect()[0]
    s.unpersist()
    candidates = int(stats["candidates"])
    out = {
        "probe": f"simhash_growth_{n_docs}",
        "n_docs": n_docs,
        "n_planted_dup_docs": n_docs // 20,
        "chunk_candidates": candidates,
        "candidates_per_doc": round(candidates / n_docs, 2),
        "candidates_per_n2": float(
            f"{candidates / (n_docs * (n_docs - 1) / 2):.2e}"
        ),
        "max_chunk_bucket": int(stats["max_bucket"]),
    }
    if run_operator:
        t0 = time.perf_counter()
        pairs = dedup.simhash_dup_pairs(docs, max_hamming=16).persist()
        n_pairs = pairs.count()
        op_sec = time.perf_counter() - t0
        planted = spark.range(n_docs // 20).selectExpr(
            "id as doc_id_a", f"id + {n_uniq} as doc_id_b"
        )
        missed = planted.join(
            pairs, ["doc_id_a", "doc_id_b"], "left_anti"
        ).count()
        pairs.unpersist()
        out.update(
            pairs_out=n_pairs,
            planted_pairs_missed=missed,
            operator_sec=round(op_sec, 2),
        )
    return out


def probe_simhash_wide_growth(
    spark, n_docs: int, run_operator: bool = True
) -> dict:
    """r12: the collision-collapse evidence for ``bits=120``.  SCALE.md's
    simhash growth table showed 4x15-bit chunk blocking is Theta(n^2)
    (n^2-slope flat at 7.4e-4) and named the wide fingerprint as the
    corpus-scale mitigation; this probe MEASURES that mitigation on the
    SAME corpus shape and scales as probe_simhash_growth, so the two
    curves are directly comparable row for row.  The candidate mass is
    the 4x30-bit chunk join volume (sum of C(cnt, 2) per (chunk_idx,
    chunk) group, counted from the signature frame — no join needed);
    the recall invariant is unchanged (planted exact-text dups share
    both 60-bit halves, so every planted pair appears at hamming 0)."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup

    docs, n_uniq = _growth_corpus(spark, n_docs)
    s = dedup.simhash(docs, bits=120).persist()
    chunk_specs = [
        ("simhash", 0),
        ("simhash", 30),
        ("simhash_hi", 0),
        ("simhash_hi", 30),
    ]
    chunk_counts = s.select(
        F.explode(
            F.array(
                *[
                    F.expr(
                        f"struct({c} as chunk_idx,"
                        f" cast(shiftright({col}, {sh}) & {(1 << 30) - 1}L as int)"
                        " as chunk)"
                    )
                    for c, (col, sh) in enumerate(chunk_specs)
                ]
            )
        ).alias("cc")
    ).groupBy("cc").agg(F.count(F.lit(1)).alias("cnt"))
    stats = chunk_counts.agg(
        F.sum(F.expr("cnt * (cnt - 1) / 2")).alias("candidates"),
        F.max("cnt").alias("max_bucket"),
    ).collect()[0]
    s.unpersist()
    candidates = int(stats["candidates"])
    out = {
        "probe": f"simhash_wide_growth_{n_docs}",
        "n_docs": n_docs,
        "n_planted_dup_docs": n_docs // 20,
        "chunk_candidates": candidates,
        "candidates_per_doc": round(candidates / n_docs, 2),
        "candidates_per_n2": float(
            f"{candidates / (n_docs * (n_docs - 1) / 2):.2e}"
        ),
        "max_chunk_bucket": int(stats["max_bucket"]),
    }
    if run_operator:
        t0 = time.perf_counter()
        pairs = dedup.simhash_dup_pairs(docs, max_hamming=3, bits=120).persist()
        n_pairs = pairs.count()
        op_sec = time.perf_counter() - t0
        planted = spark.range(n_docs // 20).selectExpr(
            "id as doc_id_a", f"id + {n_uniq} as doc_id_b"
        )
        missed = planted.join(
            pairs, ["doc_id_a", "doc_id_b"], "left_anti"
        ).count()
        pairs.unpersist()
        out.update(
            pairs_out=n_pairs,
            planted_pairs_missed=missed,
            operator_sec=round(op_sec, 2),
        )
    return out


def _simhash_pairs_r11_order(docs, max_hamming: int):
    """The r11 simhash pairs pipeline (distinct on the candidate rows
    BEFORE the hamming verify), hard-coded as the A/B control arm the
    same way _components_loop_r11 preserves the r11 loop."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import cacheutil, dedup

    s = dedup.simhash(docs).persist()
    chunks = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.expr(
                            f"cast(shiftright(simhash, {c * 15}) & 32767L as int)"
                        ).alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk_idx", "cc.chunk")
    chunks = cacheutil.fanout_repartition(chunks, "chunk_idx", "chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.expr("bit_count(sa ^ sb)")
    pairs = cand.select(
        "doc_id_a", "doc_id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
    return cacheutil.materialize_and_release(pairs, s)


def probe_simhash_verify_order_ab(
    spark, rounds: int = 3, sf_dir: str = "/root/testdata/sf0.1"
) -> dict:
    """Isolate the r12 verify-first simhash change (hamming filter
    BEFORE the multi-chunk distinct) against the r11 distinct-first
    ordering, interleaved min-of-N at registry parameters
    (max_hamming=16 on sf documents).  Why: the r12/r11 bench pools
    read simhash 1.19x at near-matched q6 floors, but the
    behavior-identical siblings (minhash/ngram/contamination) read
    1.13-1.29x in the SAME pools — pool minima cannot separate this
    change from burst noise; adjacency can.  Raises unless both arms
    emit the identical pair multiset."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    variants = {
        "r12_verify_first": lambda: dedup.simhash_dup_pairs(docs, max_hamming=16),
        "r11_distinct_first": lambda: _simhash_pairs_r11_order(docs, 16),
    }
    times: dict = {v: [] for v in variants}
    fingerprints: dict = {}
    for _ in range(rounds):
        for vname, fn in variants.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            out = fn()
            agg = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.hash("doc_id_a", "doc_id_b", "hamming").cast("long")
                ).alias("h"),
            ).collect()[0]
            times[vname].append(round(time.perf_counter() - t0, 2))
            fp = (int(agg["n"]), int(agg["h"]))
            prev = fingerprints.setdefault(vname, fp)
            if prev != fp:
                raise RuntimeError(f"{vname} nondeterministic: {prev} vs {fp}")
    if len(set(fingerprints.values())) != 1:
        raise RuntimeError(f"pair sets differ across orderings: {fingerprints}")
    mins = {v: min(ts) for v, ts in times.items()}
    return {
        "probe": "simhash_verify_order_ab",
        "sf_dir": sf_dir,
        "rounds": rounds,
        "runs_sec": times,
        "min_sec": mins,
        "r12_over_r11": round(
            mins["r12_verify_first"] / mins["r11_distinct_first"], 3
        ),
        "pairs_out": fingerprints["r12_verify_first"][0],
    }


def probe_contamination_growth(
    spark, n_docs: int, run_operator: bool = True
) -> dict:
    """r11 verdict task 3: the postings-join-volume curve for
    contamination_report.  The inverted-index join emits exactly
    sum over df-capped shingles of f_train(s) * f_eval(s) rows —
    counted from the postings frame at the operator's own parameters
    (eval_pct=4, k=2, max_df=1000) — plus the overlap invariant: every
    planted exact-dup pair that straddles the train/eval split MUST be
    reported (n_common = the doc's distinct uncapped bigrams >= 3)."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import curation
    from hbase_tohdfs_spark.operators.text import shingle_docs

    eval_pct, k, max_df = 4, 2, 1000
    docs, n_uniq = _growth_corpus(spark, n_docs)
    is_eval = curation._bucket100("cast(doc_id as string)") < eval_pct
    postings = (
        shingle_docs(docs, k)
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            F.explode(F.array_distinct("sh")).alias("s"),
            is_eval.alias("ev"),
        )
    )
    per_shingle = postings.groupBy("s").agg(
        F.sum(F.expr("if(ev, 0, 1)")).alias("f_train"),
        F.sum(F.expr("if(ev, 1, 0)")).alias("f_eval"),
    )
    stats = per_shingle.agg(
        F.sum(
            F.expr(
                f"CASE WHEN f_train + f_eval <= {max_df}"
                " THEN f_train * f_eval ELSE 0 END"
            )
        ).alias("join_rows_capped"),
        F.sum(F.expr("f_train * f_eval")).alias("join_rows_uncapped"),
        F.max(F.expr("f_train + f_eval")).alias("max_df_seen"),
    ).collect()[0]
    join_rows = int(stats["join_rows_capped"])
    out = {
        "probe": f"contamination_growth_{n_docs}",
        "n_docs": n_docs,
        "eval_pct": eval_pct,
        "join_rows_capped": join_rows,
        "join_rows_uncapped": int(stats["join_rows_uncapped"]),
        "join_rows_per_doc": round(join_rows / n_docs, 2),
        "join_rows_per_n2": float(
            f"{join_rows / (n_docs * (n_docs - 1) / 2):.2e}"
        ),
        "max_df_seen": int(stats["max_df_seen"]),
    }
    if run_operator:
        # planted cross-split contamination: exact-dup pairs (i, i+n_uniq)
        # with exactly one side in the eval bucket; the train side must
        # appear in the report (its top-1 might be another eval dup of
        # the same src, so membership — not pair equality — is asserted)
        planted = spark.range(n_docs // 20).selectExpr(
            "id as a", f"id + {n_uniq} as b"
        )
        ev = lambda c: curation._bucket100(f"cast({c} as string)") < eval_pct  # noqa: E731
        expected_train = planted.select(
            F.when(~ev("a") & ev("b"), F.col("a"))
            .when(ev("a") & ~ev("b"), F.col("b"))
            .alias("doc_id")
        ).filter(F.col("doc_id").isNotNull())
        t0 = time.perf_counter()
        report = curation.contamination_report(
            docs, eval_pct=eval_pct, k=k, max_df=max_df
        ).persist()
        n_report = report.count()
        op_sec = time.perf_counter() - t0
        n_expected = expected_train.count()
        missed = expected_train.join(report, "doc_id", "left_anti").count()
        report.unpersist()
        out.update(
            report_rows=n_report,
            planted_contaminated_train_docs=n_expected,
            planted_missed=missed,
            operator_sec=round(op_sec, 2),
        )
    return out


def _components_loop_r11(pairs, hops: int = 3):
    """The r11 connected_components loop, hard-coded as the A/B control
    arm: edges ``distinct().persist()`` with no pinned
    partitioning (re-exchanged every round — exchange reuse never
    crosses actions), EAGER localCheckpoint + separate convergence count
    (2 jobs/round).  Returns the labels frame; converged or raises."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import cacheutil

    spark = pairs.sparkSession
    edges = pairs.select(
        F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
    )
    edges = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    edges = edges.distinct().persist()
    try:
        n_edges = edges.count()
        loop_parts = cacheutil.clamped_partitions(spark, (n_edges // 500_000) + 1)
        labels = (
            edges.select(F.col("u").alias("lu"))
            .distinct()
            .withColumn("component", F.col("lu"))
            .persist()
        )
        with cacheutil.scoped_shuffle_partitions(spark, loop_parts):
            for it in range(25):
                neighbor_min = (
                    edges.join(labels, F.col("v") == F.col("lu"))
                    .groupBy(F.col("u").alias("nu"))
                    .agg(F.min("component").alias("nmin"))
                )
                stepped = (
                    labels.join(neighbor_min, F.col("lu") == F.col("nu"), "left")
                    .select(
                        "lu",
                        F.least(
                            "component", F.coalesce("nmin", F.col("component"))
                        ).alias("component"),
                        (F.col("nmin") < F.col("component")).alias("chg"),
                    )
                    .persist()
                )
                if it >= 2:
                    new_labels = stepped
                    for _ in range(max(1, hops)):
                        fa = new_labels.alias("fa")
                        ptr = new_labels.select(
                            F.col("lu").alias("plu"),
                            F.col("component").alias("pcomp"),
                        )
                        new_labels = fa.join(
                            ptr, F.col("fa.component") == F.col("plu"), "left"
                        ).select(
                            F.col("fa.lu").alias("lu"),
                            F.coalesce("pcomp", F.col("fa.component")).alias(
                                "component"
                            ),
                            (
                                F.col("fa.chg")
                                | (F.col("pcomp") < F.col("fa.component"))
                            ).alias("chg"),
                        )
                else:
                    new_labels = stepped
                new_labels = new_labels.localCheckpoint()
                changed = new_labels.filter(F.col("chg")).count()
                stepped.unpersist()
                labels.unpersist()
                labels = new_labels
                if changed == 0:
                    return labels.select(F.col("lu").alias("doc_id"), "component")
        raise RuntimeError("r11 control loop did not converge in 25 rounds")
    finally:
        edges.unpersist()


def probe_components_loop_ab(
    spark, rounds: int = 3, sf_dir: str | None = None, deep: bool = False
) -> dict:
    """r11 verdict task 4: the components LOOP A/B — the r12 loop
    (edge set pinned ``repartition(loop_parts, "v")`` once, labels kept
    hash-partitioned on ``lu`` across rounds, LAZY localCheckpoint so
    the convergence count is the round's only job) vs the r11 loop
    hard-coded above.  Pair generation is excluded: both arms consume
    the SAME pre-materialized minhash pairs frame (registry parameters
    at sf_dir, or the deep-chain synthetic when ``deep``).  Interleaved
    per round; read RATIOS of minima.  Raises unless both arms produce
    the identical (doc_id, component) set."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup

    if deep:
        # the path-halving stress shape from probe_components: 100k
        # 10-node chains plus one 100k-diameter chain
        chains = spark.range(900_000).selectExpr(
            "id AS doc_id_a", "id + 1 AS doc_id_b"
        ).filter("pmod(id, 10) != 9")
        base = 10_000_000
        long_chain = spark.range(100_000).selectExpr(
            f"id + {base} AS doc_id_a", f"id + {base} + 1 AS doc_id_b"
        )
        pairs = chains.unionByName(long_chain).localCheckpoint()
        label = "deep:1m"
    else:
        sf_dir = sf_dir or "/root/testdata/sf0.1"
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = dedup.minhash_dedup_pairs(docs, k=3, threshold=0.5)
        label = f"sf:{sf_dir.rstrip('/').rsplit('/', 1)[-1]}"
    variants = {
        "r12": lambda: dedup.connected_components(pairs),
        "r11": lambda: _components_loop_r11(pairs),
    }
    times: dict = {v: [] for v in variants}
    fingerprints: dict = {}
    for _ in range(rounds):
        for vname, fn in variants.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            out = fn()
            agg = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("component").alias("c"),
                F.sum(F.hash("doc_id", "component").cast("long")).alias("h"),
            ).collect()[0]
            times[vname].append(round(time.perf_counter() - t0, 2))
            fp = (int(agg["n"]), int(agg["c"]), int(agg["h"]))
            prev = fingerprints.setdefault(vname, fp)
            if prev != fp:
                raise RuntimeError(f"{vname} nondeterministic: {prev} vs {fp}")
    if fingerprints["r11"] != fingerprints["r12"]:
        raise RuntimeError(
            f"label sets differ across loop variants: {fingerprints}"
        )
    mins = {v: min(ts) for v, ts in times.items()}
    return {
        "probe": f"components_loop_ab_{label}",
        "rounds": rounds,
        "runs_sec": times,
        "min_sec": mins,
        "r12_over_r11": round(mins["r12"] / mins["r11"], 3),
        "labels_out": fingerprints["r12"][0],
        "components_out": fingerprints["r12"][1],
    }


def probe_minhash(spark, n_docs: int) -> dict:
    """MinHash+LSH at probe scale: measures the BANDED-BUCKET candidate
    count (the LSH join's real output) vs the all-pairs volume, plus
    end-to-end operator wall clock and recall on planted exact dups.
    Same synthetic corpus shape as probe_ngram."""
    import time as _t

    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup

    n_uniq = n_docs - n_docs // 20  # 5% planted exact-text dups
    docs = spark.range(n_docs).selectExpr(
        "id as doc_id", f"pmod(id, {n_uniq}) as src"
    ).selectExpr(
        "doc_id",
        "concat_ws(' ', 'the', 'data', transform(sequence(0, 9), i ->"
        " concat('w', pmod(hash(src * 13 + 7, i), 400000)))) as text",
    )
    t0 = _t.perf_counter()
    sigs = dedup.minhash_signatures(docs, k=3).persist()
    n_cand = dedup.lsh_candidate_pairs(sigs).count()
    cand_sec = _t.perf_counter() - t0
    t0 = _t.perf_counter()
    pairs = dedup.minhash_dedup_pairs(docs, k=3, threshold=0.8)
    n_pairs = pairs.count()
    op_sec = _t.perf_counter() - t0
    sigs.unpersist()
    return {
        "probe": f"minhash_lsh_{n_docs}",
        "n_docs": n_docs,
        "n_planted_dup_docs": n_docs // 20,
        "lsh_candidates": n_cand,
        "all_pairs": n_docs * (n_docs - 1) // 2,
        "candidates_per_doc": round(n_cand / n_docs, 2),
        "pairs_out": n_pairs,
        "candidate_stage_sec": round(cand_sec, 2),
        "operator_sec": round(op_sec, 2),
    }


def probe_components(spark, n_edges: int) -> dict:
    """Connected components at probe scale: ~n_edges edges forming
    100k 10-node chains PLUS one 100k-node chain (diameter 10^5 — the
    path-halving stress case).  Measures rounds and wall clock; a
    1-hop propagation would need 100k rounds, path halving needs
    ~log2(diameter)."""
    import time as _t

    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup

    n_chain_nodes = n_edges - 100_000
    chains = spark.range(n_chain_nodes).selectExpr(
        "id AS doc_id_a", "id + 1 AS doc_id_b"
    ).filter("pmod(id, 10) != 9")  # break into 10-node chains
    base = 10_000_000
    long_chain = spark.range(100_000).selectExpr(
        f"id + {base} AS doc_id_a", f"id + {base} + 1 AS doc_id_b"
    )
    edges = chains.unionByName(long_chain)
    stats = {}
    t0 = _t.perf_counter()
    out = dedup.connected_components(edges, stats=stats)
    n_nodes, n_comps = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component").alias("c"),
    ).collect()[0]
    sec = _t.perf_counter() - t0
    return {
        "probe": f"components_{n_edges}",
        "n_edges": int(edges.count()),
        "n_nodes": int(n_nodes),
        "n_components": int(n_comps),
        "long_chain_diameter": 100_000,
        "rounds": stats.get("rounds"),
        "converged": stats.get("converged"),
        "total_sec": round(sec, 2),
    }


def probe_embedding(spark, n_vectors: int) -> dict:
    """Embedding dedup THROUGH THE ROUTED LSH PATH (n > 1M triggers the
    auto-route, r6 verdict task 1): synthesizes n_vectors 32-dim vectors
    entirely Spark-side (hash-seeded uniform coords — no driver data),
    plants 2% near-dups at cosine ~0.996, and measures (a) candidate
    volume per doc (the linearity claim of _lsh_params), (b) RECALL
    against the planted ground truth (each planted pair's true cosine is
    computed exactly — only pairs genuinely >= threshold count), and
    (c) end-to-end wall clock."""
    import time as _t
    import warnings

    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup
    from hbase_tohdfs_spark.operators.similarity import _dot_expr, _norm_expr

    dim, threshold = 32, 0.99
    n_dup = n_vectors // 50
    n_uniq = n_vectors - n_dup
    base_vec = (
        f"transform(sequence(0, {dim - 1}), i ->"
        " pmod(hash(src * 31 + 11, i), 1000000) / 1000000.0 - 0.5)"
    )
    noise_vec = (
        f"transform(sequence(0, {dim - 1}), i ->"
        " pmod(hash(doc_id * 17 + 3, i + 100), 1000000) / 1000000.0 - 0.5)"
    )
    emb = (
        spark.range(n_vectors)
        .selectExpr("id AS doc_id", f"pmod(id, {n_uniq}) AS src")
        .selectExpr(
            "doc_id AS vec_id",
            f"CASE WHEN doc_id < {n_uniq} THEN {base_vec} ELSE"
            f" zip_with({base_vec}, {noise_vec}, (b, n) -> b + 0.09 * n)"
            " END AS embedding",
        )
    )
    # planted ground truth: dup ids >= n_uniq pair with src = id % n_uniq;
    # keep only pairs whose TRUE cosine clears the threshold
    planted = (
        emb.filter(f"vec_id >= {n_uniq}")
        .selectExpr(f"vec_id % {n_uniq} AS id_a", "vec_id AS id_b", "embedding AS vb")
        .join(
            emb.selectExpr("vec_id AS id_a", "embedding AS va"), "id_a"
        )
        .select(
            "id_a",
            "id_b",
            (
                _dot_expr("va", "vb") / (_norm_expr("va") * _norm_expr("vb"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
        .persist()
    )
    n_gt = planted.count()

    planes, tables = dedup._lsh_params(n_vectors, threshold)
    # candidate volume = sum of b*(b-1)/2 over every (table, bucket) —
    # the pair set the bucket-local verify actually scores (pre cross-
    # table dedup), computed from bucket SIZES (a counts-only shuffle)
    # rather than materializing the pairs themselves
    from hbase_tohdfs_spark.operators.similarity import (
        bucket_expr,
        hyperplane_signs,
    )

    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    all_planes = hyperplane_signs(tables * planes, dim)
    t0 = _t.perf_counter()
    n_cand = 0
    for t in range(tables):
        pl = all_planes[t * planes : (t + 1) * planes]
        sizes = e.select(bucket_expr("v", pl).alias("bkt")).groupBy("bkt").count()
        row = sizes.selectExpr(
            "sum(count * (count - 1) / 2) AS pairs"
        ).first()
        n_cand += int(row["pairs"] or 0)
    cand_sec = _t.perf_counter() - t0

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        t0 = _t.perf_counter()
        pairs = dedup.embedding_dup_pairs(emb, threshold=threshold)  # auto-routes
        # persist before the two actions: without it the semi-join count
        # AND the total count each execute the full bucketing+GEMM DAG,
        # doubling the reported operator wall clock (r7 review finding)
        pairs = pairs.persist()
        n_pairs = pairs.count()
        op_sec = _t.perf_counter() - t0
        hits = (
            pairs.join(
                planted,
                (pairs.vec_id_a == planted.id_a) & (pairs.vec_id_b == planted.id_b),
                "left_semi",
            ).count()
        )
        pairs.unpersist()
    routed = any("LSH" in str(w.message) for w in caught)
    planted.unpersist()
    return {
        "probe": f"embedding_lsh_{n_vectors}",
        "n_vectors": n_vectors,
        "dim": dim,
        "routed_to_lsh": routed,
        "planes_per_table": planes,
        "num_tables": tables,
        "candidate_evaluations": n_cand,
        "cand_evals_per_doc": round(n_cand / n_vectors, 2),
        "all_pairs": n_vectors * (n_vectors - 1) // 2,
        "planted_pairs_above_threshold": n_gt,
        "recalled_pairs": hits,
        "recall": round(hits / n_gt, 4) if n_gt else None,
        "pairs_out": n_pairs,
        "candidate_stage_sec": round(cand_sec, 2),
        "operator_sec": round(op_sec, 2),
    }


def probe_embedding_ivf(
    spark, n_vectors: int, n_topics: int | None = None, num_cells: int | None = None
) -> dict:
    """Wide-angle embedding dedup THROUGH THE ROUTED IVF PATH (r7
    verdict task 4): threshold 0.45 — the regime where _lsh_params
    refuses (sign-LSH would need ~10^3 tables) and the auto-route now
    picks the IVF-clustered blocker.

    Corpus design (all Spark-side, hash-seeded):
    * d=128: at lower dims a 500k corpus has ~10^8 ACCIDENTAL pairs at
      cosine 0.45 (random-pair cosine sd ~ 1/sqrt(d)), which would make
      the output corpus-sized regardless of blocker quality.
    * topical structure (n/500 topics, member noise sigma=1.6): the
      cluster structure the IVF codebook exploits; typical intra-topic
      member cosine ~0.28 — BELOW threshold, so topic mass itself does
      not flood the output.
    * 2% planted dups at cosine ~0.55 (v = u + 0.9g): the ground truth;
      each planted pair's true cosine is computed exactly and only
      pairs genuinely >= threshold count toward recall.

    ``n_topics`` overrides the default linear topic growth (n/500) —
    pass a FIXED count to model the realistic sublinear-cluster regime
    (r8 verdict task 3), together with ``num_cells`` = that count so
    the codebook matches the true cluster structure.
    """
    import time as _t
    import warnings

    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import dedup
    from hbase_tohdfs_spark.operators.similarity import _dot_expr, _norm_expr

    dim, threshold = 128, 0.45
    if n_topics is None:
        n_topics = max(8, n_vectors // 500)
    n_dup = n_vectors // 50
    n_base = n_vectors - n_dup
    topic_vec = (
        f"transform(sequence(0, {dim - 1}), i ->"
        " pmod(hash(topic * 131 + 7, i), 1000000) / 1000000.0 - 0.5)"
    )
    member_noise = (
        f"transform(sequence(0, {dim - 1}), i ->"
        " pmod(hash(vec_id * 37 + 5, i + 200), 1000000) / 1000000.0 - 0.5)"
    )
    dup_noise = (
        f"transform(sequence(0, {dim - 1}), i ->"
        " pmod(hash(vec_id * 53 + 13, i + 400), 1000000) / 1000000.0 - 0.5)"
    )
    # members: topic + 1.6 * noise (scaled: both uniforms have the same
    # per-coord variance, so the ratio is what matters)
    base_expr = f"zip_with({topic_vec}, {member_noise}, (t, m) -> t + 1.6 * m)"
    emb = (
        spark.range(n_vectors)
        .selectExpr(
            "id AS vec_id",
            f"pmod(id, {n_topics}) AS topic",
            f"pmod(id, {n_base}) AS src",
        )
        .selectExpr(
            "vec_id",
            f"CASE WHEN vec_id < {n_base} THEN {base_expr} ELSE "
            # dup of base 'src': recompute the base's vector from src's
            # seeds, then add 0.9 * dup noise -> cosine ~0.55
            f"zip_with("
            f"  zip_with(transform(sequence(0, {dim - 1}), i ->"
            "     pmod(hash(pmod(src, " + str(n_topics) + ") * 131 + 7, i), 1000000) / 1000000.0 - 0.5),"
            f"   transform(sequence(0, {dim - 1}), i ->"
            "     pmod(hash(src * 37 + 5, i + 200), 1000000) / 1000000.0 - 0.5),"
            "   (t, m) -> t + 1.6 * m),"
            f"  {dup_noise}, (b, n) -> b + 2.87 * n) END AS embedding",
        )
    )
    # 2.87 = sqrt((1/0.55^2 - 1) * (1 + 1.6^2)): per-coord variances are
    # equal across the hash-uniform draws, so cos(base, base + c*noise)
    # = 1/sqrt(1 + c^2/(1+1.6^2)) — c=2.87 plants pairs at cosine ~0.55.
    planted = (
        emb.filter(f"vec_id >= {n_base}")
        .selectExpr(f"pmod(vec_id, {n_base}) AS id_a", "vec_id AS id_b", "embedding AS vb")
        .join(emb.selectExpr("vec_id AS id_a", "embedding AS va"), "id_a")
        .select(
            "id_a",
            "id_b",
            (
                _dot_expr("va", "vb") / (_norm_expr("va") * _norm_expr("vb"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
        .persist()
    )
    n_gt = planted.count()

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        t0 = _t.perf_counter()
        pairs = dedup.embedding_dup_pairs(
            emb,
            threshold=threshold,
            max_exact_vectors=10_000,
            num_cells=num_cells,
        ).persist()
        n_pairs = pairs.count()
        op_sec = _t.perf_counter() - t0
    hits = pairs.join(
        planted,
        (pairs.vec_id_a == planted.id_a) & (pairs.vec_id_b == planted.id_b),
        "left_semi",
    ).count()
    pairs.unpersist()
    planted.unpersist()
    routed = any("ivf" in str(w.message) for w in caught)
    return {
        "probe": f"embedding_ivf_{n_vectors}",
        "n_vectors": n_vectors,
        "dim": dim,
        "threshold": threshold,
        "n_topics": n_topics,
        "num_cells": num_cells,
        "routed_to_ivf": routed,
        "planted_pairs_above_threshold": n_gt,
        "recalled_pairs": hits,
        "recall": round(hits / n_gt, 4) if n_gt else None,
        "pairs_out": n_pairs,
        "operator_sec": round(op_sec, 2),
    }


def probe_streaming(spark, n_rows: int) -> dict:
    """Streaming-twin throughput at replicated input sizes: the sf0.1
    events table (100k rows) is tiled to ``n_rows`` with fresh event
    ids and a growing user-id space, written as one parquet file, and
    fed through the SHIPPED twin code paths (same sf_dir plumbing the
    registry uses).

    What this measures: the JVM-state twins' wall clock should grow
    ~linearly with input while their state stays bounded (windows x
    types for the rollup; rows x width counters for the CMS — both
    independent of n).  The Python-state KMV twin is included
    deliberately: its per-row hashlib loop is the known throughput
    ceiling of the applyInPandasWithState shape, and the measured gap
    vs the JVM twins is the documented reason the JVM-expressible
    sketches (CMS/HLL) do NOT use Python state.

    Parallelism hygiene (same trap as probe_text_curation, different
    mechanism): the single tiled parquet file is written with 4 MiB
    row groups and read with ``maxPartitionBytes`` lowered to match,
    scoped to the timed section — at default settings a ~4M-row file
    is 1-2 row groups, so every micro-batch's map stage (the per-event
    hash/window work being measured) would run 1-2 tasks wide and the
    rows/s would be near-single-thread numbers."""
    import shutil

    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.session import ensure_nanos_as_long
    from hbase_tohdfs_spark.streaming import pivot_stream as ps

    ensure_nanos_as_long(spark)
    base_dir = "/root/testdata/sf0.1"
    base = spark.read.option("pathGlobFilter", "events.parquet").parquet(
        base_dir
    )
    n_base = base.count()
    k = max(1, n_rows // n_base)
    out_dir = os.path.join(
        tempfile.gettempdir(), f"stream_probe_{n_rows}"
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    tiled = (
        base.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        )
        .withColumn("event_id", F.col("event_id") * k + F.col("rep"))
        .withColumn(
            "user_id", F.col("user_id") + F.col("rep") * F.lit(1_000_000)
        )
        .drop("rep")
    )
    # one file named exactly events.parquet, like the testdata layout;
    # small row groups so the single file still splits into ~32 tasks
    tmp_write = out_dir + ".write"
    tiled.coalesce(1).write.option(
        "parquet.block.size", str(4 * 1024 * 1024)
    ).mode("overwrite").parquet(tmp_write)
    os.makedirs(out_dir, exist_ok=True)
    part = [f for f in os.listdir(tmp_write) if f.endswith(".parquet")][0]
    os.rename(
        os.path.join(tmp_write, part), os.path.join(out_dir, "events.parquet")
    )
    shutil.rmtree(tmp_write, ignore_errors=True)

    results = {"probe": "streaming_twins", "n_rows": n_base * k}
    split_key = "spark.sql.files.maxPartitionBytes"
    saved_split = spark.conf.get(split_key)
    spark.conf.set(split_key, str(4 * 1024 * 1024))
    try:
        for name, fn in (
            ("hourly_rollup_jvm", lambda: ps.hourly_rollup_stream(spark, out_dir)),
            (
                "cms_counts_jvm",
                lambda: ps.cms_counts_stream(spark, out_dir, [1, 2, 3]),
            ),
            ("kmv_distinct_python", lambda: ps.kmv_distinct_stream(spark, out_dir)),
        ):
            t0 = time.perf_counter()
            out = fn().collect()
            sec = time.perf_counter() - t0
            results[f"{name}_sec"] = round(sec, 2)
            results[f"{name}_rows_per_sec"] = int(n_base * k / sec)
            results[f"{name}_out_rows"] = len(out)
    finally:
        spark.conf.set(split_key, saved_split)
        shutil.rmtree(out_dir, ignore_errors=True)
    return results


def probe_text_curation(spark, n_docs: int) -> dict:
    """Text-analysis and curation operators at tiled corpus sizes — the
    two operator families whose scale posture was argued from plan
    shape (pure codegen keyed aggs) but never measured.  The sf0.1
    documents table is tiled to ``n_docs`` with fresh doc ids
    and measured through the SHIPPED operators; each is a count() or
    small-agg drain so wall clock is the distributed pass, not
    collection.

    The tiled frame is REPARTITIONED before the persist: the base
    table is one small parquet file = one input partition, and
    ``explode`` preserves partitioning, so without the repartition
    every timed map stage (the dominant tokenize/hash cost) would run
    as a single task on one core and the recorded docs/s would be a
    1-thread number dressed up as a cluster pass."""
    from pyspark.sql import functions as F

    from hbase_tohdfs_spark.operators import curation, text

    base = spark.read.option("pathGlobFilter", "documents.parquet").parquet(
        "/root/testdata/sf0.1"
    )
    n_base = base.count()
    k = max(1, n_docs // n_base)
    docs = (
        base.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        )
        .withColumn("doc_id", F.col("doc_id") * k + F.col("rep"))
        .drop("rep")
        .repartition(64)
        .persist()
    )
    n = docs.count()
    results = {"probe": "text_curation", "n_docs": n}
    try:
        for name, fn in (
            ("text_stats", lambda: text.text_stats(docs).agg(F.sum("n_tokens")).collect()),
            ("lang_id", lambda: text.lang_id(docs).groupBy("predicted_lang").count().collect()),
            ("fingerprint", lambda: text.fingerprint(docs).agg(F.count(F.lit(1))).collect()),
            ("pack_sequences", lambda: curation.pack_sequences(docs).agg(F.max("seq_id")).collect()),
            ("passage_dedup", lambda: curation.passage_dedup(docs).agg(F.count(F.lit(1))).collect()),
        ):
            t0 = time.perf_counter()
            fn()
            sec = time.perf_counter() - t0
            results[f"{name}_sec"] = round(sec, 2)
            results[f"{name}_rows_per_sec"] = int(n / sec)
    finally:
        docs.unpersist()
    return results


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    # Probes deliberately run at millions of rows: force shuffle spill
    # to DISK even if the caller's environment opted the session factory
    # into RAM scratch (bench does) — a multi-GB probe spill on tmpfs
    # would eat executor memory instead of scratch space.
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = tempfile.gettempdir()
    from hbase_tohdfs_spark.session import get_spark

    spark = get_spark(app_name="scale_probe")
    if which in ("bloom", "all"):
        print(json.dumps(probe_bloom(spark)))
    if which in ("semdedup", "all"):
        print(json.dumps(probe_semdedup(spark)))
    if which in ("ngram", "all"):
        print(json.dumps(probe_ngram(spark, 250_000)))
        print(json.dumps(probe_ngram(spark, 1_000_000)))
    if which == "ngram_ab":
        print(json.dumps(probe_ngram_ab(spark, 1_000_000)))
    if which == "ngram_ab_smoke":
        print(json.dumps(probe_ngram_ab(spark, 50_000, rounds=1)))
    if which == "ngram_hash_ab":
        print(json.dumps(probe_ngram_hash_ab(spark, 1_000_000)))
    if which == "ngram_hash_ab_smoke":
        print(json.dumps(probe_ngram_hash_ab(spark, 50_000, rounds=1)))
    if which == "minhash_hash_ab":
        print(json.dumps(probe_minhash_hash_ab(spark, 1_000_000)))
    if which == "minhash_hash_ab_smoke":
        print(json.dumps(probe_minhash_hash_ab(spark, 50_000, rounds=1)))
    if which in ("minhash", "all"):
        print(json.dumps(probe_minhash(spark, 250_000)))
        print(json.dumps(probe_minhash(spark, 1_000_000)))
    if which == "growth_4m":
        # r10 verdict task 3: third point on the sub-quadratic
        # candidate-growth curves (250k / 1M / 4M) for the two
        # inverted-index dedup families — candidates/doc staying ~flat
        # across a 16x corpus range is the 100 TB extrapolation evidence.
        print(json.dumps(probe_ngram(spark, 4_000_000)))
        print(json.dumps(probe_minhash(spark, 4_000_000)))
    if which in ("components", "all"):
        print(json.dumps(probe_components(spark, 1_000_000)))
    if which == "simhash_growth":
        print(json.dumps(probe_simhash_growth(spark, 250_000)))
        print(json.dumps(probe_simhash_growth(spark, 1_000_000)))
        print(json.dumps(probe_simhash_growth(spark, 4_000_000)))
    if which == "simhash_growth_smoke":
        print(json.dumps(probe_simhash_growth(spark, 20_000)))
    if which == "simhash_wide_growth":
        print(json.dumps(probe_simhash_wide_growth(spark, 250_000)))
        print(json.dumps(probe_simhash_wide_growth(spark, 1_000_000)))
        print(json.dumps(probe_simhash_wide_growth(spark, 4_000_000)))
    if which == "simhash_wide_growth_smoke":
        print(json.dumps(probe_simhash_wide_growth(spark, 20_000)))
    if which == "simhash_verify_order_ab":
        print(json.dumps(probe_simhash_verify_order_ab(spark, rounds=3)))
    if which == "simhash_verify_order_ab_smoke":
        print(json.dumps(probe_simhash_verify_order_ab(
            spark, rounds=1, sf_dir="/root/testdata/sf0.01")))
    if which == "contamination_growth":
        print(json.dumps(probe_contamination_growth(spark, 250_000)))
        print(json.dumps(probe_contamination_growth(spark, 1_000_000)))
        print(json.dumps(probe_contamination_growth(spark, 4_000_000)))
    if which == "contamination_growth_smoke":
        print(json.dumps(probe_contamination_growth(spark, 20_000)))
    if which == "components_loop_ab":
        print(json.dumps(probe_components_loop_ab(spark, rounds=3)))
    if which == "components_loop_ab_deep":
        print(json.dumps(probe_components_loop_ab(spark, rounds=2, deep=True)))
    if which == "components_loop_ab_smoke":
        print(json.dumps(probe_components_loop_ab(spark, rounds=1,
                                                  sf_dir="/root/testdata/sf0.01")))
    if which in ("embedding", "all"):
        print(json.dumps(probe_embedding(spark, 1_200_000)))
        print(json.dumps(probe_embedding(spark, 2_400_000)))
    if which in ("embedding_ivf", "all"):
        print(json.dumps(probe_embedding_ivf(spark, 500_000)))
    if which == "embedding_ivf_smoke":
        print(json.dumps(probe_embedding_ivf(spark, 20_000)))
    if which == "embedding_ivf_1m":
        # r8 verdict task 3: fixed-cluster (sublinear-growth) regime at
        # 1M vectors, codebook pinned to the true cluster count; the
        # 500k run at the same fixed shape gives the verify-work
        # scaling ratio (model: assignment ~n, verify ~n^2/k).
        print(json.dumps(
            probe_embedding_ivf(spark, 500_000, n_topics=1000, num_cells=1000)
        ))
        print(json.dumps(
            probe_embedding_ivf(spark, 1_000_000, n_topics=1000, num_cells=1000)
        ))
    if which in ("streaming", "all"):
        print(json.dumps(probe_streaming(spark, 1_000_000)))
        print(json.dumps(probe_streaming(spark, 4_000_000)))
    if which in ("text", "all"):
        print(json.dumps(probe_text_curation(spark, 1_000_000)))
        print(json.dumps(probe_text_curation(spark, 4_000_000)))


if __name__ == "__main__":
    main()

