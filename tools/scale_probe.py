"""Scale probes for the round-5 operators: Bloom pre-filter at 50M rows,
SemDeDup at 100k vectors — the 1000x-over-gate-SF evidence runs, same
spirit as tools/scale_demo.py (50M-cell export).

Usage: python tools/scale_probe.py [VERB]   (default: all)
VERB is ``all`` or a key of ``VERBS`` (run with an unknown verb to list
them).  Prints one JSON line per probe.
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


#: verb -> the probes it runs, in order.  ``all`` runs ALL_VERBS.
VERBS = {
    "bloom": [probe_bloom],
    "semdedup": [probe_semdedup],
    "ngram": [
        lambda s: probe_ngram(s, 250_000),
        lambda s: probe_ngram(s, 1_000_000),
    ],
    "minhash": [
        lambda s: probe_minhash(s, 250_000),
        lambda s: probe_minhash(s, 1_000_000),
    ],
    # r10 verdict task 3: third point on the sub-quadratic
    # candidate-growth curves (250k / 1M / 4M) for the two
    # inverted-index dedup families — candidates/doc staying ~flat
    # across a 16x corpus range is the 100 TB extrapolation evidence.
    "growth_4m": [
        lambda s: probe_ngram(s, 4_000_000),
        lambda s: probe_minhash(s, 4_000_000),
    ],
    "components": [lambda s: probe_components(s, 1_000_000)],
    "simhash_growth": [
        lambda s: probe_simhash_growth(s, 250_000),
        lambda s: probe_simhash_growth(s, 1_000_000),
        lambda s: probe_simhash_growth(s, 4_000_000),
    ],
    "simhash_growth_smoke": [lambda s: probe_simhash_growth(s, 20_000)],
    "simhash_wide_growth": [
        lambda s: probe_simhash_wide_growth(s, 250_000),
        lambda s: probe_simhash_wide_growth(s, 1_000_000),
        lambda s: probe_simhash_wide_growth(s, 4_000_000),
    ],
    "simhash_wide_growth_smoke": [lambda s: probe_simhash_wide_growth(s, 20_000)],
    "contamination_growth": [
        lambda s: probe_contamination_growth(s, 250_000),
        lambda s: probe_contamination_growth(s, 1_000_000),
        lambda s: probe_contamination_growth(s, 4_000_000),
    ],
    "contamination_growth_smoke": [
        lambda s: probe_contamination_growth(s, 20_000)
    ],
    "embedding": [
        lambda s: probe_embedding(s, 1_200_000),
        lambda s: probe_embedding(s, 2_400_000),
    ],
    "embedding_ivf": [lambda s: probe_embedding_ivf(s, 500_000)],
    "embedding_ivf_smoke": [lambda s: probe_embedding_ivf(s, 20_000)],
    # r8 verdict task 3: fixed-cluster (sublinear-growth) regime at 1M
    # vectors, codebook pinned to the true cluster count; the 500k run
    # at the same fixed shape gives the verify-work scaling ratio
    # (model: assignment ~n, verify ~n^2/k).
    "embedding_ivf_1m": [
        lambda s: probe_embedding_ivf(s, 500_000, n_topics=1000, num_cells=1000),
        lambda s: probe_embedding_ivf(s, 1_000_000, n_topics=1000, num_cells=1000),
    ],
    "streaming": [
        lambda s: probe_streaming(s, 1_000_000),
        lambda s: probe_streaming(s, 4_000_000),
    ],
    "text": [
        lambda s: probe_text_curation(s, 1_000_000),
        lambda s: probe_text_curation(s, 4_000_000),
    ],
}

ALL_VERBS = (
    "bloom", "semdedup", "ngram", "minhash", "components", "embedding",
    "embedding_ivf", "streaming", "text",
)


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    if which != "all" and which not in VERBS:
        sys.exit(
            f"unknown verb {which!r}; valid verbs: all, {', '.join(VERBS)}"
        )
    # Probes deliberately run at millions of rows: force shuffle spill
    # to DISK even if the caller's environment opted the session factory
    # into RAM scratch (bench does) — a multi-GB probe spill on tmpfs
    # would eat executor memory instead of scratch space.
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = tempfile.gettempdir()
    from hbase_tohdfs_spark.session import get_spark

    spark = get_spark(app_name="scale_probe")
    for verb in ALL_VERBS if which == "all" else (which,):
        for probe in VERBS[verb]:
            print(json.dumps(probe(spark)))


if __name__ == "__main__":
    main()
