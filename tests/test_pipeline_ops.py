"""Unit tests for the pipeline operators (dedup/similarity/text/multimodal).

Oracle equivalence is covered by test_queries_oracle.py; these cover
operator-level semantics and edge cases not visible through the registry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_tohdfs_spark.operators import (
    dedup,
    multimodal,
    similarity,
    sketch,
    text,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s1", 43),
        (2, "the quick brown fox jumps over the lazy dog", "en", "s2", 43),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat", "en", "s3", 43),  # near dup
        (4, "completamente diferente documento sin relacion alguna aqui", "es", "s4", 58),
        (5, "el", "es", "s5", 2),  # too short for shingles
    ]
    return spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    )


def test_exact_dedup_keeps_lowest_doc_id(docs):
    kept = dedup.exact_dedup(docs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 1 in ids and 2 not in ids  # doc 2 is the duplicate
    assert ids == {1, 3, 4, 5}


def test_minhash_finds_near_dup_pair(docs):
    pairs = dedup.minhash_dedup_pairs(docs, k=3, threshold=0.5).collect()
    found = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in pairs}
    assert (1, 2) in found and found[(1, 2)] == 1.0  # identical text
    assert (1, 3) in found and 0.5 <= found[(1, 3)] < 1.0
    assert all(a < b for a, b in found)


def test_lsh_bucket_cap_drops_mega_buckets(spark):
    # 4 identical docs share every bucket (bucket size 4); cap at 3
    # removes all their candidate pairs.
    rows = [(i, "aaa bbb ccc ddd eee", "en", "s", 19) for i in range(4)]
    rows.append((9, "zzz yyy xxx www vvv", "en", "s", 19))
    d = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    )
    sigs = dedup.minhash_signatures(d)
    uncapped = dedup.lsh_candidate_pairs(sigs).count()
    capped = dedup.lsh_candidate_pairs(sigs, max_bucket_size=3).count()
    assert uncapped == 6  # C(4,2)
    assert capped == 0


def test_minhash_excludes_short_docs(docs):
    sigs = dedup.minhash_signatures(docs)
    assert 5 not in {r["doc_id"] for r in sigs.collect()}


def test_minhash_signature_matches_python_replica(spark):
    """The engine's signature (explode -> codegen min aggs over the
    affine rehash) must equal a brute-force Python replica of the same
    family — pins the base-hash slice, the (a_i, b_i) derivation, and
    the min semantics against an independent implementation."""
    import hashlib

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
        (2, "pack my box with five dozen liquor jugs now", "en", "s", 43),
    ]
    d = spark.createDataFrame(
        rows,
        "doc_id: long, text: string, lang: string, source: string, n_chars: long",
    )
    p = dedup.MINHASH_PRIME
    coeffs = dedup.minhash_coeffs(dedup.MINHASH_FUNCS)

    def sigs_from_base(base_by_doc):
        return {
            doc_id: [min((a * h + b) % p for h in base) for a, b in coeffs]
            for doc_id, base in base_by_doc.items()
        }

    # base = 60-bit per-token md5 slices Horner-folded mod 2^60 (replicating text.poly_shingles_sql's
    # 30/30-split multiply, which equals plain (h*B + t) % 2^60), then
    # reduced into the Mersenne field.
    from hbase_tohdfs_spark.operators.text import POLY_B

    M = 1 << 60

    def poly_base(text):
        toks = [t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t]
        th = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
        out = []
        for i in range(len(th) - 2):
            h = th[i]
            for j in (1, 2):
                h = (h * POLY_B + th[i + j]) % M
            out.append(h % p)
        return out

    expected_poly = sigs_from_base(
        {doc_id: poly_base(text) for doc_id, text, *_ in rows}
    )
    got_poly = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(dedup.MINHASH_FUNCS)]
        for r in dedup.minhash_signatures(d, k=3).collect()
    }
    assert got_poly == expected_poly


def test_connected_components_chain_and_pair(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_id_a: long, doc_id_b: long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_log_rounds(spark):
    """Path halving: a 100-node chain (diameter 99) must converge in
    ~log2(diameter) rounds, well under the default max_iter=25 that a
    pure 1-hop propagation would silently truncate at."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_id_a: long, doc_id_b: long"
    )
    stats: dict = {}
    got = dedup.connected_components(pairs, stats=stats).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == 101
    assert stats["converged"]
    # path halving: O(log diameter) — measured 8 rounds on the 100-chain
    assert stats["rounds"] <= 10


def test_connected_components_multihop_same_labels_fewer_rounds(spark):
    """hops > 1 chains extra pointer jumps inside each round's plan: the
    fixpoint (min-label per component) is unique, so labels must be
    IDENTICAL to the 1-hop loop, and a deep chain must converge in
    strictly fewer rounds (the r9 A/B measured 18 -> 8 rounds, 1.8x,
    on the 1M-edge diameter-10^5 probe)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "doc_id_a: long, doc_id_b: long"
    )
    s1: dict = {}
    s3: dict = {}
    got1 = sorted(
        map(tuple, dedup.connected_components(pairs, stats=s1, hops=1).collect())
    )
    got3 = sorted(
        map(tuple, dedup.connected_components(pairs, stats=s3, hops=3).collect())
    )
    assert got1 == got3
    assert s3["converged"] and s1["converged"]
    assert s3["rounds"] < s1["rounds"], (s1, s3)


def test_connected_components_warns_when_truncated(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_id_a: long, doc_id_b: long"
    )
    stats: dict = {}
    with pytest.warns(RuntimeWarning, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2, stats=stats)
    assert not stats["converged"]


def test_simhash_identical_and_different(docs):
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[4]
    assert 0 <= fp[1] < 2**60


def test_simhash_pairs_hamming(spark, docs):
    pairs = dedup.simhash_dup_pairs(docs, max_hamming=3).collect()
    got = {(r["doc_id_a"], r["doc_id_b"]): r["hamming"] for r in pairs}
    assert got[(1, 2)] == 0  # identical docs always collide in every chunk
    assert all(h <= 3 for h in got.values())
    assert all(a < b for a, b in got)
    # NOTE: docs 1 vs 3 differ by one token of nine — with so few tokens a
    # single token legitimately flips many bits, so no presence assertion.


def test_simhash_pairs_bucket_cap(spark, docs):
    """The max_bucket guard (SCALE.md r12: chunk blocking is Theta(n^2)
    in random collisions, so corpus-scale callers bound per-key join
    mass).  Identical docs collide in ALL 4 chunks, so capping can only
    lose a pair if every one of its shared chunks is a mega-bucket:
    with a cap of 1 every bucket holding the duplicated docs drops and
    the pair disappears; with a cap at corpus size nothing changes."""
    base = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.simhash_dup_pairs(docs, max_hamming=3).collect()
    }
    uncapped = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.simhash_dup_pairs(
            docs, max_hamming=3, max_bucket=1_000_000
        ).collect()
    }
    assert uncapped == base  # a never-binding cap is semantics-identical
    capped = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.simhash_dup_pairs(docs, max_hamming=3, max_bucket=1).collect()
    }
    assert (1, 2) in base and (1, 2) not in capped


def test_ngram_jaccard_exact_and_near(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, k=2, threshold=0.5).collect()
    found = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in pairs}
    assert found[(1, 2)] == 1.0  # identical text
    assert (1, 3) in found and 0.5 <= found[(1, 3)] < 1.0
    assert all(a < b for a, b in found)
    assert not any(4 in p or 5 in p for p in found)  # unrelated / too short


def test_ngram_jaccard_matches_brute_force_verify(spark):
    """The index join (df cap, length filter, poly-hashed shingles) must
    emit exactly the pairs and values of a brute-force reference: exact
    string-shingle Jaccard (``jaccard_verify``) over ALL a<b doc pairs,
    at several thresholds.  The corpus mixes near-duplicates, disjoint
    and too-short docs with prefixes of one long document, whose size
    ratios span both sides of each threshold — contained pairs whose
    jaccard EQUALS the size ratio sit on the length filter's
    rounded-jaccard boundary.  No shingle reaches the df cap here, so
    the cap does not change the reference."""
    import random

    rng = random.Random(23)
    vocab = [f"tok{i}" for i in range(60)]
    base = [vocab[rng.randrange(60)] for _ in range(40)]
    rows = []
    # prefixes of the same doc: sizes 4..40
    for i, n_tok in enumerate(range(4, 41, 4)):
        rows.append((i, " ".join(base[:n_tok])))
    # unrelated docs of varied lengths
    for j in range(10):
        toks = [vocab[rng.randrange(60)] for _ in range(3 + 4 * j)]
        rows.append((100 + j, " ".join(toks)))
    rows += [
        (201, "the quick brown fox jumps over the lazy dog"),
        (202, "the quick brown fox jumps over the lazy cat"),
        (203, "the quick brown fox leaps over a sleepy dog"),
        (204, "completely unrelated text about spark plans here"),
        (205, "another unrelated document mentioning spark plans too"),
        (206, "the quick brown fox jumps over the lazy dog"),  # dup of 201
        (207, "short doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8):
        got, ref = _ngram_and_brute_force(docs, t)
        assert got == ref, (t, got, ref)
        assert got  # sanity: the corpus produces pairs at every t


def _ngram_and_brute_force(docs, t):
    """(ngram_jaccard_pairs, jaccard_verify over all a<b pairs) at k=2."""
    ids = docs.select("doc_id")
    all_pairs = (
        ids.withColumnRenamed("doc_id", "doc_id_a")
        .crossJoin(ids.withColumnRenamed("doc_id", "doc_id_b"))
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
    )
    got = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs, k=2, threshold=t).collect()))
    ref = sorted(
        map(
            tuple,
            dedup.jaccard_verify(docs, all_pairs, k=2, threshold=t)
            .select("doc_id_a", "doc_id_b", "jaccard")
            .collect(),
        )
    )
    return got, ref


def test_ngram_jaccard_poly_family_matches_str_family(spark):
    """The poly-hashed shingle family must emit the same pairs with the
    same jaccard values as exact Jaccard over the shingle STRINGS:
    hashed-set Jaccard equals string-set Jaccard whenever the 60-bit
    hash is collision-free on the corpus, which the per-doc distinct
    counts below confirm.  Includes a too-short and an empty doc."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox leaps over a sleepy dog"),
        (4, "completely unrelated text about spark plans here"),
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "short doc"),
        (7, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def distinct_sizes(sh_docs):
        return sorted(
            map(
                tuple,
                sh_docs.select("doc_id", F.size(F.array_distinct("sh"))).collect(),
            )
        )

    assert distinct_sizes(text.poly_shingle_docs(docs, 2)) == distinct_sizes(
        text.shingle_docs(docs, 2)
    )
    for t in (0.3, 0.5, 0.8):
        got, ref = _ngram_and_brute_force(docs, t)
        assert got == ref, (t, got, ref)
        assert got  # sanity: pairs exist at every tested threshold


def test_ngram_jaccard_length_filter_is_lossless(spark):
    """The size-ratio prune must never drop a pair that clears the
    threshold, including contained pairs whose jaccard EQUALS the
    threshold.  Doc i is a prefix chain with exactly i distinct bigrams,
    so the pair (a, b) has jaccard a/b.  3/7 and 2/3 round UP to 4
    decimals (0.4286, 0.6667): at those thresholds the exact size ratio
    sits below the threshold, and only the bound's rounding slack keeps
    the pair.  3/6 is an exact boundary."""
    words = [f"w{i}" for i in range(8)]
    rows = [(n, " ".join(words[: n + 1])) for n in (2, 3, 6, 7)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t, boundary in ((round(3 / 7, 4), (3, 7)), (round(2 / 3, 4), (2, 3)), (0.5, (3, 6))):
        got, ref = _ngram_and_brute_force(docs, t)
        assert got == ref, (t, got, ref)
        assert boundary in {(a, b) for a, b, _ in got}, (t, got)


def test_embedding_dup_pairs_blocked_matches_naive(spark):
    import itertools
    import math
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    # tiny block size forces many cross-block groups (the tricky path)
    got = {
        (r["vec_id_a"], r["vec_id_b"]): r["cosine"]
        for r in dedup.embedding_dup_pairs(emb, threshold=0.3, block_size=7).collect()
    }
    vecs = {i: [float(x) for x in v] for i, v in rows}
    # float32 storage: quantize exactly as parquet/Spark will
    import struct

    vecs = {
        i: [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        for i, v in vecs.items()
    }
    expect = {}
    for a, b in itertools.combinations(sorted(vecs), 2):
        va, vb = vecs[a], vecs[b]
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        c = round(dot / (na * nb), 6)
        if c >= 0.3:
            expect[(a, b)] = c
    assert set(got) == set(expect)
    for p, c in expect.items():
        assert abs(got[p] - c) < 2e-6


def test_ivf_topk_scores_match_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in similarity.cosine_topk(emb, [0, 1], k=1000).collect()
    }
    approx = similarity.ivf_topk(emb, [0, 1], k=5).collect()
    assert len(approx) > 0
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        assert key in brute and brute[key] == r["cosine"]
    # ranks are dense per query starting at 1
    by_q = {}
    for r in approx:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_cosine_topk_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),   # identical direction to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [0.9, 0.1, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    top = similarity.cosine_topk(emb, [0], k=3).collect()
    assert [r["vec_id"] for r in top] == [1, 3, 2]
    assert top[0]["cosine"] == 1.0
    assert top[2]["cosine"] == 0.0
    assert [r["rank"] for r in top] == [1, 2, 3]


def test_lsh_topk_subset_of_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = similarity.cosine_topk(emb, [0, 1], k=50)
    approx = similarity.lsh_topk(emb, [0, 1], k=5)
    brute_pairs = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    # every LSH hit must be a real (query, candidate) pair with the same
    # score as brute force computes
    for r in approx.collect():
        if (r["query_id"], r["vec_id"]) in brute_pairs:
            continue  # in brute top-50: score agreement implied by oracle test
        # outside top-50 is possible (small bucket) but score must be valid
        assert -1.0 <= r["cosine"] <= 1.0


def test_lsh_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    """Hamming-1 multi-probe scores a strict superset of the single-probe
    candidates, so its overlap with the exact top-k can only grow."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2]
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(emb, qids, k=5).collect()
    }

    def hits(probe):
        got = similarity.lsh_topk(emb, qids, k=5, probe_hamming=probe).collect()
        return {(r["query_id"], r["vec_id"]) for r in got}

    single, multi = hits(0), hits(1)
    assert len(multi & exact) >= len(single & exact)
    # multi-probe candidate pool includes the whole single-probe bucket,
    # so every single-probe top hit that survives ranking stays ranked
    assert len(multi) >= len(single)


def test_lang_markers_drive_prediction(spark):
    rows = [
        (1, "the cat and the dog is in that house", "en", "s", 1),
        (2, "el que la los y de un es aqui", "es", "s", 1),
    ]
    d = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    )
    got = {r["doc_id"]: r["predicted_lang"] for r in text.lang_id(d).collect()}
    assert got[1] == "en"
    assert got[2] == "es"


def test_text_stats_empty_doc(spark):
    d = spark.createDataFrame(
        [(1, "", "en", "s", 0)],
        "doc_id: long, text: string, lang: string, source: string, n_chars: long",
    )
    row = text.text_stats(d).collect()[0]
    assert row["n_tokens"] == 0
    assert row["avg_chars_per_token"] is None
    assert row["punct_ratio"] == 0.0


def test_fingerprint_stability(docs):
    a = {r["doc_id"]: r["min_fingerprint"] for r in text.fingerprint(docs).collect()}
    b = {r["doc_id"]: r["min_fingerprint"] for r in text.fingerprint(docs).collect()}
    assert a == b
    assert a[1] == a[2]  # identical docs -> identical fingerprints


def test_fingerprint_poly_matches_duckdb_replay(spark):
    """The rolling-polynomial shingle hash must be replayable VERBATIM
    in DuckDB (the oracle contract): same per-token 60-bit md5 slice,
    same Horner fold from poly_shingles_duckdb — value-level
    equality, not just structure.  Pins the 30/30-bit split multiply
    against engine overflow/precedence drift."""
    import duckdb

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different content here with many more tokens"),
        (4, "ab cd"),  # < k tokens -> drops out in both engines
        (5, ""),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["n_fingerprints"], r["min_fingerprint"])
        for r in text.fingerprint(d, k=3, window=4).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS v(doc_id, text)"
    )
    sql = f"""
    WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS t
         FROM docs),
    th_t AS (SELECT doc_id, list_transform(t, x ->
               ('0x' || substr(md5(x), 1, 15))::BIGINT) AS th
             FROM toks WHERE len(t) >= 3),
    hs AS (SELECT doc_id, {text.poly_shingles_duckdb('th', 3)} AS hsa
           FROM th_t),
    exploded AS (SELECT doc_id, unnest(hsa) AS h,
                        generate_subscripts(hsa, 1) AS pos FROM hs),
    winmin AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
               FROM exploded),
    fps AS (SELECT DISTINCT doc_id, fp FROM winmin)
    SELECT doc_id, count(*), min(fp) FROM fps GROUP BY doc_id ORDER BY doc_id
    """
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    assert got == want


def test_repetition_signals_hand_computed(spark):
    rows = [
        (1, "spam spam spam spam spam", "en", "s", 24),
        (2, "all words here are different completely", "en", "s", 39),
        (3, "el", "es", "s", 2),  # < 2 tokens: no bigrams, drops out
    ]
    d = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    )
    out = {r["doc_id"]: r for r in text.repetition_signals(d, k=2).collect()}
    assert set(out) == {1, 2}
    # doc 1: four "spam spam" bigrams -> 1 distinct of 4, top holds all 4
    assert out[1]["n_shingles"] == 4 and out[1]["n_distinct"] == 1
    assert out[1]["frac_repeated"] == 0.75 and out[1]["top_share"] == 1.0
    # doc 2: five distinct bigrams -> nothing repeated
    assert out[2]["n_shingles"] == 5 and out[2]["n_distinct"] == 5
    assert out[2]["frac_repeated"] == 0.0 and out[2]["top_share"] == 0.2


def _texts(docs):
    return {r["doc_id"]: r["text"] for r in docs.collect()}


def test_multimodal_roundtrip(docs):
    rows = multimodal.blob_features_and_frames(docs).filter("kind = 'features'")
    feats = {r["doc_id"]: r for r in rows.collect()}
    assert feats[1]["n_bytes"] == 43
    assert feats[1]["content_md5"] == feats[2]["content_md5"]
    assert feats[1]["head_hex"] == "74686520717569636b"[:16]


def test_media_decode_is_real_bmp_parse(docs):
    # synth_bmp renders genuine BMP containers; the dispatching decode
    # stage must agree with a direct parse of the same bytes.
    for t in _texts(docs).values():
        payload = multimodal.synth_bmp(t.encode("utf-8"))
        assert payload[:2] == b"BM"
        expected = multimodal.decode_bmp(payload)
        decoded = multimodal._decode_resize_stage_rows(payload, 8, 8)[0]
        stage, w, h, _, _, means = decoded
        assert stage == "decode"
        assert (w, h) == (expected["width"], expected["height"])
        assert means == expected["channel_means"]
        assert 4 <= w <= 16 and 4 <= h <= 16


def test_resize_plumbing(docs):
    rows = {
        d: multimodal._decode_resize_stage_rows(
            multimodal.synth_bmp(t.encode("utf-8")), 8, 8
        )[1]
        for d, t in _texts(docs).items()
    }
    assert len(rows) == 5
    for stage, src_w, _, out_w, out_h, means in rows.values():
        assert (stage, out_w, out_h) == ("resize", 8, 8)
        assert 4 <= src_w <= 16
        assert all(0.0 <= m <= 255.0 for m in means)
    assert rows[1][5] == rows[2][5]  # same payload


def test_frame_sample_plumbing(docs):
    for t in _texts(docs).values():
        frames = multimodal.walk_stub_frames(t.encode("utf-8"), every=4)
        n = frames[0][0]
        assert 8 <= n < 16
        assert [f[1] for f in frames] == list(range(0, n, 4))
        assert len({f[2] for f in frames}) == len(frames)


def test_asof_join_semantics(spark):
    from hbase_tohdfs_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 10, "L1"), ("a", 20, "L2"), ("a", 5, "L0"), ("b", 7, "L3")],
        "k: string, ts: long, lbl: string",
    )
    right = spark.createDataFrame(
        [("a", 10, 1.0, 1), ("a", 10, 2.0, 2), ("a", 15, 3.0, 3), ("b", 9, 9.0, 4)],
        "k: string, ts: long, v: double, seq: long",
    )
    got = {
        r["lbl"]: r["v"]
        for r in asof_join(
            left, right, on="k", ts="ts", value_cols=["v"], tiebreak="seq"
        ).collect()
    }
    assert got["L0"] is None  # no right row at or before ts=5
    assert got["L1"] == 2.0  # inclusive match at equal ts; tiebreak -> seq 2
    assert got["L2"] == 3.0  # latest right row <= 20
    assert got["L3"] is None  # right ts=9 is after left ts=7


def test_range_join_boundaries(spark):
    from hbase_tohdfs_spark.operators.rangejoin import range_join

    left = spark.createDataFrame([("a", 1000, "L")], "k: string, lts: long, lbl: string")
    right = spark.createDataFrame(
        [("a", 899, 0), ("a", 900, 1), ("a", 1000, 2), ("a", 1001, 3), ("b", 950, 4)],
        "k: string, rts: long, tag: int",
    )
    got = {
        r["tag"]
        for r in range_join(
            left, right, on="k", left_ts="lts", right_ts="rts", lower=-100, upper=0
        ).collect()
    }
    # window [900, 1000] inclusive: 899 out, 1001 out, other key out
    assert got == {1, 2}


def test_range_join_crosses_bucket_boundary(spark):
    from hbase_tohdfs_spark.operators.rangejoin import range_join

    # W = 100; left ts 149 covers [49, 149] which spans buckets 0 and 1
    left = spark.createDataFrame([("a", 149)], "k: string, lts: long")
    right = spark.createDataFrame(
        [("a", 49), ("a", 99), ("a", 100), ("a", 149), ("a", 48), ("a", 150)],
        "k: string, rts: long",
    )
    got = sorted(
        r["rts"]
        for r in range_join(
            left, right, on="k", left_ts="lts", right_ts="rts", lower=-100, upper=0
        ).collect()
    )
    assert got == [49, 99, 100, 149]


def test_range_join_exact_buckets_beyond_double_precision(spark):
    """Bucket ids must come from integer floor division: at ts > 2^53 a
    DOUBLE quotient rounds, crossing an integer boundary and silently
    dropping matching pairs."""
    from hbase_tohdfs_spark.operators.rangejoin import range_join

    base = (1 << 60) + 1  # not representable in double (rounds away)
    left = spark.createDataFrame([("a", base)], "k: string, lts: long")
    right = spark.createDataFrame(
        [("a", base - 3), ("a", base), ("a", base + 3), ("a", base + 8)],
        "k: string, rts: long",
    )
    got = sorted(
        r["rts"] - base
        for r in range_join(
            left, right, on="k", left_ts="lts", right_ts="rts", lower=-5, upper=5
        ).collect()
    )
    assert got == [-3, 0, 3]


def test_kmeans_separable_blobs(spark):
    """Three well-separated blobs: k-means must recover them exactly,
    deterministically, with centroids at the blob means."""
    import random

    rng = random.Random(7)
    rows = []
    centers = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    for i in range(90):
        cx, cy = centers[i % 3]
        rows.append(
            (i, [cx + rng.uniform(-0.5, 0.5), cy + rng.uniform(-0.5, 0.5)])
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents, assign = similarity.kmeans_train(emb, k=3, iters=5)
    got = {r["vec_id"]: r["cluster"] for r in assign.collect()}
    # Same blob -> same cluster, different blobs -> different clusters.
    for i in range(90):
        assert got[i] == got[i % 3]
    assert len({got[0], got[1], got[2]}) == 3
    # Centroids sit on the blob centers (within the jitter radius).
    for c in cents:
        assert any(
            abs(c[0] - cx) < 0.6 and abs(c[1] - cy) < 0.6 for cx, cy in centers
        )
    # Deterministic: second run, identical assignment.
    _, again = similarity.kmeans_train(emb, k=3, iters=5)
    assert got == {r["vec_id"]: r["cluster"] for r in again.collect()}


def test_centroid_literal_is_bit_exact(spark):
    """centroid_literal renders doubles through repr + SQL parse; the
    round trip must be BIT-exact for the Lloyd trajectory (and thus the
    DuckDB oracle) to be unaffected by the literal construction path.
    Covers denormals, -0.0, huge/tiny exponents, NaN and infinities."""
    import math
    import random
    import struct

    rng = random.Random(11)
    awkward = [
        5e-324, -5e-324, -0.0, 0.1 + 0.2, 1e308, -1e-308,
        float("nan"), float("inf"), float("-inf"), 123456789.123456789,
    ]
    randoms = [
        rng.gauss(0, 1) * 10 ** rng.randint(-300, 300) for _ in range(22)
    ]
    cents = [awkward + randoms[:6], randoms[6:22] + awkward[:16]]
    cents = [c[:16] for c in cents]
    got = (
        spark.range(1)
        .select(similarity.centroid_literal(cents).alias("c"))
        .collect()[0]["c"]
    )
    for want_row, got_row in zip(cents, got):
        for w, g in zip(want_row, got_row):
            if math.isnan(w):
                assert math.isnan(g)
            else:
                # bit-level compare catches -0.0 vs 0.0 too
                assert struct.pack(">d", w) == struct.pack(">d", g)


def test_kmeans_assignment_is_shuffle_free(spark):
    """The assignment stage must be map-side: centroid literals, no join,
    no exchange anywhere in its plan."""
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    cents, assign = similarity.kmeans_train(emb, k=2, iters=1)
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_lsh_buckets_vary_on_mismatched_dim(spark):
    """Regression: zip_with null-pads when vector dim != plane dim, and
    without the null-safe product every vector collapsed into bucket 0 —
    silently turning LSH into a full scan.  32-dim vectors against the
    default 64-dim planes must still spread across buckets."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = similarity.hyperplane_signs(similarity.NUM_PLANES, 64)
    buckets = {
        r["b"]
        for r in emb.select(
            similarity.bucket_expr("embedding", planes).alias("b")
        ).collect()
    }
    assert len(buckets) > 4, f"bucket collapse: {buckets}"


def test_pii_scrub_counts_and_redaction(spark):
    """Pin the PII contract: counts per category, redaction order
    (emails, then phones, then IPs), and no-PII passthrough."""
    rows = [
        (1, "mail a.b+c@foo-bar.org or x@y.io, call 555-123-4567"),
        (2, "server at 192.168.0.1 and 10.0.0.255"),
        (3, "clean text, no pii here; 12-34 and 1.2.3 do not count"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.pii_scrub(docs).collect()}
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ipv4"]) == (2, 1, 0)
    assert (out[2]["n_emails"], out[2]["n_phones"], out[2]["n_ipv4"]) == (0, 0, 2)
    assert out[2]["has_pii"] and not out[3]["has_pii"]
    # doc 3 is untouched: its clean_md5 equals md5 of the original text
    import hashlib

    assert out[3]["clean_md5"] == hashlib.md5(rows[2][1].encode()).hexdigest()


def test_url_stats_domains(spark):
    docs = spark.createDataFrame(
        [
            (1, "see https://a.example.org/x and http://b.example.net/y.png"),
            (2, "again https://a.example.org/z?not=matched"),
            (3, "no urls"),
        ],
        "doc_id long, text string",
    )
    rows = {r["domain"]: r for r in text.url_stats(docs).collect()}
    assert rows["a.example.org"]["n_urls"] == 2
    assert rows["a.example.org"]["n_docs"] == 2
    assert rows["b.example.net"]["n_urls"] == 1
    assert set(rows) == {"a.example.org", "b.example.net"}


def test_kmv_distinct_error_band(spark):
    """KMV estimate is exact below k and within the theoretical
    ~3/sqrt(k-2) band (≈3 sigma) above it, across group cardinalities."""
    from hbase_tohdfs_spark.operators import sketch

    rows = [("small", f"u{i}") for i in range(40)]
    rows += [("big", f"v{i}") for i in range(5000)]
    rows += rows[:100]  # duplicates must not occupy sketch slots
    df = spark.createDataFrame(rows, "grp string, val string")
    out = {r["grp"]: r for r in sketch.kmv_distinct(df, "grp", "val", k=64).collect()}
    assert out["small"]["n_kmv"] == 40.0  # exact below k
    rel_err = abs(out["big"]["n_kmv"] - 5000) / 5000
    assert rel_err < 3 / (62 ** 0.5), f"rel_err={rel_err:.3f}"


def test_pii_regexes_match_python_re(spark):
    """Property: Spark's Java-regex counts equal Python re's on adversarial
    text drawn from a PII-shaped alphabet (guards against dialect drift in
    \\b, classes, and quantifiers across the three patterns)."""
    import re as pyre

    from hypothesis import given, settings
    from hypothesis import strategies as st

    alphabet = "ab1.@-%_ x\n5"
    pats = {
        "n_emails": pyre.compile(text.EMAIL_RE),
        "n_phones": pyre.compile(text.PHONE_RE),
        "n_ipv4": pyre.compile(text.IPV4_RE),
    }
    corpus: list[str] = []

    @settings(max_examples=60, deadline=None)
    @given(st.text(alphabet=alphabet, min_size=0, max_size=40))
    def collect(s):
        corpus.append(s)

    collect()
    corpus += ["a@b.co 555-123-4567 1.2.3.4", "x@y.zz@q.ww", "999.999.999.999"]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(corpus)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in text.pii_scrub(df).collect()}
    for i, s in enumerate(corpus):
        for fld, pat in pats.items():
            assert got[i][fld] == len(pat.findall(s)), (fld, repr(s))


def test_bm25_ranks_term_rich_docs_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "table table window spark table"),
            (2, "table and nothing else here at all in this longer doc"),
            (3, "no relevant words whatsoever"),
        ],
        "doc_id long, text string",
    )
    rows = text.bm25_topk(docs, ["table", "window", "spark"], k=5).collect()
    ids = [r["doc_id"] for r in rows]
    assert ids[0] == 1 and 3 not in ids


def test_unigram_logprob_prefers_common_tokens(spark):
    docs = spark.createDataFrame(
        [(1, "common common common"), (2, "rare"), (3, "common common")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["avg_logprob"] for r in
           text.unigram_logprob(docs).collect()}
    assert out[1] > out[2]  # common tokens -> higher (less negative) logprob


def test_phash_groups_identical_images(spark):
    """Identical payloads share an aHash; distinct random images do not
    collide; phash_dup_groups keeps the lowest doc_id."""
    b1 = multimodal.synth_bmp(b"same-image")
    b2 = multimodal.synth_bmp(b"other-image")
    hashes = {1: multimodal.compute_phash(b1), 2: multimodal.compute_phash(b1),
              3: multimodal.compute_phash(b2)}
    assert hashes[1] == hashes[2] != hashes[3]
    assert len(hashes[1]) == 16
    ph = spark.createDataFrame(list(hashes.items()), "doc_id long, phash string")
    groups = multimodal.phash_dup_groups(ph).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_doc_id"] == 1


def test_cms_overestimates_within_bound(spark):
    """With a deliberately tiny sketch (width=8) collisions are forced:
    estimates never undercount, and the overestimate obeys the
    ~2N/width bound with margin (min over 4 rows)."""
    from hbase_tohdfs_spark.operators import sketch

    rows = [(i % 50,) for i in range(2000)]  # 50 values x 40 each
    df = spark.createDataFrame(rows, "val long")
    out = sketch.cms_estimate(df, "val", [0, 1, 2, 3, 4], rows=4, width=8)
    n = 2000
    for r in out.collect():
        assert r["cms_count"] >= r["true_count"]
        assert r["cms_count"] - r["true_count"] <= 2 * n / 8


def test_cms_cells_match_driver_side_probe_hash(spark):
    """The join-free point query only works if the ENGINE's cell
    derivation (cms_cells: md5 digest sliced per hash row, computed in
    the executed plan) and the DRIVER's plan-time replica (hashlib
    inside cms_estimate.probe_bucket) agree bit-for-bit — they are
    independent code paths.  Pin them against each other on both
    branches (sliced rows<=4 and the >4 per-row-md5 fallback)."""
    import hashlib

    from hbase_tohdfs_spark.operators import sketch

    vals = ["0", "17", "hello world", "a\\b'c", ""]
    df = spark.createDataFrame([(v,) for v in vals], "val string")
    for rows, width in ((4, 256), (6, 64)):
        # compare the full multiset of (r, bucket) cells — row order out
        # of the engine is not meaningful
        eng = sorted(
            (r["r"], r["bucket"])
            for r in sketch.cms_cells(
                df, "val", rows=rows, width=width
            ).collect()
        )
        exp = []
        for v in vals:
            for i in range(rows):
                if rows <= 4:
                    d = hashlib.md5(v.encode()).hexdigest()
                    h = int(d[i * 8 : (i + 1) * 8], 16)
                else:
                    h = int(
                        hashlib.md5(f"{i}:{v}".encode()).hexdigest()[:15], 16
                    )
                exp.append((i, h % width))
        assert eng == sorted(exp), f"rows={rows}"


def test_cms_estimate_probe_edge_cases(spark):
    """r7 review pins for the join-free point query: empty probe list
    -> empty frame (not a crash); duplicate probes -> one row each
    (matching the oracle's GROUP BY); a backslash/quote probe is a
    VALUE, not SQL text; rows=1 works (no least() arity trap)."""
    from hbase_tohdfs_spark.operators import sketch

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("a\\n'c",)], "val string"
    )

    empty = sketch.cms_estimate(df, "val", [])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "val", "true_count", "cms_count",
    ]

    dup = sketch.cms_estimate(df, "val", ["a", "a", "b"]).collect()
    assert [r["val"] for r in dup] == ["a", "b"]
    by_v = {r["val"]: r for r in dup}
    assert by_v["a"]["true_count"] == 2 and by_v["b"]["true_count"] == 1

    weird = sketch.cms_estimate(df, "val", ["a\\n'c", "x\\"]).collect()
    got = {r["val"]: r["true_count"] for r in weird}
    assert got == {"a\\n'c": 1, "x\\": 0}

    one_row = sketch.cms_estimate(df, "val", ["a"], rows=1).collect()
    assert one_row[0]["cms_count"] >= one_row[0]["true_count"] == 2


def test_cms_estimate_join_fallback_matches_fanout_path(spark):
    """Above _CMS_PROBE_FANOUT_MAX the estimate switches to the
    broadcast-join plan; both paths must return identical rows."""
    from hbase_tohdfs_spark.operators import sketch

    df = spark.createDataFrame([(i % 40,) for i in range(800)], "val long")
    probes = list(range(0, 45))  # > _CMS_PROBE_FANOUT_MAX, incl. misses
    assert len(probes) > sketch._CMS_PROBE_FANOUT_MAX
    joined = sketch.cms_estimate(df, "val", probes).collect()
    # force the fan-out path on the same probes by raising the cutoff
    import unittest.mock as mock

    with mock.patch.object(sketch, "_CMS_PROBE_FANOUT_MAX", 1000):
        direct = sketch.cms_estimate(df, "val", probes).collect()
    assert [tuple(r) for r in joined] == [tuple(r) for r in direct]


def test_semantic_dedup_prunes_within_cluster(spark):
    """SemDeDup: exact duplicates are pruned (the higher id drops, its
    original survives, they share a cluster by construction — identical
    vectors get identical assignments), while every non-duplicate pair
    sits below tau (max hand-computed cosine 0.9959 < 0.999) and
    survives regardless of which blobs k-means merges."""
    rows = [
        (0, [10.0, 0.0]), (1, [9.0, 3.0]), (2, [11.0, -2.0]),
        (3, [0.0, 10.0]), (4, [2.0, 9.0]), (5, [-1.0, 11.0]),
        (6, [-10.0, 0.0]), (7, [-9.0, -3.0]), (8, [-11.0, 2.0]),
        (9, [10.0, 0.0]),   # exact copy of id 0
        (10, [0.0, 10.0]),  # exact copy of id 3
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(emb, k=3, iters=3, tau=0.999)
    got = {r["vec_id"]: r for r in out.collect()}
    assert len(got) == 11
    assert not got[9]["keep"] and not got[10]["keep"]
    assert got[9]["nn_cosine"] == 1.0 and got[10]["nn_cosine"] == 1.0
    # duplicates share their original's cluster; the original survives
    assert got[9]["cluster"] == got[0]["cluster"] and got[0]["keep"]
    assert got[10]["cluster"] == got[3]["cluster"] and got[3]["keep"]
    # everything that isn't an exact copy survives
    assert sorted(v["vec_id"] for v in got.values() if v["keep"]) == list(
        range(9)
    )
    # per cluster, the lowest id is always kept (join keeps lower ids)
    for cid in {r["cluster"] for r in got.values()}:
        members = sorted(v["vec_id"] for v in got.values() if v["cluster"] == cid)
        assert got[members[0]]["keep"]


def test_semantic_dedup_pairwise_is_cluster_local(spark):
    """The pairwise stage must join on cluster equality (n^2/k work),
    never a cross join: the executed plan's only cartesian-free path is
    an equi-join carrying the cluster key."""
    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 7)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.semantic_dedup(emb, k=4, iters=1, tau=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_hll_estimates_within_error_band(spark):
    """HLL with m=32 registers: relative error on a 500-distinct column
    stays inside 3 sigma (3 * 1.04/sqrt(32) ~ 55%), and the estimate is
    invariant under repartitioning (register max is merge-order-free)."""
    df = spark.range(5000).selectExpr(
        "cast(id % 5 as string) as seg", "cast(id % 500 as string) as uid"
    )
    out = sketch.hll_distinct(df, "seg", "uid", b=5)
    rows = {r["seg"]: r for r in out.collect()}
    assert len(rows) == 5
    for r in rows.values():
        # every seg sees 100 distinct uids
        assert abs(r["n_hll"] - 100) / 100 < 0.55
        assert 1 <= r["registers_hit"] <= 32
    again = sketch.hll_distinct(df.repartition(17, "uid"), "seg", "uid", b=5)
    assert {r["seg"]: r["n_hll"] for r in again.collect()} == {
        k: v["n_hll"] for k, v in rows.items()
    }


def test_hll_small_range_is_linear_counting(spark):
    """Below 2.5m with empty registers the estimator must take the
    linear-counting branch — tiny cardinalities come out near-exact, not
    register-noise."""
    df = spark.range(400).selectExpr(
        "'a' as seg", "cast(id % 4 as string) as uid"
    )
    out = sketch.hll_distinct(df, "seg", "uid", b=5).collect()
    assert len(out) == 1
    assert abs(out[0]["n_hll"] - 4) <= 1.5


def test_bloom_semijoin_no_false_negatives(spark):
    """Bloom membership can never miss a real key (every build key's
    positions are set), and the false-positive rate on disjoint probes
    stays within ~4x the theoretical (1 - e^(-kn/m))^k."""
    build = spark.range(300).selectExpr("cast(id as string) as k")
    probe = spark.range(5000).selectExpr("cast(id as string) as k")
    out = sketch.bloom_semijoin_stats(probe, build, "k", "k").collect()[0]
    assert out["n_probed"] == 5000
    assert out["n_true_match"] == 300
    # no false negatives: every true match passes the bloom
    assert out["n_bloom_pass"] >= out["n_true_match"]
    assert out["n_bloom_pass"] - out["n_false_pos"] == out["n_true_match"]
    import math

    expected_fp = (1 - math.exp(-3 * 300 / 4096)) ** 3
    assert out["fp_rate"] <= 4 * expected_fp


def test_bloom_probe_is_map_side(spark):
    """The membership pre-filter itself must be join-free and
    shuffle-free: 64 literal longs in the plan, O(1) probes."""
    build = spark.range(100).selectExpr("cast(id as string) as k")
    probe = spark.range(1000).selectExpr("cast(id as string) as k")
    words = sketch.bloom_mask(build, "k")
    filtered = probe.filter(sketch.bloom_contains("k", words))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    # filter keeps all 100 real keys plus (rare) false positives
    n = filtered.count()
    assert 100 <= n <= 130


def test_hll_rho_matches_python_trailing_zeros(spark):
    """Property (hypothesis-driven values, one Spark job): the engine's
    bin()/TRIM rho formula equals Python's trailing-zero count + 1 for
    arbitrary suffixes, including the w=0 cap."""
    from hypothesis import given, settings, strategies as st

    vals: set[int] = {0, 1, 2, 3, 4, (1 << 55) - 1, 1 << 54}

    @settings(max_examples=80, deadline=None)
    @given(st.integers(0, (1 << 55) - 1))
    def collect(w):
        vals.add(w)

    collect()
    maxrho = 56  # b=5 layout: 60-bit hash, 55-bit suffix, cap 56
    df = spark.createDataFrame([(v,) for v in sorted(vals)], "w long")
    got = {
        r["w"]: r["rho"]
        for r in df.selectExpr(
            "w",
            f"CASE WHEN w = 0 THEN {maxrho} ELSE length(bin(w)) -"
            " length(trim(TRAILING '0' FROM bin(w))) + 1 END as rho",
        ).collect()
    }
    for w, rho in got.items():
        if w == 0:
            assert rho == maxrho
        else:
            expect = (w & -w).bit_length()  # trailing zeros + 1
            assert rho == expect, (w, rho, expect)


def test_bloom_positions_agree_across_engine_oracle_and_replica(spark):
    """The probe/mask/oracle position derivations are independent code
    paths that must agree bit-for-bit on BOTH branches — the sliced
    k<=4 path and the k>4 per-hash-md5 fallback (the round-7 review
    caught the oracle lacking the fallback branch: at k=5 it read past
    the 32 hex digits and crashed DuckDB instead of replaying the
    engine)."""
    import duckdb
    import hashlib

    from hbase_tohdfs_spark.operators import sketch

    vals = ["1", "42", "hello", ""]
    m = 128
    for k in (3, 5):
        # hashlib replica of the branch rule
        def replica(v: str, j: int) -> int:
            if k <= 4:
                h = int(hashlib.md5(v.encode()).hexdigest()[8 * j : 8 * j + 8], 16)
            else:
                h = int(hashlib.md5(f"{j}:{v}".encode()).hexdigest()[:15], 16)
            return h % m

        expected = {(v, j): replica(v, j) for v in vals for j in range(k)}
        # engine probe-side SQL, evaluated by Spark
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        pos_sqls = sketch.bloom_pos_sqls("v", m, k)
        eng_rows = df.select(
            "v", *[F.expr(h).alias(f"p{j}") for j, h in enumerate(pos_sqls)]
        ).collect()
        engine = {
            (r["v"], j): r[f"p{j}"] for r in eng_rows for j in range(k)
        }
        assert engine == expected, f"engine branch k={k}"
        # DuckDB oracle replay
        vals_sql = ", ".join(f"('{v}')" for v in vals)
        got = duckdb.sql(
            f"SELECT v, j.j, {sketch.bloom_oracle_pos_sql('v', m, k)} AS pos"
            f" FROM (VALUES {vals_sql}) AS t(v)"
            f" CROSS JOIN generate_series(0, {k - 1}) AS j(j)"
        ).fetchall()
        oracle = {(v, j): pos for v, j, pos in got}
        assert oracle == expected, f"oracle branch k={k}"


def test_bloom_rejects_ragged_bit_count(spark):
    """m_bits not a multiple of 64 would truncate the word array and
    turn missing high positions into FALSE NEGATIVES — both the build
    and the probe must refuse it, and a mask/words length mismatch at
    probe time must also fail loudly."""
    import pytest

    build = spark.range(10).selectExpr("cast(id as string) as k")
    with pytest.raises(ValueError, match="multiple of 64"):
        sketch.bloom_mask(build, "k", m_bits=100)
    with pytest.raises(ValueError, match="multiple of 64"):
        sketch.bloom_contains("k", [0], m_bits=100)
    with pytest.raises(ValueError, match="multiple of 64"):
        sketch.bloom_mask(build, "k", m_bits=0)
    words = sketch.bloom_mask(build, "k", m_bits=128)
    with pytest.raises(ValueError, match="mismatch"):
        sketch.bloom_contains("k", words, m_bits=4096)


def test_embedding_dedup_routes_to_lsh_past_envelope(spark):
    """Past max_exact_vectors the operator must NOT build the quadratic
    block grid: it warns, routes to the LSH-pruned path, and that path
    still finds the planted near-dup pairs (multi-table recall ~0.99 at
    cosine >= 0.99) while generating subquadratically many candidates."""
    import warnings

    import numpy as np

    rng = np.random.default_rng(11)
    dim = 32
    base = rng.normal(size=(60, dim))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # plant a near-dup of every 10th vector: ids 1000+i
        if i % 10 == 0:
            w = v + 0.001 * rng.normal(size=dim)
            rows.append((1000 + i, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    exact = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in dedup.embedding_dup_pairs(
            emb, threshold=0.99, method="exact"
        ).collect()
    }
    assert exact == {(i, 1000 + i) for i in range(0, 60, 10)}

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        routed = dedup.embedding_dup_pairs(
            emb, threshold=0.99, max_exact_vectors=10
        )
        assert any("LSH" in str(w.message) for w in caught)
    got = {(r["vec_id_a"], r["vec_id_b"]) for r in routed.collect()}
    assert got == exact  # planted dups all recalled at this scale

    # subquadratic candidate stage: bucketed candidates must be far
    # below the n*(n-1)/2 all-pairs volume for a spread-out corpus
    n = len(rows)
    e = emb.selectExpr("vec_id", "cast(embedding as array<double>) AS v")
    n_cand = dedup._lsh_candidate_pairs(e, dim).count()
    assert n_cand < 0.25 * n * (n - 1) / 2, n_cand


def test_embedding_dedup_rejects_unknown_method(spark):
    import pytest

    emb = spark.createDataFrame([(1, [1.0])], "vec_id: long, embedding: array<double>")
    with pytest.raises(ValueError, match="unknown method"):
        dedup.embedding_dup_pairs(emb, method="faiss")


def test_all_containers_decode_to_identical_pixels(spark):
    """synth_bmp / synth_png / synth_gif render ONE pixel formula into
    three real containers; the dispatching decoder must recover
    identical pixel grids from all (stride+BGR vs inflate+unfilter vs
    palette+LZW)."""
    from hbase_tohdfs_spark.operators import multimodal

    for seed in (b"alpha", b"some longer document text", b""):
        wb, hb, rb = multimodal.read_image(multimodal.synth_bmp(seed))
        wp, hp, rp = multimodal.read_image(multimodal.synth_png(seed))
        wg, hg, rg = multimodal.read_image(multimodal.synth_gif(seed))
        assert (wb, hb) == (wp, hp) == (wg, hg)
        assert rb == rp == rg
    import pytest

    with pytest.raises(ValueError, match="unsupported image container"):
        multimodal.read_image(b"\x00\x01\x02\x03 junk")


def test_image_render_mixes_containers_without_changing_features():
    """doc_id % 3 picks BMP / PNG / GIF — and the decoded features are
    identical to an all-BMP render of the same corpus, because the
    pixels derive from text alone."""
    want = ("image/bmp", "image/png", "image/gif")
    for i in range(9):
        t = f"document number {i}"
        payload, mime = multimodal._render_image_payload(i, t)
        assert mime == want[i % 3]
        assert multimodal._decode_resize_stage_rows(
            payload, 8, 8
        ) == multimodal._decode_resize_stage_rows(
            multimodal.synth_bmp(t.encode("utf-8")), 8, 8
        )


def test_image_pipeline_accepts_jpeg_payloads():
    """The decode/resize stage must handle JPEG payloads through the
    same dispatcher: features come out within JPEG's lossy tolerance of
    the BMP-rendered truth (channel means ride on the DC coefficients,
    so q95 keeps them within a few units)."""
    from hbase_tohdfs_spark.formats import jpeg as jpegfmt

    for i in range(6):
        bmp = multimodal.synth_bmp(f"jpeg pipeline doc {i}".encode())
        w, h, rows = multimodal.read_image(bmp)
        got = multimodal._decode_resize_stage_rows(
            jpegfmt.write_jpeg(w, h, rows, quality=95), 8, 8
        )
        truth = multimodal._decode_resize_stage_rows(bmp, 8, 8)
        for g, t in zip(got, truth, strict=True):
            assert g[:5] == t[:5]  # stage, src and out dimensions
            for a, b in zip(g[5], t[5]):
                assert abs(a - b) < 8, (i, g[0], a, b)


def test_audio_pipeline_accepts_g711_payloads(spark):
    """decode_wav dispatches on the fmt tag: a mu-law-companded render
    of the same waveform yields RMS within companding tolerance of the
    PCM truth, through the identical pipeline path."""
    import math

    import pandas as pd

    from hbase_tohdfs_spark.formats import wav as wavfmt
    from hbase_tohdfs_spark.operators import multimodal

    tone = [int(12000 * math.sin(i / 9)) for i in range(400)]
    pcm = wavfmt.write_wav16(8000, [tone])
    g711 = wavfmt.write_wav_g711(8000, [tone], law="ulaw")
    a = multimodal.decode_wav(pcm)
    b = multimodal.decode_wav(g711)
    assert a["sample_rate"] == b["sample_rate"] == 8000
    assert a["n_channels"] == b["n_channels"] == 1
    ra, rb = a["channel_rms"][0], b["channel_rms"][0]
    assert abs(ra - rb) / ra < 0.01, (ra, rb)
