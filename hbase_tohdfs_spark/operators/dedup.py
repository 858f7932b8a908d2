"""Deduplication operators for a training-data pipeline.

Four families, each a standard public technique re-expressed as DataFrame
ops (no Python in the hot path):

* exact        — content-hash groupBy, keep lowest doc_id.
* MinHash+LSH  — word-shingles -> H minhashes -> bands -> bucket self-join
                 (Broder '97; the banding analysis is the classic
                 Leskovec/Rajaraman/Ullman MMDS construction).
* SimHash      — 60-bit sign-of-weighted-sum fingerprint (Charikar '02),
                 explode + 60 codegen vote sums (one doc-keyed shuffle
                 of partial-agg rows).
* Embedding    — cosine-over-threshold near-dup pairs.

Scale posture (100 TB): every stage is a narrow map until the single
keyed shuffle it needs (groupBy doc_id for signatures, join on
(band, bucket) for candidates).  Mega-buckets from degenerate content
(e.g. empty docs) are the classic LSH skew hazard — AQE skew-join
handles moderate cases; pathological buckets should be capped upstream
(drop buckets with > N members — they're near-identical boilerplate).

Hash formulas are md5-based so the DuckDB oracle replays them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hbase_tohdfs_spark.operators import cacheutil
from hbase_tohdfs_spark.operators.text import (
    poly_shingle_docs,
    shingle_docs,
    with_tokens,
)

MINHASH_FUNCS = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_FUNCS // LSH_BANDS

#: Mersenne prime 2^31 - 1: the MinHash rehash field.  Each shingle is
#: reduced ONCE (its 60-bit poly hash mod p); hash i is the affine
#: rehash (a_i*h + b_i) mod p — the standard universal-hashing MinHash
#: family (Broder '97 uses random linear permutations; every practical
#: implementation, e.g. the datasketch library, uses exactly this
#: (a*h+b) mod Mersenne-prime form).  31-bit operands keep a*h < 2^62,
#: inside BIGINT for both Spark and the DuckDB oracle.  Replacing
#: num_hashes md5 calls per shingle with one digest + num_hashes
#: multiply-adds is a ~num_hashes-fold cut of the signature stage's
#: dominant term (measured in SCALE.md).
MINHASH_PRIME = (1 << 31) - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i in [1, p-1], b_i in [0, p-1],
    derived from md5 of the hash index so engine and oracle inline the
    same literals."""
    import hashlib

    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"mh:{i}".encode()).hexdigest()
        a = int(d[:8], 16) % (MINHASH_PRIME - 1) + 1
        b = int(d[8:16], 16) % MINHASH_PRIME
        out.append((a, b))
    return out


#: DuckDB twin of the base hash in :func:`signatures_from_shingles`: the
#: shingles are already 60-bit poly hashes (non-negative), so the base
#: hash is just the reduction into the Mersenne field — plain ``%`` ==
#: ``pmod``.
MINHASH_BASE_POLY_DUCKDB = f"list_transform(s, x -> x % {MINHASH_PRIME})"


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on the md5 of the raw text; survivor = lowest doc_id.

    One shuffle (window by hash).  At scale prefer this over
    ``dropDuplicates([text_col])`` — hashing first means the shuffle
    carries 32-byte keys, not document bodies.
    """
    w = Window.partitionBy("content_md5").orderBy("doc_id")
    return (
        docs.withColumn("content_md5", F.md5(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_signatures(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = MINHASH_FUNCS,
) -> DataFrame:
    """Per-doc MinHash signature: sig[i] = min over shingles of hash_i,
    where hash_i is the affine rehash of ONE base hash per shingle (see
    ``MINHASH_PRIME``; plan shape in :func:`signatures_from_shingles`).
    Docs with no shingles (< k tokens) are excluded, matching the
    oracle.

    The shingles are 60-bit poly hashes: each token is hashed once and
    Horner-folded per window — no shingle string, k x fewer md5 bytes
    (the winnowing r9 map-side form).  The pre-r9 family md5'd the
    concat_ws shingle string; its signatures differ (MinHash's
    guarantees are hash-agnostic, the emitted values are not)."""
    return signatures_from_shingles(poly_shingle_docs(docs, k), num_hashes)


def signatures_from_shingles(
    sh_docs: DataFrame,
    num_hashes: int = MINHASH_FUNCS,
) -> DataFrame:
    """Signatures from a prepared ``(doc_id, sh)`` frame of 60-bit
    BIGINT shingle hashes
    (:func:`~hbase_tohdfs_spark.operators.text.poly_shingle_docs`).  The
    empty-doc filter runs on the ``sh`` column directly — predicate
    pushdown must not sink a re-derived tokenize chain below the scan.

    Formulation: explode shingles -> ONE base hash per shingle (the
    reduction into the Mersenne field; no md5, no string — DuckDB twin:
    ``MINHASH_BASE_POLY_DUCKDB``) -> groupBy(doc_id) with num_hashes
    ``min((a_i*h+b_i)%p)`` aggregates.  Everything — base hash, rehash
    lanes, partial min — runs inside whole-stage codegen, unlike
    ``transform``/``array_min`` lambdas, which Spark interprets per
    element; measured at 500k docs / 25M shingles the codegen agg beats
    the lambda form 18.0s vs 23.0s (and the old 16-md5s-per-shingle
    lambda form, 25.9s), and ties it at 5k docs (SCALE.md).  The groupBy
    shuffle moves only one partial-agg row of num_hashes longs per doc
    per map partition — far smaller than the shingle arrays themselves,
    so the shape holds at corpus scale.  Signature values are BIGINT in
    [0, 2^31-1)."""
    ex = (
        sh_docs.filter(F.size("sh") > 0)
        .select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", F.expr(f"pmod(s, {MINHASH_PRIME})").alias("h"))
    )
    aggs = [
        F.min(F.expr(f"({a} * h + {b}) % {MINHASH_PRIME}")).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature, bucket by band hash, self-join buckets.

    Output: (doc_id_a, doc_id_b) with a < b, distinct.  The join key is
    (band_idx, bucket) so different bands never collide.

    ``max_bucket_size`` is the mega-bucket skew guard: a bucket of f
    docs yields f^2 join rows, and degenerate content (empty docs,
    boilerplate) routinely lands millions of near-identical docs in one
    bucket at corpus scale.  Buckets above the cap are dropped before
    the self-join — their members are boilerplate-duplicates better
    handled by exact dedup, and the frequency count is one cheap
    aggregation on the bucket key.  Default None keeps exact-LSH
    semantics (and oracle parity).
    """
    band_cols = []
    for b in range(bands):
        parts = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        # ':' separator: signature values are decimal BIGINTs (variable
        # width), so bare concat would alias (1,23) with (12,3)
        band_cols.append(
            F.md5(F.concat_ws(":", *[F.col(p) for p in parts])).alias(
                f"band{b}"
            )
        )
    banded = signatures.select("doc_id", *band_cols)
    buckets = banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band_idx", "bb.bucket")
    # Pin the bucket frame wide at the TOP (the join
    # OUTPUT explodes ~f^2 per bucket while its INPUT may compress to
    # KBs — input-sized planner heuristics are blind to that; see
    # cacheutil.fanout_repartition).  Above the skew-cap agg AND the
    # self-join so both reuse the pinned HashPartitioning(band_idx,
    # bucket) — the cap count needs no exchange of its own and no
    # upstream stage is left at the input's width.
    buckets = cacheutil.fanout_repartition(buckets, "band_idx", "bucket")
    if max_bucket_size is not None:
        small = (
            buckets.groupBy("band_idx", "bucket")
            .count()
            .filter(F.col("count") <= max_bucket_size)
            .select("band_idx", "bucket")
        )
        buckets = buckets.join(small, ["band_idx", "bucket"])
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .distinct()
    )


def jaccard_verify(
    docs: DataFrame, pairs: DataFrame, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact word-k-shingle Jaccard for candidate pairs; keeps pairs with
    similarity >= threshold.  The shingle-set join is two broadcast-able
    lookups at candidate scale (candidates << corpus)."""
    return jaccard_verify_from_shingles(shingle_docs(docs, k), pairs, threshold)


def jaccard_verify_from_shingles(
    sh_docs: DataFrame, pairs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Jaccard verification against a prepared ``(doc_id, sh)`` frame.

    Pins the candidate side wide before the set-lookup
    joins: ``pairs`` arrives from an AQE-coalescible ``distinct()``
    exchange, so with the shingle sets broadcast the per-pair
    ``array_intersect`` work would otherwise run at whatever width that
    exchange coalesced to (one task on a small-compressing candidate
    set — the r9 hole, verify-join edition)."""
    pairs = cacheutil.fanout_repartition(pairs, "doc_id_a")
    sets = sh_docs.filter(F.size("sh") > 0).select(
        "doc_id", F.array_distinct("sh").alias("shset")
    )
    j = (
        pairs.join(sets.withColumnRenamed("shset", "sa"), pairs.doc_id_a == sets.doc_id)
        .drop("doc_id")
        .join(
            sets.withColumnRenamed("shset", "sb").withColumnRenamed(
                "doc_id", "doc_id2"
            ),
            F.col("doc_id_b") == F.col("doc_id2"),
        )
        .drop("doc_id2")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 4)
    return (
        j.select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


#: default mega-bucket cap for the end-to-end pipeline: an LSH bucket with
#: more members than this is boilerplate (empty/templated docs) whose f^2
#: self-join would dominate the job; exact dedup handles those docs.  The
#: DuckDB oracle CTE applies the identical cap (queries_pipeline.py).
DEDUP_MAX_BUCKET = 10_000


def minhash_dedup_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = DEDUP_MAX_BUCKET,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """End-to-end near-dup pipeline: MinHash -> LSH candidates (mega-bucket
    capped by default) -> exact Jaccard verification.

    The whole pipeline — signature base hash AND the exact-Jaccard
    verify sets — runs on 60-bit poly shingle hashes (see
    :func:`minhash_signatures`): the map side never builds a shingle
    string, pays one md5 per token instead of one per shingle (k x fewer
    hashed bytes), and the persisted shingle frame + the verify join
    carry fixed 8-byte BIGINTs instead of strings.  Verification over
    hashed sets equals string-set Jaccard except under a 60-bit
    collision, and the DuckDB oracle replays the identical hashes, so
    output is row-identical by construction.  Against the pre-r9
    md5-per-shingle-string family it measured 2.1x faster at 1M docs
    (SCALE.md r9 continuation, "poly-hashed shingles for MinHash").

    ``bands``/``rows_per_band`` tune the banding S-curve to the target
    similarity: candidate probability is 1 - (1 - s^rows)^bands, and the
    default 4x4 is steep around s ~ 0.75 — a LOW-threshold dedup (the
    registry default threshold=0.5 implies caring about s ~ 0.5 pairs)
    wants wider, shallower bands: 8x2 lifts measured recall at s in
    [0.45, 0.6) from ~0.28 to ~0.9 on the planted corpus
    (tests/test_dedup_recall.py::test_minhash_banding_knob_recall_at_low_s)
    at the cost of more candidate pairs per true pair (s^2 vs s^4 bucket
    collision for unrelated docs — still bucketed, never all-pairs).
    The signature is sized bands*rows_per_band automatically; precision
    stays 1.0 regardless (exact Jaccard verify).

    The shingle frame and the signatures are persisted: the LSH bucket
    self-join and the verification join each consume them twice, and
    without a cache barrier Spark re-runs the full tokenize+hash chain
    per consumer (no cross-branch subplan reuse).  This is the standard
    LSH-pipeline shape at any scale — MEMORY_AND_DISK spills instead of
    OOMing on a big corpus.  The (pair-sized) result is materialized
    eagerly and the intermediates released before returning, so repeated
    calls on a long-lived session don't accumulate executor storage."""
    sh_docs = poly_shingle_docs(docs, k).persist()
    sigs = signatures_from_shingles(
        sh_docs, num_hashes=bands * rows_per_band
    ).persist()
    cands = lsh_candidate_pairs(
        sigs,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    pairs = jaccard_verify_from_shingles(sh_docs, cands, threshold)
    return cacheutil.materialize_and_release(pairs, sh_docs, sigs)


#: drop shingles occurring in more docs than this from the inverted index
#: (boilerplate n-grams create quadratic postings; standard frequency filter)
NGRAM_MAX_DF = 1000


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 2,
    threshold: float = 0.5,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """Exact all-pairs word-k-gram Jaccard — the set-similarity-join
    family (SSJoin, Chaudhuri et al. ICDE'06), as a plain inverted-index
    pair count:

    * **df cap** (``max_df``): a shingle occurring in f docs contributes
      f^2 index-join rows; postings with document frequency > max_df are
      dropped (boilerplate — a pair made only of such shingles can't
      clear a meaningful threshold).  This *defines* the operator's
      semantics: Jaccard = |A∩B∩rare| / (|A|+|B|−|A∩B∩rare|), mirrored
      exactly in the DuckDB oracle.
    * **length filter**: J = i/(na+nb−i) with i ≤ min(na,nb) gives J ≤
      min(na,nb)/max(na,nb), so a pair whose sizes differ by more than
      the threshold ratio can never qualify — pruned INSIDE the index
      join (the sizes ride on the postings rows; the predicate costs
      nothing and cuts join output before the pair-count aggregation).
      The bound is slackened by 5e-5 because the emitted jaccard is
      rounded to 4 decimals before the ``>= threshold`` filter, so no
      qualifying pair is lost.  On uniform-length corpora it prunes
      nothing and costs nothing; on a length-varied 1M-doc corpus it cut
      19.5% of the candidate rows (SCALE.md r9, "n-gram Jaccard
      candidate pruning").

    * **shingle hash**: the set element is the 60-bit rolling-polynomial
      hash of the shingle (one md5 per TOKEN + a Horner fold per window —
      the winnowing r9 map-side form,
      :func:`~hbase_tohdfs_spark.operators.text.poly_shingles_sql`),
      not the concat_ws shingle STRING.  The trade: the string family
      hashes nothing, so poly ADDS one md5 per token on the map side;
      it pays that back by never materializing a shingle string and by
      turning all three shuffles (df groupBy + both sides of the
      postings self-join) and the join sort key from variable-length
      string to fixed 8-byte BIGINT.  Measured (SCALE.md r9
      continuation, "poly-hashed shingles for ngram Jaccard"):
      1.8x faster at 1M docs where the index join dominates, 0.93x
      (neutral-win) on the sf0.1 real-document corpus, and ~1.4x SLOWER
      on a 50k tiny-token synthetic (5-char tokens make the md5 dominate
      the string build it replaces).  Jaccard is then over
      hashed-shingle sets: identical to string-set Jaccard except under
      a 60-bit collision (odds ~(distinct shingles)²/2^61; ~2e-6 at 2M
      distinct), and the DuckDB oracle replays the identical token-hash
      + fold, so output is row-identical by construction even then.

    **Recorded negative: the PPJoin prefix filter** (Xiao et al.
    WWW'08; index only each doc's rarest ``n − ceil(t·n) + 1``
    shingles, then verify candidates with ``array_intersect``).  It cut
    80% of the candidates at 1M docs, yet ran 2.38x SLOWER end to end
    (SCALE.md r9, same section): the plain path's verification *is* the
    pair-count aggregation, while the prefix path re-verifies every
    candidate on the full rare sets at ~25x the per-row cost.  On the
    sf0.1 short-document corpus the t=0.5 prefixes still share
    boilerplate bigrams and keep 63% of all pairs.  It can only win on
    long documents with selective prefixes, a regime this engine's
    corpora do not reach.

    Pure JVM codegen; shuffles are keyed on shingle / doc_id.
    """
    sh_docs = poly_shingle_docs(docs, k).persist()
    sets = sh_docs.filter(F.size("sh") > 0).select(
        "doc_id", F.array_distinct("sh").alias("shset")
    )
    sizes = sets.select("doc_id", F.size("shset").alias("n_sh"))
    # Postings carry the doc's FULL distinct-shingle count so the length
    # filter needs no extra join back to `sizes`.
    postings = sets.select(
        "doc_id", F.size("shset").alias("n_full"), F.explode("shset").alias("s")
    )
    # Pin the width at the TOP of the postings pipeline.
    # Everything downstream — the df aggregation, the df-cap join, and
    # the pair self-join — groups/joins on ``s``, so they all reuse the
    # pinned HashPartitioning(s) with ZERO further exchanges, and every
    # fat stage runs wide.  Pinning lower (just before the self-join)
    # was measured 2.7x SLOWER at sf0.1: with broadcast re-enabled the
    # df-cap join stops forcing an exchange, so the whole explode +
    # probe chain upstream of the late pin ran at the INPUT's partition
    # count — one task on a single-file toy corpus, and exactly the
    # input-width hole the pin exists to close.
    postings = cacheutil.fanout_repartition(postings, "s")
    dfc = postings.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    postings = postings.join(dfc.filter(F.col("df") <= max_df), "s")

    a, b = postings.alias("a"), postings.alias("b")
    # Rounded-jaccard-aware size-ratio bound (see docstring): prune a
    # pair only when even round(min/max, 4) cannot reach the threshold.
    length_ok = F.least(F.col("a.n_full"), F.col("b.n_full")) >= F.lit(
        threshold - 5e-5
    ) * F.greatest(F.col("a.n_full"), F.col("b.n_full"))
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & length_ok,
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.round(
        F.col("n_common").cast("double")
        / F.greatest(F.col("na") + F.col("nb") - F.col("n_common"), F.lit(1)),
        4,
    )
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("nb"))
    pairs = (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return cacheutil.materialize_and_release(pairs, sh_docs)


SIMHASH_BITS = 60


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over tokens (frequency-weighted), Charikar '02.

    For each bit b: vote = sum over tokens of ((hash(t)>>b)&1)*2-1; the
    fingerprint sets bit b when the vote is positive.

    ``bits=60`` (default): one ``simhash`` long from the first 15 md5
    hex chars per token — identical output to every prior round.
    ``bits=120``: adds ``simhash_hi`` (bits 60-119) voted from md5 hex
    chars 17-31 — the wide fingerprint SCALE.md r12 documents as the
    corpus-scale mitigation for chunk-collision growth (32-bit-class
    chunks put the random collision rate at ~2^-30 instead of 2^-15).
    Both halves stay 60-bit so the sign bit is never touched and the
    all-long arithmetic below holds unchanged.

    Formulation: explode tokens -> one 60-bit token hash per half ->
    groupBy (doc_id) with ``bits`` codegen ``sum`` votes -> fingerprint
    assembly.  Round 2 kept the shuffle-free array-lambda form on a
    5k-doc warm measurement; re-measured at 500k docs the interpreted
    ``aggregate`` lambdas (60 per doc, evaluated per token) cost 171s vs
    48s for the codegen agg — and the agg form now wins at 5k too (1.0s
    vs 1.8s).  The groupBy shuffle moves one partial-agg row of ``bits``
    longs per doc per map partition, far below the token arrays
    themselves, so the shape holds at corpus scale (SCALE.md round-7).

    All-long arithmetic: shiftright(h, 0) exceeds int range, and ANSI
    mode turns a narrowing cast into a hard error.
    """
    if bits not in (SIMHASH_BITS, 2 * SIMHASH_BITS):
        raise ValueError(f"bits must be {SIMHASH_BITS} or {2 * SIMHASH_BITS}, got {bits}")
    hashes = [
        F.expr("cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)").alias("h0")
    ]
    if bits == 2 * SIMHASH_BITS:
        hashes.append(
            F.expr("cast(conv(substr(md5(t), 17, 15), 16, 10) as bigint)").alias("h1")
        )
    ex = (
        with_tokens(docs)
        .filter(F.size("tokens") > 0)
        .select("doc_id", F.explode("tokens").alias("t"))
        .select("doc_id", *hashes)
    )
    votes = [
        F.sum(
            F.expr(
                f"(shiftright(h{b // SIMHASH_BITS}, {b % SIMHASH_BITS}) & 1L) * 2L - 1L"
            )
        ).alias(f"v{b}")
        for b in range(bits)
    ]

    def _fp(lo: int) -> str:
        return " + ".join(
            f"(CASE WHEN v{b} > 0 THEN shiftleft(1L, {b - lo}) ELSE 0L END)"
            for b in range(lo, lo + SIMHASH_BITS)
        )

    out = [F.expr(_fp(0)).alias("simhash")]
    if bits == 2 * SIMHASH_BITS:
        out.append(F.expr(_fp(SIMHASH_BITS)).alias("simhash_hi"))
    return ex.groupBy("doc_id").agg(*votes).select("doc_id", *out)


def simhash_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Scale path: block on 4 disjoint chunks (a pair within Hamming<=3
    must agree exactly on >= 1 of the 4 chunks — pigeonhole), join per
    chunk, then verify with bit_count.  This keeps the self-join keyed
    instead of O(n^2).

    Asymptotics (measured, SCALE.md r12 growth curves): chunk blocking
    cuts the verify mass by a CONSTANT (~1.3e3 vs all-pairs on the probe
    corpus; 2^15 for uniform 60-bit fingerprints) but random chunk
    collisions keep the candidate volume Theta(n^2) — the n^2-normalized
    slope sat flat at 7.4e-4 from 250k to 4M docs.  Two shipped
    mitigations for corpus scale:

    * ``bits=120`` — widen the fingerprint (4x30-bit chunks put the
      random collision rate at 2^-30, a ~2^15 cut in the n^2
      coefficient) while the pigeonhole guarantee at ``max_hamming <= 3``
      is unchanged.  Costs one extra long per doc in the signature
      shuffle and 60 more codegen vote columns in the agg.
    * ``max_bucket`` — bound the per-key join mass directly: chunk
      buckets holding more than that many docs are dropped before the
      self-join, exactly the :data:`DEDUP_MAX_BUCKET` guard the MinHash
      path ships.  Recall note: a dropped mega-bucket only loses a pair
      if that chunk was the pair's ONLY agreement — for
      ``max_hamming <= 3`` the pigeonhole guarantee degrades gracefully
      (such buckets are near-identical boilerplate better handled by
      exact dedup upstream).

    Defaults (60 bits, no cap) preserve the exact blocked semantics the
    registry oracle replays.
    """
    wide = bits == 2 * SIMHASH_BITS
    sig = ["simhash", "simhash_hi"] if wide else ["simhash"]
    if wide:
        # 4 x 30-bit chunks, two per 60-bit half; & stays in long space
        chunk_exprs = [
            f"cast(shiftright({col}, {sh}) & {(1 << 30) - 1}L as int)"
            for col, sh in (
                ("simhash", 0),
                ("simhash", 30),
                ("simhash_hi", 0),
                ("simhash_hi", 30),
            )
        ]
    else:
        chunk_exprs = [
            f"cast(shiftright(simhash, {c * 15}) & 32767L as int)" for c in range(4)
        ]
    s = simhash(docs, bits=bits).persist()  # self-joined below: compute the bit votes once
    chunks = s.select(
        "doc_id",
        *sig,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.expr(e).alias("chunk"),
                    )
                    for c, e in enumerate(chunk_exprs)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", *sig, "cc.chunk_idx", "cc.chunk")
    # Pin the chunk self-join wide (see cacheutil.fanout_repartition)
    chunks = cacheutil.fanout_repartition(chunks, "chunk_idx", "chunk")
    if max_bucket is not None:
        # Per-key join-mass bound: the semi-join keeps only buckets at
        # or under the cap; it groups on the SAME keys as the pinned
        # repartition above, so no extra exchange on the postings side.
        kept = (
            chunks.groupBy("chunk_idx", "chunk")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") <= max_bucket)
            .select("chunk_idx", "chunk")
        )
        chunks = chunks.join(kept, ["chunk_idx", "chunk"], "left_semi")
    a, b = chunks.alias("a"), chunks.alias("b")
    sig_out = [
        F.col("a.simhash").alias("sa"),
        F.col("b.simhash").alias("sb"),
    ]
    if wide:
        sig_out += [
            F.col("a.simhash_hi").alias("sa_hi"),
            F.col("b.simhash_hi").alias("sb_hi"),
        ]
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
            *sig_out,
        )
    )
    # Verify BEFORE deduplicating multi-chunk collisions: the hamming
    # predicate is row-deterministic, so it commutes with distinct(),
    # and running it map-side on the join output means the distinct
    # shuffles only survivors instead of the full chunk-collision mass.
    # The cut is corpus-dependent — uniform 60-bit fingerprints pass
    # hamming<=16 at ~1e-4, while the adversarially-clustered r12 growth
    # corpus measured 369M candidates -> 66.5M survivors (5.5x) at 1M
    # docs — but the filter can only ever shrink the distinct's input.
    hamming = (
        F.expr("bit_count(sa ^ sb) + bit_count(sa_hi ^ sb_hi)")
        if wide
        else F.expr("bit_count(sa ^ sb)")
    )
    pairs = (
        cand.select("doc_id_a", "doc_id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cacheutil.materialize_and_release(pairs, s)


def _propagation_round(
    edges: DataFrame,
    labels: DataFrame,
    jump_hops: int,
    release: list | None = None,
) -> DataFrame:
    """One min-label propagation round's PLAN (no action): neighbor-min
    join + agg, the update join carrying the per-vertex ``chg`` flag,
    then ``jump_hops`` pointer-jump self-joins.

    Factored out of :func:`connected_components` so the exchange-elision
    contract is plan-testable (r11 verdict task 4): with ``edges``
    cached as ``HashPartitioning(v, n)``, ``labels`` cached or
    checkpointed as ``HashPartitioning(lu, n)``, and
    ``spark.sql.shuffle.partitions == n`` (the loop clamp), the
    neighbor join elides BOTH input exchanges, the update join elides
    both (the agg output is already hash-partitioned on ``nu``), and
    the round's only shuffle is the ``groupBy(u)`` partial agg.  The
    update join's output partitioning is the labels side's (``lu``), so
    the next round's elision holds transitively — ``localCheckpoint``
    preserves the physical plan's output partitioning in its
    LogicalRDD."""
    neighbor_min = (
        edges.join(labels, F.col("v") == F.col("lu"))
        .groupBy(F.col("u").alias("nu"))
        .agg(F.min("component").alias("nmin"))
    )
    # The update join carries a per-vertex "did it shrink" flag, so the
    # convergence check is an aggregate over this frame — not a third
    # join back against the previous labels.
    stepped = labels.join(
        neighbor_min, F.col("lu") == F.col("nu"), "left"
    ).select(
        "lu",
        F.least("component", F.coalesce("nmin", F.col("component"))).alias(
            "component"
        ),
        (F.col("nmin") < F.col("component")).alias("chg"),
    )
    # Path halving: component <- component(component).  Labels only
    # ever shrink and every label IS a vertex id, so the pointer
    # lookup is a keyed self-join that always resolves.  Each jump is
    # one more keyed self-join INSIDE the same round — no extra
    # checkpoint or count action — and each halves the remaining
    # label-chain depth again, so deep chains need ~log2(d)/hops
    # rounds (r8 verdict task 4).
    #
    # When jumps are active, ``stepped`` is referenced on BOTH sides of
    # every jump self-join — 2^jump_hops references to the propagation
    # subtree — so it MUST be persisted or the neighbor join + agg
    # recompute exponentially (measured on the 1M-edge deep chain:
    # dropping this persist read 1.6x SLOWER overall despite the lazy
    # checkpoint).  Appended to ``release`` so the loop can unpersist it
    # right after the round's action.  Jump-free rounds reference
    # stepped once; no cache needed.
    if jump_hops:
        stepped = stepped.persist()
        if release is not None:
            release.append(stepped)
    new_labels = stepped
    for _ in range(jump_hops):
        fa = new_labels.alias("fa")
        ptr = new_labels.select(
            F.col("lu").alias("plu"),
            F.col("component").alias("pcomp"),
        )
        new_labels = fa.join(
            ptr, F.col("fa.component") == F.col("plu"), "left"
        ).select(
            F.col("fa.lu").alias("lu"),
            F.coalesce("pcomp", F.col("fa.component")).alias("component"),
            (
                F.col("fa.chg") | (F.col("pcomp") < F.col("fa.component"))
            ).alias("chg"),
        )
    return new_labels


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    max_iter: int = 25,
    stats: dict | None = None,
    hops: int = 3,
) -> DataFrame:
    """Cluster near-dup pairs into components: ``(doc_id, component)``
    with component = min doc_id of the connected component.

    This is the step that turns pairwise similarity into dedup *groups*
    (keep one doc per component).  Min-label propagation with **path
    halving** — each round every vertex takes the min of its own and its
    neighbors' labels (one keyed join + agg), then jumps ``hops`` levels
    down the label chain (``component <- component(component)``, one
    keyed self-join per hop, all inside the same round's plan — no
    extra checkpoint or count action).  Each jump halves the remaining
    label-chain depth, so fixpoint lands in ~log2(diameter)/hops rounds
    instead of O(diameter).  ``hops=3`` (default) was chosen by
    interleaved A/B on the 1M-edge deep-chain probe (diameter 10^5):
    18 -> 8 rounds, 1.8x faster than hops=1; on shallow graphs (near-dup
    corpora converge by round 2) the jump never fires and the setting
    is execution-identical (r8 verdict task 4, SCALE.md r9).  The
    driver-side loop carries only the changed-count, never data.

    Lineage discipline: each round's labels are ``localCheckpoint``-ed,
    not merely persisted.  The pointer-jump is a self-join, so an
    un-truncated plan doubles every round (plan(n+1) ~ 2*plan(n)) and
    Catalyst analysis goes exponential by round ~8; truncation keeps the
    per-round plan constant-size.  The checkpoint materializes nothing
    extra — the convergence count forces the frame each round anyway.

    If the loop exhausts ``max_iter`` without converging, a
    ``RuntimeWarning`` is raised — labels may then split one true
    component.  Pass ``stats={}`` to receive ``{"rounds": n,
    "converged": bool}``.
    """
    import warnings

    spark = pairs.sparkSession
    raw_edges = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    )
    raw_edges = raw_edges.union(
        raw_edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # Size the loop's shuffles to the edge set, scoped to this call.
    # Every round pays per-partition fixed costs (task launch, shuffle
    # file create, join/agg state); with near-dup edge sets typically
    # tiny relative to the corpus, inheriting the session's batch
    # setting multiplies that fixed cost for nothing (measured at
    # sf0.1: 4.3s -> 2.3s going 32 -> 4 partitions).  Sized from the
    # PAIRS count — the operator pipelines hand over a materialized
    # localCheckpoint, so this count is a cached-block scan, not a
    # recompute — and the clamp only shrinks, never grows, so cluster
    # deployments keep their width.
    rounds, converged = 0, False
    labels = None
    edges = None
    round_caches: list = []
    finished = False
    try:
        n_edges = 2 * pairs.count()
        # ~125k edges per partition: with the pinned edge cache the loop
        # width caps JOIN parallelism as well as shuffle width (the
        # elided join runs exactly loop_parts tasks), so the old 500k
        # divisor — tuned when every round re-exchanged — underused the
        # cores on big graphs (measured: the 2M-edge deep chain read
        # ~1.07x at 5 partitions vs parity at 17).  Near-dup edge sets
        # at bench scale still clamp to the floor of 4.
        loop_parts = cacheutil.clamped_partitions(spark, (n_edges // 125_000) + 1)
        with cacheutil.scoped_shuffle_partitions(spark, loop_parts):
            # Partition the persisted edge set ONCE by the per-round join
            # key (r11 verdict task 4): every round joins edges on ``v``,
            # and a plain persist re-exchanged the SAME cached rows every
            # round (exchange reuse never crosses actions).  Cached as
            # HashPartitioning(v, loop_parts) under the clamp, the round
            # join's required distribution is already satisfied, so the
            # only per-round shuffle left is the groupBy(u) partial agg
            # (see _propagation_round's contract).  The old deduping
            # ``distinct()`` is dropped: pair generators emit distinct
            # (a < b) pairs so the two union arms can't collide, and a
            # duplicate edge from a generic caller only re-asserts the
            # same min — one setup shuffle instead of two.
            edges = raw_edges.repartition(loop_parts, "v").persist()
            # distinct column names ("lu" vs "u"/"v") — labels derives
            # from edges, and a shared-lineage self-join on same-named
            # columns is ambiguous.  The distinct doubles as the vertex
            # set AND leaves labels HashPartitioning(lu, loop_parts), the
            # other half of the round's exchange elision.
            labels = (
                edges.select(F.col("u").alias("lu"))
                .distinct()
                .withColumn("component", F.col("lu"))
                .persist()
            )
            for it in range(max_iter):
                rounds = it + 1
                # Jumps are skipped for the first two rounds: near-dup
                # components are usually cliques and short chains that
                # converge by round 2, and the jump join would be a pure
                # extra shuffle there; still being unconverged past round
                # 2 means a deep chain, where halving turns the remaining
                # O(diameter) rounds into O(log diameter).
                new_labels = _propagation_round(
                    edges,
                    labels,
                    max(1, hops) if it >= 2 else 0,
                    release=round_caches,
                )
                # localCheckpoint, not persist: the jump is a self-join,
                # so an un-truncated plan doubles per round and Catalyst
                # analysis goes exponential; the checkpoint keeps each
                # round's plan constant.  LAZY (eager=False, r11 verdict
                # task 4): the convergence count below is then the
                # round's ONLY job — it computes the round, materializes
                # the checkpoint blocks as a side effect, and counts —
                # where the eager form paid one job to checkpoint plus a
                # second to count, doubling the loop's scheduling floor.
                new_labels = new_labels.localCheckpoint(eager=False)
                changed = new_labels.filter(F.col("chg")).count()
                for frame in round_caches:
                    frame.unpersist()
                round_caches.clear()
                labels.unpersist()
                labels = new_labels
                if changed == 0:
                    converged = True
                    break
        finished = True
    finally:
        # Conf restore happens in scoped_shuffle_partitions; the persisted
        # frames are released here so an exception mid-loop can't leak the
        # edge/label caches (ADVICE r4).  On the success path `labels` is
        # the localCheckpoint-ed result being returned — leave it alone.
        if edges is not None:
            edges.unpersist()
        if not finished:
            for frame in [*round_caches, labels]:
                if frame is not None:
                    try:
                        frame.unpersist()
                    except Exception:  # noqa: BLE001 — best-effort release
                        pass

    if not converged:
        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds; "
            "labels may split one true component — raise max_iter "
            "(fixpoint needs ~log2(diameter) + 2 rounds)",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats.update({"rounds": rounds, "converged": converged})
    return labels.select(F.col("lu").alias("doc_id"), "component")


#: above this corpus size the O((n/B)^2) block grid of the exact path
#: stops being viable and embedding_dup_pairs routes to the LSH-pruned
#: path by default (override with method="exact" to insist).
EMBED_EXACT_MAX_VECTORS = 1_000_000

#: hard cap on AND-OR LSH tables: each table costs one corpus copy of
#: shuffle, so past this the pruning no longer pays for itself
_LSH_MAX_TABLES = 32


def _lsh_params(
    n: int, threshold: float, target_recall: float = 0.99
) -> tuple[int, int]:
    """Adaptive AND-OR LSH parameters ``(planes_per_table, num_tables)``
    for a corpus of ``n`` vectors deduped at cosine ``threshold``.

    ``planes_per_table ~ log2(n) - 4`` keeps the expected bucket size
    near 2^4 = 16 rows at any corpus size, so each table contributes
    ~n * 16/2 candidate pairs — LINEAR in n.  (A fixed plane count makes
    candidates ~n^2 / 2^planes: quadratic with a constant divisor, the
    r6 ADVICE finding.)  ``num_tables`` is then sized from the random-
    hyperplane collision probability p_plane = 1 - arccos(threshold)/pi
    (Charikar '02) so the miss rate for a true pair at exactly the
    threshold, (1 - p_plane^planes)^tables, stays <= 1 - target_recall.
    At threshold 0.99 this yields (8 planes, 4 tables) below ~4k vectors
    and (17 planes, 8 tables) at 2M.
    """
    import math

    planes = max(8, min(30, math.ceil(math.log2(max(n, 2))) - 4))
    theta = math.acos(max(-1.0, min(1.0, threshold)))
    p_plane = 1.0 - theta / math.pi
    p_table = p_plane**planes
    if p_table >= 1.0:
        return planes, 1
    tables = math.ceil(
        math.log(max(1e-9, 1.0 - target_recall)) / math.log(1.0 - p_table)
    )
    if tables > _LSH_MAX_TABLES:
        # Sign-LSH collision probability decays exponentially in planes
        # for wide angles: at low thresholds no sane table count reaches
        # the target (threshold 0.45 at 1M+ vectors would need ~7000
        # tables).  Refusing beats silently shipping ~2% recall under a
        # docstring that promises 0.99 (r7 review finding).
        achievable = 1.0 - (1.0 - p_table) ** _LSH_MAX_TABLES
        raise ValueError(
            f"_lsh_params: cosine threshold {threshold} at n={n} needs "
            f"{tables} LSH tables to reach recall {target_recall}; the "
            f"cap is {_LSH_MAX_TABLES} (achievable recall there: "
            f"{achievable:.3f}). Sign-bucket LSH only prunes well for "
            "near-1 thresholds. Either pass an explicit "
            f"target_recall <= {achievable:.3f} to accept that recall, "
            'pin num_tables/planes_per_table yourself, or use '
            'method="exact" (block-grid, O((n/B)^2) tasks).'
        )
    return planes, max(2, tables)


def _lsh_candidate_pairs(
    e: DataFrame,
    dim: int,
    num_tables: int | None = None,
    planes_per_table: int | None = None,
    n: int | None = None,
    threshold: float = 0.99,
    target_recall: float = 0.99,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs from ``num_tables`` independent
    sign-bucket LSH tables — the subquadratic pruning stage for
    embedding dedup at scale.

    Each table is an equi-self-join on a ``planes_per_table``-plane
    bucket id.  When the parameters are not pinned they scale with the
    corpus via ``_lsh_params``: planes ~ log2(n) - 4 holds the expected
    bucket size near 16 (candidate volume ~num_tables * 8n — LINEAR in
    n), and num_tables is sized so a true pair at the cosine threshold
    collides in at least one table with probability >= ``target_recall``
    (empirically verified in tests/test_ann_recall.py and the 1.2M/2.4M
    probes in SCALE.md).  ``e`` must carry (vec_id, v).

    NOTE: this enumerator DEFINES the candidate set (and serves tests /
    probes); the shipped verify path (``_embedding_dup_pairs_lsh``)
    scores exactly this set bucket-locally without materializing it —
    joining vectors back onto an explicit pair list shuffles a full
    vector per pair, which is what exhausted spill disk at 2.4M vectors.
    """
    from hbase_tohdfs_spark.operators.similarity import (
        bucket_expr,
        hyperplane_signs,
    )

    if num_tables is None or planes_per_table is None:
        if n is None:
            n = e.count()
        auto_planes, auto_tables = _lsh_params(n, threshold, target_recall)
        planes_per_table = planes_per_table or auto_planes
        num_tables = num_tables or auto_tables

    all_planes = hyperplane_signs(num_tables * planes_per_table, dim)
    cands = None
    for t in range(num_tables):
        planes = all_planes[t * planes_per_table : (t + 1) * planes_per_table]
        bt = e.select(
            "vec_id", bucket_expr("v", planes).alias("bkt")
        )
        pairs = (
            bt.alias("a")
            .join(
                bt.alias("b"),
                (F.col("a.bkt") == F.col("b.bkt"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
            )
        )
        cands = pairs if cands is None else cands.unionByName(pairs)
    return cands.distinct()


#: bucket-group coarsening: verify groups merge 2^_LSH_GROUP_SHIFT
#: adjacent buckets so one Arrow batch / one GEMM serves ~16 buckets
#: (per-group Python overhead amortized ~16x; cross-bucket pairs are
#: masked out, so the candidate-pair SET is unchanged)
_LSH_GROUP_SHIFT = 4
#: row-block edge for the in-group GEMM: a pathological bucket (a
#: 100k-strong duplicate cluster) is scored in bounded-memory blocks
#: instead of one giant matrix product
_LSH_GEMM_BLOCK = 4096


def _embedding_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    round_to: int,
    num_tables: int | None = None,
    planes_per_table: int | None = None,
    target_recall: float = 0.99,
) -> DataFrame:
    """LSH-pruned embedding dedup with BUCKET-LOCAL exact verification.

    The candidate-pair set is exactly ``_lsh_candidate_pairs``'s (pairs
    sharing a full bucket in >= 1 table) — but it is never materialized
    as a pair list.  Doing candidates-then-join-vectors-back shuffles
    both full vectors PER CANDIDATE PAIR: at 2.4M vectors / 32 dims
    that is ~430M pairs x ~280 bytes ~= 120 GB of shuffle, which is
    what killed the first 2.4M probe run (spill-to-disk exhaustion).
    Instead each table ships the corpus once (num_tables x corpus ~=
    6 GB at the same scale — ~20x less), groups vectors by bucket, and
    scores pairwise cosines with one NumPy GEMM per group, the same
    verify shape minhash and SemDeDup use.  Groups merge
    2^_LSH_GROUP_SHIFT adjacent buckets (mask the cross-bucket pairs)
    so per-group Python overhead is amortized; a mega-bucket is scored
    in _LSH_GEMM_BLOCK-row blocks, bounded memory regardless of skew.

    Output schema and rounding match the exact block-grid path
    (np.round then >= threshold), so the result is a strict subset of
    the exact path's pairs; the only semantic difference is candidate-
    stage recall (>= ~0.99 by ``_lsh_params`` choice; measured in
    tests/test_ann_recall.py and the SCALE.md probes).  Pairs caught in
    several tables dedup via the shared ``_bucket_gemm_pairs`` tail."""
    from hbase_tohdfs_spark.operators.similarity import (
        bucket_expr,
        hyperplane_signs,
    )

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dim_row = e.selectExpr("max(size(v)) AS d", "count(*) AS n").first()
    dim = int(dim_row["d"] or 0)
    if num_tables is None or planes_per_table is None:
        auto_planes, auto_tables = _lsh_params(
            int(dim_row["n"]), threshold, target_recall
        )
        planes_per_table = planes_per_table or auto_planes
        num_tables = num_tables or auto_tables

    all_planes = hyperplane_signs(num_tables * planes_per_table, dim)
    tagged = None
    for t in range(num_tables):
        planes = all_planes[t * planes_per_table : (t + 1) * planes_per_table]
        bt = e.select(
            F.lit(t).alias("tbl"),
            bucket_expr("v", planes).alias("bkt"),
            "vec_id",
            "v",
        )
        tagged = bt if tagged is None else tagged.unionByName(bt)
    return _bucket_gemm_pairs(tagged, threshold, round_to)


def _bucket_gemm_pairs(
    tagged: DataFrame,
    threshold: float,
    round_to: int,
    group_shift: int = _LSH_GROUP_SHIFT,
) -> DataFrame:
    """Bucket-local exact verification shared by the LSH and IVF
    embedding-dedup routes: ``tagged`` carries ``(tbl, bkt, vec_id, v)``
    where any two rows with equal (tbl, bkt) are candidates.  Scores
    pairwise cosines with one NumPy GEMM per group of 2^group_shift
    adjacent buckets (cross-bucket pairs masked out — grouping only
    amortizes per-group Python/Arrow overhead, the candidate SET is
    exactly the per-bucket one), blocks mega-buckets at
    ``_LSH_GEMM_BLOCK`` rows, and collapses pairs caught in several
    (tbl, bkt) cells via a keyed max over the tiny post-threshold rows.
    """
    import pandas as pd

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        out_a, out_b, out_c = [], [], []
        vecs = np.stack(pdf["v"].to_numpy())
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy()
        bkts = pdf["bkt"].to_numpy()
        order = np.argsort(bkts, kind="stable")
        vecs, ids, bkts = vecs[order], ids[order], bkts[order]
        starts = np.flatnonzero(np.r_[True, bkts[1:] != bkts[:-1]])
        bounds = np.r_[starts, len(bkts)]
        for s, eend in zip(bounds[:-1], bounds[1:]):
            m = eend - s
            if m < 2:
                continue
            bv, bi = vecs[s:eend], ids[s:eend]
            for r0 in range(0, m, _LSH_GEMM_BLOCK):
                r1 = min(r0 + _LSH_GEMM_BLOCK, m)
                a, ai = bv[r0:r1], bi[r0:r1]
                # within-block: both orders computed -> keep id_a < id_b
                cos = np.round(a @ a.T, round_to)
                ia, ib = np.nonzero(cos >= threshold)
                ids_a, ids_b = ai[ia], ai[ib]
                keep = ids_a < ids_b
                out_a.append(ids_a[keep])
                out_b.append(ids_b[keep])
                out_c.append(cos[ia, ib][keep])
                if r1 < m:
                    # block x tail: each pair once, in POSITION order —
                    # normalize to (lo, hi) ids, never filter (a filter
                    # would drop pairs whose ids happen to sort against
                    # the bucket's position order; same lesson as the
                    # exact grid's cross-block branch above)
                    cos = np.round(a @ bv[r1:].T, round_to)
                    ia, ib = np.nonzero(cos >= threshold)
                    ids_a, ids_b = ai[ia], bi[r1:][ib]
                    out_a.append(np.minimum(ids_a, ids_b))
                    out_b.append(np.maximum(ids_a, ids_b))
                    out_c.append(cos[ia, ib])
        if not out_a:
            return pd.DataFrame(
                {"vec_id_a": [], "vec_id_b": [], "cosine": []}
            ).astype(
                {"vec_id_a": "int64", "vec_id_b": "int64", "cosine": "float64"}
            )
        return pd.DataFrame(
            {
                "vec_id_a": np.concatenate(out_a),
                "vec_id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    grouped = tagged.withColumn(
        "grp", F.shiftright("bkt", group_shift)
    )
    pairs = grouped.groupBy("tbl", "grp").applyInPandas(
        score_group, "vec_id_a long, vec_id_b long, cosine double"
    )
    # a pair found in k tables yields k rows; the cosines are the same
    # dot product but different GEMM shapes may, at the last bit before
    # rounding, disagree — keyed max() collapses them robustly where a
    # distinct() could leak a twin row (post-threshold volume is tiny,
    # so this aggregation is on near-dup pairs only)
    return pairs.groupBy("vec_id_a", "vec_id_b").agg(
        F.max("cosine").alias("cosine")
    )


#: IVF route sizing: codebook ~ sqrt(n) cells (verify cost ~ p^2 n^2/k
#: = p^2 n^(3/2) — subquadratic), capped so the centroid literal the
#: k-means assignment codegen carries stays parser-sized.
_IVF_MAX_CELLS = 2048
#: vectors each k-means training pass sees at most (deterministic
#: hash-sample; the codebook is a candidate BLOCKER, not a model —
#: sampled training loses nothing measurable, see tests)
_IVF_TRAIN_CAP = 65536
#: default multi-probe width: each vector joins its ``probes`` nearest
#: cells, so a pair straddling a cell boundary still meets in a shared
#: probed cell with high probability.  Probes are the recall knob at
#: wide angles — a 63-degree pair's nearest cells genuinely differ, and
#: the probe sets must be wide enough to overlap.  Measured on the
#: topical test corpus (40 topics, threshold 0.45, k=44 cells): recall
#: 0.835 at p=4 -> 0.996 at p=8; verify work grows ~p^2.
_IVF_PROBES = 8
#: minimum probe COVERAGE (probes/num_cells) when the caller pins
#: num_cells explicitly: 1/64 ~ 1.6%.  Measured on the 1000-true-topic
#: 500k corpus at num_cells=1000: recall 0.861 at coverage 0.8%
#: (probes=8) vs 0.982 at 1.6% (probes=16) — coverage is the recall
#: driver even when the codebook aligns with real clusters (SCALE.md
#: r9), so an explicit num_cells >> 32*probes with the default probe
#: width would silently under-recall.
_IVF_MIN_COVERAGE_DEN = 64


def _ivf_probes_for(num_cells: int, probes: int) -> int:
    """Probe width for an EXPLICIT num_cells: at least the requested
    width, raised to keep coverage >= 1/_IVF_MIN_COVERAGE_DEN."""
    return max(probes, -(-num_cells // _IVF_MIN_COVERAGE_DEN))


def _embedding_dup_pairs_ivf(
    embeddings: DataFrame,
    threshold: float,
    round_to: int,
    num_cells: int | None = None,
    probes: int = _IVF_PROBES,
    iters: int = 2,
) -> DataFrame:
    """IVF-clustered embedding dedup for WIDE-ANGLE thresholds (the
    regime where sign-bucket LSH cannot prune — ``_lsh_params`` would
    need thousands of tables below cosine ~0.6).

    Shape: train a ~sqrt(n)-cell k-means codebook on a deterministic
    hash-sample (``kmeans_train``: map-side literal-centroid assignment,
    k*d-row update shuffles), assign every vector to its ``probes``
    nearest cells with one Arrow-batched GEMM pass (n x k dots as BLAS,
    not per-row exprs), then run the SAME bucket-local exact verify as
    the LSH route (``_bucket_gemm_pairs``) with cell = bucket.  Every
    emitted pair is exactly scored, so output is a strict subset of the
    exact grid's pairs; the approximation is candidate recall only.

    WHY THIS PRUNES WHERE LSH CANNOT: random-hyperplane collisions
    depend only on the pair's ANGLE (hopeless at 63 degrees), but real
    embedding corpora are clustered — a wide-angle near-dup pair sits
    inside a semantic cluster whose k-means cell captures both members,
    and multi-probe assignment covers pairs near cell boundaries.
    Recall is therefore DATA-dependent, not parameter-guaranteed:
    measured 1.0 at threshold 0.45 on the planted topical corpus
    (tests/test_dedup_recall.py::test_ivf_route_recall_wide_angle) and
    >= 0.9 on the 500k-vector probe (SCALE.md r8).  A uniform-random
    corpus is the adversarial case for ANY wide-angle blocker; there
    the honest answer stays ``method="exact"``.

    Scale: verify cost ~ sum over cells of occupancy^2 ~ p^2 * n^2 / k;
    with k ~ sqrt(n) that is p^2 * n^1.5 GEMM flops, shuffle volume is
    ``probes`` copies of the corpus, and a skewed mega-cell is blocked
    at ``_LSH_GEMM_BLOCK`` rows inside the shared verify.  Past
    ``_IVF_MAX_CELLS`` (n ~ 4M at the sqrt sizing) cells grow instead
    of multiplying — verify work per vector then grows ~n/k; widen the
    cap (bigger driver-held codebook) before reaching for that regime.
    """
    import pandas as pd

    from hbase_tohdfs_spark.operators.similarity import kmeans_train

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n_row = e.selectExpr("count(*) AS n", "max(size(v)) AS d").first()
    n = int(n_row["n"])
    if n == 0:
        return e.sparkSession.createDataFrame(
            [], "vec_id_a long, vec_id_b long, cosine double"
        )
    if num_cells is not None:
        # Explicit codebook size: hold probe coverage at the measured
        # recall floor instead of letting a large num_cells silently
        # starve the probe lists (see _IVF_MIN_COVERAGE_DEN).
        probes = _ivf_probes_for(num_cells, probes)
    if num_cells is None:
        # Two ceilings on the sqrt(n) sizing:
        # * 32*probes keeps the PROBE COVERAGE p/k >= ~3% — the measured
        #   recall driver (500k probe: coverage 1.1% -> recall 0.86,
        #   vs 0.995 at 5.7% coverage on the same corpus shape at 20k).
        #   Past n ~ (32p)^2 = ~65k vectors this trades asymptotics for
        #   recall: verify work becomes ~n^2 p/32 (small constant) on
        #   corpora whose cluster count grows linearly with n.  Real
        #   corpora have SUBLINEAR cluster growth (SemDeDup: ~10^4-10^5
        #   clusters for 10^8 docs) — there the right setting is
        #   num_cells ~ the corpus' cluster count, passed explicitly,
        #   which restores work ~ n^2/k with the recall intact.
        # * _IVF_MAX_CELLS bounds the driver-held codebook.
        num_cells = max(
            16, min(_IVF_MAX_CELLS, 32 * probes, int(round(n**0.5)))
        )
    num_cells = min(num_cells, n)
    probes = max(1, min(probes, num_cells))

    def _l2_normalized(frame: DataFrame) -> DataFrame:
        # Spherical k-means (ADVICE r8): probe assignment ranks cells by
        # COSINE of L2-normalized vectors, so the codebook must be
        # trained in the same geometry — unnormalized squared-Euclidean
        # training on a corpus with heterogeneous vector norms would
        # place centroids by magnitude, not direction, silently
        # degrading candidate recall.
        norm = F.sqrt(
            F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)
        )
        return frame.select(
            "vec_id",
            F.transform(
                "v", lambda x: x / F.greatest(norm, F.lit(1e-12))
            ).alias("v"),
        )

    # Deterministic hash-sample for training: the codebook only needs to
    # see the corpus' cluster structure, not every row.  Training ids
    # are hash-SCRAMBLED: kmeans_train seeds from the k lowest ids, and
    # real corpora arrive sorted (by topic, crawl order, shard) — naive
    # lowest-id seeding would then draw every seed from one corner of
    # the space, leaving Lloyd few iterations to migrate centroids out.
    # crc32 of the id gives a deterministic, order-independent
    # pseudo-random seed sample at zero cost.
    train = e
    if n > _IVF_TRAIN_CAP:
        m = max(1, n // _IVF_TRAIN_CAP)
        train = train.filter(
            F.crc32(F.col("vec_id").cast("string")) % m == 0
        )
    train = _l2_normalized(
        train.select(
            F.crc32(F.col("vec_id").cast("string")).alias("vec_id"), "v"
        )
    )
    cents, _ = kmeans_train(
        train, k=num_cells, iters=iters, vec_col="v", id_col="vec_id"
    )
    # The crc32-sampled training frame can hold fewer than num_cells
    # rows (tiny corpora, aggressive sampling) — kmeans_train then
    # returns fewer centroids, and an unclamped probe width would make
    # np.argpartition(-sims, p-1) raise IndexError mid-job (ADVICE r8).
    probes = max(1, min(probes, len(cents)))

    def assign_batches(batches):
        import numpy as np

        c = np.asarray(cents, dtype="float64")
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        p = probes
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = np.stack(pdf["v"].to_numpy())
            norms = np.maximum(
                np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12
            )
            sims = (vecs / norms) @ c.T
            # top-p cells per row; argpartition is O(k) per row
            top = np.argpartition(-sims, p - 1, axis=1)[:, :p]
            out = pd.DataFrame(
                {
                    "tbl": np.zeros(len(pdf) * p, dtype="int32"),
                    "bkt": top.reshape(-1).astype("int64"),
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), p),
                    # object-array repeat copies references, not vectors
                    "v": np.repeat(pdf["v"].to_numpy(), p),
                }
            )
            yield out

    tagged = e.mapInPandas(
        assign_batches, "tbl int, bkt long, vec_id long, v array<double>"
    )
    # group_shift=0: IVF cells are already occupancy ~ p*sqrt(n) — big
    # enough that one cell per Python group amortizes fine, and k groups
    # keep the verify stage parallel.
    return _bucket_gemm_pairs(tagged, threshold, round_to, group_shift=0)


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    round_to: int = 6,
    block_size: int = 1024,
    method: str | None = None,
    max_exact_vectors: int = EMBED_EXACT_MAX_VECTORS,
    target_recall: float | None = None,
    num_cells: int | None = None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold — blocked matrix
    products.

    All-pairs cosine is O(n^2 * d); the scalable shape is *blocked GEMM*:
    split the n vectors into ceil(n/B) blocks, enumerate the upper
    triangle of block pairs, ship each (block_i, block_j) group to one
    task, and let one vectorized ``A @ B.T`` score B^2 pairs at once.
    Shuffle volume is n/B copies of the corpus (vs n copies for a naive
    row self-join) and every task is a dense BLAS call instead of
    per-pair interpreted expressions (~40x faster than the
    ``aggregate(zip_with(...))`` formulation it replaced).

    ENVELOPE ENFORCEMENT: the block grid is O((n/B)^2) groups, viable to
    ~10^6 vectors.  Past ``max_exact_vectors`` the operator now ROUTES
    to the LSH-pruned path (``_embedding_dup_pairs_lsh``: adaptively
    sized sign-bucket tables -> candidates -> exact verify; parameters
    from ``_lsh_params`` target >= 0.99 recall at the threshold with
    candidate volume linear in n) instead of silently building a
    quadratic grid; the switch is recorded via both warnings.warn and a
    logging WARNING.  Force a path with ``method="exact"`` /
    ``method="lsh"``.

    LOW THRESHOLDS DON'T PRUNE WITH LSH: sign-bucket collision
    probability decays exponentially with the angle, so past the
    envelope a low ``threshold`` (e.g. 0.45) makes ``target_recall``
    unreachable at any sane table count.  The auto-route now falls
    through to the IVF-clustered path (``_embedding_dup_pairs_ivf``:
    trained ~sqrt(n)-cell codebook -> multi-probe assignment ->
    bucket-local exact verify) whose pruning exploits CLUSTER STRUCTURE
    instead of raw angle — recall is data-dependent (measured on the
    planted topical corpus and the SCALE.md probe) rather than
    parameter-guaranteed, and the route warning says so.  An explicit
    ``method="lsh"`` still RAISES with the achievable recall rather
    than silently under-delivering; ``method="ivf"`` forces the
    clustered path at any size/threshold.

    ``num_cells`` (ivf route only) pins the codebook size.  The default
    sizing (~sqrt(n), capped at 32*probes for probe coverage) is the
    blind setting; when the corpus' cluster count is KNOWN — real
    embedding corpora grow clusters sublinearly (SemDeDup: ~10^4-10^5
    clusters at 10^8 docs) — pass num_cells ~ that cluster count:
    verify work drops to ~n^2/num_cells and recall stays FLAT as n
    grows at fixed cluster count (measured 0.861 -> 0.859 going 500k
    -> 1M on the 1000-topic probe corpus, SCALE.md r9).  Probe
    coverage (probes/num_cells) remains the recall driver even when
    the codebook aligns with real clusters — 0.861 at 0.8% coverage vs
    0.982 at 1.6% on the same corpus — so an explicit num_cells
    auto-raises the probe width to keep coverage >= ~1.6%
    (``_ivf_probes_for``); expect verify work ~ probes^2 * n^2 /
    num_cells.

    ``target_recall`` is ENFORCED only on the lsh route (it sizes the
    table count).  The ivf route cannot enforce any recall target —
    its recall rides on the corpus' cluster structure — so when the
    caller EXPLICITLY passes ``target_recall`` > 0.9 and the auto-route
    finds sign-LSH unreachable, the operator RAISES instead of silently
    substituting an unenforceable approximation (ADVICE r8); pass
    ``method="ivf"`` to acknowledge data-dependent recall, or
    ``method="exact"`` to insist on the grid.  Leaving ``target_recall``
    unset (None -> 0.99 for lsh sizing) keeps the warn-and-route
    fallback.
    """
    import pandas as pd

    requested_recall = target_recall
    target_recall = 0.99 if target_recall is None else target_recall
    if method not in (None, "exact", "lsh", "ivf"):
        raise ValueError(f"unknown method {method!r}")
    if method == "lsh":
        return _embedding_dup_pairs_lsh(
            embeddings, threshold, round_to, target_recall=target_recall
        )
    if method == "ivf":
        return _embedding_dup_pairs_ivf(
            embeddings, threshold, round_to, num_cells=num_cells
        )
    nb_row = embeddings.selectExpr(
        f"int(ceil(count(*) / {block_size})) AS nb",
        "count(*) AS n",
    ).first()
    if method is None and int(nb_row["n"]) > max_exact_vectors:
        import logging
        import warnings

        n = int(nb_row["n"])
        try:
            _lsh_params(n, threshold, target_recall)
            route, routed = "lsh", (
                lambda: _embedding_dup_pairs_lsh(
                    embeddings,
                    threshold,
                    round_to,
                    target_recall=target_recall,
                )
            )
            detail = "subquadratic sign-LSH candidates, ~0.99 recall"
        except ValueError:
            # Wide-angle regime: sign-LSH cannot reach target_recall at
            # any sane table count (r7 verdict task 4) — route to the
            # IVF-clustered blocker instead of erroring out.  But if the
            # caller EXPLICITLY demanded a high recall, substituting a
            # route that cannot enforce ANY target would silently ignore
            # their contract — raise and make the decision theirs
            # (ADVICE r8).
            if requested_recall is not None and requested_recall > 0.9:
                raise ValueError(
                    f"embedding_dup_pairs: target_recall="
                    f"{requested_recall} was explicitly requested, but "
                    f"sign-LSH cannot reach it at threshold {threshold} "
                    f"for {n} vectors, and the ivf fallback's recall is "
                    "data-dependent (cluster structure), not "
                    'parameter-guaranteed. Pass method="ivf" to accept '
                    'that, method="exact" for the O(n^2) grid, or lower '
                    "target_recall."
                )
            route, routed = "ivf", (
                lambda: _embedding_dup_pairs_ivf(
                    embeddings, threshold, round_to, num_cells=num_cells
                )
            )
            detail = (
                "IVF-clustered candidates; the (default) "
                f"target_recall={target_recall} is UNENFORCED on this "
                "route — recall rides on the corpus' cluster structure "
                "(measured on planted corpora, NOT parameter-guaranteed "
                '— uniform-random corpora need method="exact")'
            )
        msg = (
            f"embedding_dup_pairs: {n} vectors exceed the "
            f"exact block-grid envelope ({max_exact_vectors}); routing "
            f"to the {route} path ({detail} — NOT exact). Pass "
            'method="exact" to insist on the grid or '
            f'method="{route}" to acknowledge the approximation.'
        )
        # both channels: warnings for interactive callers, logging at
        # WARNING so the recall change is visible in cluster driver logs
        # where warnings.warn output is easy to miss (ADVICE r6)
        warnings.warn(msg, stacklevel=2)
        logging.getLogger(__name__).warning(msg)
        return routed()
    nb = max(int(nb_row["nb"]), 1)
    e = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        (F.crc32(F.col("vec_id").cast("string")) % nb).alias("bid"),
    )
    # Upper triangle of block pairs; each vector joins its row + column
    # of the block grid -> nb copies per vector, grouped by (bi, bj).
    pairs_idx = [(i, j) for i in range(nb) for j in range(i, nb)]
    grid = e.sparkSession.createDataFrame(pairs_idx, "bi int, bj int")
    left = e.join(grid, e.bid == grid.bi).select(
        "bi", "bj", F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    right = e.join(grid, e.bid == grid.bj).select(
        F.col("bi").alias("bi2"),
        F.col("bj").alias("bj2"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
    )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame(
                {"vec_id_a": [], "vec_id_b": [], "cosine": []}
            ).astype({"vec_id_a": "int64", "vec_id_b": "int64", "cosine": "float64"})
        ma = np.stack(a["vec"].to_numpy())
        mb = np.stack(b["vec"].to_numpy())
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        cos = np.round(ma @ mb.T, round_to)
        ia, ib = np.nonzero(cos >= threshold)
        ids_a = a["vec_id"].to_numpy()[ia]
        ids_b = b["vec_id"].to_numpy()[ib]
        vals = cos[ia, ib]
        if pdf["bi"].iat[0] == pdf["bj"].iat[0]:
            # Same block on both sides: every pair shows up in both
            # orders (and the diagonal) — keep the a < b half.
            keep = ids_a < ids_b
            ids_a, ids_b, vals = ids_a[keep], ids_b[keep], vals[keep]
        else:
            # Cross-block: each pair occurs exactly once, in arbitrary
            # id order (blocks are hash-assigned) — normalize instead
            # of filtering, or pairs with id_a > id_b would be lost.
            lo = np.minimum(ids_a, ids_b)
            hi = np.maximum(ids_a, ids_b)
            ids_a, ids_b = lo, hi
        return pd.DataFrame(
            {"vec_id_a": ids_a, "vec_id_b": ids_b, "cosine": vals}
        )

    stacked = left.select(
        "bi", "bj", F.lit(0).alias("side"), F.col("id_a").alias("vec_id"), F.col("va").alias("vec")
    ).unionByName(
        right.select(
            F.col("bi2").alias("bi"),
            F.col("bj2").alias("bj"),
            F.lit(1).alias("side"),
            F.col("id_b").alias("vec_id"),
            F.col("vb").alias("vec"),
        )
    )
    out = stacked.groupBy("bi", "bj").applyInPandas(
        score_block, "vec_id_a long, vec_id_b long, cosine double"
    )
    return out.select("vec_id_a", "vec_id_b", F.round("cosine", round_to).alias("cosine"))
