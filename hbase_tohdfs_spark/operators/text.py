"""Text-analysis operators for a training-data pipeline, over `documents`.

Everything here is built from JVM-side ``pyspark.sql.functions`` (array
lambdas, regex, window functions) — no Python in the hot path — so the
whole stage stays inside whole-stage codegen and scales map-side: the only
shuffles are the final per-document aggregations, keyed on ``doc_id``.

The token/shingle/hash formulas are deliberately ANSI-SQL-expressible
(md5-based hashing, regex tokenization) so the DuckDB oracle can replay
them exactly — see ``queries.py`` for the paired oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tokenization shared by text analysis + dedup: lowercase, split on
# non-alphanumeric runs, drop empties.  Same regex works in Java and RE2.
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens_expr(text_col: str = "text") -> Column:
    return F.expr(f"filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'), x -> x <> '')")


def shingles_expr(tokens_col: str = "tokens", k: int = 3) -> Column:
    """Word k-shingles: ['a b c', 'b c d', ...]; empty when < k tokens.

    Guarded CASE: Spark's ``sequence(1, 0)`` counts *down* ([1, 0]) rather
    than producing an empty sequence like SQL generate_series, and
    ``slice(_, 0, _)`` then throws.
    """
    return F.expr(
        f"CASE WHEN size({tokens_col}) >= {k} THEN"
        f" transform(sequence(1, size({tokens_col}) - {k - 1}),"
        f" i -> concat_ws(' ', slice({tokens_col}, i, {k})))"
        f" ELSE array() END"
    )


#: 60-bit token hash: first 15 hex chars of md5 (fits a signed long, and
#: DuckDB computes the identical value via ('0x'||substr(md5(t),1,15))::BIGINT).
def token_hash_expr(col: str) -> Column:
    return F.expr(f"cast(conv(substr(md5({col}), 1, 15), 16, 10) as bigint)")


# 5 small marker-word sets for the heuristic language-ID.  Public-knowledge
# stopword samples; scoring is distinct-token overlap.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "mit"],
    "en": ["the", "a", "and", "of", "to", "is", "in", "that"],
    "es": ["el", "la", "los", "y", "de", "que", "es", "un"],
    "fr": ["le", "la", "les", "et", "de", "que", "est", "un"],
    "zh": ["de", "shi", "le", "bu", "wo", "zai", "you", "he"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})

#: BPE-ish token estimate: letter runs, single digits, single symbols.
BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def with_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("tokens", tokens_expr(text_col))


def shingle_docs(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """``(doc_id, sh: array<string>)`` — the shared input of the MinHash /
    fingerprint family.  Callers that branch into self-joins should
    ``.persist()`` the result: Spark re-executes common subplans per
    branch, and re-tokenizing the corpus N times is the dominant cost.
    """
    return (
        with_tokens(docs, text_col)
        .withColumn("sh", shingles_expr("tokens", k))
        .select("doc_id", "sh")
    )


def poly_shingle_docs(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """``(doc_id, sh: array<bigint>)`` — the 60-bit rolling-polynomial
    hash of every word-k-shingle (one md5 per TOKEN, then a Horner fold
    per window; see :func:`poly_shingles_sql` for the constants
    and the overflow-safe split).  Drop-in sibling of
    :func:`shingle_docs` for consumers that key on shingle IDENTITY
    (set joins, MinHash, Jaccard over sets) rather than the string
    itself: the element is a fixed 8-byte BIGINT, never a materialized
    shingle string.  DuckDB oracles replay the identical values via
    :func:`poly_shingles_duckdb`.  Same empty-array semantics as
    ``shingle_docs`` for docs with < k tokens."""
    return (
        with_tokens(docs, text_col)
        .select(
            "doc_id",
            F.expr(
                "transform(tokens, t ->"
                " cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint))"
            ).alias("th"),
        )
        .select("doc_id", F.expr(poly_shingles_sql("th", k)).alias("sh"))
    )


def explode_shingles(sh_docs: DataFrame) -> DataFrame:
    """``(doc_id, pos, shingle)`` via **outer** posexplode.

    Plain ``posexplode`` makes InferFiltersFromGenerate add a
    ``size(sh) > 0`` predicate which predicate-pushdown then sinks below
    the scan-edge fan-out exchange with the whole tokenize/shingle chain
    inlined — recomputing it serially (measured 25x slowdown).  The
    outer variant generates no such filter; empty docs surface as one
    NULL row dropped *after* the Generate, where the filter can't sink.
    """
    return (
        sh_docs.select(
            "doc_id", F.posexplode_outer("sh").alias("pos", "shingle")
        ).filter(F.col("shingle").isNotNull())
    )


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document quality metrics: token counts, length stats, punct and
    stopword ratios, and a composite quality score in [0, 1]."""
    d = with_tokens(docs)
    n_tokens = F.size("tokens")
    n_chars = F.length("text")
    punct = F.expr(r"length(regexp_replace(text, '[a-zA-Z0-9\\s]+', ''))")
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(
        f"size(filter(tokens, t -> array_contains(array({stop_list}), t)))"
    )
    avg_tok = F.when(n_tokens > 0, F.round(n_chars.cast("double") / n_tokens, 4))
    punct_ratio = F.round(punct.cast("double") / F.greatest(n_chars, F.lit(1)), 4)
    stop_ratio = F.round(
        n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)), 4
    )
    # Quality: long enough, not punctuation-soup, some stopword mass.
    quality = F.round(
        F.least(n_tokens / F.lit(50.0), F.lit(1.0)) * 0.5
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 10, F.lit(1.0)) * 0.2,
        4,
    )
    # Tokenizer-cost estimates ride along in the same map-side pass (the
    # patterns go through F.lit, NOT an F.expr SQL string — the SQL parser
    # would eat the backslash in '\s' and quietly change the regex).
    n_ws = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_RE), F.lit(0)))
    return d.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        avg_tok.alias("avg_chars_per_token"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
        n_ws.alias("n_tokens_ws"),
        n_bpe.alias("n_tokens_bpe"),
    )


def repetition_signals(docs: DataFrame, k: int = 2) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. '21
    used duplicate-line/n-gram fractions as core quality filters):
    per doc, the fraction of word-``k``-gram occurrences that are
    repeats (``1 - distinct/total``) and the share held by the single
    most frequent ``k``-gram.  High values flag boilerplate, scraped
    navigation, and degenerate generation loops.

    Scale: explode is a generator; then two keyed shuffles, both with
    map-side partial aggregation — (doc_id, shingle) counts, then the
    per-doc rollup.  Per-doc work is linear in document length (no
    O(L^2) array lambdas).  Docs with fewer than ``k`` tokens have no
    k-grams and drop out, mirroring the other shingle-family operators.
    """
    ex = explode_shingles(shingle_docs(docs, k))
    counts = ex.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    distinct = F.count(F.lit(1))
    return (
        counts.groupBy("doc_id")
        .agg(
            total.alias("n_shingles"),
            distinct.alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_shingles"), 6
            ).alias("frac_repeated"),
            F.round(F.col("top_count") / F.col("n_shingles"), 6).alias(
                "top_share"
            ),
        )
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: distinct-token overlap with per-language
    marker sets; deterministic tie-break by language code order."""
    d = with_tokens(docs)
    langs = sorted(LANG_MARKERS)
    for lang in langs:
        arr = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        d = d.withColumn(
            f"score_{lang}", F.expr(f"size(array_intersect(tokens, array({arr})))")
        )
    # CASE chain in fixed order — identical expression runs in DuckDB.
    pred = "CASE "
    for i, lang in enumerate(langs):
        others = [f"score_{o}" for o in langs[i + 1 :]]
        cond = (
            " AND ".join(f"score_{lang} >= {o}" for o in others) if others else "TRUE"
        )
        pred += f"WHEN {cond} THEN '{lang}' "
    pred += "END"
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.expr(pred).alias("predicted_lang"),
        *[F.col(f"score_{lang}") for lang in langs],
    )


# --------------------------------------------------------------- PII / URLs
# All patterns are simultaneously valid Java-regex (Spark) and RE2 (DuckDB):
# no lookaround, no backrefs, character classes and \b/\d only — so the
# oracle replays them byte-for-byte.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
URL_RE = r"https?://[A-Za-z0-9.-]+[A-Za-z0-9./_-]*"
DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII detection + redaction: email/phone/IPv4 counts and
    the md5 of the redacted text (emails -> <EMAIL>, then phones ->
    <PHONE>, then IPs -> <IP> — the order is part of the contract, since
    an earlier replacement can destroy a later pattern's match).

    Pure map-side codegen: three regexp_extract_all + a regexp_replace
    chain per row, zero shuffles — the shape that saturates a 1000-executor
    scan.  Patterns go through ``F.lit`` so the SQL parser never sees (and
    eats) the backslashes.
    """
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(c, F.lit(IPV4_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, F.lit(EMAIL_RE), F.lit("<EMAIL>")),
            F.lit(PHONE_RE),
            F.lit("<PHONE>"),
        ),
        F.lit(IPV4_RE),
        F.lit("<IP>"),
    )
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ipv4.alias("n_ipv4"),
        F.md5(redacted).alias("clean_md5"),
        ((n_emails + n_phones + n_ipv4) > 0).alias("has_pii"),
    )


def url_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-domain URL statistics: extract every URL, take its host, count
    URLs and distinct referencing documents per domain.

    The extract+explode is a generator (no shuffle); the only exchange is
    the final domain-keyed aggregation with map-side partial agg.  Domain
    cardinality is bounded by the web's host count, not the corpus size,
    so the reduce side stays small at any scale.
    """
    urls = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), F.lit(0))
        ).alias("url"),
    )
    return (
        urls.select(
            "doc_id", F.regexp_extract("url", DOMAIN_RE, 1).alias("domain")
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_urls"), "domain")
    )


#: rolling-hash base for :func:`poly_shingle_docs`: the shingle hash
#: is a Horner fold of the per-token 60-bit md5 hashes, base POLY_B,
#: modulus 2^60.  The multiply is computed mod 2^60 via a
#: 30/30-bit split so every intermediate fits a SIGNED 64-bit integer in
#: both engines (Spark bigint overflow throws under ANSI; DuckDB BIGINT
#: overflow always throws): h*B mod 2^60 =
#: ((h div 2^30)*B mod 2^30)*2^30 + (h mod 2^30)*B, all terms < 2^60,
#: and the subsequent +token_hash stays < 2^62.  B ~ 2^20 keeps
#: (h div 2^30)*B < 2^50.  Collision structure: for shingles sharing a
#: prefix the map from the last token's hash is a bijection mod 2^60,
#: so 60-bit-family collision odds carry over from the md5 inputs.
POLY_B = 1_000_003
_POLY_M = 1 << 60
_POLY_HALF = 1 << 30


def poly_shingles_sql(token_hashes_col: str, k: int) -> str:
    """SQL expression: the array of rolling polynomial hashes over every
    ``k``-window of the 60-bit token-hash array ``token_hashes_col``
    (1-indexed positions, same layout as ``shingles_expr``).  The k-step
    Horner fold is unrolled at plan-build time (k is a Python constant).
    DuckDB replays it verbatim with ``//`` for ``div`` and
    ``list_transform``/``generate_series`` for ``transform``/``sequence``
    — see FINGERPRINTS_ORACLE."""
    h = f"element_at({token_hashes_col}, i)"
    for j in range(1, k):
        mul = (
            f"(pmod(({h}) div {_POLY_HALF} * {POLY_B}, {_POLY_HALF})"
            f" * {_POLY_HALF} + pmod({h}, {_POLY_HALF}) * {POLY_B})"
        )
        h = f"pmod({mul} + element_at({token_hashes_col}, i + {j}), {_POLY_M})"
    return (
        f"CASE WHEN size({token_hashes_col}) >= {k} THEN"
        f" transform(sequence(1, size({token_hashes_col}) - {k - 1}),"
        f" i -> {h}) ELSE array() END"
    )


def poly_shingles_duckdb(token_hashes_col: str, k: int) -> str:
    """The DuckDB replay of ``poly_shingles_sql`` — same constants,
    same fold, 1-indexed list access; ``//`` for integer division and
    plain ``%`` (all operands are non-negative, so ``%`` == ``pmod``).
    Kept next to the Spark builder so the two can never drift apart;
    FINGERPRINTS_ORACLE embeds this verbatim."""
    h = f"{token_hashes_col}[i]"
    for j in range(1, k):
        mul = (
            f"(((({h}) // {_POLY_HALF} * {POLY_B}) % {_POLY_HALF})"
            f" * {_POLY_HALF} + (({h}) % {_POLY_HALF}) * {POLY_B})"
        )
        h = f"(({mul}) + {token_hashes_col}[i + {j}]) % {_POLY_M}"
    return (
        f"list_transform(generate_series(1, len({token_hashes_col}) - {k - 1}),"
        f" i -> {h})"
    )


def fingerprint(docs: DataFrame, k: int = 3, window: int = 4) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer et al., SIGMOD'03):
    hash every k-shingle, keep the minimum hash of each sliding window of
    ``window`` shingles, dedupe.  Output: per-doc fingerprint count and
    the smallest fingerprint (a stable content signature).

    Formulated as explode -> codegen ``min`` aggregation, NOT a sliding
    window function (the same reshape that won 3.6x for SimHash, r7):
    each hashed shingle at ``pos`` is replicated to the window ids
    ``pos .. min(pos + window - 1, max_pos)`` it participates in —
    exactly the clipped ``rowsBetween(-(window-1), 0)`` frame, windows
    indexed by their LAST position — and ``groupBy(doc_id, wid).min(h)``
    recovers each window's minimum.  vs the window-function plan this
    deletes the per-doc_id SORT of every shingle row (the term that
    tracked data volume linearly in the 1M/4M probe, SCALE.md) and the
    explode's map-side partial agg collapses the ``window``-fold row
    fan-out back to ~n_shingles rows before the shuffle, because a
    doc's exploded rows never leave their input partition.  md5 runs
    once per shingle BELOW the Generate, so the explode copies the
    derived value instead of re-hashing (the CMS/Bloom digest-placement
    move).

    The shingle hash is the repo-standard 60-bit BIGINT slice of md5
    (same formula as token_hash_expr), NOT the hex string: ``min`` over
    a STRING column cannot use HashAggregateExec (string agg buffers
    aren't mutable), so Spark silently planned SortAggregate — a sort
    of the full exploded stream on (doc_id, wid) — for both this
    formulation and the window one, which is why the r8 A/B measured
    them identical.  min(BIGINT) hash-aggregates; plan audited
    sort-free.  Winnowing guarantees hold for any hash family;
    60 bits make collisions negligible at any per-window set size.

    The hash family is the rolling polynomial (Rabin-Karp/Horner, base
    ``POLY_B`` mod 2^60) over per-TOKEN 60-bit md5 hashes: one md5 per
    token (k× fewer hashed bytes), no shingle string ever built, then
    pure codegen integer arithmetic per shingle.  The r8 A/B showed
    winnowing's cost is map-dominated (tokenize+shingle+md5); this
    attacks exactly that term.  Against the md5-of-the-shingle-string
    family it measured 2.10x/2.07x faster at 1M/4M docs (interleaved
    min-of-N, SCALE.md "Round 9: winnowing rolling-hash").  Winnowing's
    guarantees are hash-agnostic, but the EMITTED VALUES differ between
    families, so fingerprints persisted by the md5 family do not compare
    with these.

    Scale: 2 generators (no shuffle), one hash-partitioned codegen
    aggregation on (doc_id, wid), then the distinct+summary aggregation
    pair over the already-shrunk fingerprint rows.  No sort anywhere.
    """
    hashed = (
        poly_shingle_docs(docs, k)
        .select(
            "doc_id",
            (F.size("sh") - 1).alias("max_pos"),
            F.posexplode_outer("sh").alias("pos", "h"),
        )
        .filter(F.col("h").isNotNull())
    )
    wids = hashed.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.col("pos"),
                F.least(F.col("pos") + (window - 1), F.col("max_pos")),
            )
        ).alias("wid"),
        "h",
    )
    fps = (
        wids.groupBy("doc_id", "wid")
        .agg(F.min("h").alias("fp"))
        .select("doc_id", "fp")
        .distinct()
    )
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("fp").alias("min_fingerprint"),
    )


# ------------------------------------------------------ LM-quality / BM25
def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-trained unigram log-probability per document — the simplest
    member of the LM-perplexity quality-filter family (CCNet filters on
    KenLM perplexity; the unigram model keeps the exact same pipeline
    shape while staying closed-form and oracle-replayable).

    Two passes over the tokenized corpus: one to train (token counts,
    map-side partial agg) and one to score (explode + join the count
    table on the token key — vocabulary-sized, the canonical dictionary
    join at scale).  Per-document averaging accumulates the logs as
    DECIMAL(38,12) so the sum is partitioning-independent; the ~1-ulp
    libm ln() differences across engines sit 8 orders of magnitude
    below the round(4) output grid.
    """
    toks = with_tokens(docs).select(
        "doc_id", F.explode("tokens").alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("tot"))
    lp = F.log(F.col("c") / F.col("tot"))
    return (
        toks.join(counts, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(lp.cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_logprob"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame, query_terms: list[str], k: int = 20
) -> DataFrame:
    """BM25 lexical retrieval: top-k documents for a fixed term query —
    the exact-match complement of the embedding ANN paths (used in
    practice for eval-set decontamination lookups and corpus search).

    Okapi BM25 with the standard positive idf
    ln(1 + (N - df + 0.5)/(df + 0.5)).  The per-(doc, term) tf rows are
    filtered to the query terms BEFORE the aggregation (the same
    agg-shrinking move as the TPC-H derived partsupp), so the shuffle
    carries |docs hitting a query term| rows, not the corpus.  df and
    avgdl are tiny aggregates broadcast into the scoring expression.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    d = with_tokens(docs).select(
        "doc_id", "tokens", F.size("tokens").alias("dl")
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        d.select(
            "doc_id",
            "dl",
            F.explode("tokens").alias("tok"),
        )
        .filter(F.array_contains(terms, F.col("tok")))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1
            * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    # decimal accumulation: per-term contributions are doubles, and a
    # plain double sum depends on addition order across partitionings
    # and engines — the same exact-accumulation rule as unigram_logprob
    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(contrib.cast("decimal(38,12)")).cast("double"), 6
            ).alias("bm25")
        )
    )
    return (
        scored.orderBy(F.desc("bm25"), "doc_id").limit(k)
    )
