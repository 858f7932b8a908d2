"""Corpus-curation operators for a training-data pipeline, over `documents`.

The four steps every large pretraining corpus goes through between "raw
documents" and "training batches":

* :func:`assign_splits` — deterministic, leakage-safe train/val/test
  assignment (hash the *group*, not the row, so near-identical docs from
  one source can never straddle a split boundary).
* :func:`pack_sequences` — concat-and-chunk sequence packing: lay the
  corpus out into fixed token-budget training sequences.
* :func:`contamination_report` — benchmark decontamination: flag training
  docs that share too many k-grams with a held-out eval set.
* :func:`passage_dedup` — exact passage-level dedup (Lee et al.,
  "Deduplicating Training Data Makes Language Models Better", ACL'22,
  adapted to fixed token-chunk granularity): drop repeated chunks
  corpus-wide, keeping the first occurrence.

Everything is JVM-side ``pyspark.sql.functions`` — no Python in any hot
path — and every formula is ANSI-SQL-expressible (md5 bucketing, regex
tokenization) so the DuckDB oracle replays it exactly (see
``queries_pipeline.py``).

Scale notes (100 TB posture) are on each operator; none of them does an
all-pairs join or a driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hbase_tohdfs_spark.operators import cacheutil
from hbase_tohdfs_spark.operators.text import (
    shingle_docs,
    token_hash_expr,
    with_tokens,
)

#: md5-derived bucket in [0, 100) — the same idiom the stratified sampler
#: uses; DuckDB computes the identical value via
#: ('0x' || substr(md5(x), 1, 15))::BIGINT % 100.
def _bucket100(col_sql: str) -> F.Column:
    return F.expr(
        f"cast(conv(substr(md5({col_sql}), 1, 15), 16, 10) as bigint) % 100"
    )


def assign_splits(
    docs: DataFrame,
    group_col: str = "source",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic train/val/test assignment, hashed at *group* level.

    Hashing the row id leaks: near-duplicate documents from one crawl
    source land on both sides of the train/eval boundary and the eval
    loss silently measures memorization.  Hashing ``group_col`` (source,
    domain, url-host, ...) keeps every document of a group in one split.
    The assignment is a pure map-side expression — zero shuffle, scales
    linearly, reproducible run-to-run and engine-to-engine (md5, not a
    seeded PRNG).
    """
    bucket = _bucket100(f"cast({group_col} as string)")
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return docs.select(
        "doc_id", F.col(group_col).alias("grp"), split.alias("split")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    n_streams: int = 32,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign every document a slot in
    a fixed ``budget``-token training sequence.

    The GPT-style packing layout: concatenate documents back to back and
    cut every ``budget`` tokens.  A single global concatenation order
    would serialize the window scan, so the corpus is first split into
    ``n_streams`` md5-hash streams (deterministic, engine-replayable) and
    packed independently per stream — the window function shuffles once
    on ``stream`` and is partition-local afterwards.  At cluster scale
    ``n_streams`` is set ≫ executor count; each stream's running sum is
    an O(stream length) scan.

    Returns one row per document: its stream, the sequence index within
    the stream where it *starts*, the token offset inside that sequence,
    and whether it crosses into the next sequence (i.e. is split across
    training examples).
    """
    n_tok = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    # Hash straight to the stream (NOT through the 100-bucket helper: a
    # mod-100 pre-reduction would cap the stream count at 100 and skew
    # any n_streams that doesn't divide 100).  The 60-bit md5 value is
    # nonnegative, so % matches DuckDB's %.
    stream = F.expr(
        f"cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10)"
        f" as bigint) % {n_streams}"
    )
    d = docs.select(
        "doc_id",
        stream.alias("stream"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    d = d.withColumn("start", start)
    return d.select(
        "doc_id",
        "stream",
        "n_tokens",
        F.floor(F.col("start") / budget).cast("long").alias("seq_id"),
        (F.col("start") % budget).cast("long").alias("start_off"),
        ((F.col("start") % budget) + F.col("n_tokens") > budget).alias(
            "crosses_boundary"
        ),
    )


def contamination_report(
    docs: DataFrame,
    eval_pct: int = 4,
    k: int = 2,
    min_common: int = 3,
    max_df: int = 1000,
) -> DataFrame:
    """Benchmark decontamination: for every training document, find the
    held-out eval document it shares the most word-``k``-grams with, and
    report pairs at or above ``min_common`` shared shingles.

    The eval set is the md5 bucket ``doc_id % 100 < eval_pct`` (stands in
    for an external benchmark table; swap the filter for a real eval
    corpus).  Matching is an inverted-index join on distinct shingles —
    the same keyed, never-all-pairs shape as the n-gram Jaccard dedup —
    with the standard document-frequency cap on boilerplate shingles
    (a shingle in f docs contributes f_train·f_eval join rows; df >
    ``max_df`` postings are dropped).  One shuffle on shingle, one on the
    (train, eval) pair, one window top-1 per train doc.
    """
    # Persist both the tokenized postings and the df-capped frame: the
    # train and eval sides are different filters of the same frame, so
    # without the cache Spark re-runs the tokenize + df-join chain once
    # per side (self-join branches share no subplan unless identical).
    # The report (top-1 per contaminated train doc) is materialized
    # eagerly and both caches released before returning.
    sh = shingle_docs(docs, k).persist()
    postings = (
        sh.filter(F.size("sh") > 0)
        .select("doc_id", F.explode(F.array_distinct("sh")).alias("s"))
    )
    # Pin the postings wide at the TOP — the df agg, the
    # df-cap join, the persist, and the train/eval fan-out join all
    # reuse the pinned HashPartitioning(s) (one shuffle total, every
    # fat stage wide; pinning below the df-cap join leaves the explode
    # + probe chain at the input's width once broadcast is allowed —
    # the measured 1-task hole).
    postings = cacheutil.fanout_repartition(postings, "s")
    dfc = postings.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    postings = postings.join(
        dfc.filter(F.col("df") <= max_df).select("s"), "s"
    ).persist()
    is_eval = _bucket100("cast(doc_id as string)") < eval_pct
    train = postings.filter(~is_eval).select(
        F.col("doc_id").alias("doc_id"), "s"
    )
    ev = postings.filter(is_eval).select(F.col("doc_id").alias("eval_doc_id"), "s")
    common = (
        train.join(ev, "s")
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_common").desc(), F.col("eval_doc_id")
    )
    report = (
        common.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "eval_doc_id", "n_common")
    )
    return cacheutil.materialize_and_release(report, sh, postings)


def passage_dedup(docs: DataFrame, chunk_tokens: int = 10) -> DataFrame:
    """Exact passage-level dedup: split every document into consecutive
    ``chunk_tokens``-token chunks and drop every repeat of a chunk
    corpus-wide, keeping only its first occurrence (ordered by
    ``(doc_id, position)``).

    This is the suffix-array exact-substring dedup of Lee et al. (ACL'22)
    relaxed to fixed chunk boundaries: boilerplate passages repeated
    across documents (headers, license blocks, templated text) are
    removed everywhere but their first appearance, which both shrinks the
    corpus and stops the model from over-weighting them.  Per document it
    returns the chunk counts and the deduplicated text.

    Scale: chunking is a generator (no shuffle; ``posexplode_outer`` is
    deliberate — plain posexplode triggers the InferFiltersFromGenerate
    + pushdown serial-recompute trap), the first-occurrence choice is one
    window shuffle keyed on the chunk text, and the reassembly is one
    aggregation keyed on ``doc_id``.  Nothing is quadratic; the chunk-key
    shuffle is the corpus itself, once.
    """
    c = chunk_tokens
    chunks_expr = F.expr(
        f"CASE WHEN size(tokens) > 0 THEN"
        f" transform(sequence(0, cast(ceil(size(tokens) / {c}.0) as int) - 1),"
        f" i -> concat_ws(' ', slice(tokens, i * {c} + 1, {c})))"
        f" ELSE array() END"
    )
    d = with_tokens(docs).select("doc_id", chunks_expr.alias("chunks"))
    ch = d.select(
        "doc_id", F.posexplode_outer("chunks").alias("pos", "chunk")
    ).filter(F.col("chunk").isNotNull())
    w = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    ch = ch.withColumn("kept", F.row_number().over(w) == 1)
    kept_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("kept"), F.struct("pos", "chunk"))
                )
            ),
            lambda x: x.chunk,
        ),
        " ",
    )
    return ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        # count(when), not sum(int): DuckDB's sum(INTEGER) widens to
        # HUGEINT and the oracle schema would drift.
        F.count(F.when(F.col("kept"), F.lit(1))).alias("n_kept"),
        kept_text.alias("dedup_text"),
    )


def domain_rebalance(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mixture rebalancing: down-sample every source to the minority
    source's size — the dominant-domain flattening step of public corpus
    recipes (The Pile / Dolma style mixture weighting, in its simplest
    keep-rate form).

    keep_rate(s) = n_min / n_s, applied by a stable md5 bucket of the
    document id: a doc is kept iff bucket(doc) * n_s < n_min * 1_000_000
    with bucket in [0, 1e6) — pure integer arithmetic, so DuckDB
    replays the decision bit-for-bit and the sample is reproducible and
    resumable at any scale.

    Scale shape: two corpus passes minimum by construction (rates need
    the counts before the filter can run), each a map-side-partial
    aggregation whose reduce side is |sources| rows — source cardinality
    is domain-bounded, not corpus-bound.  The counts frame is persisted
    so its three consumers don't re-scan, and released on return.  The
    corpus itself is never shuffled, only filtered under a broadcast of
    the rates.  Returns the per-source report (n_before, n_after,
    frac_kept); the same filter expression applied to the full row set
    is the materialization path.
    """
    bucket = token_hash_expr(f"cast({id_col} as string)") % 1000000
    # counts is |sources| rows but its lineage is a corpus scan — persist
    # it so the three consumers (rates, the keep filter, the report join)
    # cost ONE counting pass, not three; released after materialization.
    counts = (
        docs.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n_before"))
        .persist()
    )
    n_min = counts.agg(F.min("n_before").alias("n_min"))
    rates = counts.join(F.broadcast(n_min))
    kept = (
        docs.select(source_col, bucket.alias("bucket"))
        .join(F.broadcast(rates), source_col)
        .filter(F.col("bucket") * F.col("n_before") < F.col("n_min") * 1000000)
    )
    after = kept.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_after"))
    # LEFT join + coalesce: a source whose every document was sampled
    # away must still report n_after = 0 — an inner join would silently
    # drop exactly the sources the down-sampling hit hardest.
    report = (
        rates.join(after, source_col, "left")
        .withColumn("n_after", F.coalesce("n_after", F.lit(0)))
        .select(
            source_col,
            "n_before",
            "n_after",
            F.round(F.col("n_after") / F.col("n_before"), 4).alias(
                "frac_kept"
            ),
        )
        .orderBy(source_col)
    )
    return cacheutil.materialize_and_release(report, counts)


def temperature_mix(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based mixture reweighting at alpha = 0.5: sample
    source s with probability proportional to n_s^alpha (the standard
    multilingual/multi-domain softening — alpha=1 keeps the natural
    mix, alpha->0 flattens to uniform; XLM-style corpora use 0.3-0.7).

    Down-sampling only (no replication), scaled so the smallest source
    keeps everything: keep_rate(s) = (n_min / n_s)^(1 - alpha), which at
    alpha=0.5 is sqrt(n_min / n_s) — deliberately THE supported alpha,
    because sqrt is IEEE-correctly-rounded in every engine while pow()
    is libm-dependent; the keep decision (md5 bucket < 1e6 * rate)
    therefore replays bit-for-bit in the DuckDB oracle.  alpha=0
    degenerates to ``domain_rebalance`` (flat mix), the sibling
    operator.

    Same scale shape as ``domain_rebalance``: two counting passes whose
    reduce sides are |sources| rows, corpus filtered map-side under a
    broadcast of the rates, never shuffled.
    """
    bucket = token_hash_expr(f"cast({id_col} as string)") % 1000000
    counts = (
        docs.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n_before"))
        .persist()
    )
    n_min = counts.agg(F.min("n_before").alias("n_min"))
    rates = counts.join(F.broadcast(n_min)).withColumn(
        "keep_rate",
        F.sqrt(F.col("n_min").cast("double") / F.col("n_before")),
    )
    kept = (
        docs.select(source_col, bucket.alias("bucket"))
        .join(F.broadcast(rates), source_col)
        .filter(F.col("bucket") < 1000000 * F.col("keep_rate"))
    )
    after = kept.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_after"))
    report = (
        rates.join(after, source_col, "left")
        .withColumn("n_after", F.coalesce("n_after", F.lit(0)))
        .select(
            source_col,
            "n_before",
            "n_after",
            F.round("keep_rate", 6).alias("keep_rate"),
            F.round(F.col("n_after") / F.col("n_before"), 4).alias(
                "frac_kept"
            ),
        )
        .orderBy(source_col)
    )
    return cacheutil.materialize_and_release(report, counts)
