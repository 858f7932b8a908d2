"""North-star pipeline queries: dedup, similarity, text analysis,
multimodal — each paired with a DuckDB oracle that replays the exact same
md5-based formulas (see operators/{dedup,similarity,text,multimodal}.py).

The oracle SQL is generated from the same constants (hash counts, band
layout, marker words, hyperplanes) as the Spark operators, so the two
sides cannot drift independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_tohdfs_spark.operators import (
    cacheutil,
    curation,
    dedup,
    multimodal,
    similarity,
    text,
)
from hbase_tohdfs_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_FUNCS,
    SIMHASH_BITS,
)

# ---------------------------------------------------------------- shared SQL
_TOKS_CTE = (
    "toks AS (SELECT doc_id, lang, source, text,"
    " list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t"
    " FROM documents)"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from hbase_tohdfs_spark.queries import _t as _qt

    return _qt(spark, sf_dir, name)


# ------------------------------------------------------------------- dedup
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("doc_id", "content_md5")


DEDUP_EXACT_ORACLE = """
    SELECT doc_id, content_md5 FROM (
      SELECT doc_id, md5(text) AS content_md5,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, k=3, threshold=0.5)


def _minhash_ctes() -> str:
    """The MinHash pipeline as a composable CTE list (no leading WITH):
    toks -> shingles -> signatures -> bands -> buckets -> candidates ->
    verified ``mh_pairs``.  Shared by the pair query and the
    connected-components clustering oracle."""
    p = dedup.MINHASH_PRIME
    mh = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {p})) AS mh{i}"
        for i, (a, b) in enumerate(dedup.minhash_coeffs(MINHASH_FUNCS))
    )
    band_exprs = ", ".join(
        "md5("
        + " || ':' || ".join(
            f"CAST(mh{b * LSH_ROWS + r} AS VARCHAR)"
            for r in range(LSH_ROWS)
        )
        + f") AS band{b}"
        for b in range(LSH_BANDS)
    )
    buckets = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS bucket FROM bands"
        for b in range(LSH_BANDS)
    )
    return f"""{_TOKS_CTE},
    th3 AS (SELECT doc_id,
                   list_transform(t, x ->
                     ('0x' || substr(md5(x), 1, 15))::BIGINT) AS th
            FROM toks WHERE len(t) >= 3),
    sh AS (SELECT doc_id,
                  {text.poly_shingle_hashes_duckdb('th', 3)} AS s
           FROM th3),
    hsed AS (SELECT doc_id, {dedup.MINHASH_BASE_POLY_DUCKDB} AS hs FROM sh),
    sig AS (SELECT doc_id, {mh} FROM hsed),
    bands AS (SELECT doc_id, {band_exprs} FROM sig),
    buckets AS ({buckets}),
    bsize AS (SELECT band_idx, bucket, count(*) AS f FROM buckets
              GROUP BY band_idx, bucket),
    kept AS (SELECT bk.doc_id, bk.band_idx, bk.bucket
             FROM buckets bk JOIN bsize bs
               ON bk.band_idx = bs.band_idx AND bk.bucket = bs.bucket
             WHERE bs.f <= {dedup.DEDUP_MAX_BUCKET}),
    cand AS (SELECT DISTINCT x1.doc_id AS doc_id_a, x2.doc_id AS doc_id_b
             FROM kept x1 JOIN kept x2
               ON x1.band_idx = x2.band_idx AND x1.bucket = x2.bucket
              AND x1.doc_id < x2.doc_id),
    shset AS (SELECT doc_id, list_distinct(s) AS ss FROM sh),
    mh_pairs AS (SELECT doc_id_a, doc_id_b, jaccard FROM (
      SELECT doc_id_a, doc_id_b,
             round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                   / greatest(len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)), 1),
                   4) AS jaccard
      FROM cand JOIN shset a ON doc_id_a = a.doc_id
                JOIN shset b ON doc_id_b = b.doc_id)
      WHERE jaccard >= 0.5)"""


def _minhash_oracle() -> str:
    return f"""
    WITH {_minhash_ctes()}
    SELECT doc_id_a, doc_id_b, jaccard FROM mh_pairs
    """


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash pairs -> connected components
    (iterative min-label propagation; oracle = recursive CTE closure)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, k=3, threshold=0.5)
    return dedup.connected_components(pairs)


def _components_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_ctes()},
    edges AS (SELECT doc_id_a AS u, doc_id_b AS v FROM mh_pairs
              UNION SELECT doc_id_b AS u, doc_id_a AS v FROM mh_pairs),
    reach AS (SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
    SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u
    """


def _simhash_oracle() -> str:
    # (the standalone dedup_simhash registry entry was retired in r7;
    # this CTE body survives as the base of _simhash_pairs_oracle, so
    # the signature computation is still oracle-proven every time
    # dedup_simhash_pairs is checked)
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> {b}) & 1) * 2 - 1)) > 0"
        f" THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH {_TOKS_CTE},
    hashed AS (SELECT doc_id,
               list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
               FROM toks WHERE len(t) > 0)
    SELECT doc_id, {bit_terms} AS simhash FROM hashed
    """


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_dup_pairs(docs, max_hamming=16)


def _simhash_pairs_oracle() -> str:
    chunks = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk_idx,"
        f" (simhash >> {c * 15}) & 32767 AS chunk FROM sh"
        for c in range(4)
    )
    return f"""
    WITH base AS ({_simhash_oracle()}),
    sh AS (SELECT doc_id, simhash FROM base),
    chunks AS ({chunks}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                    a.simhash AS sa, b.simhash AS sb
             FROM chunks a JOIN chunks b
               ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
              AND a.doc_id < b.doc_id)
    SELECT doc_id_a, doc_id_b, bit_count(xor(sa, sb)) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 16
    """


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_dup_pairs(emb, threshold=0.45)


DEDUP_EMBEDDING_ORACLE = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))) AS norm
               FROM embeddings)
    SELECT vec_id_a, vec_id_b, cosine FROM (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    WHERE cosine >= 0.45
"""


# -------------------------------------------------------------- similarity
ANN_QUERY_IDS = list(range(10))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, ANN_QUERY_IDS, k=5)


ANN_TOPK_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))) AS norm
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e
          WHERE vec_id < {len(ANN_QUERY_IDS)}),
    scored AS (SELECT query_id, vec_id,
                      round(list_dot_product(v, qv) / (norm * qnorm), 6) AS cosine
               FROM e CROSS JOIN q WHERE vec_id <> query_id),
    ranked AS (SELECT query_id, vec_id, cosine,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def q_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.sq8_topk(emb, ANN_QUERY_IDS, k=5)


# The oracle replays the whole SQ8 pipeline: per-dim min/max -> codes ->
# dequantize -> exact cosine top-k.  list_transform keeps the dequantized
# vector in index order so list_dot_product accumulates in the same order
# as Spark's aggregate.
ANN_SQ8_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ex AS (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
           FROM e),
    stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
    arrs AS (SELECT list(mn ORDER BY dim) AS mns,
                    list(CASE WHEN mx > mn THEN (mx - mn) / 255
                              ELSE 1.0 END ORDER BY dim) AS scs
             FROM stats),
    dq AS (SELECT vec_id,
                  list_transform(generate_series(1, len(v)), i ->
                      mns[i] + least(greatest(round((v[i] - mns[i]) / scs[i],
                                                    0), 0), 255) * scs[i]) AS dv
           FROM e CROSS JOIN arrs),
    e2 AS (SELECT vec_id, dv, sqrt(list_dot_product(dv, dv)) AS norm FROM dq),
    q AS (SELECT vec_id AS query_id, dv AS qv, norm AS qnorm FROM e2
          WHERE vec_id < {len(ANN_QUERY_IDS)}),
    scored AS (SELECT query_id, vec_id,
                      round(list_dot_product(dv, qv) / (norm * qnorm), 6)
                        AS cosine
               FROM e2 CROSS JOIN q WHERE vec_id <> query_id),
    ranked AS (SELECT query_id, vec_id, cosine,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    planes = similarity.hyperplane_signs(similarity.NUM_PLANES, 64)
    return similarity.lsh_topk(emb, ANN_QUERY_IDS, k=5, planes=planes)


def _ann_lsh_oracle() -> str:
    planes = similarity.hyperplane_signs(similarity.NUM_PLANES, 64)
    bucket_terms = " + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(f"{x}::DOUBLE" for x in row)
        + f"]) > 0 THEN (1 << {p}) ELSE 0 END)"
        for p, row in enumerate(planes)
    )
    # Same Hamming-1 probe set as lsh_topk(probe_hamming=1).
    probe_list = ", ".join(
        ["qbucket"] + [f"xor(qbucket, {1 << p})" for p in range(len(planes))]
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))) AS norm
               FROM embeddings),
    eb AS (SELECT vec_id, v, norm, {bucket_terms} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm, bucket AS qbucket
          FROM eb WHERE vec_id < {len(ANN_QUERY_IDS)}),
    probes AS (SELECT query_id, qv, qnorm,
                      unnest([{probe_list}]) AS pbucket
               FROM q),
    scored AS (SELECT query_id, vec_id,
                      round(list_dot_product(v, qv) / (norm * qnorm), 6) AS cosine
               FROM eb JOIN probes ON bucket = pbucket AND vec_id <> query_id),
    ranked AS (SELECT query_id, vec_id, cosine,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, k=2, threshold=0.5)


_SH2_CTE = (
    "sh2 AS (SELECT doc_id,"
    " list_transform(generate_series(1, greatest(len(t) - 1, 0)),"
    " i -> array_to_string(t[i:i+1], ' ')) AS s"
    " FROM toks WHERE len(t) >= 2)"
)

NGRAM_JACCARD_ORACLE = f"""
    WITH {_TOKS_CTE},
    th_t AS (SELECT doc_id,
                    list_transform(t, x ->
                      ('0x' || substr(md5(x), 1, 15))::BIGINT) AS th
             FROM toks WHERE len(t) >= 2),
    sh2 AS (SELECT doc_id,
                   {text.poly_shingle_hashes_duckdb('th', 2)} AS s
            FROM th_t),
    sets AS (SELECT doc_id, list_distinct(s) AS ss FROM sh2),
    sizes AS (SELECT doc_id, len(ss) AS n_sh FROM sets),
    postings AS (SELECT doc_id, unnest(ss) AS s FROM sets),
    rare AS (SELECT s FROM postings GROUP BY s
             HAVING count(*) <= {dedup.NGRAM_MAX_DF}),
    p AS (SELECT doc_id, s FROM postings JOIN rare USING (s)),
    inter AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                     count(*) AS n_common
              FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_id_a, doc_id_b, jaccard FROM (
      SELECT doc_id_a, doc_id_b,
             round(CAST(n_common AS DOUBLE)
                   / greatest(na.n_sh + nb.n_sh - n_common, 1), 4) AS jaccard
      FROM inter
      JOIN sizes na ON doc_id_a = na.doc_id
      JOIN sizes nb ON doc_id_b = nb.doc_id)
    WHERE jaccard >= 0.5
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, ANN_QUERY_IDS, k=5)


ANN_IVF_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))) AS norm
               FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv, norm AS cnorm FROM e
             WHERE vec_id < {similarity.NUM_CELLS}),
    assign AS (SELECT vec_id, cell,
                      row_number() OVER (
                        PARTITION BY vec_id
                        ORDER BY round(list_dot_product(v, cv) / (norm * cnorm), 6)
                                   DESC, cell) AS cell_rank
               FROM e CROSS JOIN cent),
    corpus AS (SELECT e.vec_id, v, norm, cell
               FROM e JOIN assign USING (vec_id) WHERE cell_rank = 1),
    qa AS (SELECT vec_id AS query_id, cell FROM assign
           WHERE vec_id < {len(ANN_QUERY_IDS)}
             AND cell_rank <= {similarity.NUM_PROBES}),
    q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e
          WHERE vec_id < {len(ANN_QUERY_IDS)}),
    scored AS (SELECT qa.query_id, c.vec_id,
                      round(list_dot_product(c.v, q.qv) / (c.norm * q.qnorm), 6)
                        AS cosine
               FROM qa JOIN q USING (query_id)
               JOIN corpus c ON c.cell = qa.cell
               WHERE c.vec_id <> qa.query_id),
    ranked AS (SELECT query_id, vec_id, cosine,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id) AS rank
               FROM scored)
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
"""


# ------------------------------------------------------------ text analysis
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(_t(spark, sf_dir, "documents"))


def _text_stats_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in text.STOPWORDS)
    return f"""
    WITH {_TOKS_CTE},
    base AS (SELECT doc_id, lang, source,
                    len(t) AS n_tokens,
                    length(text) AS n_chars,
                    length(regexp_replace(text, '[a-zA-Z0-9\\s]+', '', 'g')) AS n_punct,
                    len(list_filter(t, x -> list_contains([{stop_list}], x))) AS n_stop
             FROM toks),
    ratios AS (SELECT doc_id, lang, source, n_tokens, n_chars,
                      CASE WHEN n_tokens > 0
                           THEN round(CAST(n_chars AS DOUBLE) / n_tokens, 4) END
                        AS avg_chars_per_token,
                      round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 4)
                        AS punct_ratio,
                      round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4)
                        AS stopword_ratio
               FROM base)
    SELECT r.doc_id, r.lang, r.source, r.n_tokens, r.n_chars,
           r.avg_chars_per_token, r.punct_ratio, r.stopword_ratio,
           round(least(r.n_tokens / 50.0, 1.0) * 0.5
                 + (1 - least(r.punct_ratio * 5, 1.0)) * 0.3
                 + least(r.stopword_ratio * 10, 1.0) * 0.2, 4) AS quality_score,
           len(list_filter(string_split_regex(d.text, '\\s+'), x -> x <> ''))
             AS n_tokens_ws,
           len(regexp_extract_all(d.text, '{text.BPE_RE}')) AS n_tokens_bpe
    FROM ratios r JOIN documents d ON r.doc_id = d.doc_id
    """


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_t(spark, sf_dir, "documents"))


def _lang_id_oracle() -> str:
    langs = sorted(text.LANG_MARKERS)
    scores = ", ".join(
        f"len(list_intersect(t, [{', '.join(chr(39) + w + chr(39) for w in text.LANG_MARKERS[lang])}])) AS score_{lang}"
        for lang in langs
    )
    pred = "CASE "
    for i, lang in enumerate(langs):
        others = [f"score_{o}" for o in langs[i + 1 :]]
        cond = " AND ".join(f"score_{lang} >= {o}" for o in others) if others else "TRUE"
        pred += f"WHEN {cond} THEN '{lang}' "
    pred += "END"
    return f"""
    WITH {_TOKS_CTE},
    scored AS (SELECT doc_id, lang AS labeled_lang, {scores} FROM toks)
    SELECT doc_id, labeled_lang, {pred} AS predicted_lang,
           {', '.join('score_' + lang for lang in langs)}
    FROM scored
    """


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.unigram_logprob(_t(spark, sf_dir, "documents"))


UNIGRAM_LOGPROB_ORACLE = f"""
    WITH {_TOKS_CTE},
    ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    counts AS (SELECT tok, count(*) AS c FROM ex GROUP BY 1),
    total AS (SELECT sum(c) AS tot FROM counts),
    lp AS (SELECT doc_id,
                  CAST(ln(CAST(c AS DOUBLE) / tot) AS DECIMAL(38,12)) AS l
           FROM ex JOIN counts USING (tok) CROSS JOIN total)
    SELECT doc_id, count(*) AS n_tokens,
           round(CAST(sum(l) AS DOUBLE) / count(*), 4) AS avg_logprob
    FROM lp GROUP BY 1
"""


BM25_QUERY_TERMS = ["table", "window", "spark"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_topk(
        _t(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=20
    )


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    k1, b = text.BM25_K1, text.BM25_B
    return f"""
    WITH {_TOKS_CTE},
    d AS (SELECT doc_id, t, len(t) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d),
    tf AS (SELECT doc_id, dl, tok, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(t) AS tok FROM d)
           WHERE tok IN ({terms})
           GROUP BY 1, 2, 3),
    dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    scored AS (SELECT doc_id,
                      round(CAST(sum(CAST(
                                ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                                * (tf * ({k1} + 1))
                                / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))
                            AS DECIMAL(38,12))) AS DOUBLE),
                            6) AS bm25
               FROM tf JOIN dft USING (tok) CROSS JOIN stats
               GROUP BY 1)
    SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
"""


# ------------------------------------------------------------- PII / URLs
# The synthetic documents contain no PII or URLs, so these queries PLANT
# them deterministically from doc_id before scrubbing/extracting — the same
# synthesize->operate->verify pattern the media pipelines use for blobs.
# The oracle replays the identical planting, so the regex machinery is
# exercised against a known ground truth instead of an all-zero corpus.
_PII_PLANT_SQL = """aug AS (SELECT doc_id, text
      || CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || doc_id || '@example.com' ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % 7 = 0
              THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
              ELSE '' END AS text
    FROM documents)"""


def _plant_pii(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.when(
        did % 3 == 0,
        F.concat(F.lit(" contact user"), s(did), F.lit("@example.com")),
    ).otherwise("")
    phone = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad(s(did % 1000), 3, "0"),
            F.lit("-"),
            F.lpad(s(did % 10000), 4, "0"),
        ),
    ).otherwise("")
    ip = F.when(
        did % 7 == 0,
        F.concat(
            F.lit(" from 10.0."), s(did % 256), F.lit("."), s((did * 3) % 256)
        ),
    ).otherwise("")
    return docs.select(
        "doc_id", F.concat("text", email, phone, ip).alias("text")
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pii_scrub(_plant_pii(_t(spark, sf_dir, "documents")))


PII_SCRUB_ORACLE = f"""
    WITH {_PII_PLANT_SQL}
    SELECT doc_id,
           len(regexp_extract_all(text, '{text.EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{text.PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(text, '{text.IPV4_RE}')) AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '{text.EMAIL_RE}', '<EMAIL>', 'g'),
                 '{text.PHONE_RE}', '<PHONE>', 'g'),
                 '{text.IPV4_RE}', '<IP>', 'g')) AS clean_md5,
           len(regexp_extract_all(text, '{text.EMAIL_RE}'))
             + len(regexp_extract_all(text, '{text.PHONE_RE}'))
             + len(regexp_extract_all(text, '{text.IPV4_RE}')) > 0 AS has_pii
    FROM aug
"""


_URL_PLANT_SQL = """aug AS (SELECT doc_id, text
      || CASE WHEN doc_id % 2 = 0
              THEN ' see https://site' || (doc_id % 20)
                   || '.example.org/page/' || doc_id ELSE '' END
      || CASE WHEN doc_id % 3 = 0
              THEN ' img http://cdn' || (doc_id % 5)
                   || '.example.net/i/' || doc_id || '.png' ELSE '' END AS text
    FROM documents)"""


def _plant_urls(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    u1 = F.when(
        did % 2 == 0,
        F.concat(
            F.lit(" see https://site"),
            s(did % 20),
            F.lit(".example.org/page/"),
            s(did),
        ),
    ).otherwise("")
    u2 = F.when(
        did % 3 == 0,
        F.concat(
            F.lit(" img http://cdn"),
            s(did % 5),
            F.lit(".example.net/i/"),
            s(did),
            F.lit(".png"),
        ),
    ).otherwise("")
    return docs.select("doc_id", F.concat("text", u1, u2).alias("text"))


def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.url_stats(_plant_urls(_t(spark, sf_dir, "documents")))


URL_STATS_ORACLE = f"""
    WITH {_URL_PLANT_SQL},
    urls AS (SELECT doc_id, unnest(regexp_extract_all(text, '{text.URL_RE}'))
                      AS url
             FROM aug),
    doms AS (SELECT doc_id, regexp_extract(url, '{text.DOMAIN_RE}', 1)
                      AS domain
             FROM urls)
    SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
    FROM doms GROUP BY 1 ORDER BY n_urls DESC, domain
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_t(spark, sf_dir, "documents"), k=3, window=4)


# Replays fingerprint(shingle_hash="poly"): per-token 60-bit md5 hashes,
# then the SAME Horner fold (text.poly_shingle_hashes_duckdb embeds the
# same constants as the Spark builder — single source of truth).
FINGERPRINTS_ORACLE = f"""
    WITH {_TOKS_CTE},
    th_t AS (SELECT doc_id,
                    list_transform(t, x ->
                      ('0x' || substr(md5(x), 1, 15))::BIGINT) AS th
             FROM toks WHERE len(t) >= 3),
    hs AS (SELECT doc_id,
                  {text.poly_shingle_hashes_duckdb('th', 3)} AS hsa
           FROM th_t),
    exploded AS (SELECT doc_id, unnest(hsa) AS h,
                        generate_subscripts(hsa, 1) AS pos FROM hs),
    winmin AS (SELECT doc_id,
                      min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
               FROM exploded),
    fps AS (SELECT DISTINCT doc_id, fp FROM winmin)
    SELECT doc_id, count(*) AS n_fingerprints, min(fp) AS min_fingerprint
    FROM fps GROUP BY doc_id
"""


# -------------------------------------------------------------- multimodal
def q_media_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image pipeline at doc grain over a MIXED-FORMAT corpus:
    doc_id % 3 renders uncompressed 24-bit BMP, 8-bit RGB PNG (DEFLATE
    IDAT, cycled scanline filters, CRC-checked chunks), or GIF87a
    (palette + variable-width LZW) —
    then 'decode' = parse the actual container (magic-dispatched) and
    compute channel means, 'resize' = nearest-neighbor 8x8 resample of
    the real pixels.  Decode and resize are FUSED into one Arrow-batched
    mapInPandas pass (each container parsed once — at scale the payload
    fetch dominates, so derived features must share it).  The oracle
    replays the pixel-generation formula (md5-digest bytes) independently
    in SQL and never sees the container, so a bug in ANY parser
    (stride, BGR order, inflate, Sub/Up/Average/Paeth reconstruction,
    LZW code-width growth) is a value mismatch on that third of the
    corpus — see multimodal.synth_bmp / synth_png / synth_gif."""
    docs = _t(spark, sf_dir, "documents")
    # ONE fused render+decode+resize pass (r12: 1.54x over the staged
    # attach -> decode form; payload crosses the Python boundary once)
    stages = multimodal.render_image_stages(docs, 8, 8)
    return stages.select(
        "doc_id",
        "stage",
        "src_width",
        "src_height",
        "out_width",
        "out_height",
        F.col("channel_means")[0].alias("cm0"),
        F.col("channel_means")[1].alias("cm1"),
        F.col("channel_means")[2].alias("cm2"),
    )


# Replays multimodal.synth_bmp's generative formula: digest byte j of
# md5(text) is hex chars [2j+1, 2j+2]; pixel i has channels
# (r, g, b) = bytes ((i+11)%16, (i+5)%16, i%16); width/height are
# 4 + byte0 % 13 / 4 + byte1 % 13 (so w*h <= 256 bounds the series).
# The Spark side never sees this formula — it parses the BMP bytes.
MEDIA_IMAGE_ORACLE = """
    WITH base AS (
      SELECT doc_id, md5(text) AS hx,
             4 + ('0x' || substr(md5(text), 1, 2))::INT % 13 AS w,
             4 + ('0x' || substr(md5(text), 3, 2))::INT % 13 AS h
      FROM documents),
    px AS (
      SELECT b.doc_id, b.w, b.h,
             ('0x' || substr(b.hx, 2*((t.i+11) % 16)+1, 2))::INT AS r,
             ('0x' || substr(b.hx, 2*((t.i+5) % 16)+1, 2))::INT AS g,
             ('0x' || substr(b.hx, 2*(t.i % 16)+1, 2))::INT AS bch
      FROM base b, generate_series(0, 255) AS t(i) WHERE t.i < b.w*b.h),
    rpx AS (
      SELECT b.doc_id, b.w, b.h, b.hx,
             ((((t.i // 8) * b.h) // 8) * b.w + (((t.i % 8) * b.w) // 8)) AS pi
      FROM base b, generate_series(0, 63) AS t(i))
    SELECT doc_id, 'decode' AS stage, min(w) AS src_width, min(h) AS src_height,
           min(w) AS out_width, min(h) AS out_height,
           round(sum(r)::DOUBLE / (min(w)*min(h)), 6) AS cm0,
           round(sum(g)::DOUBLE / (min(w)*min(h)), 6) AS cm1,
           round(sum(bch)::DOUBLE / (min(w)*min(h)), 6) AS cm2
    FROM px GROUP BY doc_id
    UNION ALL
    SELECT doc_id, 'resize', min(w), min(h), 8, 8,
           round(sum(('0x' || substr(hx, 2*((pi+11) % 16)+1, 2))::INT)::DOUBLE / 64, 6),
           round(sum(('0x' || substr(hx, 2*((pi+5) % 16)+1, 2))::INT)::DOUBLE / 64, 6),
           round(sum(('0x' || substr(hx, 2*(pi % 16)+1, 2))::INT)::DOUBLE / 64, 6)
    FROM rpx GROUP BY doc_id
"""


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image 64-bit average hash over real mixed-format payloads
    (BMP / PNG / GIF by doc_id % 3) — the fingerprint stage of image
    near-dup detection.  The oracle replays the whole chain (pixel
    formula -> grayscale -> 8x8 nearest-neighbor resample -> integer
    mean threshold -> MSB-first hex packing) from md5(text), so any
    decode/resample/packing bug in either container parser is a value
    mismatch."""
    docs = _t(spark, sf_dir, "documents")
    # fused render+hash pass (r12: 1.24x over attach -> phash)
    return multimodal.render_phash_images(docs)


IMAGE_PHASH_ORACLE = """
    WITH base AS (
      SELECT doc_id, md5(text) AS hx,
             4 + ('0x' || substr(md5(text), 1, 2))::INT % 13 AS w,
             4 + ('0x' || substr(md5(text), 3, 2))::INT % 13 AS h
      FROM documents),
    cells AS (
      SELECT b.doc_id, t.i AS pos, b.hx,
             ((((t.i // 8) * b.h) // 8) * b.w + (((t.i % 8) * b.w) // 8)) AS pi
      FROM base b, generate_series(0, 63) AS t(i)),
    grays AS (
      SELECT doc_id, pos,
             (('0x' || substr(hx, 2*((pi+11) % 16)+1, 2))::INT
              + ('0x' || substr(hx, 2*((pi+5) % 16)+1, 2))::INT
              + ('0x' || substr(hx, 2*(pi % 16)+1, 2))::INT) // 3 AS gray
      FROM cells),
    tot AS (SELECT doc_id, sum(gray) AS sumg FROM grays GROUP BY 1),
    bits AS (SELECT g.doc_id, g.pos,
                    CASE WHEN g.gray * 64 >= t.sumg THEN 1 ELSE 0 END AS bit
             FROM grays g JOIN tot t USING (doc_id)),
    nibs AS (SELECT doc_id, pos // 4 AS nib,
                    CAST(sum(bit * (CASE pos % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                    WHEN 2 THEN 2 ELSE 1 END)) AS INT) AS v
             FROM bits GROUP BY 1, 2)
    SELECT doc_id,
           string_agg(CASE WHEN v < 10 THEN chr(48 + v)
                           ELSE chr(87 + v) END, '' ORDER BY nib) AS phash
    FROM nibs GROUP BY doc_id
"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (repeated
    word-bigram fraction + top-bigram share) — see
    text.repetition_signals."""
    docs = _t(spark, sf_dir, "documents")
    return text.repetition_signals(docs, k=2)


REPETITION_ORACLE = f"""
    WITH {_TOKS_CTE},
    sh2 AS (SELECT doc_id,
            list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                           i -> array_to_string(t[i:i+1], ' ')) AS s
            FROM toks WHERE len(t) >= 2),
    ex AS (SELECT doc_id, unnest(s) AS s FROM sh2),
    counts AS (SELECT doc_id, s, count(*) AS c FROM ex GROUP BY doc_id, s)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_shingles,
           count(*) AS n_distinct,
           round(1 - count(*)::DOUBLE / sum(c), 6) AS frac_repeated,
           round(max(c)::DOUBLE / sum(c), 6) AS top_share
    FROM counts GROUP BY doc_id
"""


def q_media_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio pipeline at doc grain: render each document into an
    actual RIFF/WAVE PCM container (attach_wav_blob), then parse the
    chunk list and interleaved int16 samples and compute per-channel RMS
    from the decoded waveform.  One Arrow-batched mapInPandas pass.  The
    oracle replays the sample-generation formula (md5-digest bytes)
    independently in SQL — see multimodal.synth_wav."""
    docs = _t(spark, sf_dir, "documents")
    # fused render+decode pass (r12: 1.81x over attach -> extract)
    feats = multimodal.render_audio_features(docs)
    return feats.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        F.col("channel_rms")[0].alias("rms0"),
        F.expr("try_element_at(channel_rms, 2)").alias("rms1"),
    )


# Replays multimodal.synth_wav: channel count 1 + byte2 % 2, length
# 64 + byte3 % 64 samples, sample (i, c) = byte((i + 5c + 7) % 16) * 257
# - 32768; rms = round(sqrt(sum(s^2)/n), 6).  The Spark side never sees
# this formula — it walks the RIFF chunks and reads PCM frames.
MEDIA_AUDIO_ORACLE = """
    WITH base AS (
      SELECT doc_id, md5(text) AS hx,
             1 + ('0x' || substr(md5(text), 5, 2))::INT % 2 AS n_ch,
             64 + ('0x' || substr(md5(text), 7, 2))::INT % 64 AS n_s
      FROM documents),
    smp AS (
      SELECT b.doc_id, b.n_ch, b.n_s, c.c,
             ('0x' || substr(b.hx, 2*((t.i + 5*c.c + 7) % 16)+1, 2))::INT * 257 - 32768 AS s
      FROM base b, generate_series(0, 127) t(i), generate_series(0, 1) c(c)
      WHERE t.i < b.n_s AND c.c < b.n_ch),
    ch AS (
      SELECT doc_id, min(n_ch) AS n_ch, min(n_s) AS n_s, c,
             round(sqrt(sum(s::BIGINT * s)::DOUBLE / min(n_s)), 6) AS rms
      FROM smp GROUP BY doc_id, c)
    SELECT doc_id, 8000 AS sample_rate, min(n_ch) AS n_channels,
           min(n_s) AS n_samples,
           max(CASE WHEN c = 0 THEN rms END) AS rms0,
           max(CASE WHEN c = 1 THEN rms END) AS rms1
    FROM ch GROUP BY doc_id
"""


def q_media_video_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame sampling at frame grain: render each document
    into a sequence of complete BMP frames (attach_video_blob), walk the
    container by each frame's self-declared file size, fully decode every
    2nd frame, and report its dimensions + channel means.  One
    Arrow-batched mapInPandas pass with row-exploding output — the batch
    shape of a real ffmpeg-based sampler.  The oracle replays the
    per-frame pixel formula independently — see
    multimodal.synth_bmp_sequence."""
    docs = _t(spark, sf_dir, "documents")
    # fused render+walk+decode pass (r12: 2.44x over attach -> sample;
    # video blobs are the family's largest payloads, so the staged
    # form's extra JVM round-trip costs the most here)
    frames = multimodal.render_video_frames(docs, every=2)
    return frames.select(
        "doc_id",
        "n_frames",
        "frame_idx",
        "width",
        "height",
        F.col("channel_means")[0].alias("cm0"),
        F.col("channel_means")[1].alias("cm1"),
        F.col("channel_means")[2].alias("cm2"),
    )


# Replays multimodal.synth_bmp_sequence: n_frames = 4 + byte2 % 5, frame
# f is synth_bmp(text || ':' || f), sampled at stride 2; per-frame pixel
# replay identical to MEDIA_IMAGE_ORACLE.
MEDIA_VIDEO_ORACLE = """
    WITH base AS (
      SELECT doc_id, text, 4 + ('0x' || substr(md5(text), 5, 2))::INT % 5 AS n_frames
      FROM documents),
    fr AS (
      SELECT doc_id, n_frames, t.i AS frame_idx, md5(text || ':' || t.i) AS fhx
      FROM base, generate_series(0, 8) t(i)
      WHERE t.i < n_frames AND t.i % 2 = 0),
    dims AS (
      SELECT doc_id, n_frames, frame_idx, fhx,
             4 + ('0x' || substr(fhx, 1, 2))::INT % 13 AS w,
             4 + ('0x' || substr(fhx, 3, 2))::INT % 13 AS h
      FROM fr),
    px AS (
      SELECT d.doc_id, d.frame_idx, d.n_frames, d.w, d.h,
             ('0x' || substr(d.fhx, 2*((t.i+11) % 16)+1, 2))::INT AS r,
             ('0x' || substr(d.fhx, 2*((t.i+5) % 16)+1, 2))::INT AS g,
             ('0x' || substr(d.fhx, 2*(t.i % 16)+1, 2))::INT AS bch
      FROM dims d, generate_series(0, 255) t(i) WHERE t.i < d.w*d.h)
    SELECT doc_id, min(n_frames) AS n_frames, frame_idx, min(w) AS width,
           min(h) AS height,
           round(sum(r)::DOUBLE / (min(w)*min(h)), 6) AS cm0,
           round(sum(g)::DOUBLE / (min(w)*min(h)), 6) AS cm1,
           round(sum(bch)::DOUBLE / (min(w)*min(h)), 6) AS cm2
    FROM px GROUP BY doc_id, frame_idx
"""


def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload features (doc grain) + sampled frames (frame grain)
    tagged + unioned with NULL-padded columns, computed in ONE fused
    Arrow-batched pass (r12: 1.66x over the staged
    extract_features-UNION-sample_frames form, which scanned the corpus
    twice and hashed every payload twice; row-identity is test-pinned
    against the staged operators, which remain shipped)."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.blob_features_and_frames(docs, every=4)


MULTIMODAL_PIPELINE_ORACLE = """
    WITH base AS (
      SELECT doc_id, text,
             8 + ('0x' || substr(md5(text), 11, 2))::INT % 8 AS n_frames
      FROM documents),
    fidx AS (SELECT doc_id, text, n_frames,
                    unnest(generate_series(0, n_frames - 1, 4)) AS frame_idx
             FROM base)
    SELECT doc_id, 'features' AS kind,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           lower(substr(hex(encode(text)), 1, 16)) AS head_hex,
           CAST(NULL AS INTEGER) AS n_frames,
           CAST(NULL AS INTEGER) AS frame_idx,
           CAST(NULL AS VARCHAR) AS frame_md5
    FROM documents
    UNION ALL
    SELECT doc_id, 'frame', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(n_frames AS INTEGER),
           CAST(frame_idx AS INTEGER),
           md5(text || ':' || frame_idx) AS frame_md5
    FROM fidx
"""


# --------------------------------------------------------------- streaming
def q_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbase_tohdfs_spark.streaming.pivot_stream import hourly_rollup_stream

    return hourly_rollup_stream(spark, sf_dir)


def q_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbase_tohdfs_spark.streaming.pivot_stream import kmv_distinct_stream

    return kmv_distinct_stream(spark, sf_dir, k=64)


def q_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbase_tohdfs_spark.streaming.pivot_stream import hll_distinct_stream

    return hll_distinct_stream(spark, sf_dir)


def q_stream_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbase_tohdfs_spark.streaming.pivot_stream import cms_counts_stream

    return cms_counts_stream(spark, sf_dir, CMS_PROBE_USERS)


def q_stream_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbase_tohdfs_spark.streaming.pivot_stream import last_event_pivot_stream

    return last_event_pivot_stream(spark, sf_dir)


def q_stream_lww_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbase_tohdfs_spark.streaming.pivot_stream import (
        last_event_pivot_stream_custom,
    )

    return last_event_pivot_stream_custom(spark, sf_dir)


def q_stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup by (user, event_type, minute) — state bounded by
    the watermark; oracle = batch DISTINCT over the same keys."""
    from hbase_tohdfs_spark.streaming.pivot_stream import dedup_events_stream

    return dedup_events_stream(spark, sf_dir)


STREAM_DEDUP_ORACLE = """
    SELECT DISTINCT user_id, event_type,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute
    FROM events
"""


def _sessionize_oracle() -> str:
    from hbase_tohdfs_spark.queries import _SESSIONIZE_ORACLE

    return _SESSIONIZE_ORACLE


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbase_tohdfs_spark.streaming.pivot_stream import session_window_stream

    return session_window_stream(spark, sf_dir)


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbase_tohdfs_spark.streaming.pivot_stream import interval_join_stream

    return interval_join_stream(spark, sf_dir)


STREAM_INTERVAL_JOIN_ORACLE = """
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
               FROM events),
    p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, us FROM e WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.us AS purchase_us, c.us AS click_us
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.us >= p.us - 3600000000 AND c.us < p.us
"""


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for pathologically skewed keys.

    event_type has 5 distinct values: a plain groupBy routes ~1/5 of a
    100 TB stream through single reducers.  Salting splits each hot key
    16 ways (phase 1: groupBy(key, salt) — map-side combine still
    applies), then the tiny per-salt partials re-aggregate on the bare
    key (phase 2: 5x16 rows).  Decimal accumulation keeps the two-phase
    sum bit-identical to the single-phase oracle.  Built-in hash-agg +
    AQE skew handling cover most cases; this is the explicit pattern for
    when a single KEY (not partition) is hot, which AQE cannot split.
    """
    from hbase_tohdfs_spark.queries import _events

    events = _events(spark, sf_dir)
    salt = F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("salt")
    partial = (
        events.select("event_type", "value", salt)
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("psum"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("psum"), 2).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


SKEW_SALTED_AGG_ORACLE = """
    SELECT event_type, count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE)
             AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


# --------------------------------------------------- sampling / curation
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling — the training-data
    rebalancing primitive.  Keep 10% of the dominant language (en) and 50%
    of everything else, chosen by a stable md5 bucket of doc_id so the
    sample is reproducible run-to-run, resumable, and needs no shuffle:
    it is a pure map-side filter that scales linearly and pushes the
    arithmetic into the scan stage.  (``TABLESAMPLE``/``df.sample`` are
    seed-dependent per-partition and not stable across engines.)"""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"
        " % 100"
    )
    rate = F.when(F.col("lang") == "en", 10).otherwise(50)
    return docs.filter(bucket < rate).select("doc_id", "lang", "source")


SAMPLE_STRATIFIED_ORACLE = """
    SELECT doc_id, lang, source
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
          < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
"""


def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the KMV sketch (k=64, below
    the ~150 distinct users per type at the gate SF so the ESTIMATOR
    path is what the oracle checks, not just the exact fill path) — the
    oracle-checkable stand-in for approx_count_distinct, whose HLL++
    registers no independent engine can replay."""
    from hbase_tohdfs_spark.operators import sketch

    from hbase_tohdfs_spark.queries import _events

    return sketch.kmv_distinct(
        _events(spark, sf_dir), "event_type", "user_id", k=64
    )


def _kmv_oracle() -> str:
    from hbase_tohdfs_spark.operators import sketch

    return sketch.kmv_oracle_sql("events", "event_type", "user_id", k=64)


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pre-filter: a 4096-bit / 3-hash filter
    built from the BUILDING customers prunes orders MAP-SIDE before any
    join shuffle — the runtime-filter pattern Spark applies to selective
    joins, made deterministic (md5 positions) so the oracle can rebuild
    the identical mask and replay every membership probe."""
    from hbase_tohdfs_spark.operators import sketch
    from hbase_tohdfs_spark.queries import _t

    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders")
    return sketch.bloom_semijoin_stats(
        orders, cust, "o_custkey", "c_custkey"
    )


def _bloom_semijoin_oracle(m: int = 4096, k: int = 3) -> str:
    """DuckDB replay: rebuild the bit set from the build keys, probe
    every order's k positions, demand all k hit (no false negatives by
    construction; HAVING count(DISTINCT j) = k mirrors the AND of the
    k probes).  Position derivation comes from
    ``sketch.bloom_oracle_pos_sql`` — the single source kept branch-
    for-branch with the engine's ``bloom_pos_sqls``."""
    from hbase_tohdfs_spark.operators.sketch import bloom_oracle_pos_sql

    return f"""
    WITH bkeys AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v
                   FROM customer WHERE c_mktsegment = 'BUILDING'),
    bits AS (SELECT DISTINCT {bloom_oracle_pos_sql('v', m, k)} AS pos
             FROM bkeys CROSS JOIN generate_series(0, {k - 1}) AS j(j)),
    probe AS (SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS pk
              FROM orders),
    pp AS (SELECT o_orderkey, pk, j.j,
                  {bloom_oracle_pos_sql('pk', m, k)} AS pos
           FROM probe CROSS JOIN generate_series(0, {k - 1}) AS j(j)),
    hits AS (SELECT o_orderkey, pk FROM pp
             WHERE pos IN (SELECT pos FROM bits)
             GROUP BY 1, 2 HAVING count(DISTINCT j) = {k}),
    agg AS (SELECT
      (SELECT count(*) FROM probe) AS n_probed,
      (SELECT count(*) FROM hits) AS n_bloom_pass,
      (SELECT count(*) FROM probe WHERE pk IN (SELECT v FROM bkeys))
        AS n_true_match,
      (SELECT count(*) FROM hits WHERE pk NOT IN (SELECT v FROM bkeys))
        AS n_false_pos)
    SELECT n_probed, n_bloom_pass, n_true_match, n_false_pos,
           CASE WHEN n_probed > n_true_match
                THEN round(CAST(n_false_pos AS DOUBLE)
                           / (n_probed - n_true_match), 6)
           END AS fp_rate
    FROM agg
    """


def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a deterministic HyperLogLog
    (m=32 registers; ~150 true distinct per type at the gate SF, well
    above the 2.5m linear-counting range, so the register-estimator
    path is what the oracle checks).  Completes the sketch family:
    KMV (distinct, order-statistic), CMS (frequency), HLL (distinct,
    register-max) — all md5-deterministic and SQL-replayable."""
    from hbase_tohdfs_spark.operators import sketch

    from hbase_tohdfs_spark.queries import _events

    return sketch.hll_distinct(
        _events(spark, sf_dir), "event_type", "user_id", b=5
    )


def _hll_oracle() -> str:
    from hbase_tohdfs_spark.operators import sketch

    return sketch.hll_oracle_sql("events", "event_type", "user_id", b=5)


CMS_PROBE_USERS = list(range(10))


def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for 10 probe users over the
    events stream — the frequency-sketch sibling of kmv_distinct_users
    (distinct).  Estimate is always >= truth; both ride in the output so
    the overestimate is inspectable, and the oracle replays the sketch
    exactly."""
    from hbase_tohdfs_spark.operators import sketch

    from hbase_tohdfs_spark.queries import _events

    return sketch.cms_estimate(
        _events(spark, sf_dir), "user_id", CMS_PROBE_USERS
    )


def _cms_oracle() -> str:
    from hbase_tohdfs_spark.operators import sketch

    return sketch.cms_oracle_sql("events", "user_id", CMS_PROBE_USERS)


def q_domain_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.domain_rebalance(_t(spark, sf_dir, "documents"))


DOMAIN_REBALANCE_ORACLE = """
    WITH counts AS (SELECT source, count(*) AS n_before
                    FROM documents GROUP BY 1),
    mn AS (SELECT min(n_before) AS n_min FROM counts),
    kept AS (SELECT d.source
             FROM documents d JOIN counts c USING (source) CROSS JOIN mn
             WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      ::BIGINT % 1000000) * c.n_before < mn.n_min * 1000000),
    after AS (SELECT source, count(*) AS n_after FROM kept GROUP BY 1)
    SELECT source, n_before, coalesce(n_after, 0) AS n_after,
           round(CAST(coalesce(n_after, 0) AS DOUBLE) / n_before, 4)
             AS frac_kept
    FROM counts LEFT JOIN after USING (source) ORDER BY source
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) mixture reweighting — the softened
    sibling of ``domain_rebalance``: keep_rate = sqrt(n_min/n_s), so
    large sources shrink toward (not all the way to) the minority
    size.  sqrt is IEEE-exact in both engines, which is why this alpha
    is the supported one (pow() is libm-dependent)."""
    return curation.temperature_mix(_t(spark, sf_dir, "documents"))


TEMPERATURE_MIX_ORACLE = """
    WITH counts AS (SELECT source, count(*) AS n_before
                    FROM documents GROUP BY 1),
    mn AS (SELECT min(n_before) AS n_min FROM counts),
    rates AS (SELECT source, n_before,
                     sqrt(CAST(mn.n_min AS DOUBLE) / n_before) AS keep_rate
              FROM counts CROSS JOIN mn),
    kept AS (SELECT d.source
             FROM documents d JOIN rates r USING (source)
             WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      ::BIGINT % 1000000) < 1000000 * r.keep_rate),
    after AS (SELECT source, count(*) AS n_after FROM kept GROUP BY 1)
    SELECT source, n_before, coalesce(n_after, 0) AS n_after,
           round(keep_rate, 6) AS keep_rate,
           round(CAST(coalesce(n_after, 0) AS DOUBLE) / n_before, 4)
             AS frac_kept
    FROM rates LEFT JOIN after USING (source) ORDER BY source
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: within each exact-content group keep the
    longest document (doc_id as tiebreak) instead of the arbitrary first —
    the curation policy used when duplicates differ in truncation.  One
    shuffle on the content hash; the rank is computed within partitions."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").withColumn("content_md5", F.md5("text"))
    w = Window.partitionBy("content_md5").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_md5", "n_chars")
    )


DEDUP_KEEP_BEST_ORACLE = """
    SELECT doc_id, content_md5, n_chars FROM (
      SELECT doc_id, md5(text) AS content_md5, n_chars,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    WHERE rn = 1
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per language by tf-idf (corpus-level tf per
    language x ln(N/df) inverse document frequency).  Two shuffles — one
    per aggregation key (term df, lang x term tf) — then a broadcast of
    the tiny df/total frames back onto the tf frame; the per-lang top-k is
    a window over <=1e6 (lang, term) groups, not over raw tokens."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # Scan + tokenize exactly once: the corpus-count branch and the
    # token-explode branch both read this cached frame instead of
    # re-scanning (and re-shuffling, via the fan-out) the raw text.
    toks = docs.select(
        "doc_id", "lang", text.tokens_expr("text").alias("t")
    ).persist()
    ex = toks.select("doc_id", "lang", F.explode("t").alias("term"))
    # One aggregation from raw tokens down to (doc, term) granularity —
    # map-side partial agg shrinks the explode output before its only
    # shuffle — then persist: tf and df both derive from this frame, and
    # without the cache barrier Spark re-runs the explode+agg chain once
    # per branch (no cross-branch subplan reuse).
    doc_term = (
        ex.groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    df_docs = doc_term.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tf = doc_term.groupBy("lang", "term").agg(F.sum("c").alias("tf"))
    total = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_docs), "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("term"))
    top = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "term", "tf", "df", "tfidf", "rk")
    )
    return cacheutil.materialize_and_release(top, toks, doc_term)


TFIDF_TOP_TERMS_ORACLE = f"""
    WITH {_TOKS_CTE},
    ex AS (SELECT doc_id, lang, unnest(t) AS term FROM toks),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY term),
    tf AS (SELECT lang, term, count(*) AS tf FROM ex GROUP BY lang, term),
    total AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT lang, tf.term AS term, tf, df,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN total)
    SELECT lang, term, tf, df, tfidf, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY tfidf DESC, term) AS rk
      FROM scored)
    WHERE rk <= 5
"""


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget Lloyd k-means over the embeddings table.  The
    iterative training loop IS SQL-replayable because the operator makes
    each step cross-engine deterministic (deterministic lowest-id init,
    DECIMAL-exact mean sums, round-9 centroid quantization — see
    ``similarity.kmeans_train``), so the oracle unrolls the same three
    Lloyd iterations as DuckDB CTEs and must land on identical
    assignments."""
    emb = _t(spark, sf_dir, "embeddings")
    _, assign = similarity.kmeans_train(emb, k=8, iters=3)
    return assign


def _kmeans_ctes(k: int = 8, iters: int = 3, dim: int = 64) -> list[str]:
    """The shared Lloyd's-replay CTE chain (ending in ``fin``: one row per
    vec_id with its final cluster and sq distance), mirroring
    ``kmeans_train`` step by step: k lowest-id seeds; per-iteration argmin
    assignment (first-index tie-break, like Spark's
    ``array_position(sq, array_min(sq))``); means as
    round(DECIMAL(38,12)-exact sum -> double / n, 9); empty clusters keep
    the previous centroid; final extra assignment pass.  Shared by the
    ``kmeans_assign`` and ``semdedup`` oracles so the replay of the
    training loop cannot drift between them."""

    def sq(cent_cte: str) -> str:
        return (
            f"SELECT e.vec_id AS vec_id, e.v AS v, c.cluster AS cluster, "
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))) AS sq "
            f"FROM e CROSS JOIN {cent_cte} c"
        )

    def argmin(cent_cte: str) -> str:
        return (
            f"SELECT vec_id, v, cluster, sq FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY vec_id "
            f"ORDER BY sq, cluster) AS rn FROM ({sq(cent_cte)})) WHERE rn = 1"
        )

    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"k0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, "
        f"v AS c FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}))",
    ]
    for j in range(1, iters + 1):
        ctes.append(f"a{j} AS ({argmin(f'k{j - 1}')})")
        ctes.append(
            f"u{j} AS (SELECT cluster, i, "
            f"round(CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*), 9)"
            f" AS mx FROM (SELECT cluster, i, v[i] AS x FROM a{j} CROSS JOIN "
            f"(SELECT unnest(generate_series(1, {dim})) AS i)) GROUP BY cluster, i)"
        )
        ctes.append(
            f"l{j} AS (SELECT cluster, list(mx ORDER BY i) AS c "
            f"FROM u{j} GROUP BY cluster)"
        )
        ctes.append(
            f"k{j} AS (SELECT p.cluster AS cluster, coalesce(n.c, p.c) AS c "
            f"FROM k{j - 1} p LEFT JOIN l{j} n USING (cluster))"
        )
    ctes.append(f"fin AS ({argmin(f'k{iters}')})")
    return ctes


def _kmeans_oracle(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    return (
        "WITH " + ",\n".join(_kmeans_ctes(k, iters, dim))
        + "\nSELECT vec_id, CAST(cluster AS INTEGER) AS cluster, "
        "round(sq, 6) AS sq_dist FROM fin"
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means clusters (same deterministic Lloyd's budget as
    ``kmeans_assign``) then within-cluster near-dup pruning at tau=0.4
    (cosine to a lower-id cluster-mate)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, k=8, iters=3, tau=0.4)


def _semdedup_oracle(
    k: int = 8, iters: int = 3, dim: int = 64, tau: float = 0.4
) -> str:
    ctes = _kmeans_ctes(k, iters, dim)
    ctes.append(
        "ev AS (SELECT f.vec_id, f.cluster, f.v, "
        "sqrt(list_dot_product(f.v, f.v)) AS norm FROM fin f)"
    )
    ctes.append(
        "mx AS (SELECT a.vec_id, "
        "max(round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6)) AS nn "
        "FROM ev a JOIN ev b "
        "ON a.cluster = b.cluster AND b.vec_id < a.vec_id GROUP BY a.vec_id)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT ev.vec_id, CAST(ev.cluster AS INTEGER) AS cluster, "
        f"mx.nn AS nn_cosine, coalesce(mx.nn < {tau}, TRUE) AS keep "
        "FROM ev LEFT JOIN mx USING (vec_id)"
    )


# ------------------------------------------------------------ curation
def q_assign_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.assign_splits(_t(spark, sf_dir, "documents"))


ASSIGN_SPLITS_ORACLE = """
    SELECT doc_id, source AS grp,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, source,
                 ('0x' || substr(md5(CAST(source AS VARCHAR)), 1, 15))::BIGINT
                   % 100 AS b
          FROM documents)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.pack_sequences(_t(spark, sf_dir, "documents"))


PACK_SEQUENCES_ORACLE = """
    WITH base AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 32 AS stream,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               AS n_tokens
      FROM documents),
    st AS (
      SELECT doc_id, stream, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY stream ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM base)
    SELECT doc_id, stream, n_tokens,
           CAST(floor(s / 512) AS BIGINT) AS seq_id,
           CAST(s % 512 AS BIGINT) AS start_off,
           (s % 512) + n_tokens > 512 AS crosses_boundary
    FROM st
"""


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.contamination_report(_t(spark, sf_dir, "documents"))


CONTAMINATION_ORACLE = f"""
    WITH {_TOKS_CTE},
    {_SH2_CTE},
    post AS (SELECT DISTINCT doc_id, s
             FROM (SELECT doc_id, unnest(list_distinct(s)) AS s FROM sh2)),
    dfc AS (SELECT s, count(*) AS df FROM post GROUP BY s),
    rare AS (SELECT p.doc_id, p.s FROM post p JOIN dfc USING (s)
             WHERE df <= 1000),
    b AS (SELECT doc_id, s,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 100 AS bkt
          FROM rare),
    common AS (
      SELECT t.doc_id AS doc_id, e.doc_id AS eval_doc_id,
             count(*) AS n_common
      FROM b t JOIN b e ON t.s = e.s AND t.bkt >= 4 AND e.bkt < 4
      GROUP BY 1, 2
      HAVING count(*) >= 3)
    SELECT doc_id, eval_doc_id, n_common FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY n_common DESC, eval_doc_id) AS rn
      FROM common)
    WHERE rn = 1
"""


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.passage_dedup(_t(spark, sf_dir, "documents"))


PASSAGE_DEDUP_ORACLE = f"""
    WITH {_TOKS_CTE},
    chun AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(t[(i - 1) * 10 + 1:(i - 1) * 10 + 10], ' ')
               AS chunk
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, CAST(ceil(len(t) / 10.0) AS INT)))
                     AS i
            FROM toks WHERE len(t) > 0)),
    marked AS (
      SELECT doc_id, pos, chunk,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1
               AS kept
      FROM chun)
    SELECT doc_id, count(*) AS n_chunks,
           count(*) FILTER (WHERE kept) AS n_kept,
           coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE kept),
                    '') AS dedup_text
    FROM marked GROUP BY doc_id
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation pipeline as ONE declarative plan:
    quality filter → exact dedup → leakage-safe split → sequence packing
    of the train split.  Each stage is an already-oracle-proven operator;
    composing them in a single DataFrame chain is the point — Catalyst
    sees the whole lineage, so column pruning and filter placement work
    across stage boundaries, and nothing materializes between stages.
    All inter-stage joins are keyed on doc_id."""
    docs = _t(spark, sf_dir, "documents")
    keep_q = (
        text.text_stats(docs)
        .filter(F.col("quality_score") >= 0.65)
        .select("doc_id")
    )
    d = docs.join(keep_q, "doc_id")
    kept = dedup.exact_dedup(d).select("doc_id")
    train = (
        curation.assign_splits(docs.join(kept, "doc_id"))
        .filter(F.col("split") == "train")
        .select("doc_id")
    )
    return curation.pack_sequences(docs.join(train, "doc_id"))


def _curation_pipeline_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in text.STOPWORDS)
    return f"""
    WITH {_TOKS_CTE},
    ratios AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]+', '', 'g'))
                        AS DOUBLE) / greatest(length(text), 1), 4) AS punct_ratio,
             round(CAST(len(list_filter(t, x -> list_contains([{stop_list}], x)))
                        AS DOUBLE) / greatest(len(t), 1), 4) AS stop_ratio
      FROM toks),
    q AS (
      SELECT doc_id FROM ratios
      WHERE round(least(n_tokens / 50.0, 1.0) * 0.5
                  + (1 - least(punct_ratio * 5, 1.0)) * 0.3
                  + least(stop_ratio * 10, 1.0) * 0.2, 4) >= 0.65),
    dd AS (SELECT d.doc_id, d.text, d.source
           FROM documents d JOIN q USING (doc_id)),
    keep AS (SELECT doc_id FROM (
               SELECT doc_id, row_number() OVER (PARTITION BY md5(text)
                                                 ORDER BY doc_id) AS rn
               FROM dd) WHERE rn = 1),
    tr AS (SELECT dd.doc_id, dd.text
           FROM dd JOIN keep USING (doc_id)
           WHERE ('0x' || substr(md5(CAST(dd.source AS VARCHAR)), 1, 15))::BIGINT
                   % 100 < 80),
    base AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 32 AS stream,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               AS n_tokens
      FROM tr),
    st AS (
      SELECT doc_id, stream, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY stream ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM base)
    SELECT doc_id, stream, n_tokens,
           CAST(floor(s / 512) AS BIGINT) AS seq_id,
           CAST(s % 512 AS BIGINT) AS start_off,
           (s % 512) + n_tokens > 512 AS crosses_boundary
    FROM st
"""


def register(registry: dict) -> None:
    from hbase_tohdfs_spark.queries import (
        _EVENTS_HOURLY_ORACLE,
        _PIVOT_LAST_EVENT_ORACLE,
        QuerySpec,
    )

    registry.update(
        {
            "stream_hourly_rollup": QuerySpec(
                q_stream_hourly_rollup, _EVENTS_HOURLY_ORACLE
            ),
            "stream_last_event_by_user": QuerySpec(
                q_stream_last_event, _PIVOT_LAST_EVENT_ORACLE
            ),
            "stream_lww_custom_state": QuerySpec(
                q_stream_lww_custom_state, _PIVOT_LAST_EVENT_ORACLE
            ),
            "stream_dedup_events": QuerySpec(
                q_stream_dedup_events, STREAM_DEDUP_ORACLE
            ),
            "stream_interval_join": QuerySpec(
                q_stream_interval_join, STREAM_INTERVAL_JOIN_ORACLE
            ),
            "stream_session_window": QuerySpec(
                q_stream_session_window, _sessionize_oracle()
            ),
            "skew_salted_agg": QuerySpec(q_skew_salted_agg, SKEW_SALTED_AGG_ORACLE),
            "dedup_exact": QuerySpec(q_dedup_exact, DEDUP_EXACT_ORACLE),
            "dedup_keep_best": QuerySpec(q_dedup_keep_best, DEDUP_KEEP_BEST_ORACLE),
            "sample_stratified": QuerySpec(
                q_sample_stratified, SAMPLE_STRATIFIED_ORACLE
            ),
            "domain_rebalance": QuerySpec(
                q_domain_rebalance, DOMAIN_REBALANCE_ORACLE
            ),
            "temperature_mix": QuerySpec(
                q_temperature_mix, TEMPERATURE_MIX_ORACLE
            ),
            "kmv_distinct_users": QuerySpec(q_kmv_distinct_users, _kmv_oracle()),
            "hll_distinct_users": QuerySpec(
                q_hll_distinct_users, _hll_oracle()
            ),
            "bloom_semijoin": QuerySpec(
                q_bloom_semijoin, _bloom_semijoin_oracle()
            ),
            "cms_user_counts": QuerySpec(q_cms_user_counts, _cms_oracle()),
            # the streaming sketch's final state equals the batch sketch
            # (bottom-k-of-distinct is merge-order-insensitive), so it
            # shares the batch oracle verbatim
            "stream_kmv_distinct": QuerySpec(q_stream_kmv_distinct, _kmv_oracle()),
            # streaming counters are additive/order-insensitive, so the
            # final sketch equals the batch one and shares its oracle
            "stream_cms_counts": QuerySpec(q_stream_cms_counts, _cms_oracle()),
            # register max-merge is order-insensitive too: same argument
            "stream_hll_distinct": QuerySpec(
                q_stream_hll_distinct, _hll_oracle()
            ),
            "tfidf_top_terms": QuerySpec(q_tfidf_top_terms, TFIDF_TOP_TERMS_ORACLE),
            "dedup_minhash": QuerySpec(q_dedup_minhash, _minhash_oracle()),
            "dedup_components": QuerySpec(q_dedup_components, _components_oracle()),
            # dedup_simhash RETIRED r7: strictly narrower than
            # dedup_simhash_pairs, whose oracle embeds the full
            # signature computation.
            "dedup_simhash_pairs": QuerySpec(
                q_dedup_simhash_pairs, _simhash_pairs_oracle()
            ),
            "dedup_embedding": QuerySpec(q_dedup_embedding, DEDUP_EMBEDDING_ORACLE),
            "dedup_ngram_jaccard": QuerySpec(
                q_dedup_ngram_jaccard, NGRAM_JACCARD_ORACLE
            ),
            "ann_topk": QuerySpec(q_ann_topk, ANN_TOPK_ORACLE),
            "ann_sq8": QuerySpec(q_ann_sq8, ANN_SQ8_ORACLE),
            "ann_lsh": QuerySpec(q_ann_lsh, _ann_lsh_oracle()),
            "ann_ivf": QuerySpec(q_ann_ivf, ANN_IVF_ORACLE),
            "text_stats": QuerySpec(q_text_stats, _text_stats_oracle()),
            "lang_id": QuerySpec(q_lang_id, _lang_id_oracle()),
            "doc_fingerprints": QuerySpec(q_fingerprints, FINGERPRINTS_ORACLE),
            "pii_scrub": QuerySpec(q_pii_scrub, PII_SCRUB_ORACLE),
            "unigram_logprob": QuerySpec(
                q_unigram_logprob, UNIGRAM_LOGPROB_ORACLE
            ),
            "bm25_topk": QuerySpec(q_bm25_topk, _bm25_oracle()),
            "url_stats": QuerySpec(q_url_stats, URL_STATS_ORACLE),
            "multimodal_pipeline": QuerySpec(
                q_multimodal_pipeline, MULTIMODAL_PIPELINE_ORACLE
            ),
            "media_image_pipeline": QuerySpec(
                q_media_image_pipeline, MEDIA_IMAGE_ORACLE
            ),
            "image_phash": QuerySpec(q_image_phash, IMAGE_PHASH_ORACLE),
            "media_audio_pipeline": QuerySpec(
                q_media_audio_pipeline, MEDIA_AUDIO_ORACLE
            ),
            "repetition_signals": QuerySpec(
                q_repetition_signals, REPETITION_ORACLE
            ),
            "media_video_pipeline": QuerySpec(
                q_media_video_pipeline, MEDIA_VIDEO_ORACLE
            ),
            "assign_splits": QuerySpec(q_assign_splits, ASSIGN_SPLITS_ORACLE),
            "pack_sequences": QuerySpec(q_pack_sequences, PACK_SEQUENCES_ORACLE),
            "contamination_report": QuerySpec(
                q_contamination_report, CONTAMINATION_ORACLE
            ),
            "passage_dedup": QuerySpec(q_passage_dedup, PASSAGE_DEDUP_ORACLE),
            "kmeans_assign": QuerySpec(q_kmeans_assign, _kmeans_oracle()),
            "semdedup": QuerySpec(q_semdedup, _semdedup_oracle()),
            "curation_pipeline": QuerySpec(
                q_curation_pipeline, _curation_pipeline_oracle()
            ),
        }
    )
