"""Corpus-pipeline queries — executable probes for operators/corpus.py
(contamination, repetition, chunking, stratified sampling, length
histograms), each with a DuckDB oracle that reproduces the exact same
integer/hash arithmetic so value hashes match bit-for-bit.

Benchmark-set convention for the contamination probe: documents with
``doc_id % 97 = 0`` stand in for the held-out eval suite (a small,
broadcastable fraction at every SF); the remaining corpus is checked
against their distinct token 3-grams.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xngin_spark.operators import corpus as C
from xngin_spark.operators.util import checkpoint, fan_out, values_df
from xngin_spark.queries import register
from xngin_spark.queries.tpch import T

_NGRAMS_DUCK = (
    "list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1), "
    "i -> concat_ws(' ', t[i], t[i + 1], t[i + 2])))"
)


@register(
    "contamination_ngram",
    f"""
    WITH g AS (
      SELECT doc_id, {_NGRAMS_DUCK} AS gs
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    bench AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 <> 0)
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS contamination
    FROM corpus c LEFT JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id
    HAVING n_hits > 0
    """,
)
def contamination_ngram(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return C.contamination(corpus, bench)


@register(
    "repetition_score",
    """
    WITH per_tok AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS top_count,
           1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_ratio,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share
    FROM per_tok
    GROUP BY doc_id
    """,
)
def repetition_score(spark, sf_dir):
    return C.repetition_stats(T(spark, sf_dir, "documents"))


@register(
    "doc_chunks",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (
      SELECT doc_id, toks,
             greatest(CAST(floor((len(toks) - 32 + 15) / 16.0) AS BIGINT), 0) + 1
               AS n_chunks
      FROM t
    ),
    e AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM c)
    SELECT doc_id,
           CAST(chunk_id AS INTEGER) AS chunk_id,
           CAST(len(list_slice(toks, chunk_id * 16 + 1, chunk_id * 16 + 32))
                AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(
                 list_slice(toks, chunk_id * 16 + 1, chunk_id * 16 + 32), ' '))
             AS chunk_md5
    FROM e
    """,
)
def doc_chunks(spark, sf_dir):
    return C.chunk_documents(T(spark, sf_dir, "documents"))


# stratum cuts on the first md5 hex byte: en ≈ 13/256, es ≈ 51/256,
# de ≈ 128/256, everything else ≈ 26/256
_SAMPLE_RATES = {"en": "0d", "es": "33", "de": "80"}
_SAMPLE_DEFAULT = "1a"


@register(
    "corpus_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(text), 1, 2) <
          CASE lang WHEN 'en' THEN '0d' WHEN 'es' THEN '33'
                    WHEN 'de' THEN '80' ELSE '1a' END
    """,
)
def corpus_sample(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return C.stratified_sample(d, _SAMPLE_RATES, _SAMPLE_DEFAULT).select(
        "doc_id", "lang"
    )


@register(
    "corpus_sample_exact",
    """
    SELECT doc_id, lang, source FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || COALESCE(text, '')), doc_id
    LIMIT 100
    """,
)
def corpus_sample_exact(spark, sf_dir):
    """EXACT-size deterministic uniform sample: rank rows by a content
    hash and take the top n. The hash-cut sampler (corpus_sample) gives
    rate-proportional but size-variable strata; training pipelines also
    need "exactly n documents, same n every run, on any cluster" —
    hash-rank + fused top-k delivers that with one scan and a
    TakeOrderedAndProject (per-partition heaps merged at the driver),
    never a global sort materialization. Seeding = change the salt.
    text is COALESCEd to '' in the key: a NULL text would NULL the sort
    key, and Spark (NULLS FIRST) and DuckDB (NULLS LAST) would then
    pick different top-100 rows."""
    d = T(spark, sf_dir, "documents")
    key = F.md5(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.coalesce(F.col("text"), F.lit("")),
        )
    )
    return (
        d.orderBy(key, "doc_id").limit(100).select("doc_id", "lang", "source")
    )


@register(
    "length_histogram",
    """
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(bucket * 40 AS BIGINT) AS lo
    FROM (SELECT CAST(least(floor(n_chars / 40.0), 19) AS BIGINT) AS bucket,
                 n_chars
          FROM documents)
    GROUP BY bucket
    """,
)
def length_histogram_q(spark, sf_dir):
    return C.length_histogram(T(spark, sf_dir, "documents"))


@register(
    "inverted_index",
    """
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
           list_slice(list_sort(list(doc_id)), 1, 100) AS postings
    FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents)
    GROUP BY tok
    """,
)
def inverted_index_q(spark, sf_dir):
    return C.inverted_index(T(spark, sf_dir, "documents"))


@register(
    "tfidf_topk",
    """
    WITH pairs AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM pairs GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT doc_id, tok, tf,
             round(tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df), 8)
               AS tfidf
      FROM tf JOIN dfreq USING (tok)
    )
    SELECT doc_id, tok, tf, tfidf, rnk FROM (
      SELECT doc_id, tok, tf, tfidf,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, tok) AS BIGINT) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def tfidf_topk_q(spark, sf_dir):
    return C.tfidf_topk(T(spark, sf_dir, "documents"))


_BM25_QUERIES = [
    (0, "spark"), (0, "query"), (0, "join"),
    (1, "vector"), (1, "hash"), (1, "merge"),
    (2, "customer"), (2, "order"), (2, "line"),
]


_BM25_ORACLE = f"""
    WITH q(qid, term) AS (
      VALUES {", ".join(f"(CAST({i} AS BIGINT), '{t}')" for i, t in _BM25_QUERIES)}
    ),
    pairs AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM pairs GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM pairs GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    terms AS (
      SELECT q.qid, tf.doc_id,
             round(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * (1.2 + 1.0)
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)),
                   8) AS ts
      FROM tf
      JOIN q ON tf.tok = q.term
      JOIN dfreq ON tf.tok = dfreq.tok
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ),
    scored AS (
      SELECT qid, doc_id,
             CAST(CAST(SUM(CAST(ts AS DECIMAL(25,9))) AS STRING) AS DOUBLE) AS score
      FROM terms GROUP BY qid, doc_id
    )
    SELECT qid, doc_id, score, rnk FROM (
      SELECT qid, doc_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY score DESC, doc_id) AS BIGINT)
               AS rnk
      FROM scored
    ) WHERE rnk <= 5
    ORDER BY qid, rnk
    """


@register("bm25_topk", _BM25_ORACLE)
def bm25_topk_q(spark, sf_dir):
    """Okapi BM25 lexical retrieval over the document corpus — the
    inverted-index ranking complement to the embedding-space ANN
    family (SURVEY similarity-search rows): a fixed 3-query batch of
    exploded (qid, term) rows is broadcast against tfidf-shaped
    postings; per-term contributions use the Robertson non-negative
    idf, rounded then decimal-summed so the DuckDB oracle reproduces
    the ranking bit-for-bit (operators/corpus.bm25_topk)."""
    qt = values_df(spark, "qid long, term string", _BM25_QUERIES)
    return C.bm25_topk(T(spark, sf_dir, "documents"), qt, k=5)


@register("bm25_index_probe", _BM25_ORACLE)
def bm25_index_probe_q(spark, sf_dir):
    """The PRODUCTION retrieval shape as a first-class query: persist
    the BM25 inverted index (postings / doclen / termstats / exact
    integer corpus stats), then rank the query batch against the
    STORED tables — query terms pushed into the postings scan as a
    parquet IN filter, corpus text untouched. Same oracle as
    bm25_topk because the probe reuses the identical scoring tail
    (_bm25_rank): index + probe must reproduce the in-memory ranking
    bit-for-bit. Index build cost is charged to this query on purpose
    (paid once at ingest in production); incremental CDC maintenance
    of the same index is bm25_index_update, equivalence-tested in
    tests/test_round8_ops.py."""
    import os
    import tempfile

    d = T(spark, sf_dir, "documents")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"xngin_bm25_{tag}")
    C.bm25_index_persist(d, path)
    qt = values_df(spark, "qid long, term string", _BM25_QUERIES)
    return C.bm25_index_probe(spark, path, qt, k=5)


@register(
    "phrase_search",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    toks AS (SELECT doc_id, unnest(l) AS tok, unnest(range(0, len(l))) AS pos
             FROM t),
    w0 AS (SELECT doc_id, pos AS anchor FROM toks WHERE tok = 'table'),
    w1 AS (SELECT doc_id, pos - 1 AS anchor FROM toks WHERE tok = 'scan'),
    w2 AS (SELECT doc_id, pos - 2 AS anchor FROM toks WHERE tok = 'merge')
    SELECT w0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM w0
    JOIN w1 ON w0.doc_id = w1.doc_id AND w0.anchor = w1.anchor
    JOIN w2 ON w0.doc_id = w2.doc_id AND w0.anchor = w2.anchor
    GROUP BY w0.doc_id
    """,
)
def phrase_search_q(spark, sf_dir):
    """Exact-phrase search ("table scan merge") via positional
    postings — word i keyed by its implied phrase-start anchor
    (pos − i) so adjacency matching is pure equi-joins on
    (doc, anchor); the DuckDB oracle carries the identical anchor
    formulation over a parallel-unnest positional tokenize, so every
    per-document occurrence count is value-checked
    (operators/corpus.phrase_search)."""
    return C.phrase_search(
        T(spark, sf_dir, "documents"), ["table", "scan", "merge"]
    )


_HYBRID_RRF_ORACLE = f"""
    WITH q(qid, term) AS (
      VALUES {", ".join(f"(CAST({i} AS BIGINT), '{t}')" for i, t in _BM25_QUERIES)}
    ),
    pairs AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM pairs GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM pairs GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    terms AS (
      SELECT q.qid, tf.doc_id,
             round(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * (1.2 + 1.0)
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)),
                   8) AS ts
      FROM tf
      JOIN q ON tf.tok = q.term
      JOIN dfreq ON tf.tok = dfreq.tok
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ),
    bscored AS (
      SELECT qid, doc_id,
             CAST(CAST(SUM(CAST(ts AS DECIMAL(25,9))) AS STRING) AS DOUBLE) AS score
      FROM terms GROUP BY qid, doc_id
    ),
    branked AS (
      SELECT qid, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY score DESC, doc_id) AS BIGINT)
               AS rnk
      FROM bscored
    ),
    qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id < 3),
    cv AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
    qn AS (
      SELECT qid, sqrt(CAST(CAST(SUM(CAST(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
                   AS DECIMAL(25,9))) AS STRING) AS DOUBLE)) AS qnorm
      FROM qv, generate_series(1, 64) t(i) GROUP BY qid
    ),
    cn AS (
      SELECT cid, sqrt(CAST(CAST(SUM(CAST(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)
                   AS DECIMAL(25,9))) AS STRING) AS DOUBLE)) AS cnorm
      FROM cv, generate_series(1, 64) t(i) GROUP BY cid
    ),
    dots AS (
      SELECT qid, cid,
             CAST(CAST(SUM(CAST(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)
                  AS DECIMAL(25,9))) AS STRING) AS DOUBLE) AS dot
      FROM qv, cv, generate_series(1, 64) t(i)
      GROUP BY qid, cid
    ),
    cranked AS (
      SELECT qid, cid AS doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY dot / (qnorm * cnorm) DESC, cid) AS BIGINT)
               AS rnk
      FROM dots JOIN qn USING (qid) JOIN cn USING (cid)
    ),
    contrib AS (
      SELECT qid, doc_id, round(1.0 / (60.0 + rnk), 8) AS c
      FROM branked WHERE rnk <= 20
      UNION ALL
      SELECT qid, doc_id, round(1.0 / (60.0 + rnk), 8) AS c
      FROM cranked WHERE rnk <= 20
    ),
    fused AS (
      SELECT qid, doc_id,
             CAST(CAST(SUM(CAST(c AS DECIMAL(25,9))) AS STRING) AS DOUBLE) AS rrf
      FROM contrib GROUP BY qid, doc_id
    )
    SELECT qid, doc_id, rrf, rank FROM (
      SELECT qid, doc_id, rrf,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
      FROM fused
    ) WHERE rank <= 10
    ORDER BY qid, rank
"""


@register("hybrid_rrf", _HYBRID_RRF_ORACLE)
def hybrid_rrf_q(spark, sf_dir):
    """Hybrid retrieval — BM25 lexical top-20 fused with exact-cosine
    dense top-20 by reciprocal-rank fusion (operators/corpus.rrf_fuse),
    the standard RAG retrieval stack: the two retrievers run their own
    scale-optimal plans (inverted-index probe; posexplode dot products)
    and fusion touches only the top-k lists, so the hybrid costs the
    max of its parts plus O(queries * k). vec_id ≡ doc_id in the
    synthetic corpus, which makes the dense list directly fuseable;
    every score is rounded-then-decimal-summed, so DuckDB reproduces
    the fused ranking bit-for-bit."""
    from xngin_spark.operators.similarity import cosine_topk

    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    qt = values_df(spark, "qid long, term string", _BM25_QUERIES)
    lex = C.bm25_topk(docs, qt, k=20).select(
        "qid", "doc_id", F.col("rnk").alias("rank")
    )
    qemb = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    den = cosine_topk(emb, qemb, k=20).select(
        "qid", F.col("vec_id").alias("doc_id"), "rank"
    )
    return C.rrf_fuse([lex, den], id_col="doc_id", k=10)


@register(
    "dedup_clusters",
    """
    SELECT doc_id,
           CAST(MIN(doc_id) OVER (PARTITION BY md5(text)) AS BIGINT) AS component
    FROM documents
    """,
)
def dedup_clusters(spark, sf_dir):
    """Near-dup clustering end-to-end: pair edges → connected
    components → one keeper per component. Edges here come from the
    exact-dup groups so DuckDB can state the ground truth (component =
    min doc id of the identical-text group); tests/test_operators.py
    drives the same operator over planted multi-hop LSH-style pair
    graphs where no SQL oracle exists."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    root = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    edges = (
        d.select(root.alias("src"), F.col("doc_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return C.connected_components(edges, d.select("doc_id"), id_col="doc_id")


@register(
    "sequence_pack",
    """
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
             SUM(len(string_split(text, ' ')))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    )
    """,
)
def sequence_pack_q(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return C.sequence_pack(d)


@register(
    "vocab_coverage",
    """
    WITH counts AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT tok, CAST(c AS BIGINT) AS c,
             CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rnk,
             CAST(SUM(c) OVER (ORDER BY c DESC, tok
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM counts
    )
    SELECT rnk, tok, c,
           CAST(cum AS DOUBLE) / (SELECT CAST(SUM(c) AS DOUBLE) FROM counts)
             AS coverage
    FROM ranked WHERE rnk <= 10
    """,
)
def vocab_coverage(spark, sf_dir):
    """Cumulative vocabulary coverage: what fraction of all token
    occurrences the top-k tokens account for — the tokenizer-budget
    question. The global window runs over the POST-AGGREGATION counts
    table (vocabulary-sized, not corpus-sized), so the single-partition
    rank is bounded by |vocab| at any corpus scale."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    counts = (
        fan_out(d)
        .select(F.explode_outer(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = counts.agg(F.sum("c").cast("double").alias("t"))
    w = Window.orderBy(F.col("c").desc(), "tok")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = counts.select(
        F.row_number().over(w).cast("long").alias("rnk"),
        "tok",
        F.col("c").cast("long").alias("c"),
        F.sum("c").over(wc).cast("long").alias("cum"),
    ).filter(F.col("rnk") <= 10)
    return ranked.crossJoin(F.broadcast(total)).select(
        "rnk", "tok", "c", (F.col("cum").cast("double") / F.col("t")).alias("coverage")
    )


@register("bloom_seen_filter")  # no oracle: xxhash64 bit positions (rows-only)
def bloom_seen_filter(spark, sf_dir):
    """Cross-snapshot "seen before" screen — the Bloom-filter shape of
    benchmark contamination / crawl dedup: build a filter over the
    previous snapshot's content fingerprints (docs with doc_id % 3 = 0),
    probe the current snapshot map-side. Build is one narrow (word,
    mask) aggregation of at most m/64 rows; the probe is k broadcast
    joins — the probe side never shuffles, so screening a 100 TB crawl
    is a pure scan (operators/bloom.py). Guaranteed no false negatives
    (property-tested); FP rate sized by optimal_params. Rows-only:
    xxhash64 bit positions have no DuckDB twin; planted-membership
    tests in tests/test_operators.py carry the correctness claim."""
    from xngin_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
        optimal_params,
    )

    d = T(spark, sf_dir, "documents")
    prev = d.filter(F.col("doc_id") % 3 == 0).select("text")
    cur = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    n_prev = max(prev.count(), 1)
    m, k = optimal_params(n_prev, 0.01)
    # pin the tiny filter once: each of the k probe joins broadcasts it,
    # and without materialization each branch re-runs the build agg
    bloom = checkpoint(bloom_build(prev, "text", m, k))
    return bloom_might_contain(cur, "text", bloom, m, k).select(
        "doc_id", "might_contain"
    )


@register(
    "bloom_seen_checked",
    """
    WITH prev AS (SELECT text FROM documents WHERE doc_id % 3 = 0),
    cur AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
    bits AS (
      SELECT DISTINCT
             CAST(concat('0x', substr(md5(concat(text, ':', i)), 1, 15))
                  AS BIGINT) % 131072 AS bit
      FROM prev, generate_series(0, 6) t(i)
    ),
    pp AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat(text, ':', i)), 1, 15))
                  AS BIGINT) % 131072 AS bit
      FROM cur, generate_series(0, 6) t(i)
    )
    SELECT doc_id, bool_and(bit IN (SELECT bit FROM bits)) AS might_contain
    FROM pp GROUP BY doc_id
    """,
)
def bloom_seen_checked(spark, sf_dir):
    """The Bloom screen under a full value oracle: same build/probe
    pipeline as bloom_seen_filter but with the engine-portable md5_long
    bit positions (dedup.md5_long pattern), so DuckDB recomputes every
    one of the k=7 positions, the distinct bit SET, and each probe's
    all-bits-set verdict bit-for-bit — false positives included. The
    Spark side still packs bits into (word, mask) words and probes via
    k broadcast word-joins (the production shape; packing is lossless,
    so the bit-set oracle states identical semantics). (m, k) are
    FIXED (2^17, 7) because the oracle text cannot depend on the scale
    factor — the production entry sizes them with optimal_params."""
    from xngin_spark.operators.bloom import bloom_build, bloom_might_contain

    m, k = 1 << 17, 7
    d = T(spark, sf_dir, "documents")
    prev = d.filter(F.col("doc_id") % 3 == 0).select("text")
    cur = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    bloom = checkpoint(bloom_build(prev, "text", m, k, portable=True))
    return bloom_might_contain(cur, "text", bloom, m, k, portable=True).select(
        "doc_id", "might_contain"
    )


@register(
    "domain_mix_sample",
    """
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
    ),
    t AS (
      SELECT CAST(CAST(SUM(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(25,9))) AS STRING) AS DOUBLE)
               AS tot
      FROM c
    ),
    r AS (
      SELECT source,
             least(1.0, 400.0 * (sqrt(CAST(n AS DOUBLE)) / tot)
                        / CAST(n AS DOUBLE)) AS rate
      FROM c, t
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN r USING (source)
    WHERE CAST(concat('0x', substr(md5(d.text), 1, 8)) AS BIGINT) / 4294967296.0
          < r.rate
    """,
)
def domain_mix_sample(spark, sf_dir):
    """Temperature-based domain mixing (alpha = 0.5): per-source keep
    rates proportional to sqrt(n)/n rebalance the corpus toward the
    tail sources — the standard multilingual/multi-source resampling
    step before training. Deterministic md5-uniform selection; the
    decimal-accumulated sqrt-sum makes the rates bit-identical across
    engines, so the row set (not just counts) hash-matches the oracle.
    Operator: operators/corpus.py temperature_mix (counts agg + 1-row
    broadcast + |domains| broadcast rates; corpus rows never shuffle)."""
    d = T(spark, sf_dir, "documents")
    return C.temperature_mix(d, domain_col="source", target_total=400.0).select(
        "doc_id", "source"
    )


@register(
    "bigram_lm_quality",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bgs AS (
      SELECT doc_id, concat(toks[i], ' ', toks[i + 1]) AS bg
      FROM (SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS i
            FROM t)
    ),
    per_doc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY doc_id, bg),
    gcnt AS (SELECT bg, SUM(c) AS cnt FROM per_doc GROUP BY bg),
    th AS (SELECT greatest(5, CAST(floor(SUM(cnt) / 20000.0) AS BIGINT)) AS t
           FROM gcnt),
    scored AS (
      SELECT p.doc_id,
             CAST(SUM(p.c) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN g.cnt >= th.t THEN p.c ELSE 0 END) AS BIGINT)
               AS n_common
      FROM per_doc p JOIN gcnt g USING (bg), th
      GROUP BY p.doc_id
    )
    SELECT doc_id, n_bigrams, n_common,
           CAST(floor(10000 * n_common / n_bigrams) AS BIGINT) AS score_bp,
           CASE WHEN floor(10000 * n_common / n_bigrams) >= 6667 THEN 'head'
                WHEN floor(10000 * n_common / n_bigrams) >= 3333 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored
    """,
)
def bigram_lm_quality_q(spark, sf_dir):
    return C.bigram_lm_quality(T(spark, sf_dir, "documents"))


@register(
    "shuffle_shards",
    """
    SELECT doc_id, shard, h8,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h8, doc_id)
                AS BIGINT) AS pos
    FROM (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat('xs1', ':',
                    CAST(doc_id AS VARCHAR), ':', text)), 1, 8)) AS BIGINT)
               AS h8,
             CAST(CAST(concat('0x', substr(md5(concat('xs1', ':',
                    CAST(doc_id AS VARCHAR), ':', text)), 1, 8)) AS BIGINT) % 8
                  AS INTEGER) AS shard
      FROM documents)
    """,
)
def shuffle_shards_q(spark, sf_dir):
    return C.shuffle_shards(T(spark, sf_dir, "documents"))


@register(
    "importance_resample",
    """
    WITH toks AS (
      SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS t,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    stats AS (
      SELECT tok, CAST(SUM(t) AS BIGINT) AS ct, CAST(COUNT(*) AS BIGINT) AS cr
      FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr
            FROM stats),
    scored AS (
      SELECT k.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN s.ct * tot.tr > s.cr * tot.tt THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_favored
      FROM toks k JOIN stats s USING (tok), tot
      WHERE k.t = 0
      GROUP BY k.doc_id
    )
    SELECT s.doc_id, s.n_tokens, s.n_favored,
           CAST(floor(10000 * s.n_favored / s.n_tokens) AS BIGINT) AS score_bp,
           CAST(concat('0x', substr(md5(d.text), 1, 8)) AS BIGINT) * 10000
             < CAST(floor(10000 * s.n_favored / s.n_tokens) AS BIGINT)
               * 4294967296 AS selected
    FROM scored s JOIN documents d USING (doc_id)
    """,
)
def importance_resample_q(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return C.importance_resample(d, target_pred=F.col("source") == "src0")


@register(
    "token_entropy",
    """
    WITH per_tok AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           round(ln(CAST(SUM(c) AS DOUBLE))
                 - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                   / CAST(SUM(c) AS DOUBLE), 8) AS entropy
    FROM per_tok
    GROUP BY doc_id
    """,
)
def token_entropy(spark, sf_dir):
    """Shannon entropy of each document's token distribution — the
    information-density quality signal (repetitive/boilerplate docs
    score low, diverse text scores high). H = ln(n) - sum(c*ln c)/n
    over per-token counts; rounded to 8 decimals on both engines (the
    tfidf_topk determinism pattern — ln on the SAME integer inputs).
    Word-count shuffle shape: (doc, tok) partial counts then a per-doc
    agg on the 8-byte id."""
    d = T(spark, sf_dir, "documents")
    per_tok = (
        fan_out(d)
        .select("doc_id", F.explode_outer(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("double")
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.round(
            F.log(n) - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))) / n,
            8,
        ).alias("entropy"),
    )


@register(
    "dedup_clusters_star",
    """
    SELECT doc_id,
           CAST(MIN(doc_id) OVER (PARTITION BY md5(text)) AS BIGINT) AS component
    FROM documents
    """,
)
def dedup_clusters_star(spark, sf_dir):
    """Same contract and ORACLE as dedup_clusters, computed by the
    diameter-independent star-contraction operator instead of label
    propagation — the two component backends must agree exactly on the
    exact-dup ground truth (deep-chain + random-graph equivalence live
    in tests/test_round5_ops.py)."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    root = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    edges = (
        d.select(root.alias("src"), F.col("doc_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return C.connected_components_star(edges, d.select("doc_id"), id_col="doc_id")


# --- BPE vocabulary induction (operators/bpe.py) --------------------------


@register(
    "bpe_pairs_topk",
    """
    WITH words AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY w
    ),
    idx AS (
      SELECT word, freq, unnest(range(1, length(word))) AS i
      FROM words WHERE length(word) >= 2
    )
    SELECT substr(word, CAST(i AS INT), 1) AS left_sym,
           substr(word, CAST(i AS INT) + 1, 1) AS right_sym,
           CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM idx
    GROUP BY 1, 2
    ORDER BY pair_count DESC, left_sym, right_sym
    LIMIT 20
    """,
)
def bpe_pairs_topk(spark, sf_dir):
    """Round-1 of distributed BPE tokenizer training: frequency-
    weighted adjacent character-pair counts over the distinct-word
    table, top 20. The scale story is the word-frequency reduction —
    the corpus is touched exactly once (explode + groupBy word) and
    the pair scan runs over distinct words only, so a 100 TB corpus
    with the usual Zipf duplication costs one shuffle on the word key
    plus a shuffle on the (tiny) alphabet² pair key. Exact integer
    counts, deterministic (count DESC, pair) ordering — DuckDB
    reproduces the table bit-for-bit."""
    from xngin_spark.operators import bpe

    d = T(spark, sf_dir, "documents")
    tab = bpe.init_symbols(bpe.word_freq_table(fan_out(d)))
    return (
        bpe.pair_counts(tab)
        .orderBy(F.col("pair_count").desc(), "left_sym", "right_sym")
        .limit(20)
    )


@register("bpe_learn_merges")  # rows-only: iterative driver loop (k top-1
# collects); bit-exact vs a pure-Python reference BPE in
# tests/test_round7_ops.py, which is stronger than a SQL oracle could be
def bpe_learn_merges(spark, sf_dir):
    """Learn 10 BPE merges from the corpus (operators/bpe.learn): per
    round, ONE driver row (the argmax pair) + a JVM-side fold applying
    the merge to every word's symbol array, symbol table
    localCheckpointed so round r never recomputes rounds 1..r-1.
    Returns the merge table in learn order."""
    from xngin_spark.operators import bpe

    return bpe.learn(spark, T(spark, sf_dir, "documents"), merges=10)


@register("bpe_tokenize_stats")  # rows-only: tokenization with the
# learned vocab (driver merge loop inside); per-doc and corpus-level
# token counts are bit-exact vs the pure-Python reference tokenizer in
# tests/test_round7_ops.py
def bpe_tokenize_stats(spark, sf_dir):
    """The BPE serving path end-to-end: learn 10 merges, tokenize the
    whole corpus with them (operators/bpe.tokenize_docs — encode the
    distinct-word table once, join docs against it), and report the
    corpus compression summary. chars_per_token is the number
    tokenizer training exists to push up; 1.0 would mean no merge
    ever fired."""
    from xngin_spark.operators import bpe

    d = T(spark, sf_dir, "documents")
    merges = [tuple(m) for m in bpe.learn(spark, d, merges=10).collect()]
    per_doc = bpe.tokenize_docs(d, merges)
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        (
            F.sum("n_chars").cast("double")
            / F.sum("n_tokens").cast("double")
        ).alias("chars_per_token"),
    )
