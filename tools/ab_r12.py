#!/usr/bin/env python
"""Round-12 interleaved same-session A/B: OLD (round-11) vs NEW
implementations of the operators this round touches, alternated inside
one JVM so host-window drift cannot masquerade as a speedup (the r11
measurement protocol: raw cross-process deltas on this host are
unusable below ~±30%).

The OLD variants are verbatim copies of the pre-round-12 code; the NEW
variants are the live package. Each round builds + noop-materializes
the same query shape per variant and also records the dagScheduler job
count (deterministic serialized-action evidence).

Usage: python tools/ab_r12.py [rounds] [name ...]
Names: knn_cosine hybrid_rrf knn_cosine_lsh bm25_topk bm25_index_probe
       docs_stream_screen
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# ---------------------------------------------------------------- OLD code
def old_cosine_topk(corpus, queries, k=10, id_col="vec_id",
                    vec_col="embedding", query_id_col="qid"):
    from xngin_spark.operators.similarity import DEC9, _norms
    from xngin_spark.operators.util import fan_out

    c = fan_out(corpus).select(
        F.col(id_col).alias("cid"), F.posexplode(vec_col).alias("pos", "cx")
    )
    q = queries.select(
        F.col(query_id_col).alias("qid"), F.posexplode(vec_col).alias("pos", "qx")
    )
    dots = (
        c.join(F.broadcast(q), "pos")
        .groupBy("qid", "cid")
        .agg(
            F.sum((F.col("qx").cast("double") * F.col("cx").cast("double")).cast(DEC9))
            .cast("double")
            .alias("dot")
        )
    )
    cn = _norms(corpus, id_col, vec_col).select(
        F.col("id").alias("cid"), F.col("norm").alias("cnorm"))
    qn = _norms(queries, query_id_col, vec_col).select(
        F.col("id").alias("qid"), F.col("norm").alias("qnorm")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        dots.join(F.broadcast(qn), "qid")
        .join(cn, "cid")
        .withColumn("cosine", F.col("dot") / (F.col("qnorm") * F.col("cnorm")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("cid").alias(id_col), "cosine", "rank")
    )


def old_bm25_topk(df, query_terms, text_col="text", id_col="doc_id",
                  k=5, k1=1.2, b=0.75):
    from xngin_spark.operators.corpus import _bm25_rank, tokens
    from xngin_spark.operators.util import fan_out

    pairs = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.explode_outer(tokens(F.col(text_col))).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
    )
    tf = pairs.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).localCheckpoint(eager=True)
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).first()
    n_docs, avgdl = float(stats["n_docs"]), float(stats["avgdl"])
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    cand = tf.join(
        F.broadcast(query_terms), tf["tok"] == query_terms["term"]
    ).join(dfreq, "tok").join(dl, id_col)
    return _bm25_rank(cand, n_docs, avgdl, k1, b, k, id_col)


def old_cosine_topk_lsh(corpus, queries, k=10, id_col="vec_id",
                        vec_col="embedding", query_id_col="qid",
                        n_planes=12, dim=None, multiprobe=1, seed=42):
    from xngin_spark.operators.similarity import _hyperplanes, lsh_signature
    from xngin_spark.operators.util import fan_out

    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    c = fan_out(corpus).withColumn("bucket", lsh_signature(vec_col, planes))
    qsig = queries.withColumn("sig", lsh_signature(vec_col, planes))
    probes = [F.col("sig")] + [
        F.col("sig").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(n_planes)
    ][: (n_planes if multiprobe else 0)]
    q = qsig.withColumn("bucket", F.explode_outer(F.array(*probes))).filter(
        F.col("bucket").isNotNull()
    )
    pairs = c.alias("c").join(
        F.broadcast(q.select(query_id_col, "bucket", F.col(vec_col).alias("qvec"))),
        "bucket",
    )
    scored = pairs.withColumn(
        "cosine",
        F.aggregate(
            F.zip_with(F.col(vec_col), F.col("qvec"),
                       lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (
            F.sqrt(
                F.aggregate(
                    F.transform(F.col(vec_col),
                                lambda a: a.cast("double") * a.cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            * F.sqrt(
                F.aggregate(
                    F.transform(F.col("qvec"),
                                lambda a: a.cast("double") * a.cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.select(query_id_col, id_col, "cosine")
        .distinct()
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def old_bm25_index_persist(df, path, text_col="text", id_col="doc_id",
                           mode="overwrite"):
    from xngin_spark.operators.corpus import _write_bm25_meta, tokens
    from xngin_spark.operators.util import fan_out

    pairs = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.explode_outer(tokens(F.col(text_col))).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
    )
    tf = (
        pairs.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint(eager=True)
    )
    tf.write.mode(mode).parquet(f"{path}/postings")
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    dl.write.mode(mode).parquet(f"{path}/doclen")
    tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    ).write.mode(mode).parquet(f"{path}/termstats")
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    ).first()
    _write_bm25_meta(
        df.sparkSession, path, id_col, text_col,
        int(stats["n_docs"]), int(stats["sum_dl"] or 0), mode=mode,
    )


def old_meta_probe(spark, path, query_terms, k=5):
    """Probe with the OLD inferred-schema meta read."""
    from xngin_spark.operators.corpus import _bm25_rank

    terms = [r.term for r in query_terms.select("term").distinct().collect()]
    meta = spark.read.json(f"{path}/_meta").head()
    id_col = meta["id_col"]
    n_docs = float(meta["n_docs"])
    avgdl = (float(meta["sum_dl"]) / n_docs) if n_docs else 1.0
    post = spark.read.parquet(f"{path}/postings").filter(F.col("tok").isin(terms))
    ts = spark.read.parquet(f"{path}/termstats").filter(F.col("tok").isin(terms))
    dl = spark.read.parquet(f"{path}/doclen")
    cand = (
        post.join(F.broadcast(query_terms), post["tok"] == query_terms["term"])
        .join(F.broadcast(ts), "tok")
        .join(dl, id_col)
    )
    return _bm25_rank(cand, n_docs, avgdl, 1.2, 0.75, k, id_col)


def old_docs_stream_screen(spark, sf_dir):
    from xngin_spark.operators.dedup import (
        _band_buckets,
        _sig_agreement,
        minhash_signatures,
    )
    from xngin_spark.queries.tpch import T
    from xngin_spark.streaming import documents_stream, run_available_now

    k, bands = 16, 8
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    corpus = d.filter(F.col("doc_id") % 5 != 4)
    csig = minhash_signatures(corpus, k=k, portable=True).localCheckpoint(
        eager=True
    )
    cband = _band_buckets(csig, "doc_id", k, bands).select(
        F.col("doc_id").alias("corpus_id"), "band", "bucket"
    ).localCheckpoint(eager=True)

    path = os.path.join(sf_dir, "documents.parquet")
    stream = documents_stream(spark, path)
    new = stream.unionAll(stream).filter(
        (F.col("doc_id") < 1000) & (F.col("doc_id") % 5 == 4)
    )
    nsig = minhash_signatures(new, k=k, portable=True)
    nband = _band_buckets(nsig, "doc_id", k, bands).select(
        F.col("doc_id").alias("new_id"), "band", "bucket"
    )
    cand = nband.join(F.broadcast(cband), on=["band", "bucket"]).select(
        "new_id", "corpus_id"
    )
    est = _sig_agreement(F.col("sig"), F.col("sig_c"), k)
    screened = (
        cand.join(nsig.select(F.col("doc_id").alias("new_id"), "sig"), "new_id")
        .join(
            F.broadcast(
                csig.select(
                    F.col("doc_id").alias("corpus_id"),
                    F.col("sig").alias("sig_c"),
                )
            ),
            "corpus_id",
        )
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("new_id", "corpus_id", "est_jaccard")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    out = run_available_now(
        screened, "docs_screen_sink", output_mode="append", shuffle_partitions=8
    )
    return out.select(
        "new_id", "corpus_id", F.col("est_jaccard").cast("double").alias("est_jaccard")
    )


# ------------------------------------------------------------- old bpe.learn
def old_bpe_learn(spark, docs, merges=12, text_col="text", driver_cap=None):
    from xngin_spark.operators.bpe import (
        BPE_DRIVER_CAP,
        _distributed_learn,
        _driver_learn,
        init_symbols,
        word_freq_table,
    )
    from xngin_spark.operators.util import values_df

    driver_cap = driver_cap or BPE_DRIVER_CAP
    symtab0 = init_symbols(word_freq_table(docs, text_col))
    probe = symtab0.select("syms", "freq").limit(driver_cap + 1).toPandas()
    if len(probe) <= driver_cap:
        rows = _driver_learn(
            list(zip(probe["syms"].tolist(), probe["freq"].tolist())), merges
        )
    else:
        rows = _distributed_learn(symtab0, merges)
    return values_df(
        spark,
        "rank INT, left_sym STRING, right_sym STRING, "
        "merged STRING, pair_count BIGINT",
        rows,
    )


# ------------------------------------------------------------- harness
def main() -> None:
    import xngin_spark.operators.bpe as BPE
    import xngin_spark.operators.corpus as C
    import xngin_spark.operators.similarity as S
    from xngin_spark import queries as Q
    from xngin_spark.operators.util import release_storage
    from xngin_spark.session import get_spark

    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    Q.load_all()
    spark = get_spark("xngin_ab_r12")
    sc = spark.sparkContext

    NEW = {
        "cosine_topk": S.cosine_topk,
        "cosine_topk_lsh": S.cosine_topk_lsh,
        "bm25_topk": C.bm25_topk,
        "bm25_index_persist": C.bm25_index_persist,
        "bm25_index_probe": C.bm25_index_probe,
        "learn": BPE.learn,
    }
    OLD = {
        "cosine_topk": old_cosine_topk,
        "cosine_topk_lsh": old_cosine_topk_lsh,
        "bm25_topk": old_bm25_topk,
        "bm25_index_persist": old_bm25_index_persist,
        "bm25_index_probe": old_meta_probe,
        "learn": old_bpe_learn,
    }
    MODS = {
        "cosine_topk": S, "cosine_topk_lsh": S, "bm25_topk": C,
        "bm25_index_persist": C, "bm25_index_probe": C, "learn": BPE,
    }

    def set_variant(tag: str) -> None:
        table = OLD if tag == "old" else NEW
        for attr, fn in table.items():
            setattr(MODS[attr], attr, fn)

    names = sys.argv[2:] or [
        "knn_cosine", "bm25_topk", "hybrid_rrf", "knn_cosine_lsh",
        "bm25_index_probe", "docs_stream_screen", "retrieval_ranking_eval",
        "ann_recall_eval", "ivf_nprobe_tuned", "bpe_learn_merges",
        "bpe_tokenize_stats",
    ]

    def jobs() -> int:
        return int(sc._jsc.sc().dagScheduler().nextJobId())

    results: dict = {}
    for name in names:
        rows: list = []
        for rnd in range(rounds + 1):  # round 0 = warmup, discarded
            rec = {}
            for tag in ("old", "new"):
                set_variant(tag)
                try:
                    if name == "docs_stream_screen" and tag == "old":
                        builder = lambda: old_docs_stream_screen(spark, SF_DIR)  # noqa: E731
                    else:
                        builder = lambda: Q.QUERIES[name](spark, SF_DIR)  # noqa: E731
                    sc.setJobDescription(f"ab:{name}:{tag}:r{rnd}")
                    j0 = jobs()
                    t0 = time.perf_counter()
                    df = builder()
                    df.write.mode("overwrite").format("noop").save()
                    dt = time.perf_counter() - t0
                    rec[tag] = round(dt, 3)
                    rec[f"{tag}_jobs"] = jobs() - j0
                finally:
                    set_variant("new")
                    release_storage()
            if rnd > 0:
                rows.append(rec)
            print(f"{name} r{rnd}: {rec}", flush=True)
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        results[name] = {
            "rounds": rows,
            "old_median": med([r["old"] for r in rows]),
            "new_median": med([r["new"] for r in rows]),
            "old_jobs": rows[-1]["old_jobs"],
            "new_jobs": rows[-1]["new_jobs"],
            "new_faster_rounds": sum(1 for r in rows if r["new"] < r["old"]),
        }
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
