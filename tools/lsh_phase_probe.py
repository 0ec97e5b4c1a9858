#!/usr/bin/env python
"""Phase-level timing + cardinality breakdown of dedup_minhash_lsh at
two scales — the diagnosis tool for a super-linear alpha on the LSH
row: which stage's time grows faster than the data, and do the
intermediate cardinalities (buckets, candidate pairs, output pairs)
grow linearly as the bounded-copy-group synthesis intends?

Usage: python tools/lsh_phase_probe.py SMALL_DIR BIG_DIR
Prints one JSON block per dir.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from xngin_spark.operators.dedup import (
        _band_buckets,
        _sig_agreement,
        minhash_signatures,
    )
    from xngin_spark.operators.util import persist, release_storage

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out: dict = {"sf_dir": sf_dir, "n_docs": d.count()}

    t0 = time.perf_counter()
    sigs = persist(minhash_signatures(d))
    sigs.count()
    out["t_signatures"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    banded = persist(_band_buckets(sigs, "doc_id", 64, 16))
    out["n_banded"] = banded.count()
    out["t_banding"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    occ = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("m"))
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("buckets"))
        .orderBy(F.desc("m"))
    )
    top = occ.limit(8).collect()
    out["bucket_occupancy_top"] = [[r["m"], r["buckets"]] for r in top]
    # implied within-bucket pair work: sum over buckets of C(m,2)
    pairs_implied = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) / 2")).alias("p"))
        .first()["p"]
    )
    out["n_bucket_pairs_implied"] = int(pairs_implied)
    out["t_occupancy"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    a = banded.select("band", "bucket", F.col("doc_id").alias("id_a"))
    b = banded.select("band", "bucket", F.col("doc_id").alias("id_b"))
    cand = persist(
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    out["n_candidates"] = cand.count()
    out["t_candidates"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = _sig_agreement(F.col("sig_a"), F.col("sig_b"), 64)
    out["n_pairs_out"] = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= 0.5)
        .count()
    )
    out["t_verify"] = round(time.perf_counter() - t0, 2)

    release_storage()
    return out


def main() -> None:
    from xngin_spark.session import get_spark

    spark = get_spark(
        "lsh_phase_probe", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    for sf_dir in sys.argv[1:]:
        print(json.dumps(run(spark, sf_dir)), flush=True)


if __name__ == "__main__":
    main()
