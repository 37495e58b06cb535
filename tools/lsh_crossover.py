"""Measure the exact-vs-LSH similarity-join crossover.

`similarity_join` broadcasts the probe side (correct and fastest while the
probes fit the broadcast budget); `similarity_join_lsh` meets both sides in
a bucket equi-join (shuffle |probes|·n_probes + |corpus|, never a cross
product) and is the documented large-probe path. This prints wall-times for
growing probe counts over a replicated corpus so the crossover — and the
recall the LSH path pays for it — is measured, not asserted.

    python tools/lsh_crossover.py [--corpus-reps 20] [--k 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus-reps", type=int, default=20)
    ap.add_argument("--k", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.operators.knn import (
        similarity_join,
        similarity_join_lsh,
    )
    from govgis_nov2023_slim_spatial_server_spark.schemas import load_table
    from govgis_nov2023_slim_spatial_server_spark.session import get_spark

    spark = get_spark(app_name="lsh-crossover")
    spark.sparkContext.setLogLevel("ERROR")

    e = load_table(spark, BASE, "embeddings")
    parts = []
    for r in range(args.corpus_reps):
        p = e
        if r > 0:
            flip = r % 64
            p = p.withColumn(
                "embedding",
                F.expr(
                    f"transform(embedding, (x, i) -> "
                    f"CASE WHEN i = {flip} THEN -x ELSE x END)"
                ),
            )
        parts.append(p.withColumn("vec_id", F.col("vec_id") + F.lit(r * 1_000_000)))
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    corpus = corpus.localCheckpoint(eager=True)  # pay replication once
    n_corpus = corpus.count()
    print(f"# corpus: {n_corpus} vectors")

    print("| probes | exact s | lsh s | lsh recall |")
    print("|---|---|---|---|")
    for n_probes in (50, 500, 2000, 8000):
        probes = corpus.where(F.col("vec_id") % 1_000_000 < n_probes // args.corpus_reps).select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb")
        ).localCheckpoint(eager=True)
        np_actual = probes.count()

        t0 = time.perf_counter()
        exact = similarity_join(probes, corpus, k=args.k)
        exact_set = {(r["probe_id"], r["vec_id"]) for r in exact.collect()}
        t_exact = time.perf_counter() - t0

        t0 = time.perf_counter()
        approx = similarity_join_lsh(
            probes, corpus, k=args.k, n_planes=8, n_probes=3, seed=42, dim=64
        )
        approx_set = {(r["probe_id"], r["vec_id"]) for r in approx.collect()}
        t_lsh = time.perf_counter() - t0

        recall = len(exact_set & approx_set) / max(1, len(exact_set))
        print(f"| {np_actual} | {t_exact:.2f} | {t_lsh:.2f} | {recall:.2f} |")


if __name__ == "__main__":
    main()
