"""IVF-PQ recall/latency trade at scale (round-6 verdict task 9).

Quantifies the cell-routing claim on the derived-sf1 embeddings (10x data):
for each n_probe, wall-clock of the full ivfpq_search job and recall@k
against exact brute-force cosine. Writes one JSON artifact and prints a
markdown table for PLANS.md.

Usage:
    python scripts/pq_recall_table.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

K = 10
N_QUERIES = 50
N_CELLS = 16
PROBES = (1, 2, 4, 8, 16)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1-derived"
    out_json = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, "bench_results", "pq_recall_sf1_r7.json")
    )
    from pyspark.sql import functions as F

    from preprocessor_spark.operators.pq import (
        ivfpq_assign_encode,
        ivfpq_search,
        pq_train,
    )
    from preprocessor_spark.operators.similarity import (
        cosine_topk,
        ivf_train_centroids,
    )
    from preprocessor_spark.session import get_spark

    spark = get_spark("pq-recall")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_corpus = emb.count()
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    t0 = time.time()
    truth_df = cosine_topk(emb, queries, "embedding", "vec_id", k=K)
    truth: dict[int, set] = {}
    for r in truth_df.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    brute_wall = round(time.time() - t0, 3)

    cents = ivf_train_centroids(emb, "embedding", n_cells=N_CELLS)
    books = pq_train(emb, "embedding", m=8)
    index = ivfpq_assign_encode(emb, cents, books, "embedding", "vec_id").persist()
    index.count()  # materialize so probe timings measure search, not encode

    rows = []
    for n_probe in PROBES:
        for refined in (False, True):
            t0 = time.time()
            res = ivfpq_search(
                index,
                cents,
                books,
                queries,
                "embedding",
                "vec_id",
                k=K,
                n_probe=n_probe,
                refine=emb if refined else None,
            ).collect()
            wall = round(time.time() - t0, 3)
            got: dict[int, set] = {}
            for r in res:
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            recalls = [
                len(got.get(q, set()) & hits) / len(hits) for q, hits in truth.items()
            ]
            recall = round(sum(recalls) / len(recalls), 4)
            rows.append(
                {
                    "n_probe": n_probe,
                    "refine": refined,
                    "recall_at_k": recall,
                    "wall_sec": wall,
                }
            )
            print(
                f"n_probe={n_probe} refine={refined}: recall@{K}={recall} wall={wall}s",
                flush=True,
            )

    artifact = {
        "sf_dir": sf_dir,
        "n_corpus": n_corpus,
        "n_queries": N_QUERIES,
        "k": K,
        "n_cells": N_CELLS,
        "bruteforce_wall_sec": brute_wall,
        "rows": rows,
        "recorded_unix": int(time.time()),
    }
    with open(out_json, "w") as f:
        json.dump(artifact, f, indent=2)
    print(f"\nwrote {out_json}\n")
    print(f"| n_probe | refine | recall@{K} | wall (s) |")
    print("|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['n_probe']} | {'+R' if r['refine'] else '—'} | "
            f"{r['recall_at_k']} | {r['wall_sec']} |"
        )
    print(f"| exact brute force | | 1.0 | {brute_wall} |")


if __name__ == "__main__":
    main()
