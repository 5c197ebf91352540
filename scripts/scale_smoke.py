"""sf1 scale smoke (round-3 verdict task 5).

The driver ships parquet only up to sf0.1, so this script DERIVES a 10x
dataset from the sf0.1 tables: each fact table is unioned 10 times with all
entity keys shifted by copy_index * OFFSET (joins stay key-consistent within
a copy and never collide across copies); the tiny dims (region, nation) and
key-less columns are left untouched. Text/embedding payloads are replicated
verbatim, which deliberately STRESSES the dedup family: every content hash
gains 10 members, so LSH bucket skew guards and the connected-components
fixpoint see real load.

Usage:
    python scripts/scale_smoke.py gen   [dest_dir]   # build derived sf1
    python scripts/scale_smoke.py bench [dest_dir]   # bench.py against it
    python scripts/scale_smoke.py check bench_sf01.json bench_sf1.json [max_ratio]

`check` fails (rc 1) if any common query slowed by more than max_ratio
(default 10 = linear-ish in the 10x data) or if either suite has errors.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFFSET = 100_000_000  # far above any sf0.1 key
N_COPIES = 10
DEFAULT_DEST = "/tmp/sf1-derived"

# entity-key columns to shift, per table; every other column replicates
KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]


def gen(dest: str) -> None:
    from pyspark.sql import functions as F

    from preprocessor_spark.session import get_spark

    spark = get_spark("scale-smoke-gen")
    spark.sparkContext.setLogLevel("ERROR")
    src = "/root/testdata/sf0.1"
    os.makedirs(dest, exist_ok=True)
    for t in DIMS:
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dest}/{t}.parquet"
        )
    for t, keys in KEYED.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        copies = [
            df.select(
                *[
                    (F.col(c) + F.lit(i * OFFSET)).alias(c) if c in keys else F.col(c)
                    for c in df.columns
                ]
            )
            for i in range(N_COPIES)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{dest}/{t}.parquet")
        print(f"{t}: x{N_COPIES} -> {dest}/{t}.parquet")


def bench(dest: str) -> None:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=dest)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, os.path.join(repo, "bench.py")], env=env, check=True)


# Queries whose TRUE workload grows faster than row count on this derived
# dataset (every doc replicated 10x) — supra-linear time here is the
# operator doing proportionally more real work, not a plan defect.
EXPECTED_SUPRALINEAR = {
    "dedup_substring_spans": (
        "10x replication turns ~2% duplicated windows into 100%: the "
        "dup-hash join output (the operator's workload) grows ~50x, not 10x"
    ),
    # PAIR-emitting dedup queries are output-bound: a 10-member exact-dup
    # group must emit all 45 intra-group pairs to be correct, so the
    # result set (the workload) grows ~45x under 10x replication. The
    # CORPUS-level ops (dedup_minhash_corpus, semantic_dedup_embeddings)
    # collapse because their output is linear; these cannot.
    "dedup_minhash_pairs": (
        "pair output is quadratic in the duplication factor by contract "
        "(every intra-group pair must be emitted)"
    ),
    "embed_neardup_lsh": (
        "pair output is quadratic in the duplication factor by contract "
        "(every intra-group pair must be emitted)"
    ),
    # image_phash_neardup is not on this list: its output is the CLUSTER
    # frame (one row per image; member pairs never materialize).
    "knn_graph_nndescent": (
        "algorithm switch, not a scaling defect: at sf0.1 (2k vectors, "
        "within nndescent.EXACT_MAX_VECTORS=4096) the builder rides the "
        "exact brute-force scan; "
        "derived sf1 (20k) crosses onto the iterative NN-descent path whose "
        "per-round cost is linear but whose constant includes ~8 keyed "
        "shuffles/round — the wall ratio compares two different engines"
    ),
}


ABS_SF1_WALL = 10.0  # seconds — above this, the 1.0s noise floor no longer applies


def check(base_path: str, sf1_path: str, max_ratio: float = 10.0) -> int:
    base = json.load(open(base_path))
    sf1 = json.load(open(sf1_path))
    bq, sq = base["queries"], sf1["queries"]
    common = sorted(set(bq) & set(sq))
    bad = []
    for q in common:
        # noise floors: a sub-second sf0.1 wall is dominated by fixed
        # stage-scheduling overhead, so its 10x projection is measurement
        # noise, not a plan property (round 8: text_repetition_stats
        # measured 0.88s -> 9.0s in-suite but 3.0s isolated — same code).
        # The 1.0s denominator floor alone would let a genuinely
        # superlinear fast query hide (0.3s -> 10s = 33x reads as 10x), so
        # it is paired with an ABSOLUTE sf1 wall test: any sf1 time over
        # ABS_SF1_WALL whose unfloored ratio exceeds the cap flags too.
        ratio = max(sq[q], 0.2) / max(bq[q], 1.0)
        raw_ratio = max(sq[q], 0.2) / max(bq[q], 0.2)
        flagged = ratio > max_ratio or (
            sq[q] > ABS_SF1_WALL and raw_ratio > max_ratio
        )
        if flagged:
            ratio = max(ratio, raw_ratio)
            if q in EXPECTED_SUPRALINEAR:
                print(
                    f"  EXPECTED {q}: {bq[q]}s -> {sq[q]}s ({round(ratio, 1)}x) — "
                    + EXPECTED_SUPRALINEAR[q]
                )
                continue
            bad.append((q, bq[q], sq[q], round(ratio, 1)))
    print(
        f"sf0.1 total {base['value']}s -> sf1 total {sf1['value']}s "
        f"({round(sf1['value'] / base['value'], 2)}x) over {len(common)} queries"
    )
    for q, b, s, r in sorted(bad, key=lambda x: -x[3]):
        print(f"  SLOW {q}: {b}s -> {s}s ({r}x)")
    if bad:
        return 1
    print(f"no query regressed beyond {max_ratio}x at 10x data — linear-ish scaling")
    return 0


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "gen"
    if cmd == "gen":
        gen(sys.argv[2] if len(sys.argv) > 2 else DEFAULT_DEST)
    elif cmd == "bench":
        bench(sys.argv[2] if len(sys.argv) > 2 else DEFAULT_DEST)
    elif cmd == "check":
        sys.exit(check(sys.argv[2], sys.argv[3], float(sys.argv[4]) if len(sys.argv) > 4 else 10.0))
    else:
        raise SystemExit(f"unknown command {cmd!r}")
