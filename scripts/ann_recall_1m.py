#!/usr/bin/env python
"""Recall evidence for the LSH scale preset at 10^6 corpus rows.

The driver materializes embeddings only to sf0.1 (2 000 rows), so this
script synthesizes a deterministic 10^6-vector near-dup corpus (seed 42:
cluster centers + tight noise — the high-similarity regime the 8x16-bit
preset targets at web scale, i.e. near-duplicate retrieval; sign-bit LSH
recall is similarity-dependent, and mid-cosine retrieval would need
multiprobe or more bands, documented in operators/ann.py), runs
``cosine_topk_lsh`` with the scale preset (8 bands x 16 bits) for a
sampled query batch against the FULL corpus, and scores recall@k against
exact numpy ground truth computed from the identical parquet.

Prints one JSON line:
  {"n_corpus": ..., "n_queries": ..., "k": ..., "recall_at_k": ...,
   "mean_candidates_per_query": ..., "lsh_wall_s": ...}

Usage: python scripts/ann_recall_1m.py [n_corpus] [n_queries] [k]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = 42
D = 64
CLUSTER = 500  # members per cluster; ~the bucket-occupancy regime to beat
NOISE = 0.15  # near-dup spread: intra-cluster cosine ~0.98


def build_corpus(n: int, path: str) -> np.ndarray:
    rng = np.random.default_rng(SEED)
    n_clusters = (n + CLUSTER - 1) // CLUSTER
    centers = rng.normal(0, 1, (n_clusters, D)).astype(np.float32)
    labels = (np.arange(n) // CLUSTER).astype(np.int32)
    x = centers[labels] + rng.normal(0, NOISE, (n, D)).astype(np.float32)
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    pq.write_table(tbl, path, row_group_size=16384)
    return x


def exact_topk(x: np.ndarray, sample: np.ndarray, k: int) -> dict[int, set[int]]:
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    truth: dict[int, set[int]] = {}
    q = xn[sample]
    chunk = 200_000
    scores = np.full((len(sample), k), -2.0, dtype=np.float32)
    ids = np.zeros((len(sample), k), dtype=np.int64)
    for s0 in range(0, len(xn), chunk):
        s = xn[s0 : s0 + chunk]
        sim = q @ s.T  # (n_q, chunk)
        for row in range(len(sample)):
            self_local = sample[row] - s0
            if 0 <= self_local < sim.shape[1]:
                sim[row, self_local] = -2.0
            merged_scores = np.concatenate([scores[row], sim[row]])
            merged_ids = np.concatenate([ids[row], np.arange(s0, s0 + sim.shape[1])])
            top = np.argpartition(-merged_scores, k)[:k]
            scores[row], ids[row] = merged_scores[top], merged_ids[top]
    for row, qid in enumerate(sample):
        truth[int(qid)] = set(int(i) for i in ids[row])
    return truth


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from butterfly_osm_spark.operators.ann import (
        LSH_SCALE_BANDS,
        LSH_SCALE_BITS,
        cosine_topk_lsh,
        lsh_candidates,
    )
    from butterfly_osm_spark.session import default_cpus, get_spark

    path = f"/tmp/ann_corpus_{n}.parquet"
    if not os.path.exists(path):
        x = build_corpus(n, path)
    else:
        import pyarrow.parquet as pq

        x = np.stack(pq.read_table(path, columns=["embedding"])["embedding"].to_numpy())

    rng = np.random.default_rng(SEED + 1)
    sample = np.sort(rng.choice(n, size=n_q, replace=False)).astype(np.int64)
    truth = exact_topk(x, sample, k)

    cpus = default_cpus()
    spark = get_spark(
        app_name="ann-recall-1m",
        master=f"local[{cpus}]",
    )
    emb = spark.read.parquet(path)
    qdf = spark.createDataFrame([(int(i),) for i in sample], "vec_id BIGINT")

    t0 = time.time()
    got_rows = cosine_topk_lsh(
        emb, k=k, n_bands=LSH_SCALE_BANDS, bits=LSH_SCALE_BITS, query_ids=qdf
    ).collect()
    lsh_wall = round(time.time() - t0, 1)

    n_cand = lsh_candidates(
        emb, n_bands=LSH_SCALE_BANDS, bits=LSH_SCALE_BITS, query_ids=qdf
    ).count()

    got: dict[int, set[int]] = {}
    for r in got_rows:
        got.setdefault(int(r["vec_id"]), set()).add(int(r["neighbor_id"]))
    hits = sum(len(got.get(int(q), set()) & truth[int(q)]) for q in sample)
    recall = hits / (k * n_q)
    print(
        json.dumps(
            {
                "n_corpus": n,
                "n_queries": n_q,
                "k": k,
                "preset": f"{LSH_SCALE_BANDS}x{LSH_SCALE_BITS}bit",
                "recall_at_k": round(recall, 4),
                "mean_candidates_per_query": round(n_cand / n_q, 1),
                "corpus_fraction_scanned": round(n_cand / n_q / n, 5),
                "lsh_wall_s": lsh_wall,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
