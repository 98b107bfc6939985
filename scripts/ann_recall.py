#!/usr/bin/env python
"""ANN recall@k measurement (VERDICT r4 #5).

Both ANN paths are correctness-checked against deterministic oracles and
benchmarked for latency, but multi-probe LSH and refine=True IVF exist to
BUY RECALL — this quantifies it. On a clustered fixture (8 Gaussian
direction-blobs, ids ordered so the first-C-ids IVF seeding is worst-case:
all seeds in one blob), measures recall@10 vs the brute-force cosine
ground truth for:

  * ann_lsh_topk_indexed, probes in {1, 3, 5}   (multi-probe knob)
  * ann_ivf_topk, n_probes in {1, 2, 4}, refined vs unrefined centroids

Usage: python scripts/ann_recall.py   (prints a markdown table).
tests/test_ann_recall.py runs a reduced grid of the same
measurement and asserts refined >= unrefined and probes=3 >= probes=1.
"""
from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BLOBS = 8
PER_BLOB = 200
DIM = 16
SIGMA = 0.30  # wide enough that blobs straddle hyperplanes (multi-probe matters)
K = 10


def blob_fixture(n_blobs: int = N_BLOBS, per_blob: int = PER_BLOB, dim: int = DIM):
    """Deterministic Gaussian blobs; ids 0..n_blobs-1 ALL in blob 0 so the
    unrefined first-C-ids IVF seeding is adversarial. Returns (ids, vecs)."""
    rng = np.random.default_rng(11)
    centers = rng.normal(0, 1, (n_blobs, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = np.vstack([rng.normal(c, SIGMA, (per_blob, dim)) for c in centers])
    # ids: blob 0's first n_blobs members keep ids 0..n_blobs-1; everything
    # else is interleaved round-robin across blobs so id order carries no
    # cluster structure beyond the adversarial seed prefix.
    order = [b * per_blob + j for j in range(per_blob) for b in range(n_blobs)]
    first = list(range(n_blobs))
    rest = [i for i in order if i not in set(first)]
    perm = np.array(first + rest)
    return np.arange(len(perm)), vecs[perm]


def true_topk(vecs: np.ndarray, qi: int, k: int = K) -> set[int]:
    """Brute-force cosine ground truth (self excluded)."""
    q = vecs[qi]
    sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    sims[qi] = -np.inf
    return set(np.argsort(-sims)[:k].tolist())


def _recall(pred_ids: list[int], truth: set[int]) -> float:
    return len(set(pred_ids) & truth) / len(truth)


def measure(spark, tmp: str, query_ids: list[int], lsh_probes=(1, 3, 5), ivf_probes=(1, 2, 4)):
    """Build both index layouts once, run every (path, knob) over the query
    set, return {config_name: mean_recall}. Real query path throughout:
    partition-pruned parquet scans, never a driver-side shortcut."""
    from bgp_feature_extractor_spark.operators.similarity import (
        ann_ivf_topk,
        ann_lsh_topk_indexed,
        write_ann_index,
        write_ivf_index,
    )

    ids, vecs = blob_fixture()
    truths = {qi: true_topk(vecs, qi) for qi in query_ids}
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    ).coalesce(8)

    lsh_path = os.path.join(tmp, "lsh_idx")
    write_ann_index(emb, lsh_path, n_planes=8)
    ivf_paths = {}
    for refined in (False, True):
        p = os.path.join(tmp, f"ivf_idx_{'ref' if refined else 'raw'}")
        write_ivf_index(emb, p, n_centroids=N_BLOBS, refine=refined, seed=7)
        ivf_paths[refined] = p

    out: dict[str, float] = {}
    for probes in lsh_probes:
        rs = []
        for qi in query_ids:
            got = ann_lsh_topk_indexed(
                spark, lsh_path, vecs[qi].tolist(), k=K, exclude_id=int(qi), probes=probes
            ).collect()
            rs.append(_recall([r["vec_id"] for r in got], truths[qi]))
        out[f"lsh_probes={probes}"] = float(np.mean(rs))
    for refined in (False, True):
        for np_ in ivf_probes:
            rs = []
            for qi in query_ids:
                got = ann_ivf_topk(
                    spark, ivf_paths[refined], vecs[qi].tolist(), k=K,
                    n_probes=np_, exclude_id=int(qi),
                ).collect()
                rs.append(_recall([r["vec_id"] for r in got], truths[qi]))
            out[f"ivf_{'refined' if refined else 'unrefined'}_nprobes={np_}"] = float(np.mean(rs))
    return out


def main():
    import tempfile

    from bgp_feature_extractor_spark.session import get_spark

    spark = get_spark(app_name="ann-recall", master="local[8]", shuffle_partitions=8)
    rng = np.random.default_rng(23)
    # one query per blob, drawn from the interleaved region (not the seeds)
    query_ids = sorted(rng.choice(np.arange(N_BLOBS, N_BLOBS * PER_BLOB), 16, replace=False).tolist())
    with tempfile.TemporaryDirectory(prefix="ann_recall_") as tmp:
        res = measure(spark, tmp, query_ids)
    print(f"\nrecall@{K}, {N_BLOBS}x{PER_BLOB} blobs dim={DIM} sigma={SIGMA}, {len(query_ids)} queries\n")
    print("| config | recall@10 |\n|---|---|")
    for k, v in res.items():
        print(f"| {k} | {v:.3f} |")


if __name__ == "__main__":
    main()
