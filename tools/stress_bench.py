#!/usr/bin/env python
"""Stress-envelope runner for the dedup/ANN production paths.

Generates a synthetic corpus far past any driver-round scale (same
recipe as the r3 run recorded in SCALING.md: 64-dim vectors in 40
directional clusters, planted near-dup docs at ~5% word perturbation),
lays it out as <tmp>/{documents,embeddings}.parquet so registry
queries run unchanged, and times the claimed production paths at two
scales to estimate scaling exponents (t ~ n^e => e = log(t2/t1)/log(n2/n1)).

Usage: python tools/stress_bench.py [--small 50000,20000 --large 100000,40000]
Prints one JSON line per (scale, query) plus the exponent summary.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "order data column join small line customer query big the group sort "
    "window stream filter a".split()
)


def gen_documents(n_docs: int, rng: np.random.Generator) -> pd.DataFrame:
    """~60-token word-soup docs; 10% are ~5%-perturbed near-dup copies
    of earlier docs (planted positives for the near-dup pipelines)."""
    lengths = rng.integers(40, 81, size=n_docs)
    base = [
        " ".join(rng.choice(VOCAB, size=ln)) for ln in lengths
    ]
    texts = list(base)
    n_dups = n_docs // 10
    srcs = rng.integers(0, n_docs, size=n_dups)
    for i, s in enumerate(srcs):
        words = base[s].split()
        flips = rng.random(len(words)) < 0.05
        words = [
            rng.choice(VOCAB) if f else w for w, f in zip(words, flips)
        ]
        # overwrite a deterministic victim slot with the perturbed copy
        texts[(s + 1 + i) % n_docs] = " ".join(words)
    langs = rng.choice(["en", "fr", "es", "de"], size=n_docs, p=[0.6, 0.2, 0.1, 0.1])
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": langs,
            "source": rng.choice(["web", "books", "code"], size=n_docs),
            "n_chars": [len(t) for t in texts],
        }
    )


def gen_embeddings(
    n_vecs: int, rng: np.random.Generator, n_clusters: int = 40
) -> pd.DataFrame:
    """``n_clusters`` fixed (default, the r3/r4 recipe) measures the
    fixed-K regime; pass n_clusters ∝ n_vecs (--scale-k) to measure the
    production contract — constant per-cell occupancy, the regime the
    cluster-blocked dedup claims ~linear total work in."""
    dirs = rng.normal(size=(n_clusters, 64))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, size=n_vecs)
    v = dirs[labels] + 0.1 * rng.normal(size=(n_vecs, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": [row.astype("float32") for row in v],
            "label": labels.astype("int32"),
        }
    )


QUERIES = [
    "q_exact_dedup",            # linear baseline
    "q_neardup_verified_fast",  # xxhash64 MinHash->LSH->verify
    "q_embedding_topk_ivf_fast",
    "q_embedding_dedup_fast",   # cluster-blocked SemDeDup
]


def run_scale(
    spark, n_docs: int, n_vecs: int, qmap, n_clusters: int = 40,
) -> dict[str, float]:
    rng = np.random.default_rng(42)
    out: dict[str, float] = {}
    with tempfile.TemporaryDirectory() as d:
        gen_documents(n_docs, rng).to_parquet(os.path.join(d, "documents.parquet"))
        gen_embeddings(n_vecs, rng, n_clusters).to_parquet(
            os.path.join(d, "embeddings.parquet"))
        # absorb session/JIT startup so the first timed query is steady-state
        qmap["q_exact_dedup"](spark, d).write.mode("overwrite").format("noop").save()
        for name in QUERIES:
            t0 = time.time()
            df = qmap[name](spark, d)
            df.write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            out[name] = round(dt, 1)
            print(
                json.dumps(
                    {"scale": [n_docs, n_vecs], "query": name, "sec": round(dt, 1)}
                ),
                flush=True,
            )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="50000,20000")
    ap.add_argument("--large", default="100000,40000")
    ap.add_argument(
        "--scale-k", action="store_true",
        help="scale cluster count as sqrt(n_vecs) (the balanced "
        "IVF sizing — see SCALING.md) and run only the "
        "cluster-blocked dedup",
    )
    args = ap.parse_args()
    s_docs, s_vecs = (int(x) for x in args.small.split(","))
    l_docs, l_vecs = (int(x) for x in args.large.split(","))

    from ubeardw_databricks_lakehouse_spark.core.session import get_spark, ship_package
    from ubeardw_databricks_lakehouse_spark.plans.registry import queries

    spark = get_spark()
    ship_package(spark)
    qmap = queries()
    if args.scale_k:
        # the BALANCED production regime: K ∝ √n. K∝n is a trap — the
        # coarse assignment is a broadcast N×K scored join, so K∝n
        # makes TRAINING quadratic (measured e=1.83 at 2×); K ∝ √n
        # balances assignment (N·K = N^1.5) against the within-cell
        # pair grid (N²/K = N^1.5) for Θ(N^1.5) total — the standard
        # IVF sizing rule (FAISS nlist ≈ √N). Threshold sits at
        # SemDeDup's real operating point (0.9 — duplicates are
        # intra-cell, nprobe stays small). The registry query's fixed
        # K=32/threshold=0.4 measures the loose synthetic regime
        # (fixed-K run above).
        from ubeardw_databricks_lakehouse_spark.operators.dedup import (
            embedding_dedup_clusters_fast,
        )
        from ubeardw_databricks_lakehouse_spark.operators.similarity import (
            AUTO_LSH_MIN_CELLS,
        )

        def timed_scalek(n_vecs: int) -> float:
            rng = np.random.default_rng(42)
            k = max(8, int(n_vecs ** 0.5))
            with tempfile.TemporaryDirectory() as d:
                gen_embeddings(n_vecs, rng, k).to_parquet(
                    os.path.join(d, "embeddings.parquet"))
                emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
                t0 = time.time()
                # the production routing under measurement: past
                # AUTO_LSH_MIN_CELLS it swaps the exact N×K coarse
                # scorer for the LSH probe scorer
                embedding_dedup_clusters_fast(
                    emb, threshold=0.9, n_cells=k, nprobe=4
                ).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
            print(json.dumps(
                {"scale": [n_vecs], "k": k, "query": "dedup_fast_scalek",
                 "assign": "lsh" if k > AUTO_LSH_MIN_CELLS else "exact",
                 "sec": round(dt, 1)}), flush=True)
            return dt

        # 3-point ladder (small, large, 2×large): pairwise exponents
        # localize where the LSH routing bends the curve
        xl_vecs = 2 * l_vecs
        t_small = timed_scalek(s_vecs)
        t_large = timed_scalek(l_vecs)
        t_xl = timed_scalek(xl_vecs)
        e_lo = round(math.log(t_large / t_small) / math.log(l_vecs / s_vecs), 2)
        e_hi = round(math.log(t_xl / t_large) / math.log(xl_vecs / l_vecs), 2)
        print(json.dumps(
            {"scaling_exponents": {
                "dedup_fast_scalek_small_to_large": e_lo,
                "dedup_fast_scalek_large_to_xl": e_hi,
             },
             "ladder": [s_vecs, l_vecs, xl_vecs], "scale_k": True}),
            flush=True)
        return
    else:
        small = run_scale(spark, s_docs, s_vecs, qmap)
        large = run_scale(spark, l_docs, l_vecs, qmap)
    ratio = l_docs / s_docs
    exps = {
        q: round(math.log(large[q] / small[q]) / math.log(ratio), 2)
        for q in QUERIES
        if small[q] > 0
    }
    print(json.dumps(
        {"scaling_exponents": exps, "ratio": ratio, "scale_k": args.scale_k}
    ), flush=True)


if __name__ == "__main__":
    main()
