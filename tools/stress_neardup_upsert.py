#!/usr/bin/env python
"""IVM-style ladder for the incremental near-dup upsert
(operators/dedup.neardup_upsert).

Protocol (mirrors tools/stress_ivm.py): build a base corpus + its LSH
band index OFF the clock, then time (a) the upsert of a fixed-size
delta against growing bases — the per-batch cost a continuously
ingesting warehouse pays, which must stay near-flat (the index join
broadcasts the delta, so the base is SCANNED once but never shuffled
or re-hashed) — and (b) growing deltas against a fixed base — must be
linear in delta. At the largest rung the full batch re-run
(neardup_verified_pairs over base+delta) is timed once for the
amortization headline: re-hash-everything vs touch-only-the-delta.

Corpus: deterministic hash-derived docs of 20 tokens (vocab 1000).
Each delta doc clones a distinct base doc's first 19 tokens and swaps
the last — a planted cross near-dup with bigram Jaccard ~0.9, so the
ladder also checks recall: verified pairs ~= n_delta (LSH collision
probability at j=0.9, b=4, r=2 is ~0.9987).

xxhash64 signature family (the production path — 6x faster than md5,
same geometry; the md5 twin is what the oracle grades).

Usage: python tools/stress_neardup_upsert.py --bases 500000,2000000,8000000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _loadgate import load_stamp  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bases", default="500000,2000000,8000000")
    ap.add_argument("--delta", type=int, default=20000)
    ap.add_argument("--deltas", default="10000,40000,160000",
                    help="delta ladder at the LARGEST base")
    ap.add_argument("--tokens", type=int, default=20)
    ap.add_argument("--vocab", type=int, default=1000)
    args = ap.parse_args()
    bases = [int(s) for s in args.bases.split(",")]
    deltas = [int(s) for s in args.deltas.split(",")]

    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.core.session import (
        checkpoint_scope,
        get_spark,
        release_local_checkpoint,
        ship_package,
    )
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        lsh_band_index,
        minhash_signatures,
        neardup_upsert,
        neardup_verified_pairs,
    )

    spark = get_spark(app_name="stress-neardup-upsert")
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    def tok(src, j):
        return F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.lit("tok"), src, F.lit(j)), F.lit(args.vocab))
            .cast("string"),
        )

    def base_docs(n):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *[tok(F.col("id"), j) for j in range(args.tokens)])
            .alias("text"),
        )

    def delta_docs(n_delta, n_base):
        # delta doc i clones base doc hash(i)%n_base's first tokens-1
        # tokens and swaps the last -> one planted near-dup per delta doc
        src = F.pmod(F.xxhash64(F.lit("src"), F.col("id")), F.lit(n_base))
        return spark.range(n_delta).select(
            (F.col("id") + F.lit(n_base)).alias("doc_id"),
            F.concat_ws(
                " ",
                *[tok(src, j) for j in range(args.tokens - 1)],
                F.lit("wdelta"),
            ).alias("text"),
        )

    def timed_upsert(docs_b, idx, docs_d):
        stamp = load_stamp()
        with checkpoint_scope():  # rung-private intermediates: free across rungs
            t0 = time.perf_counter()
            pairs, _bands = neardup_upsert(
                idx, docs_d, docs_b, threshold=0.5, hash_fn="xxhash64"
            )
            n_pairs = pairs.count()
            wall = time.perf_counter() - t0
        return wall, n_pairs, stamp

    results = []
    largest = None
    for n_base in bases:
        docs_b = base_docs(n_base).localCheckpoint(eager=True)
        idx = lsh_band_index(
            minhash_signatures(docs_b, hash_fn="xxhash64"), hash_fn="xxhash64"
        ).localCheckpoint(eager=True)  # the stored state, built off-clock
        docs_d = delta_docs(args.delta, n_base).localCheckpoint(eager=True)
        wall, n_pairs, stamp = timed_upsert(docs_b, idx, docs_d)
        recall = n_pairs / args.delta
        results.append({"n_base": n_base, "n_delta": args.delta,
                        "upsert_s": round(wall, 2), "pairs": n_pairs,
                        "recall_vs_planted": round(recall, 4), **stamp})
        print(json.dumps(results[-1]), flush=True)
        assert 0.95 < recall < 1.1, "planted-pair recall off expectation"
        if n_base == max(bases):
            largest = (docs_b, idx)
        else:
            release_local_checkpoint(docs_b, allow_projection=True)
            release_local_checkpoint(idx, allow_projection=True)
        release_local_checkpoint(docs_d, allow_projection=True)

    docs_b, idx = largest
    n_base = max(bases)
    for n_delta in deltas:
        docs_d = delta_docs(n_delta, n_base).localCheckpoint(eager=True)
        wall, n_pairs, stamp = timed_upsert(docs_b, idx, docs_d)
        results.append({"n_base": n_base, "n_delta": n_delta,
                        "upsert_s": round(wall, 2), "pairs": n_pairs,
                        "recall_vs_planted": round(n_pairs / n_delta, 4),
                        **stamp})
        print(json.dumps(results[-1]), flush=True)
        release_local_checkpoint(docs_d, allow_projection=True)

    # the re-run this replaces: full batch pipeline over base+delta,
    # restricted (cheaply, post-hoc) to pairs touching the delta
    docs_d = delta_docs(args.delta, n_base).localCheckpoint(eager=True)
    both = docs_b.unionByName(docs_d)
    t0 = time.perf_counter()
    batch_pairs = (
        neardup_verified_pairs(both, threshold=0.5, hash_fn="xxhash64")
        .where(f"id_a >= {n_base} OR id_b >= {n_base}")
        .count()
    )
    batch_s = time.perf_counter() - t0
    flat = [r for r in results if r["n_delta"] == args.delta and r["n_base"] == n_base]
    print(json.dumps({
        "metric": "neardup_upsert_amortization",
        "batch_rerun_s": round(batch_s, 2),
        "upsert_s": flat[0]["upsert_s"] if flat else None,
        "speedup": round(batch_s / flat[0]["upsert_s"], 1) if flat else None,
        "batch_pairs_touching_delta": batch_pairs,
        "upsert_pairs": flat[0]["pairs"] if flat else None,
        "loadavg": list(os.getloadavg()),
    }))


if __name__ == "__main__":
    main()
