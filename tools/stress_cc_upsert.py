#!/usr/bin/env python
"""Amortization ladder for incremental connected-components
maintenance (dedup.cc_upsert) — the group-maintenance counterpart of
tools/stress_neardup_upsert and tools/stress_ivf_upsert.

Geometry: the stored label table holds C components of size S
(members of component c are ids [c*S, (c+1)*S), label c*S — the
min-id contract). Each rung folds in a fixed-size delta of NEW edges,
each attaching one brand-new vertex to one existing component
UNIFORMLY (id-hash derived), so deltas touch many components but
merge none — the steady-state shape of a near-dup pair stream, where
most new pairs join an existing dup group. Per rung:

- ``upsert_s``: cc_upsert + the MERGE-delta count (O(delta) — the
  changed-label mapping is EMPTY for attach-only deltas, so the
  relabel scan of the stored table short-circuits to zero rows).
  Expect FLAT in corpus size.
- ``batch_s``: the alternative a one-shot pipeline forces —
  connected_components over the ENTIRE grown edge set. Expect
  linear-or-worse in corpus.

A merge-heavy rung at the largest corpus then pins the OTHER cost
term: a delta whose edges chain component pairs together, so
``relabeled`` = half the touched membership — the honest O(delta +
relabeled) bound, still corpus-independent for bounded component
sizes. Every rung records loadavg (tools/_loadgate).

Usage: python tools/stress_cc_upsert.py --components 100000,400000,1600000 --size 10 --delta 50000
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
    ap.add_argument("--components", default="100000,400000,1600000")
    ap.add_argument("--size", type=int, default=10, help="members per component")
    ap.add_argument("--delta", type=int, default=50000)
    args = ap.parse_args()
    comps = [int(x) for x in args.components.split(",")]

    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.core.session import (
        get_spark,
        release_local_checkpoint,
        ship_package,
    )
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        cc_upsert,
        connected_components,
    )

    spark = get_spark(app_name="stress-cc-upsert")
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    S = args.size

    def labels(n_comp):
        # component c = ids [c*S, (c+1)*S), label c*S
        return spark.range(n_comp * S).select(
            F.col("id").alias("doc_id"),
            (F.col("id") - F.pmod(F.col("id"), F.lit(S))).alias("component"),
        )

    def chain_edges(n_comp):
        # the historical edge set that produced `labels`: a path within
        # each component (id, id+1) for id not at a component boundary
        return spark.range(n_comp * S).where(
            F.pmod(F.col("id"), F.lit(S)) != S - 1
        ).select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))

    def attach_delta(n_delta, n_comp):
        # brand-new vertex -> hash-uniform existing component member
        new_v = F.col("id") + F.lit(n_comp * S)
        tgt = F.pmod(F.xxhash64(new_v), F.lit(n_comp * S))
        return spark.range(n_delta).select(
            new_v.alias("id_a"), tgt.alias("id_b")
        )

    results = []
    for n_comp in comps:
        lab = labels(n_comp).localCheckpoint(eager=True)
        delta = attach_delta(args.delta, n_comp).localCheckpoint(eager=True)
        stamp = load_stamp()
        t0 = time.perf_counter()
        out = cc_upsert(lab, delta)
        n_out = out.count()
        upsert_s = time.perf_counter() - t0
        # correctness spot: every new vertex got its target's label
        ok = (
            out.join(delta, out["doc_id"] == delta["id_a"])
            .where(
                F.col("component")
                != F.col("id_b") - F.pmod(F.col("id_b"), F.lit(S))
            )
            .count()
        )
        release_local_checkpoint(out, allow_projection=True)
        # the one-shot alternative: CC over the full grown edge set
        edges = chain_edges(n_comp).unionByName(delta)
        verts = edges.selectExpr("id_a as doc_id").union(
            edges.selectExpr("id_b as doc_id")
        ).distinct()
        t0 = time.perf_counter()
        n_batch = connected_components(edges, verts).count()
        batch_s = time.perf_counter() - t0
        results.append({
            "n_components": n_comp, "corpus_rows": n_comp * S,
            "n_delta": args.delta,
            "upsert_s": round(upsert_s, 2), "batch_s": round(batch_s, 2),
            "amortization": round(batch_s / upsert_s, 1),
            "merge_rows": n_out, "batch_rows": n_batch,
            **stamp,
        })
        print(json.dumps(results[-1]), flush=True)
        assert ok == 0 and n_out == args.delta
        assert n_batch == n_comp * S + args.delta
        release_local_checkpoint(lab, allow_projection=True)
        release_local_checkpoint(delta, allow_projection=True)

    # merge-heavy rung at the largest corpus: pair up adjacent
    # components (bridge edge between their min ids) — relabeled =
    # S rows per merged pair, delta/2 pairs
    n_comp = max(comps)
    lab = labels(n_comp).localCheckpoint(eager=True)
    n_pairs = args.delta // 2
    bridge = spark.range(n_pairs).select(
        (F.col("id") * 2 * S).alias("id_a"),
        ((F.col("id") * 2 + 1) * S).alias("id_b"),
    ).localCheckpoint(eager=True)
    stamp = load_stamp()
    t0 = time.perf_counter()
    out = cc_upsert(lab, bridge)
    n_out = out.count()
    wall = time.perf_counter() - t0
    results.append({
        "n_components": n_comp, "corpus_rows": n_comp * S,
        "n_delta": n_pairs, "kind": "merge_heavy",
        "upsert_s": round(wall, 2), "merge_rows": n_out,
        "expect_rows": n_pairs * S, **stamp,
    })
    print(json.dumps(results[-1]), flush=True)
    # losers only: the odd component of each pair relabels (S rows each)
    assert n_out == n_pairs * S
    release_local_checkpoint(out, allow_projection=True)
    release_local_checkpoint(lab, allow_projection=True)
    release_local_checkpoint(bridge, allow_projection=True)

    print(json.dumps({
        "metric": "cc_upsert_amortization",
        "upsert_walls_flat_in_corpus": [
            r["upsert_s"] for r in results if "batch_s" in r
        ],
        "batch_walls": [r["batch_s"] for r in results if "batch_s" in r],
        "merge_heavy_wall": results[-1]["upsert_s"],
        "loadavg": list(os.getloadavg()),
    }))


if __name__ == "__main__":
    main()
