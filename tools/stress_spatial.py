#!/usr/bin/env python
"""Scale stress for the grid-cell spatial radius join
(operators/spatial.radius_join).

Generates N points at FIXED density (the domain grows with N, the
radius stays put), so the expected pair count grows linearly in N and
the per-cell occupancy is constant — the regime a 100 TB POI/dedup
workload lives in. Coordinates are hash-derived (deterministic,
shuffle-free to produce). Measures wall at each rung for the scaling
exponent, checks the pair count against the analytic expectation
(pi*r^2*density/2 pairs per point), and asserts the executed plan is
the celled equi-join (no CartesianProduct / BroadcastNestedLoopJoin).

The point: candidate volume is 9N rows keyed by cell regardless of
radius; wall should scale ~linearly in N. A quadratic regression here
means the cell join degenerated (e.g. all points in one cell).

Usage: python tools/stress_spatial.py [--scales 1000000,4000000]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _loadgate import load_stamp  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1000000,4000000")
    ap.add_argument("--radius", type=float, default=1.0)
    ap.add_argument("--density", type=float, default=4.0, help="points per unit area")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--checksum", action="store_true",
                    help="also emit bit_xor(xxhash64(id_a, id_b)) over the "
                         "pair set — order-independent, so two runs with "
                         "identical pair sets print identical checksums "
                         "(the A/B bit-identical proof, one agg pass)")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.core.session import get_spark, ship_package
    from ubeardw_databricks_lakehouse_spark.operators.spatial import radius_join

    spark = get_spark(
        app_name="stress-spatial",
        **({"shuffle_partitions": args.shuffle_partitions}
           if args.shuffle_partitions else {}),
    )
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    results = []
    for n in scales:
        side = math.sqrt(n / args.density)  # square domain at fixed density
        # hash-to-uniform coords in [0, side)^2 — deterministic, map-only
        pts = spark.range(n).select(
            F.col("id"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit("x")), F.lit(1_000_000_007))
             / F.lit(1_000_000_007.0) * F.lit(side)).alias("x"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit("y")), F.lit(1_000_000_007))
             / F.lit(1_000_000_007.0) * F.lit(side)).alias("y"),
        ).localCheckpoint(eager=True)  # time the JOIN, not the generator

        pairs = radius_join(pts, "id", "x", "y", args.radius)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

        stamp = load_stamp()
        t0 = time.perf_counter()
        if args.checksum:
            row = pairs.agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(id_a, id_b))").alias("ck"),
            ).collect()[0]
            got, checksum = row["n"], row["ck"]
        else:
            got, checksum = pairs.count(), None
        wall = time.perf_counter() - t0
        # E[pairs] = N * (pi r^2 * density) / 2, edge effects shave a hair
        expect = n * math.pi * args.radius**2 * args.density / 2
        results.append({"n": n, "wall_s": round(wall, 2), "pairs": got,
                        "expected_pairs": int(expect),
                        "ratio": round(got / expect, 4),
                        **({"pairset_xor": checksum} if checksum is not None else {}),
                        **stamp})
        print(json.dumps(results[-1]), flush=True)
        assert 0.9 < got / expect < 1.1, "pair count off the analytic expectation"

    if len(results) >= 2:
        a, b = results[0], results[-1]
        exponent = math.log(b["wall_s"] / a["wall_s"]) / math.log(b["n"] / a["n"])
        print(json.dumps({
            "metric": "spatial_join_wall_exponent",
            "value": round(exponent, 2),
            "scales": [r["n"] for r in results],
            "loadavg": list(os.getloadavg()),
        }))


if __name__ == "__main__":
    main()
