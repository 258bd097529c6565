#!/usr/bin/env python
"""Scale stress + sort-vs-hash A/B for the binned range join
(operators/rangejoin.range_join_binned).

Generates N points uniform on [0, N) (hash-derived, deterministic,
map-only) and N/8 intervals of fixed span (8 bins wide at the default
bin_width), so expected matches grow linearly in N and per-bin
occupancy is constant — the fixed-density regime, same protocol as
tools/stress_spatial.py. Measures wall per rung, checks the match
count against the analytic expectation, asserts the plan is the
binned equi-join (no nested loop), and optionally emits an
order-independent pair-set checksum so two runs (say, two
``--shuffle-partitions`` settings) can be proven bit-identical in one
agg pass. Past the broadcast threshold the point side is the sized
SHUFFLE_HASH build (``core.session.sized_hash_build``), so the large
rungs measure that path.

Usage:
  python tools/stress_rangejoin.py --scales 8000000,32000000
  python tools/stress_rangejoin.py --scales 64000000 --checksum
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
    ap.add_argument("--scales", default="4000000,16000000")
    ap.add_argument("--bin-width", type=int, default=1000)
    ap.add_argument("--span-bins", type=int, default=8,
                    help="interval span in bins (replication factor)")
    ap.add_argument("--interval-frac", type=int, default=8,
                    help="N/this many intervals")
    ap.add_argument("--domain-mult", type=int, default=1000,
                    help="domain = N * this (sets point density so "
                         "matches stay ~N; 1 would make output volume "
                         "the wall instead of the join)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--checksum", action="store_true")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.core.session import get_spark, ship_package
    from ubeardw_databricks_lakehouse_spark.operators.rangejoin import (
        range_join_binned,
    )

    spark = get_spark(
        app_name="stress-rangejoin",
        **({"shuffle_partitions": args.shuffle_partitions}
           if args.shuffle_partitions else {}),
    )
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    span = args.span_bins * args.bin_width
    results = []
    for n in scales:
        # fixed density: points uniform on [0, n*mult) — density 1/mult
        # per unit, so E[matches/interval] = (span+1)/mult stays constant
        # across rungs and total matches grow linearly in N (the spatial
        # tool's protocol)
        dom = n * args.domain_mult
        pts = spark.range(n).select(
            F.col("id").alias("pid"),
            F.pmod(F.xxhash64(F.col("id"), F.lit("p")), F.lit(dom)).alias("x"),
        ).localCheckpoint(eager=True)
        n_iv = n // args.interval_frac
        ivs = spark.range(n_iv).select(
            F.col("id").alias("iid"),
            F.pmod(F.xxhash64(F.col("id"), F.lit("i")), F.lit(dom - span)).alias("lo"),
        ).withColumn("hi", F.col("lo") + F.lit(span)).localCheckpoint(eager=True)

        joined = range_join_binned(
            pts, ivs, "x", "lo", "hi", bin_width=args.bin_width,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

        stamp = load_stamp()
        t0 = time.perf_counter()
        if args.checksum:
            row = joined.agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(pid, iid))").alias("ck"),
            ).collect()[0]
            got, checksum = row["n"], row["ck"]
        else:
            got, checksum = joined.count(), None
        wall = time.perf_counter() - t0
        # each interval covers span+1 ints of the domain -> E[matches
        # per interval] = (span+1) * density = (span+1)/domain_mult
        expect = n_iv * (span + 1) / args.domain_mult
        results.append({
            "n_points": n, "n_intervals": n_iv,
            "wall_s": round(wall, 2), "matches": got,
            "expected": expect, "ratio": round(got / expect, 4),
            **({"pairset_xor": checksum} if checksum is not None else {}),
            **stamp,
        })
        print(json.dumps(results[-1]), flush=True)
        assert 0.9 < got / expect < 1.1, "match count off the analytic expectation"

    if len(results) >= 2:
        a, b = results[0], results[-1]
        exponent = (
            math.log(b["wall_s"] / a["wall_s"]) / math.log(b["n_points"] / a["n_points"])
        )
        print(json.dumps({
            "metric": "range_join_wall_exponent",
            "value": round(exponent, 2),
            "scales": [r["n_points"] for r in results],
            "loadavg": list(os.getloadavg()),
        }))


if __name__ == "__main__":
    main()
