#!/usr/bin/env python
"""Connected-components benchmark on a DEEP ~1M-edge graph: the pointer
jump's O(log diameter) round count measured at scale, beyond the hub-star
regime the image pipeline feeds.

Graph: `--chains` disjoint paths of `--depth` edges each (default
10,000 x 100 = 1,000,000 edges, diameter 100), vertex ids scrambled by a
multiplicative bijection so id order carries no information about chain
position (consecutive ids would let a single hop round do diameter-long
work along the id ordering).

Reports the rounds, Spark jobs and shuffle bytes of one
`connected_components` call (tagged with a job group and read back from
`statusTracker()`, as perfbench does), its wall time, and the component
count plus an order-insensitive checksum bit_xor(xxhash64(id, component))
to compare outputs across commits.

Usage: python bench_cc.py [--chains N] [--depth D] [--cores C]
Prints one JSON line; paste the table into BENCH.md by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import functions as F

from arhivum_spark.operators import connected_components as cc
from arhivum_spark.session import get_spark

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
from harness import SparkCounters  # noqa: E402

MULT = 2654435761  # Knuth multiplicative hash; odd => bijection mod 2^62


def edge_frame(spark, n_chains: int, depth: int):
    """(src, dst) for n_chains disjoint paths of `depth` edges, scrambled."""
    n_vert = n_chains * (depth + 1)
    e = (
        spark.range(0, n_chains * depth, 1, 64)
        .select(
            (F.col("id") % n_chains).alias("_c"),
            (F.col("id") / n_chains).cast("long").alias("_p"),
        )
        .select(
            (F.col("_c") * (depth + 1) + F.col("_p")).alias("_u"),
            (F.col("_c") * (depth + 1) + F.col("_p") + 1).alias("_v"),
        )
        .select(
            ((F.col("_u") * MULT) % (2**62)).alias("src"),
            ((F.col("_v") * MULT) % (2**62)).alias("dst"),
        )
    )
    v = spark.range(0, n_vert, 1, 64).select(
        ((F.col("id") * MULT) % (2**62)).alias("id")
    )
    return v, e


def run(spark, v, e) -> dict:
    counters = SparkCounters(spark)
    stats: dict = {}
    t0 = time.time()
    with counters.group("bench_cc"):
        out = cc.connected_components(v, e, stats=stats)
        row = out.agg(
            F.countDistinct("component").alias("n"),
            F.expr("bit_xor(xxhash64(id, component))").alias("h"),
        ).collect()[0]
    wall = time.time() - t0
    spark_counters = counters.read("bench_cc")
    return {
        "wall_sec": round(wall, 1),
        "rounds": stats.get("rounds"),
        "jobs": spark_counters["jobs"],
        "shuffle_write_mb": round(spark_counters["shuffle_write_mb"], 1),
        "n_components": row["n"],
        "components_xor": row["h"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--chains", type=int, default=10_000)
    ap.add_argument("--depth", type=int, default=100)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    spark = get_spark("bench_cc", cores=args.cores,
                      shuffle_partitions=2 * args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    v, e = edge_frame(spark, args.chains, args.depth)
    v = v.localCheckpoint()
    e = e.localCheckpoint()
    n_edges = e.count()

    print(
        json.dumps(
            {
                "metric": "cc_deep_graph_bench",
                "n_edges": n_edges,
                "n_chains": args.chains,
                "depth": args.depth,
                **run(spark, v, e),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
