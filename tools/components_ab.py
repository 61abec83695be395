"""Deep-loop probe for ``neardup_components``: chains of length
``chain_len`` force diameter-many propagation rounds, so per-round
DRIVER cost dominates and depth pathologies surface that star-like real
near-dup graphs (2-4 rounds) never hit.

Written as a same-session A/B harness for the round-6 convergence-check
fusion; what it actually FOUND was a data-size-independent depth limit —
driver-side Catalyst state grows super-linearly with round count (68 s at
12 rounds, 8 g-driver OOM at 16, pre- and post-fusion alike) — which led
to periodic lineage truncation by checkpoint (``_TRUNCATE_EVERY`` in
dedup.py, ``plan_utils.truncate_lineage``).
Measurements recorded in BENCH.md "deep-loop robustness". Keep running
this after any change to the propagation loop.

Usage:
    python tools/components_ab.py [n_vertices] [chain_len]
    # A/B mode: swap the counterpart sparklead/dedup.py into the checkout
    # to measure other code; this script measures the CURRENT code only.

Prints one JSON line: {"n_vertices":..., "chain_len":..., "wall_sec":...,
"n_components":...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(n_vertices: int, chain_len: int) -> dict:
    from pyspark.sql import functions as F

    from sparklead import get_spark
    from sparklead.dedup import neardup_components

    spark = get_spark("components-ab", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # chains: vertex i links to i+1 unless i ends a chain — diameter ==
    # chain_len, so the loop runs ~chain_len propagation rounds
    edges = (
        spark.range(n_vertices - 1)
        .filter(F.pmod("id", F.lit(chain_len)) != chain_len - 1)
        .select(F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id"))
    )
    edges.write.mode("overwrite").parquet("/tmp/sparklead_comp_ab_edges")
    edges = spark.read.parquet("/tmp/sparklead_comp_ab_edges")

    t0 = time.time()
    labels = neardup_components(edges, max_iter=chain_len + 2, small_graph_edges=None)
    n_components = labels.select("component").distinct().count()
    wall = time.time() - t0
    labels.unpersist()
    out = {
        "n_vertices": n_vertices,
        "chain_len": chain_len,
        "wall_sec": round(wall, 2),
        "n_components": n_components,
    }
    spark.stop()
    return out


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cl = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    print(json.dumps(main(n, cl)))
