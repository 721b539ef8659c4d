"""Order-of-magnitude probe for the connected-components resolver
(``dedup.resolve_clusters``: min-label propagation + pointer jumping), with
PLANTED components so correctness at scale is asserted over EVERY node:

- star clusters: K clusters of M nodes each, edges (hub, hub+j) — the
  near-dup-cluster shape (diameter 2), expected component = the hub id;
- long chains: L chains of CH nodes, edges (v, v+1) — the adversarial
  high-diameter shape, expected component = the chain's base id;
- one planted hub of degree H, edges (hub, hub+j) — the skewed shape where
  a single node carries H edges, expected component = the hub id.

Every node's expected label is a closed form of its id, so
``cluster_id != expected`` is a zero-cost full-graph assertion; the probe
reports the mismatch count, which must be 0. Pick sizes whose edge count
exceeds ``DRIVER_CC_MAX_EDGES`` (100k) so the distributed loop runs rather
than the driver union-find.

Everything derives from spark.range column math — row i is a pure function
of i, partition-count independent, no Python anywhere.

Usage: python scripts/cc_scale_probe.py [K] [M] [L] [CH] [H]
       (defaults 20000 10 2000 256 100000; H=0 plants no hub)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from batch_doc_vqa_spark.operators.dedup import resolve_clusters  # noqa: E402
from batch_doc_vqa_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    k_stars = int(args[0]) if args else 20_000
    m = int(args[1]) if len(args) > 1 else 10
    l_chains = int(args[2]) if len(args) > 2 else 2_000
    ch = int(args[3]) if len(args) > 3 else 256
    hub_degree = int(args[4]) if len(args) > 4 else 100_000

    spark = get_spark("cc_probe")
    spark.sparkContext.setLogLevel("ERROR")

    chain_base = k_stars * m
    hub = chain_base + l_chains * ch
    stars = spark.range(k_stars * (m - 1)).select(
        (F.expr(f"(id - pmod(id, {m - 1})) div {m - 1}") * m).alias("_hub"),
        (F.pmod("id", F.lit(m - 1)) + 1).alias("_j"),
    ).select(
        F.col("_hub").alias("id_a"), (F.col("_hub") + F.col("_j")).alias("id_b")
    )
    chains = spark.range(l_chains * (ch - 1)).select(
        (F.expr(f"(id - pmod(id, {ch - 1})) div {ch - 1}") * ch + chain_base).alias("_cb"),
        F.pmod("id", F.lit(ch - 1)).alias("_j"),
    ).select(
        (F.col("_cb") + F.col("_j")).alias("id_a"),
        (F.col("_cb") + F.col("_j") + 1).alias("id_b"),
    )
    spokes = spark.range(1, hub_degree + 1).select(
        F.lit(hub).cast("long").alias("id_a"), (F.col("id") + hub).alias("id_b")
    )
    pairs = stars.unionByName(chains).unionByName(spokes).localCheckpoint(eager=True)
    n_nodes = hub + (hub_degree + 1 if hub_degree else 0)
    ids = spark.range(n_nodes).select(F.col("id").alias("doc_id"))
    # closed-form expected component for any node id
    expected = (
        F.when(F.col("id") < chain_base, F.expr(f"(id - pmod(id, {m})) div {m}") * m)
        .when(
            F.col("id") < hub,
            F.expr(f"((id - {chain_base}) - pmod(id - {chain_base}, {ch})) div {ch}") * ch
            + chain_base,
        )
        .otherwise(F.lit(hub).cast("long"))
    )

    report = {
        "nodes": n_nodes,
        "edges": pairs.count(),
        "star_clusters": k_stars,
        "chain_clusters": l_chains,
        "chain_diameter": ch - 1,
        "hub_degree": hub_degree,
    }
    t0 = time.time()
    out = resolve_clusters(ids, pairs, id_col="doc_id")
    report["mismatches"] = (
        out.withColumn("_exp", expected)
        .filter(F.col("cluster_id") != F.col("_exp"))
        .count()
    )
    report["resolve_s"] = round(time.time() - t0, 1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
