"""PageRank (round 6): pure-Python mirror hand-math (same round-12 decimal
fold), dangling redistribution, mass conservation, partition independence,
multi-edge collapse, validation, JVM-only plan. Connected components
(``dedup.resolve_clusters``): union-find mirror, high-diameter chain, hub,
driver-gate vs distributed loop for long and string ids, max_iter."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest

from batch_doc_vqa_spark.operators.dedup import _union_find_labels, resolve_clusters
from batch_doc_vqa_spark.operators.graphs import pagerank

# a -> b, a -> c, b -> c, d dangling (in-link only), c -> a
EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "d")]


def _rnd(x: float, r: int) -> float:
    # Spark's round(double, r) goes through BigDecimal.valueOf ==
    # Double.toString == the SHORTEST round-trip decimal (Python repr), then
    # HALF_UP — NOT the exact binary expansion, and not Python's banker's
    # round. Both alternatives disagree on .5-at-digit-13 boundaries.
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-r), rounding=ROUND_HALF_UP)
    )


def _py_pagerank(edges, iterations=4, d=0.85, r=12):
    nodes = sorted({x for e in edges for x in e})
    n = float(len(nodes))
    deg = {}
    for s, _ in set(edges):
        deg[s] = deg.get(s, 0) + 1
    q = Decimal(1).scaleb(-r)
    ranks = {v: _rnd(1.0 / n, r) for v in nodes}
    for _ in range(iterations):
        sums = {v: Decimal(0) for v in nodes}
        for s, t in set(edges):
            sums[t] += Decimal(str(_rnd(ranks[s] / deg[s], r))).quantize(q)
        dang = sum(
            (Decimal(str(_rnd(ranks[v], r))).quantize(q) for v in nodes if v not in deg),
            Decimal(0),
        )
        ranks = {
            v: _rnd((1.0 - d) / n + d * (float(sums[v]) + float(dang) / n), r)
            for v in nodes
        }
    return ranks


def test_pagerank_hand_math_and_mass(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=4).collect()}
    assert got == _py_pagerank(EDGES)
    # dangling mass is redistributed: total stays ~1 (rounding drift only)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the sink 'd' has rank, the hub 'c' outranks it
    assert got["c"] > got["d"] > 0


def test_pagerank_partition_independence_and_multiedge(spark):
    df = spark.createDataFrame(EDGES * 3, "src string, dst string")  # dup edges
    base = {r["node"]: r["rank"] for r in pagerank(df, iterations=3).collect()}
    assert base == _py_pagerank(EDGES, iterations=3)  # multi-edges count once
    again = {
        r["node"]: r["rank"]
        for r in pagerank(df.repartition(13), iterations=3, checkpoint=False).collect()
    }
    assert again == base


def test_pagerank_validation_and_plan(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.5)
    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError, match="collide"):
        pagerank(df.withColumnRenamed("src", "rank"), src="rank")

    plan = (
        pagerank(df, iterations=2, checkpoint=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# connected components (dedup.resolve_clusters: min-label + pointer jumping)


def _cc_py(edges, ids):
    """Pure-Python union-find mirror: component = min reachable id."""
    parent = {i: i for i in ids}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def _labels(df):
    return {r["id"]: r["cluster_id"] for r in df.collect()}


def test_cc_chain_high_diameter_and_singleton(spark):
    # a 12-node chain is the adversarial case for plain neighbor
    # propagation (diameter 11); the distributed loop must still converge
    chain = [(i, i + 1) for i in range(1, 12)]
    ids = spark.range(1, 13).selectExpr("id AS doc_id").union(
        spark.createDataFrame([(99,)], "doc_id long")
    )
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    expected = {**{i: 1 for i in range(1, 13)}, 99: 99}
    assert _labels(resolve_clusters(ids, pairs)) == expected
    assert _labels(resolve_clusters(ids, pairs, driver_max_edges=0)) == expected


def test_cc_matches_union_find(spark):
    # deterministic pseudo-random graph: several components, dup edges,
    # self loops, both orientations
    edges = [(i, (i * 7 + 3) % 40) for i in range(40)]
    edges += [(i, i) for i in range(0, 40, 9)]
    edges += [(b, a) for a, b in edges[:10]]
    ids_list = list(range(50))  # 40..49 singletons unless an edge reaches them
    ids = spark.createDataFrame([(i,) for i in ids_list], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    assert _labels(resolve_clusters(ids, pairs, driver_max_edges=0)) == {
        **_cc_py(edges, ids_list),
        **{i: i for i in ids_list if i not in {x for e in edges for x in e}},
    }


def test_cc_partition_independence_and_max_iter(spark):
    edges = [(i, i + 1) for i in range(1, 30)]
    ids = spark.range(1, 31).selectExpr("id AS doc_id")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    base = sorted(resolve_clusters(ids, pairs, driver_max_edges=0).collect())
    repart = sorted(
        resolve_clusters(
            ids.repartition(7), pairs.repartition(5), driver_max_edges=0
        ).collect()
    )
    assert base == repart
    # max_iter bounds the distributed loop: one round cannot settle a
    # diameter-29 chain, and a half-propagated labeling must not escape
    with pytest.raises(RuntimeError, match="no convergence"):
        resolve_clusters(ids, pairs, max_iter=1, driver_max_edges=0)


def test_cc_driver_gate_matches_distributed_tier(spark):
    """The size-gated driver union-find and the min-label-propagation loop
    must label identically (component min) — including string ids, which
    take the join-based convergence probe."""
    edges = [(i, (i * 11 + 5) % 60) for i in range(60)] + [(3, 3), (7, 12)]
    ids = spark.createDataFrame([(i,) for i in range(70)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    drv = sorted(resolve_clusters(ids, pairs).collect())
    dist = sorted(resolve_clusters(ids, pairs, driver_max_edges=0).collect())
    assert drv == dist
    # string ids: lexicographic minima from both paths
    s_ids = spark.createDataFrame([(f"h{i:02d}",) for i in range(20)], "doc_id string")
    s_edges = [(f"h{i:02d}", f"h{(i * 3 + 1) % 15:02d}") for i in range(15)]
    s_pairs = spark.createDataFrame(s_edges, "id_a string, id_b string")
    s_drv = sorted(resolve_clusters(s_ids, s_pairs).collect())
    s_dist = sorted(resolve_clusters(s_ids, s_pairs, driver_max_edges=0).collect())
    assert s_drv == s_dist
    s_list = [f"h{i:02d}" for i in range(20)]
    assert {r["id"]: r["cluster_id"] for r in s_dist} == _cc_py(s_edges, s_list)


def test_cc_hub_star(spark):
    """One high-degree hub: every leaf reaches the hub's component minimum
    in the distributed loop, whichever side of the hub the leaves sit on."""
    hub = 25
    leaves = [i for i in range(51) if i != hub]
    ids = spark.createDataFrame([(i,) for i in range(51)], "doc_id long")
    pairs = spark.createDataFrame([(hub, v) for v in leaves], "id_a long, id_b long")
    assert _labels(resolve_clusters(ids, pairs, driver_max_edges=0)) == {
        i: 0 for i in range(51)
    }


@pytest.mark.parametrize("kind", ["long", "string"])
def test_cc_gate_edges(spark, kind):
    """The size gate counts candidate pair rows as given — duplicated and
    reversed pairs included — and both sides of it label like the driver
    union-find. A chain never settles in one distributed round, so
    ``max_iter=1`` shows which path ran: only the loop raises."""
    key = (lambda i: i) if kind == "long" else (lambda i: f"n{i:02d}")
    ids_list = [key(i) for i in range(12)]
    ids = spark.createDataFrame([(i,) for i in ids_list], f"doc_id {kind}")
    schema = f"id_a {kind}, id_b {kind}"

    def resolve(edges, **kw):
        return _labels(resolve_clusters(ids, spark.createDataFrame(edges, schema), **kw))

    def expected(edges):
        return {**{i: i for i in ids_list}, **_union_find_labels(edges)}

    # empty pairs, driver path: every id is its own cluster
    assert resolve([]) == expected([]) == {i: i for i in ids_list}
    chain = [(key(i), key(i + 1)) for i in range(1, 6)]
    edges = chain + [chain[0], chain[2][::-1], (key(9), key(8)), (key(8), key(9))]
    n = len(edges)
    assert resolve(edges, driver_max_edges=n, max_iter=1) == expected(edges)
    with pytest.raises(RuntimeError, match="no convergence"):
        resolve(edges, driver_max_edges=n - 1, max_iter=1)
    assert resolve(edges, driver_max_edges=n - 1) == expected(edges)
