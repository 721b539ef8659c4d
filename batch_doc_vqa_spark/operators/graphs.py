"""Link-graph analytics for crawl prioritization: fixed-iteration PageRank
as a pure DataFrame loop — the host-importance signal web corpora publish
alongside their crawls (Common Crawl's host-level web graphs carry exactly
this statistic) and the crawl-frontier ordering a 10^12-page pipeline feeds
back into fetch scheduling. Connected components live in one place,
``dedup.resolve_clusters``.

Numeric discipline (CLAUDE.md, the repo-wide cross-engine rules): float
order-dependence is removed by rounding every per-edge contribution to
``round_to`` decimals and summing as decimal(38,round_to) — an exact,
order-free fold — then rounding the new rank once. Every double expression
(division, the damping blend) is written with the identical tree in the SQL
oracle, so a DuckDB recompute of all iterations is bit-equal. No
monotonically_increasing_id, no task-dependent state: ranks are a pure
function of the edge set.

Scale shape: the edge table (with out-degrees attached) is hash-partitioned
on ``src`` ONCE and localCheckpointed; each iteration then costs exactly two
shuffles — ranks to the src join, contributions to the dst aggregate (both
map-side combinable; a mega-host's in-degree sum is absorbed by partial
aggregation, so dst skew does not serialize). The dangling mass is a one-row
broadcast per iteration. Iteration count is an explicit small constant
(crawl-ordering uses the coarse ranking, not convergence to 1e-12): cost is
O(iterations · |E|), linear in the graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_RESERVED = ("_deg", "_s", "_dang", "_contrib", "node", "rank")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    damping: float = 0.85,
    round_to: int = 12,
    checkpoint: bool = True,
) -> DataFrame:
    """(node, rank) after ``iterations`` synchronous PageRank steps over the
    DISTINCT edge set (multi-edges count once; self-loops allowed), damping
    ``d``, uniform init 1/N, dangling mass redistributed uniformly:

        r'(v) = (1-d)/N + d · (Σ_{u→v} r(u)/deg(u) + D/N),  D = Σ_dangling r(u)

    Ranks are rounded to ``round_to`` decimals every step (see module
    docstring — this is what makes the result partition- and engine-exact).
    ``N`` is the node count (src ∪ dst), materialized once as a scalar (the
    codebook-size precedent: one-row aggregates may collect).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"pagerank: damping must be in (0,1): {damping}")
    if iterations < 1:
        raise ValueError(f"pagerank: iterations must be >= 1: {iterations}")
    clash = [c for c in (src, dst) if c in _RESERVED]
    if clash:
        raise ValueError(f"pagerank: src/dst collide with internals: {clash}")

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    ej = e.join(deg, "src").repartition(F.col("src"))
    # r7: out-degrees ride ON the rank frame (one setup join) so the
    # per-iteration dangling mass is a plain filtered aggregate over ranks
    # — the old ranks ⋈ deg left-anti join per iteration is gone. Same
    # node set (null _deg ⟺ no out-edge), same rounding, same value.
    nodes = nodes.join(
        deg.select(F.col("src").alias("node"), "_deg"), "node", "left"
    )
    if checkpoint:
        ej = ej.localCheckpoint(eager=False)
        nodes = nodes.localCheckpoint(eager=False)
    n = nodes.count()

    dec = f"decimal(38,{round_to})"
    zero = F.lit(0).cast(dec)
    d = F.lit(float(damping))
    one_minus_d = F.lit(float(1.0 - damping))
    nlit = F.lit(float(n))

    ranks = nodes.select(
        "node", "_deg", F.round(F.lit(1.0) / nlit, round_to).alias("rank")
    )
    for _ in range(iterations):
        rk = ranks.select("node", "rank")
        contrib = ej.join(rk, ej["src"] == rk["node"]).select(
            F.col("dst"),
            F.round(F.col("rank") / F.col("_deg"), round_to)
            .cast(dec)
            .alias("_contrib"),
        )
        sums = contrib.groupBy("dst").agg(F.sum("_contrib").alias("_s"))
        dang = ranks.filter(F.col("_deg").isNull()).agg(
            F.coalesce(F.sum(F.round("rank", round_to).cast(dec)), zero).alias(
                "_dang"
            )
        )
        ranks = (
            nodes.join(sums, nodes["node"] == sums["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "_deg",
                F.round(
                    one_minus_d / nlit
                    + d
                    * (
                        F.coalesce(F.col("_s"), zero).cast("double")
                        + F.col("_dang").cast("double") / nlit
                    ),
                    round_to,
                ).alias("rank"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank")

