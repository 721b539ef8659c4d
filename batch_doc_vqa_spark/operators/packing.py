"""Training-sequence packing: concat-and-cut layout over a document stream,
and the distributed prefix sum every corpus-order layout here is built on.

The last step of a training-data pipeline lays documents end-to-end into
fixed-length context windows (GPT-2/3-style packing: concatenate the token
stream, cut every ``ctx_len`` tokens — no padding waste; a document may span
a window boundary). The layout is a pure function of (order, token counts):
every document needs its absolute start offset in the concatenated stream —
a prefix sum over the corpus, computed by ``prefix_sum``'s two-layer form
over data-defined blocks (no global single-partition sort). The DuckDB
oracle is the plain ``SUM(...) OVER (ORDER BY key)`` the distributed form
must equal. ``assign_shards``, ``chunking.budget_select`` and
``textstats.ppl_buckets`` run their running sums through the same helper.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def floor_div_sql(x: str, b: int) -> str:
    """SQL text of the exact floor quotient of the BIGINT expression ``x`` by
    the positive integer ``b``. ``/`` and ``floor`` route through double and
    lose exactness past 2^53 (reachable with composite keys and corpus-wide
    token offsets at scale); ``x - pmod(x, b)`` is an exact multiple of
    ``b``, so integer ``div`` returns the exact floor for any sign of ``x``."""
    return f"({x} - pmod({x}, {b})) div {b}"


def prefix_sum(
    df: DataFrame,
    value: str | Column,
    order: Sequence[str],
    out: str,
    partition_by: Sequence[str] = (),
    block: int | float | None = None,
    inclusive: bool = False,
) -> DataFrame:
    """``df`` plus column ``out``: the running sum of ``value`` along
    ``order`` within each ``partition_by`` group — over the rows strictly
    before each row, or up to and including it when ``inclusive``. A NULL
    value counts as 0, so ``out`` is never NULL. ``order`` lists column
    names (``"-name"`` sorts that key descending) and must be unique within
    a group for the sum to be deterministic.

    ``block=None`` is one window: fine while no group dominates, but a
    mega-group (or no ``partition_by``) collapses onto one task. A ``block``
    width switches to the two-layer form over data-defined blocks of the
    LEADING order key — ``floor(key / block)``, or ``floor(-key / block)``
    for a descending key, so the block index rises along the order:

    1. per-block totals (one map-side-combined groupBy — #blocks rows),
       cumulated by a window over that tiny table and broadcast back as
       offsets;
    2. an in-block running sum (a window partitioned by block — bounded
       state).

    Both layers shuffle O(corpus) rows once on the block key; no stage sees
    a whole group in one partition. An ``int`` width cuts the key as a
    BIGINT with ``floor_div_sql`` (exact at any magnitude); a ``float``
    width cuts ``FLOOR(key / block)`` on doubles. Either cut is monotone in
    the key, which is all the decomposition needs, so both forms return the
    same ``out`` (tested). Parameter law: ``block ≈ √N`` of the key's
    domain keeps both layers ≈ √N rows — at 10^12 docs a 10^6-row block
    table and 10^6-row in-block windows. Rows whose group or leading key is
    NULL fall out of the blocked form's join.
    """
    clash = sorted({out, "_blk", "_blk_offset"} & set(df.columns))
    if clash:
        raise ValueError(f"prefix_sum: input columns collide with internals: {clash}")
    val = F.col(value) if isinstance(value, str) else value
    sort = [F.col(c[1:]).desc() if c.startswith("-") else F.col(c) for c in order]

    def running(v, w, end):
        frame = w.rowsBetween(Window.unboundedPreceding, end)
        return F.coalesce(F.sum(v).over(frame), F.lit(0))

    end = Window.currentRow if inclusive else -1
    w = Window.partitionBy(*partition_by)
    if block is None:
        return df.withColumn(out, running(val, w.orderBy(*sort), end))

    lead, desc = order[0].removeprefix("-"), order[0].startswith("-")
    if isinstance(block, int):
        key = f"CAST({lead} AS BIGINT)"
        blk = F.expr(floor_div_sql(f"(-{key})" if desc else key, block))
    else:
        blk = F.floor((-F.col(lead) if desc else F.col(lead)) / F.lit(float(block))).cast("long")
    keyed = df.withColumn("_blk", blk)
    blocks = [*partition_by, "_blk"]
    offsets = (
        keyed.groupBy(*blocks)
        .agg(F.sum(val).alias("_blk_tokens"))
        .select(*blocks, running("_blk_tokens", w.orderBy("_blk"), -1).alias("_blk_offset"))
    )
    w_in_block = Window.partitionBy(*blocks).orderBy(*sort)
    return (
        keyed.join(F.broadcast(offsets), blocks)
        .withColumn(out, F.col("_blk_offset") + running(val, w_in_block, end))
        .select(*df.columns, out)
    )


def pack_sequences(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    ctx_len: int,
    block_size: int = 4096,
) -> DataFrame:
    """Per-document packing layout for the concat-and-cut scheme.

    ``key_col`` must be a numeric, globally-unique sort key (the stream
    order). Returns one row per input row:

    - ``start_offset``: absolute token offset where this document begins;
    - ``seq_id`` / ``end_seq_id``: first and last context window touched
      (``floor(offset / ctx_len)``);
    - ``crosses_boundary``: true when the document spans ≥2 windows.

    Documents with 0 tokens keep a defined offset (they occupy no space).
    ``start_offset`` is ``prefix_sum``'s two-layer form over blocks of
    ``block_size`` keys; the window ids use ``floor_div_sql``, because the
    offset is a corpus-wide token count that crosses 2^53 well before 10^12
    docs, where floor(double) would assign wrong windows to late-stream rows.
    """
    toks = F.col(tokens_col).cast("long")
    out = (
        prefix_sum(df, toks, [key_col], "start_offset", block=block_size)
        .withColumn("_last", F.col("start_offset") + F.greatest(toks - F.lit(1), F.lit(0)))
        .withColumn("seq_id", F.expr(floor_div_sql("start_offset", ctx_len)))
        .withColumn("end_seq_id", F.expr(floor_div_sql("_last", ctx_len)))
        .withColumn("crosses_boundary", F.col("end_seq_id") > F.col("seq_id"))
    )
    return out.drop("_last")


def packing_stats(packed: DataFrame, tokens_col: str, ctx_len: int) -> DataFrame:
    """One-row summary: total tokens/docs/sequences and the fill fraction of
    the final (only partially filled) window. The sequence count uses exact
    integer ceil ((total + ctx - 1) div ctx) — F.ceil(double) drifts past
    2^53; the fill ratio itself is a rounded double by nature."""
    base = packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(tokens_col).cast("long")).alias("total_tokens"),
        F.sum(F.col("crosses_boundary").cast("long")).alias("n_boundary_docs"),
    )
    return base.select(
        "n_docs",
        "total_tokens",
        F.expr(f"(total_tokens + {ctx_len - 1}) div {ctx_len}").alias("n_sequences"),
        "n_boundary_docs",
        F.round(
            F.col("total_tokens")
            / (F.expr(f"(total_tokens + {ctx_len - 1}) div {ctx_len}") * F.lit(ctx_len)),
            6,
        ).alias("fill_fraction"),
    )


def assign_shards(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    target_tokens: int,
    seed: int = 7,
    block_size: int | None = None,
) -> DataFrame:
    """Token-balanced output-shard assignment in a deterministic
    pseudo-random order — the delivery step that turns a filtered corpus
    into the numbered shard files a training run reads.

    Every row gains:

    - ``shard_id``: ``floor(start / target_tokens)`` where ``start`` is the
      document's exclusive token prefix sum in the shuffled order — docs
      fill shard 0 until its running total crosses the target, then shard 1,
      and so on. A document is never split (shards overflow by at most one
      document, the standard first-fit contract);
    - ``shard_offset``: the document's token offset within its shard;
    - ``shard_pos``: 0-based document position within the shard (the write
      order inside the file).

    The order is the repo's deterministic draw — ``seeded_hash(id, seed,
    'md5')`` with the id as tiebreak — so the global shuffle that
    training-data delivery requires (no source/time clustering inside a
    shard) is a pure function of (data, seed): reruns, resumes and any partitioning produce
    byte-identical shard manifests, and a different ``seed`` is a fresh
    epoch-level reshuffle.

    Scale shape: the start is ``prefix_sum``'s two-layer form. The draw
    key is uniform on [0, 2^60), so blocks of ``block_size`` draw-space
    width hold near-equal row counts; the default carves the draw space into
    2^20 blocks (fine up to ~10^12 rows at ~10^6 rows/block; pass
    ``block_size`` to rebalance the two layers at other extremes).
    """
    from .dedup import seeded_hash

    if target_tokens < 1:
        raise ValueError(f"assign_shards: target_tokens must be >= 1: {target_tokens}")
    clash = sorted({"_draw", "_start", "shard_id", "shard_offset", "shard_pos"} & set(df.columns))
    if clash:
        # withColumn silently REPLACES same-named columns — validate like
        # the sibling operators (retrieval._check_reserved, blocklist)
        raise ValueError(f"assign_shards: input columns collide with internals: {clash}")
    bs = int(block_size) if block_size is not None else (1 << 40)
    keyed = df.withColumn("_draw", seeded_hash(id_col, int(seed), "md5"))
    toks = F.col(tokens_col).cast("long")
    started = (
        prefix_sum(keyed, toks, ["_draw", id_col], "_start", block=bs)
        .withColumn("shard_id", F.expr(floor_div_sql("_start", target_tokens)))
        .withColumn("shard_offset", F.expr(f"pmod(_start, {target_tokens})"))
    )
    w_shard = Window.partitionBy("shard_id").orderBy(
        F.col("_draw").asc(), F.col(id_col).asc()
    )
    return (
        started.withColumn("shard_pos", F.row_number().over(w_shard) - F.lit(1))
        .drop("_draw", "_start")
    )


def shard_stats(sharded: DataFrame, tokens_col: str) -> DataFrame:
    """Per-shard balance report over ``assign_shards`` output: document and
    token totals per shard — the manifest row a delivery job commits next to
    each shard file, and the balance check (max/min shard tokens) a 10^12-row
    delivery asserts before declaring the layout healthy."""
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(tokens_col).cast("long")).alias("shard_tokens"),
    )
