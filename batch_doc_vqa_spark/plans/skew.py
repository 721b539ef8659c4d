"""Partitioning & skew handling for crawl-shaped data.

Common-Crawl-style tables are Zipf-skewed by host: a handful of hosts own a
large share of rows (the synthetic generator reproduces this — host 0 holds
~20%). Two disciplines, both deterministic and data-driven:

1. ``with_salted_partition`` — partition key for the *extraction* job.
   Base key is ``pmod(xxhash64(url), num_buckets)`` (uniform, and — crucially
   for resume — a pure function of the data, never of Spark task ids:
   SURVEY.md §7.3). When grouping by host is wanted for locality, heavy hosts
   are salted: a stats pass counts rows per host, hosts exceeding
   ``target_rows_per_task`` get ``ceil(rows/target)`` salt slots and the key
   becomes ``hash(host, salt)`` — so no single task inherits a whole hot host.
   The bucket is the *logical* key (lineage granularity, salting, config
   fingerprint); the *physical* task count is
   ``min(num_buckets, spark.sql.shuffle.partitions)``, so a small resume on a
   4-core session runs 4 Python tasks, not one (mostly empty) task per bucket.

2. ``salted_host_stats`` — the classic two-phase (salted partial → final)
   aggregation for skewed-key aggregates, used for per-host rollups so the
   reduce side never sees one giant group.

At 100 TB the stats pass is a cheap metadata-scale aggregation (one long per
host) that broadcasts; the salted key keeps every shuffle partition bounded
regardless of how hot the hottest host is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import host_of

BUCKET_COL = "bucket"


def with_url_bucket(df: DataFrame, num_buckets: int, url_col: str = "url") -> DataFrame:
    """Stable data-defined bucket id: pmod(xxhash64(url), B)."""
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(url_col)), F.lit(num_buckets)).cast("int"))


def with_salted_partition(
    df: DataFrame,
    num_buckets: int,
    url_col: str = "url",
    target_rows_per_task: int | None = None,
) -> DataFrame:
    """Add ``bucket`` and hash-repartition on it.

    ``num_buckets`` is the lineage and salting key: ``bucket`` takes
    ``num_buckets`` values whatever the cluster. The task count is
    ``min(num_buckets, spark.sql.shuffle.partitions)`` — the session's
    post-shuffle parallelism — so several buckets share a task when there
    are more buckets than cores, and a bucket never spans two tasks.

    With ``target_rows_per_task`` set, heavy hosts are detected via a counting
    pass and spread over ``ceil(rows/target)`` salt slots (broadcast-joined
    back — the host→salt map is tiny). Without it, pure url-hash bucketing
    (already uniform) is used.
    """
    n_tasks = min(num_buckets, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    if target_rows_per_task is None:
        out = with_url_bucket(df, num_buckets, url_col)
    else:
        host = host_of(F.col(url_col))
        stats = (
            df.groupBy(host.alias("_host"))
            .agg(F.count(F.lit(1)).alias("_host_rows"))
            .withColumn(
                "_n_salts", F.greatest(F.lit(1), F.ceil(F.col("_host_rows") / target_rows_per_task)).cast("int")
            )
            .select("_host", "_n_salts")
        )
        out = (
            df.withColumn("_host", host)
            .join(F.broadcast(stats), "_host", "left")
            .withColumn("_salt", F.pmod(F.xxhash64(F.col(url_col)), F.coalesce(F.col("_n_salts"), F.lit(1))))
            .withColumn(
                BUCKET_COL,
                F.pmod(F.xxhash64(F.col("_host"), F.col("_salt")), F.lit(num_buckets)).cast("int"),
            )
            .drop("_host", "_n_salts", "_salt")
        )
    return out.repartition(n_tasks, F.col(BUCKET_COL))


def salted_host_stats(df: DataFrame, url_col: str = "url", n_salts: int = 16) -> DataFrame:
    """Per-host (rows, bytes) via salted two-phase aggregation.

    Phase 1 shuffles on (host, salt) — bounded groups even for the hottest
    host — phase 2 combines the ≤ n_salts partials per host.
    """
    host = host_of(F.col(url_col))
    partial = (
        df.select(host.alias("host"), F.length("html").alias("_bytes"), F.col(url_col))
        .withColumn("_salt", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_salts)))
        .groupBy("host", "_salt")
        .agg(F.count(F.lit(1)).alias("_rows"), F.sum("_bytes").alias("_b"))
    )
    return partial.groupBy("host").agg(
        F.sum("_rows").alias("n_rows"),
        F.sum("_b").alias("n_bytes"),
    )


def salted_equi_join(
    big: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    salt_src: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof big × dim equi-join: salt the big side, replicate the dim.

    The classic hand-salting pattern for when one join key owns a huge share
    of the big side (AQE skew-join splits oversized *partitions*, but a single
    mega-key still lands every row in the same task): the big side gets a
    deterministic salt in [0, n_salts) — xxhash64 of ``salt_src``, which
    should be a high-cardinality data column (url, event_id) so the mega-key's
    rows actually spread; salting on the key itself would put them all in one
    slot. Salts are pure functions of the data, never of task/partition ids
    (the repo invariant). The dim side is exploded n_salts× (dims are small;
    replication is cheap) and the join key becomes (key, salt).
    """
    if salt_src is None:
        salt_src = key
    salted_big = big.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts)).cast("int"))
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    return salted_big.join(salted_dim, [key, "_salt"], how).drop("_salt")
