"""SparkSession factory tuned for this engine.

Arrow is enabled globally (the extraction hot path is Arrow-batched pandas
UDFs — no per-row Python anywhere, per BASELINE.json's input_hint), AQE is on
for runtime re-planning/skew handling, and shuffle partitions default to the
local core count instead of 200. On a real cluster the same ``SESSION_CONF``
applies (jobs/extract_submit.py); only master/memory/parallelism change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _usable_cpus() -> int:
    """Cores this process may run on: its CPU affinity where the OS reports
    one (as ``nproc`` does), else the machine's core count."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def default_cpus() -> int:
    """Local core count for sessions, benches and probes: ``SPARK_GRAFT_CPUS``
    when set, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus())


SESSION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # honour advisoryPartitionSizeInBytes when coalescing instead of
    # stopping at the parallelism floor: post-shuffle partition counts
    # then derive from DATA SIZE (scale-adaptive — a KB-scale shuffle
    # collapses to 1 task, a 100 TB shuffle still gets TB/advisory
    # partitions). The Spark tuning guide recommends false on busy
    # clusters; locally it removes ~32 near-empty tasks per exchange.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let the planner pick shuffled-hash over sort-merge when a side
    # fits per-partition (guide §3.1); AQE additionally rewrites SMJ →
    # SHJ at runtime below the local-map threshold — both size-gated,
    # so the choice stays scale-adaptive
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~3KB/page → ~30MB Arrow batches: amortizes per-batch Python overhead
    # while staying well under worker memory; re-derive for larger payloads
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # partition columns (run_id=... directories) always read back as
    # string — an all-digit run_id must not silently become a long and
    # break run-pruning filters / schema stability across runs
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}


def get_spark(
    app_name: str = "batch_doc_vqa_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{default_cpus()}]"
    if shuffle_partitions is None:
        # match parallelism: local[N] → N; local[*] → usable cores
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = _usable_cpus() if inner == "*" else int(inner)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        **SESSION_CONF,
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        **(extra_conf or {}),
    }
    spark = SparkSession.builder.master(master).appName(app_name).config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
