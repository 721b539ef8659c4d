"""The extraction job: scan → resume filter → salted repartition → vectorized
extract → validate → results + per-partition lineage.

This is the Spark-native shape of the reference's inference run
(/root/reference/src/batch_doc_vqa/openrouter/inference.py:2173-2294): its
thread-pool fan-out becomes partition parallelism, its incremental
``save_results`` after every image (inference.py:2206-2207) becomes one
marker-committed run per call (results + per-bucket lineage, committed
together through plans/publish.py's protocol), and its resumable cost
backfill's "only rows not yet done" predicate (api.py:505-515) becomes a left
anti-join of the input against the done-set.

Contract (BASELINE.json north rule):
- partitioning: hash(url) buckets, salted for skewed hosts (plans/skew.py);
  bucket ids are pure functions of the data so reruns see the same layout;
- lineage: one row per (run_id, bucket): doc count, byte count, failure count,
  the first 100 failure urls in sorted order, status;
- resume: rerunning with the same output dir processes only urls absent from
  the committed results — reruns are idempotent, a torn run leaves no trace,
  and the final table is identical to a single-shot run;
- failures are recorded, not retried (status='error' rows, failure urls in
  lineage) — the analogue of the reference's record-and-continue retry ladder.
"""

from __future__ import annotations

import hashlib
import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import __version__ as ENGINE_VERSION
from ..functions.udfs import extract_udf
from .publish import (
    _fs,
    commit_marker,
    committed_publish_ids,
    read_committed_table,
    read_schema_store,
    stage_table,
)
from .skew import BUCKET_COL, with_salted_partition

MAX_FAILURE_URLS_PER_PARTITION = 100


def config_fingerprint(config: dict) -> tuple[str, str]:
    """(config_json, config_hash): run identity as a content hash of the job
    config + engine version — the X10 reproducibility guard (reference
    core/run_manager.py:42-63,66-148 hashes config + git state). Two runs with
    different extractor settings are distinguishable in lineage forever."""
    payload = dict(config, engine_version=ENGINE_VERSION)
    config_json = json.dumps(payload, sort_keys=True, separators=(",", ":"))
    return config_json, hashlib.sha256(config_json.encode()).hexdigest()[:16]


def _has_data_files(spark: SparkSession, path: str) -> bool:
    """True iff the directory exists and holds at least one non-hidden data
    file. Recursive listing with an early break: returns at the FIRST data
    file, so a populated store costs one listing step."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return False
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            return True
    return False


def read_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """The extraction results — committed runs only (a torn run is
    invisible, and the next resume re-extracts its urls)."""
    return read_committed_table(spark, out_dir, "results")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-(run_id, bucket) lineage — committed runs only."""
    return read_committed_table(spark, out_dir, "lineage")


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    num_buckets: int = 32,
    target_rows_per_task: int | None = None,
    strict: bool = False,
) -> dict:
    """Run (or resume) the extraction job. Returns per-run lineage summary.

    ``pages`` must have columns (url, warc_ts, html, text, lang) — the
    BASELINE.json input shape. Results land at ``{out_dir}/results`` and
    lineage at ``{out_dir}/lineage``, both PARTITIONED BY ``run_id``, as
    ONE marker-committed run (plans/publish.py): ``stage_table`` writes
    each table to its ``run_id=<id>`` directory, then ``commit_marker``
    makes both visible at once. A run that dies before its marker is
    invisible to ``read_results``/``read_lineage`` and to the done-set, so
    the next resume re-extracts its urls and the lineage never has holes.
    The per-run lineage read-back prunes to this run's directory —
    O(|run|), not O(corpus), per incremental run. This is the parquet
    emulation of the reference's run-scoped artifact dirs
    (core/run_manager.py:368-407); an Iceberg table with identity
    partitioning on run_id is the drop-in upgrade.

    A ``run_id`` that is already committed in ``out_dir`` is refused with
    ``FileExistsError``: restaging it would overwrite the committed rows.
    A call with nothing left to do commits nothing (no lineage, no marker;
    its empty results dir stays an invisible torn run). A ``results``
    directory holding data files but no committed marker and no stored
    ``results`` schema was written before this protocol: it is refused with
    ``FileExistsError``, never read as an empty done-set (which would
    duplicate every row it holds).

    ``num_buckets`` is the lineage and salting key — one lineage row per
    bucket, and part of the config fingerprint. The extraction stage runs
    ``min(num_buckets, spark.sql.shuffle.partitions)`` tasks
    (``with_salted_partition``), so the task count follows the session's
    parallelism and the lineage does not.

    ``strict`` selects the validate→fail vs validate→coerce behavior of the
    reference's schema ladder (openrouter/inference.py:1920-2070, SURVEY §2.7
    X6): strict ⇒ rows whose extraction came back empty are *failures*
    (counted + urls recorded in lineage, text nulled); lenient (default) ⇒
    the recall-cascade output is kept and only hard errors count as failures.
    """
    # 'r' prefix keeps an all-hex-digit id unambiguous as a directory name
    run_id = run_id or "r" + uuid.uuid4().hex[:12]
    config_json, config_hash = config_fingerprint(
        {
            "num_buckets": num_buckets,
            "target_rows_per_task": target_rows_per_task,
            "strict": strict,
        }
    )

    committed = committed_publish_ids(spark, out_dir)
    if run_id in committed:
        # restaging it would overwrite committed rows the done-set reads
        raise FileExistsError(
            f"run {run_id!r} is already committed in {out_dir}: resume under a new run_id"
        )
    todo = pages
    if committed:
        # checkpoint/resume: anti-join against the committed done-set (J7
        # pattern); the stored schema spares a schema-inference job
        todo = pages.join(read_results(spark, out_dir).select("url"), "url", "left_anti")
    elif read_schema_store(spark, out_dir, "results") is None and _has_data_files(
        spark, f"{out_dir}/results"
    ):
        raise FileExistsError(
            f"{out_dir}/results holds data but no committed run and no stored "
            "schema: it was written before the marker-commit protocol — extract "
            "into a new output dir"
        )

    bucketed = with_salted_partition(todo, num_buckets, target_rows_per_task=target_rows_per_task)
    # unsupported_format (e.g. encrypted / non-Flate real PDFs) is always a
    # recorded failure — a binary payload must never pass as extracted text
    failure_statuses = (
        ("error", "unsupported_format", "empty") if strict else ("error", "unsupported_format")
    )
    is_failed = F.col("_ex.status").isin(*failure_statuses)
    extracted = (
        bucketed.withColumn("_ex", extract_udf(F.col("html")))
        .select(
            "url",
            "warc_ts",
            "lang",
            F.col(BUCKET_COL),
            F.when(~is_failed, F.col("_ex.text")).alias("text"),
            F.when(~is_failed, F.col("_ex.spans")).alias("spans"),
            F.when(is_failed, F.lit("failed")).otherwise(F.col("_ex.status")).alias("status"),
            F.col("_ex.error").alias("error"),
            F.coalesce(F.length("_ex.text"), F.lit(0)).alias("n_chars"),
            F.length("html").alias("n_input_bytes"),
        )
    )
    stage_table(spark, out_dir, run_id, "results", extracted)

    # lineage from what was actually staged (read-back, not recompute),
    # pruned to THIS run's directory and read with the schema just written;
    # ≤ num_buckets rows, collected once and staged as a single file
    staged = spark.read.schema(extracted.schema).parquet(f"{out_dir}/results/run_id={run_id}")
    lineage = staged.groupBy(BUCKET_COL).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_input_bytes").alias("n_bytes"),
        F.sum((F.col("status") == "failed").cast("long")).alias("n_failed"),
        # sorted: the first 100 in delivery order would differ between runs
        F.slice(
            F.array_sort(F.collect_list(F.when(F.col("status") == "failed", F.col("url")))),
            1,
            MAX_FAILURE_URLS_PER_PARTITION,
        ).alias("failure_urls"),
        F.lit("done").alias("status"),
        F.current_timestamp().alias("finished_at"),
        F.lit(config_hash).alias("config_hash"),
        F.lit(config_json).alias("config_json"),
        F.lit(ENGINE_VERSION).alias("engine_version"),
    )
    rows = lineage.toPandas()
    summary = {
        "n_partitions": len(rows),
        "n_docs": int(rows["n_docs"].sum()),
        "n_bytes": int(rows["n_bytes"].sum()),
        "n_failed": int(rows["n_failed"].sum()),
        "run_id": run_id,
    }
    if rows.empty:
        return summary  # nothing left to do: no lineage, no marker
    stage_table(spark, out_dir, run_id, "lineage", spark.createDataFrame(rows, lineage.schema).coalesce(1))
    commit_marker(spark, out_dir, run_id)  # results + lineage visible at once
    return summary
