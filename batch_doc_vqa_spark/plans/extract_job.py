"""The extraction job: scan → resume filter → salted repartition → vectorized
extract → validate → results + per-bucket lineage.

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
  the first 100 failure urls in sorted order, status. The extraction UDF folds
  these counts into an accumulator while the results are written, and the
  driver writes the ≤num_buckets rows as one parquet file, so the lineage
  costs no read-back and no Spark job: a resume call runs three jobs (the
  done-set broadcast, the bucket shuffle and the results write);
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

import pandas as pd
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import __version__ as ENGINE_VERSION
from ..functions.udfs import EXTRACT_TYPE, extract_frame
from .publish import (
    _fs,
    commit_marker,
    committed_publish_ids,
    consolidated_run_ids,
    read_committed_table,
    read_schema_store,
    stage_rows,
    stage_table,
)
from .skew import BUCKET_COL, with_salted_partition

MAX_FAILURE_URLS_PER_PARTITION = 100

# one row per (run, bucket); run_id is the partition directory
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField(BUCKET_COL, T.IntegerType()),
        T.StructField("n_docs", T.LongType(), nullable=False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_failed", T.LongType()),
        T.StructField("failure_urls", T.ArrayType(T.StringType(), containsNull=False), nullable=False),
        T.StructField("status", T.StringType(), nullable=False),
        T.StructField("finished_at", T.TimestampType(), nullable=False),
        T.StructField("config_hash", T.StringType(), nullable=False),
        T.StructField("config_json", T.StringType(), nullable=False),
        T.StructField("engine_version", T.StringType(), nullable=False),
    ]
)


class _LineageFold(AccumulatorParam):
    """``{bucket: (n_docs, n_bytes, n_failed, failure_urls)}``, merged per
    bucket: counts add (``n_bytes`` stays None while every payload was null,
    as SQL ``sum`` does) and the failure urls keep the first
    ``MAX_FAILURE_URLS_PER_PARTITION`` in sorted order. The merge is
    associative and commutative, so a bucket spread over several Arrow
    batches folds to the same row in any order."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, acc: dict, more: dict) -> dict:
        for bucket, (n_docs, n_bytes, n_failed, urls) in more.items():
            if bucket in acc:
                d, b, f, u = acc[bucket]
                n_docs, n_failed = d + n_docs, f + n_failed
                n_bytes = b if n_bytes is None else n_bytes + (b or 0)
                urls = sorted(u + urls)[:MAX_FAILURE_URLS_PER_PARTITION]
            acc[bucket] = (n_docs, n_bytes, n_failed, urls)
        return acc


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
    ONE marker-committed run (plans/publish.py): ``stage_table`` (results)
    and ``stage_rows`` (lineage) write each table to its ``run_id=<id>``
    directory, then ``commit_marker`` makes both visible at once. A run
    that dies before its marker is invisible to ``read_results``/
    ``read_lineage`` and to the done-set, so the next resume re-extracts its
    urls and the lineage never has holes.
    The lineage is a by-product of the results write: the extraction UDF
    folds each Arrow batch's per-bucket counts into an accumulator, whose
    updates Spark merges once per result partition and never from a failed
    attempt. A run costs O(|run|), not O(corpus), and reads nothing back.
    The run_id directories are the parquet emulation of the reference's
    run-scoped artifact dirs (core/run_manager.py:368-407); an Iceberg table
    with identity partitioning on run_id is the drop-in upgrade.

    A ``run_id`` that is already committed in ``out_dir``, or consolidated
    by a ``compact_store`` of it, is refused with ``FileExistsError``:
    restaging it would overwrite or duplicate the committed rows.
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
    if run_id in committed or run_id in consolidated_run_ids(spark, out_dir, committed):
        # restaging it would overwrite committed rows the done-set reads,
        # or commit a compacted run's rows a second time
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
    # lineage folds inside the extraction UDF: the accumulator's updates
    # arrive with the results write's own result tasks (once per partition,
    # none from a failed attempt), so no read-back, aggregate or collect
    folds = spark.sparkContext.accumulator({}, _LineageFold())

    @F.pandas_udf(EXTRACT_TYPE)
    def extract_and_fold(html: pd.Series, bucket: pd.Series, url: pd.Series) -> pd.DataFrame:
        out = extract_frame(html)
        batch = pd.DataFrame(
            {
                "bucket": bucket,
                "url": url,
                "n_bytes": html.map(len, na_action="ignore"),
                "failed": out["status"].isin(failure_statuses),
            }
        )
        fold = {}
        for b, g in batch.groupby("bucket", sort=False, dropna=False):
            n_bytes = g["n_bytes"].sum(min_count=1)
            failed = g["url"][g["failed"]].dropna()
            fold[int(b)] = (
                len(g),
                None if pd.isna(n_bytes) else int(n_bytes),
                int(g["failed"].sum()),
                sorted(failed)[:MAX_FAILURE_URLS_PER_PARTITION],
            )
        folds.add(fold)
        return out

    # the projection as SQL text: one parse instead of a py4j call per
    # Column operation
    failed = "_ex.status IN ({})".format(", ".join(f"'{s}'" for s in failure_statuses))
    extracted = bucketed.withColumn("_ex", extract_and_fold("html", BUCKET_COL, "url")).selectExpr(
        "url",
        "warc_ts",
        "lang",
        BUCKET_COL,
        f"CASE WHEN NOT ({failed}) THEN _ex.text END AS text",
        f"CASE WHEN NOT ({failed}) THEN _ex.spans END AS spans",
        f"CASE WHEN {failed} THEN 'failed' ELSE _ex.status END AS status",
        "_ex.error AS error",
        "coalesce(length(_ex.text), 0) AS n_chars",
        "length(html) AS n_input_bytes",
    )
    stage_table(spark, out_dir, run_id, "results", extracted)

    buckets = sorted(folds.value.items())
    summary = {
        "n_partitions": len(buckets),
        "n_docs": sum(f[0] for _, f in buckets),
        "n_bytes": sum(f[1] or 0 for _, f in buckets),
        "n_failed": sum(f[2] for _, f in buckets),
        "run_id": run_id,
    }
    if not buckets:
        return summary  # nothing left to do: no lineage, no marker
    finished_at = pd.Timestamp.now(tz="UTC")
    # the driver holds every lineage row: stage_rows writes them without
    # a Spark job
    lineage = pd.DataFrame(
        [
            (b, *f, "done", finished_at, config_hash, config_json, ENGINE_VERSION)
            for b, f in buckets
        ],
        columns=LINEAGE_SCHEMA.names,
    )
    stage_rows(spark, out_dir, run_id, "lineage", lineage, LINEAGE_SCHEMA)
    commit_marker(spark, out_dir, run_id)  # results + lineage visible at once
    return summary
