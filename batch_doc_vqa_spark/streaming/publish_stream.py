"""Streaming twins of the validation-gated publish sink (S11) and the
extraction job, on the ONE epoch driver every marker-committed sink uses.

``run_epochs`` owns the streaming half of the commit protocol: it reads new
files and runs a sink's step on each micro-batch under an EPOCH-scoped run
id (``e<batch_id>``): ``epoch_stream``'s ``plans/publish.commit_run`` of the
tables ``tables_of(batch, run_id)`` returns, or the extraction sink's
``run_extraction``. A replayed epoch overwrites its own run directories
idempotently, and a crash between table writes leaves the epoch invisible
to ``read_committed_table`` until the marker lands — end-to-end
exactly-once, not just at-least-once appends. The trigger always drains
what is available and stops, which turns each sink into an incremental
batch job: rerun it after new files land and only the new files flow through.

Batch form of the publish sink: ``plans/publish.publish_run`` tags rows
with a reject reason and splits them into published/quarantine tables.
Streaming form: ``gated_publish_stream`` — the SAME column-expression gate
(``publish_reject_reason``) and the SAME split (``tagged_tables``) as an
``epoch_stream`` callback.
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.extract_job import run_extraction
from ..plans.publish import (
    _fs,
    commit_run,
    consolidated_run_ids,
    publish_reject_reason,
    tagged_tables,
)
from ..sources.pages import PAGES_SCHEMA


def epoch_stream(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    tables_of: Callable[[DataFrame, str], dict[str, DataFrame]],
) -> StreamingQuery:
    """``run_epochs`` with ``commit_run`` of ``tables_of(batch, run_id)``."""
    return run_epochs(
        spark, src_dir, schema, out_dir, checkpoint_dir,
        lambda b, r: commit_run(b.sparkSession, out_dir, r, tables_of(b, r)),
    )


def run_epochs(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    step: Callable[[DataFrame, str], None],
) -> StreamingQuery:
    """File-source stream → ``step(batch, run_id)``, which commits the epoch.

    An epoch whose run id is already committed (live, or consolidated by a
    compaction: ``consolidated_run_ids``) is skipped: it is either a
    true replay (crash after the marker, before the stream checkpoint
    advanced — identical content, so skipping is exact) or a LOST-checkpoint
    restart whose epoch numbering reset over an existing archive (skipping
    keeps the new batch from destroying the committed old epoch; that
    operator mistake needs a fresh out_dir). The two are indistinguishable
    here, so every skip leaves a LOUD breadcrumb: a warning plus a
    ``_collisions/<run_id>`` flag file."""

    def run_epoch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        run_id = f"e{batch_id:08d}"
        fs, marker = _fs(sess, f"{out_dir}/_committed/{run_id}")
        if fs.exists(marker) or run_id in consolidated_run_ids(sess, out_dir):
            logging.getLogger(__name__).warning(
                "epoch %s already committed at %s — batch skipped "
                "(lost-checkpoint restart over an existing archive requires a "
                "fresh out_dir)", run_id, out_dir,
            )
            flag = _fs(sess, f"{out_dir}/_collisions/{run_id}")[1]
            fs.mkdirs(flag.getParent())
            fs.create(flag, True).close()
            return
        step(batch, run_id)

    return (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .writeStream.foreachBatch(run_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def gated_publish_stream(
    spark: SparkSession,
    results_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str | None = "text",
    numeric_cols: tuple[str, ...] = (),
    json_cols: tuple[str, ...] = (),
    decode_status_col: str | None = None,
) -> StreamingQuery:
    """File-source results stream → gate → atomic epoch-scoped publishes."""
    reason = publish_reject_reason(text_col, numeric_cols, json_cols, decode_status_col)
    return epoch_stream(
        spark, results_dir, schema, out_dir, checkpoint_dir,
        lambda batch, run_id: tagged_tables(
            batch.withColumn("_reject", reason).localCheckpoint(eager=True)
        ),
    )


def extraction_stream(
    spark: SparkSession, pages_dir: str, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Pages files → the batch ``run_extraction`` per epoch (reference:
    inference.py:2206-2207): a re-delivered url is extracted once, and
    ``read_results``/``read_lineage`` read streamed and batch runs alike.
    After a lost checkpoint the first epoch collides with ``e00000000`` and
    is flagged in ``<out_dir>/_collisions``; recover with a batch
    ``run_extraction`` over ``pages_dir`` into the same ``out_dir``, whose
    anti-join skips the urls already done."""
    return run_epochs(
        spark, pages_dir, PAGES_SCHEMA, out_dir, checkpoint_dir,
        lambda batch, run_id: run_extraction(batch.sparkSession, batch, out_dir, run_id=run_id),
    )
