"""Streaming twin of the validation-gated publish sink (S11), and the ONE
epoch driver every marker-committed streaming sink runs on.

``epoch_stream`` owns the streaming half of the commit protocol: it reads
new files, gives each micro-batch an EPOCH-scoped run id (``e<batch_id>``)
and hands the tables a sink's ``tables_of(batch, run_id)`` callback returns
to ``plans/publish.commit_run`` — the same staged-write + marker commit the
batch publisher uses. A replayed epoch overwrites its own run directories
idempotently, and a crash between table writes leaves the epoch invisible to
``read_committed_table`` until the marker lands — end-to-end exactly-once,
not just at-least-once appends. The trigger always drains what is available
and stops, which turns each sink into an incremental batch job: rerun it
after new files land and only the new files flow through.

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

from ..plans.publish import (
    _fs,
    commit_run,
    publish_reject_reason,
    tagged_tables,
)


def epoch_stream(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    tables_of: Callable[[DataFrame, str], dict[str, DataFrame]],
) -> StreamingQuery:
    """File-source stream → one ``commit_run`` per epoch of the tables
    ``tables_of(batch, run_id)`` returns.

    An epoch whose run id is already committed is skipped: it is either a
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
        if fs.exists(marker):
            logging.getLogger(__name__).warning(
                "epoch %s already committed at %s — batch skipped "
                "(lost-checkpoint restart over an existing archive requires a "
                "fresh out_dir)", run_id, out_dir,
            )
            flag = _fs(sess, f"{out_dir}/_collisions/{run_id}")[1]
            fs.mkdirs(flag.getParent())
            fs.create(flag, True).close()
            return
        commit_run(sess, out_dir, run_id, tables_of(batch, run_id))

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
