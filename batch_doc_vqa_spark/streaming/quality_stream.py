"""Streaming twin of the learned quality gate: incremental crawl snapshots
are classifier-scored and importance-resampled as they land.

Batch form: ``textstats.classifier_score`` → ``chunking.score_resample``
(the gate inside ``training_recipe_v3``). Streaming form: new document
files flow through the SAME two operators as an ``epoch_stream`` callback —
one definition, so a later batch re-validation of any epoch is
bit-identical — and each epoch's verdicts land atomically through
``commit_run``: ``kept/run_id=e<batch>`` and ``rejected/run_id=e<batch>``
become visible together or not at all.

The model is FROZEN for the run (bias + weight dict passed in, broadcast
per micro-batch — KBs of state), and the resampling draw is a pure function
of ``(id, seed)``: a document's keep/reject verdict does not depend on
which epoch delivered it, so replays and re-crawls are idempotent by
construction — the same property the batch gate has under repartitioning.
State never accumulates across epochs — an incremental curator: rerun
after new crawl files land and only the new files are scored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.chunking import score_resample
from ..operators.textstats import classifier_score
from ..plans.publish import read_committed_table
from .publish_stream import epoch_stream


def quality_gate_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: str,
    bias: float,
    weights: dict[int, float],
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    seed: int = 0,
    base_hash: str = "md5",
) -> StreamingQuery:
    """File-source document stream → frozen-model classifier score →
    deterministic importance resampling → atomic epoch writes of ``kept``
    (docs + score + draw) and ``rejected`` (id + score, for curation
    audits).

    ``base_hash`` defaults to the md5 tier so any epoch's membership can be
    re-derived in SQL (the batch oracle's draw expression). Read results
    with ``read_kept`` / ``read_rejected`` — marker-filtered, so a crash
    between the two table writes never surfaces a torn epoch."""

    def gate(batch: DataFrame, run_id: str) -> dict[str, DataFrame]:
        scored = classifier_score(
            batch, id_col, text_col, bias, weights, n_buckets
        ).localCheckpoint(eager=True)  # feeds both the kept and rejected writes
        kept = score_resample(scored, id_col, "clf_score", seed=seed, base_hash=base_hash)
        return {
            "kept": batch.join(kept, id_col),
            "rejected": scored.join(kept.select(id_col), id_col, "left_anti"),
        }

    return epoch_stream(spark, docs_dir, schema, out_dir, checkpoint_dir, gate)


def read_kept(spark: SparkSession, out_dir: str) -> DataFrame:
    """Gate-surviving docs (+ score + draw) — committed epochs only."""
    return read_committed_table(spark, out_dir, "kept")


def read_rejected(spark: SparkSession, out_dir: str) -> DataFrame:
    """Rejected (id, score) audit rows — committed epochs only."""
    return read_committed_table(spark, out_dir, "rejected")
