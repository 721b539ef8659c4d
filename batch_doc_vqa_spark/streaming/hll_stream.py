"""Streaming twin of the portable sketches: per-epoch partials, merged at
read time — the always-fresh corpus statistic a 10^12-row pipeline keeps
without ever re-scanning history.

Batch form: ``sketches.<kind>_partial → <kind>_estimate/quantile/lookup``.
Streaming form: ``sketch_stream`` runs a ``partial_fn`` (e.g.
``lambda b: hll_partial(b, "uid", ["g"], p)``) over each micro-batch of new
files — one scan of the new data only, KBs of registers per group — and
commits the partial atomically through ``epoch_stream`` / ``commit_run``
(``partials/run_id=e<batch>``); the statistic at any moment is the sketch's
batch reducer over ``read_sketch_partials`` — the same merge the batch side
uses, so streaming and batch agree bit-exactly on the same input set.

Exactly-once has two layers, and which one carries the weight differs by
sketch algebra:

- HLL registers merge by MAX — associative, commutative, IDEMPOTENT — so
  even a double-committed epoch cannot change the estimate. Crash-safety
  from the data structure itself.
- loghist / CMS registers merge by SUM — associative + commutative but NOT
  idempotent — so exactly-once rests on the marker protocol: ``epoch_stream``
  skips already-committed epochs, and a torn epoch (partials written, marker
  not) is invisible until its marker lands. This is the same protocol every
  batch sink in the repo uses (plans/publish.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.publish import read_committed_table
from .publish_stream import epoch_stream


def sketch_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: str,
    partial_fn: Callable[[DataFrame], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """File-source stream → per-epoch sketch partials (``partial_fn`` maps a
    micro-batch to its register/bucket rows), committed atomically. Read the
    running statistic by merging ``read_sketch_partials`` with the sketch's
    batch reducer."""
    return epoch_stream(
        spark, docs_dir, schema, out_dir, checkpoint_dir,
        lambda batch, run_id: {"partials": partial_fn(batch)},
    )


def read_sketch_partials(spark: SparkSession, out_dir: str) -> DataFrame:
    """All committed epochs' register/bucket rows (torn epochs invisible)."""
    return read_committed_table(spark, out_dir, "partials")
