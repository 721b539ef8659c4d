"""Reproduction script for the BENCH/BASELINE.md incremental-index probe:
build a snapshot-committed MinHash index over a large synthetic corpus,
then screen a new snapshot with PLANTED cross-snapshot near-dups and
assert perfect recall — the evidence that incremental dedup is O(new),
not O(corpus), and loses nothing.

Usage: python scripts/incremental_index_probe.py [corpus_n] [snapshot_n]
       (defaults 900000 100000; keep the box idle — see CLAUDE.md)
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import tempfile
import time
from collections.abc import Iterator

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from batch_doc_vqa_spark.operators import dedup_index  # noqa: E402
from batch_doc_vqa_spark.session import default_cpus, get_spark  # noqa: E402

VOCAB = [f"w{k}" for k in range(4000)]


def doc_text(seed: int, i: int) -> str:
    key = hashlib.sha256(f"inc:{seed}:{i}".encode()).digest()
    rng = random.Random(int.from_bytes(key[:8], "big"))
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(60, 160)))


def main() -> None:
    corpus_n = int(sys.argv[1]) if len(sys.argv) > 1 else 900_000
    snap_n = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    spark = get_spark("incprobe")

    def gen_df(n, tag, dup_of=None):
        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                rows = []
                for i in b["id"].to_numpy():
                    i = int(i)
                    if dup_of is not None and i % 100 == 3:
                        base = doc_text(1, i % dup_of).split()
                        base[5] = "mutated"  # planted near-dup of a corpus doc
                        rows.append((f"{tag}{i}", " ".join(base)))
                    else:
                        rows.append((f"{tag}{i}", doc_text(1 if dup_of is None else 2, i)))
                yield pd.DataFrame(rows, columns=["doc_id", "text"])

        return spark.range(0, n, numPartitions=2 * default_cpus()).mapInPandas(
            gen, schema="doc_id string, text string"
        )

    path = tempfile.mkdtemp(prefix="incidx_") + "/idx"
    t0 = time.perf_counter()
    dedup_index.build_dedup_index(gen_df(corpus_n, "c"), "doc_id", "text", path)
    t_build = time.perf_counter() - t0

    snap = gen_df(snap_n, "s", dup_of=corpus_n)
    t0 = time.perf_counter()
    pairs = dedup_index.incremental_dedup_pairs(
        spark, snap, "doc_id", "text", path, threshold=0.5, snapshot_id="probe1"
    )
    n_pairs = pairs.count()
    t_inc = time.perf_counter() - t0

    planted = sum(1 for i in range(snap_n) if i % 100 == 3)
    cross = pairs.filter(
        F.col("id_a").startswith("c") | F.col("id_b").startswith("c")
    ).count()
    assert cross == planted, f"recall loss: {cross}/{planted}"
    print(
        json.dumps(
            {
                "corpus": corpus_n,
                "snapshot": snap_n,
                "build_sec": round(t_build, 1),
                "inc_sec": round(t_inc, 1),
                "snap_docs_per_sec": round(snap_n / t_inc),
                "planted_crossdups": planted,
                "pairs_found": n_pairs,
                "cross_pairs_found": cross,
            }
        )
    )


if __name__ == "__main__":
    main()
