"""Order-of-magnitude probe for the round-4 recipe chain (redact →
decontaminate → exact-dedup keep-one → chunk → pack) on a synthetic corpus
~40× the sf0.1 documents fixture, with PLANTED structure so correctness at
scale is asserted, not assumed:

- every 1000th doc embeds a benchmark snippet verbatim (decontamination
  must drop ALL of them — recall 1.0);
- every 500th doc is an exact copy of its predecessor (keep-one must
  collapse it);
- modulus-keyed PII injections (emails/phones) must all be rewritten;
- the packed layout must be gapless (max(start+n) == Σn).

Row i is a pure function of (seed, i) — partition-count independent.

Usage: python scripts/recipe_scale_probe.py [n_docs]   (default 200000)
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time
from collections.abc import Iterator

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from batch_doc_vqa_spark.operators import chunking, decontam, dedup  # noqa: E402
from batch_doc_vqa_spark.operators.packing import pack_sequences  # noqa: E402
from batch_doc_vqa_spark.operators.pii import redact_pii  # noqa: E402
from batch_doc_vqa_spark.session import default_cpus, get_spark  # noqa: E402

VOCAB = [f"w{k}" for k in range(4000)]
N_BENCH = 200


def bench_text(j: int) -> str:
    rng = random.Random(hashlib.sha256(f"bench:{j}".encode()).digest()[:8].hex())
    return " ".join(rng.choice(VOCAB) for _ in range(24))


def doc_text(seed: int, i: int) -> str:
    if i % 500 == 499:  # exact dup of predecessor
        return doc_text(seed, i - 1)
    key = hashlib.sha256(f"recipe:{seed}:{i}".encode()).digest()
    rng = random.Random(int.from_bytes(key[:8], "big"))
    words = [rng.choice(VOCAB) for _ in range(rng.randint(80, 200))]
    text = " ".join(words)
    if i % 1000 == 7:  # planted benchmark leak
        text = text + " " + bench_text(i % N_BENCH)
    if i % 11 == 0:  # PII
        text += f" contact user{i}@example.com"
    if i % 13 == 0:
        text += " call 555-867-5309"
    return text


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark("recipe_probe")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            yield pd.DataFrame({"doc_id": ids, "text": [doc_text(1, int(i)) for i in ids]})

    docs = (
        spark.range(0, n, numPartitions=2 * default_cpus())
        .mapInPandas(gen, schema="doc_id long, text string")
        .persist()
    )
    n_docs = docs.count()  # materialize: time the recipe, not the generator
    bench = spark.createDataFrame(
        [(f"b{j}", bench_text(j)) for j in range(N_BENCH)], "bench_id string, bench_text string"
    )

    t0 = time.perf_counter()
    red = redact_pii(docs, "doc_id", "text").localCheckpoint(eager=True)
    n_redactions = red.agg(F.sum("n_redactions")).collect()[0][0]
    kept = decontam.decontaminate(
        red.select("doc_id", "text"), "doc_id", "text", bench, "bench_id", "bench_text", n=8
    ).localCheckpoint(eager=True)
    canon = (
        dedup.exact_dedup(kept, "doc_id", "text")
        .select(F.col("canonical_id").alias("doc_id"))
        .distinct()
    )
    base = kept.join(canon, "doc_id").select("doc_id", "text")
    chunks = chunking.chunk_documents(base, "doc_id", "text", 128, 16)
    keyed = chunks.withColumn("_k", F.col("doc_id") * 4096 + F.col("chunk_idx"))
    packed = pack_sequences(keyed, "_k", "n_tokens", 2048, block_size=256 * 4096)
    agg = packed.agg(
        F.count(F.lit(1)).alias("chunks"),
        F.sum("n_tokens").alias("tokens"),
        F.max(F.col("start_offset") + F.col("n_tokens")).alias("laid"),
        F.countDistinct("doc_id").alias("docs_out"),
    ).collect()[0]
    dt = time.perf_counter() - t0

    # planted-structure assertions
    kept_ids = set(r["doc_id"] for r in kept.select("doc_id").collect())
    leaks = [i for i in range(n) if i % 1000 == 7]
    leaked_kept = [i for i in leaks if i in kept_ids]
    assert not leaked_kept, f"decontamination missed {len(leaked_kept)} planted leaks"
    dups = [i for i in range(n) if i % 500 == 499 and i not in leaks and (i - 1) not in leaks]
    base_ids = set(r["doc_id"] for r in base.select("doc_id").collect())
    for i in dups:  # keep-one: exactly the min id of each planted pair survives
        assert (i - 1) in base_ids and i not in base_ids, i
    assert agg["laid"] == agg["tokens"], "packed layout must be gapless"
    assert n_redactions >= (n // 11) + (n // 13) - 2

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "recipe_sec": round(dt, 1),
                "docs_per_sec": round(n_docs / dt, 1),
                "n_redactions": int(n_redactions),
                "planted_leaks_dropped": len(leaks),
                "exact_dup_copies_planted": len(dups),
                "docs_surviving": int(agg["docs_out"]),
                "chunks": int(agg["chunks"]),
                "tokens_packed": int(agg["tokens"]),
                "gapless_layout": True,
            }
        )
    )


if __name__ == "__main__":
    main()
