"""IVF×PQ scale probe: 1M synthetic 64-dim vectors through the composed
index vs flat PQ at identical m/n_codes/R — evidence that the cell-
restricted ADC removes the per-query corpus scan (VERDICT r4 #2's named
scale-killer).

Corpus is generated IN-PLAN and deterministically (value = pure function of
(id, dim) via xxhash64 — no driver-side data, no RNG), then persisted so
both tiers read identical bytes. Run on an idle box; prints one JSON line.

Usage: python scripts/ivfpq_scale_probe.py [n_vectors]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from batch_doc_vqa_spark.operators import similarity  # noqa: E402
from batch_doc_vqa_spark.session import default_cpus, get_spark  # noqa: E402

DIM = 64


def synth_vectors(spark, n: int):
    """(vec_id, embedding): deterministic pseudo-random doubles in [0,1)."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: (
                F.pmod(F.xxhash64(F.concat_ws("#", F.col("id").cast("string"), j.cast("string"))), F.lit(100000))
                / F.lit(100000.0)
            ),
        ).alias("embedding"),
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = default_cpus()
    spark = get_spark("ivfpq-probe", master=f"local[{cpus}]", shuffle_partitions=cpus)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/vecs.parquet"
        synth_vectors(spark, n).repartition(cpus * 2).write.parquet(path)
        emb = spark.read.parquet(path)
        queries = emb.filter(F.col("vec_id") % (n // 10) == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )

        def run(fn):
            t0 = time.perf_counter()
            rows = fn().collect()
            return round(time.perf_counter() - t0, 1), len(rows)

        kw = dict(m=8, n_codes=64, k=10, dim=DIM, rerank=100)
        # flat PQ: monolithic — encode (the build half) reruns inside every
        # query call; the one number conflates both, which is exactly the
        # operational problem IVF×PQ's build/query split removes
        t_flat, n_flat = run(lambda: similarity.pq_topk(emb, queries, **kw))

        # IVF×PQ: build ONCE (the offline index write), then per-batch query
        t0 = time.perf_counter()
        index = similarity.ivfpq_build(emb, n_centroids=64, m=8, n_codes=64, dim=DIM)
        index["codes"] = index["codes"].repartition(cpus, "cent_id").persist()
        index["codes"].count()  # materialize the inverted lists
        t_build = round(time.perf_counter() - t0, 1)
        t_q1, n_ivf = run(
            lambda: similarity.ivfpq_query(index, queries, nprobe=8, k=10, rerank=100)
        )
        t_q2, _ = run(
            lambda: similarity.ivfpq_query(index, queries, nprobe=8, k=10, rerank=100)
        )
        print(
            json.dumps(
                {
                    "metric": "ivfpq_scale_probe",
                    "n_vectors": n,
                    "flat_pq_end_to_end_sec": t_flat,
                    "ivfpq_build_sec": t_build,
                    "ivfpq_query_batch_sec": [t_q1, t_q2],
                    "flat_rows": n_flat,
                    "ivfpq_rows": n_ivf,
                    "nprobe_fraction": 8 / 64,
                    "cpus": cpus,
                }
            )
        )


if __name__ == "__main__":
    main()
