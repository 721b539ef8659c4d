"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[N].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>, "docs_per_sec": <extraction>}

The headline metric is the BASELINE.json one — extracted docs/sec over the
synthetic Common-Crawl-style pages table — plus wall-clock for the
representative relational/dedup/similarity queries on the driver's tables.
Run scripts/scaling_bench.py for the N-vs-4N parallelism evidence.

Methodology: every query's reps are INTERLEAVED across the suite (rep 0 of
all queries, then rep 1, …) with a spread-triggered outlier guard, so a
CPU-steal burst on this shared box cannot land in the committed record —
see run_interleaved.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from batch_doc_vqa_spark.functions.udfs import extract_udf  # noqa: E402
from batch_doc_vqa_spark.session import default_cpus, get_spark  # noqa: E402
from batch_doc_vqa_spark.sources.pages import pages_df, rows_for_sf  # noqa: E402

BENCH_QUERIES = [
    "q1_pricing_summary",
    "revenue_by_order",
    "region_rollup",
    "best_order_per_customer",
    "supplier_customer_match",
    "events_hourly",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "ann_cosine_topk",
    "doc_quality",
    "classifier_quality_score",
    "lm_perplexity",
    "lang_id",
    "fingerprint",
    "sessionize_events",
    "matching_pipeline",
    "winnow_fingerprints",
    "media_probe",
    "dedup_resolve",
    "ann_ivf_topk",
    "embedding_dup_pairs_lsh",
    "publish_gate",
    # round 3: the scale dedup composition, schema ladder, cohort pipeline,
    # and real-PDF extraction
    "dedup_resolve_lsh",
    "validate_coerce",
    "cohort_stats",
    "pdf_text_extract",
    "repetition_scores",
    "media_decode",
    "url_dedup",
    "boilerplate_lines",
    "chunk_documents",
    "deterministic_sample",
    "corpus_filter",
    "strip_boilerplate",
    "training_pipeline",
    "duplicate_spans",
    "dedup_spans_removed",
    "trigram_entropy",
    # round 4: strict ladder tier, decontamination pair, PII cascade
    "validate_strict",
    "contamination_report",
    "decontaminate",
    "pii_report",
    "pii_redact",
    "pack_sequences",
    "epoch_expand",
    "budget_select",
    "training_recipe_v2",
    "training_recipe_v3",
    "snapshot_diff",
    "ann_pq_topk",
    # round 5: cell-restricted residual PQ (the probe-bounded ANN tier),
    # decontamination shuffle fallback
    "ann_ivfpq_topk",
    "contamination_report_shuffle",
    # round 6: CCNet tercile cut over the LM scores; temporal joins
    "ppl_buckets",
    "events_asof_order_array",
    "host_pagerank",
    "semdedup",
    "events_asof_order",
    "events_in_windows",
    "hll_distinct_users",
    "quantile_sketch",
    "cms_heavy_hitters",
    "weighted_sample_docs",
    # round 6b: host connected components, inverted-index BM25, shard delivery,
    # map-side blocklist
    "host_components",
    "bm25_topk",
    "shard_layout",
    "url_blocklist",
    "stratified_split",
    "temperature_resample",
]


REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
# a query whose median/min spread exceeds this after the interleaved rounds
# gets extra reps — the outlier guard that keeps a single steal burst from
# landing in the committed record (VERDICT r4: pdf_text_extract recorded
# 4.82 s when the real warm cost was ~0.9 s because best-of-3 ran its reps
# back-to-back inside one burst)
NOISE_GUARD = float(os.environ.get("SPARK_GRAFT_BENCH_NOISE_GUARD", "3.0"))
EXTRA_REPS = 2


def run_interleaved(entries: list[tuple[str, callable]], reps: int = REPS):
    """Time the suite in interleaved ROUNDS (rep 0 of every query, then rep
    1 of every query, …) instead of back-to-back per-query reps.

    This sandbox is a shared box with bursty CPU steal (single timings swing
    2-3×, see .claude/skills/verify/SKILL.md). Back-to-back reps all sample
    the same noise window, so min-of-3 can still record a burst; interleaving
    separates a query's reps by a full suite pass (~1 min), so the min is
    taken across independent noise windows — the same methodology
    scripts/scaling_bench.py uses for the efficiency pairs.

    Returns ({name: min_sec}, {name: median/min noise band}). Queries whose
    spread still exceeds NOISE_GUARD after the rounds get EXTRA_REPS more
    samples before the min is taken.
    """
    samples: dict[str, list[float]] = {name: [] for name, _ in entries}
    for _ in range(reps):
        for name, fn in entries:
            t0 = time.perf_counter()
            fn()
            samples[name].append(time.perf_counter() - t0)
    for name, fn in entries:  # outlier guard
        ts = sorted(samples[name])
        if ts[len(ts) // 2] / ts[0] > NOISE_GUARD:
            for _ in range(EXTRA_REPS):
                t0 = time.perf_counter()
                fn()
                samples[name].append(time.perf_counter() - t0)
    timings, noise = {}, {}
    for name, _ in entries:
        ts = sorted(samples[name])
        timings[name] = round(ts[0], 3)
        noise[name] = round(ts[len(ts) // 2] / ts[0], 2) if ts[0] > 0 else 1.0
    return timings, noise


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    sf = entrymod._sf_of(sf_dir)
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)

    # headline: extraction throughput on the seeded pages table at this sf.
    # Input is materialized (a real job reads parquet) and UDF workers are
    # warmed (executors are long-lived on a cluster) before the timed pass.
    n_pages = rows_for_sf(sf)
    pages = pages_df(spark, n_pages, seed=42, partitions=cpus * 2).persist()
    pages.count()
    warm = pages_df(spark, cpus * 64, seed=7, partitions=cpus)
    warm.withColumn("_ex", extract_udf(F.col("html"))).select(F.length("_ex.text")).count()
    extracted = pages.withColumn("_ex", extract_udf(F.col("html"))).select(
        F.length("_ex.text").alias("n"), F.col("_ex.status")
    )
    n_rows = extracted.agg(F.count(F.lit(1)), F.sum("n")).collect()[0][0]

    entries: list[tuple[str, callable]] = [
        ("extract_pages", lambda: extracted.agg(F.count(F.lit(1)), F.sum("n")).collect())
    ]

    qs = entrymod.queries()

    def make_run(name):
        def run():
            df = qs[name](spark, sf_dir)
            # force evaluation of EVERY output column: a bare count(1) lets
            # Catalyst prune unused projections, so projection-only queries
            # (doc_quality, lang_id, fingerprint, winnow) would time a row
            # scan. xxhash64 over all columns keeps each expression in the
            # plan; try_sum because summing int64 hashes overflows under ANSI.
            df.agg(F.try_sum(F.xxhash64(*[F.col(c).cast("string") for c in df.columns]))).collect()

        return run

    entries += [(name, make_run(name)) for name in BENCH_QUERIES]

    # SimHash impl costing (VERDICT r3 #2): the oracle-checked simhash_pairs
    # entry above is the SQL+md5 verification tier; time the production
    # default (Arrow UDF) and the pure-JVM xxhash64 tier on the same input
    # so the sql-vs-udf tradeoff carries numbers, not prose.
    from batch_doc_vqa_spark.operators import dedup as _dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def make_impl_run(kwargs):
        def run():
            df = _dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3, **kwargs)
            df.agg(F.try_sum(F.xxhash64(*[F.col(c).cast("string") for c in df.columns]))).collect()

        return run

    entries += [
        ("simhash_pairs_udf", make_impl_run(dict(impl="udf"))),
        ("simhash_pairs_sql_xxh", make_impl_run(dict(impl="sql", base_hash="xxhash64"))),
    ]

    # BPE encode throughput over the CORPUS (round 6): the merge table is
    # learned ONCE on the seeded fixture outside the timed region (model
    # state, not per-run work — production amortizes training identically);
    # the timed run is the broadcast-vocab Arrow encode of every document.
    from batch_doc_vqa_spark.operators import subword as _subword
    from batch_doc_vqa_spark.sources.bpe_fixture import (
        BPE_MAX_WORDS as _BMW,
        BPE_MERGES as _BM,
        BPE_MIN_FREQ as _BMF,
        bpe_fixture_df as _bpe_fx,
    )

    _bpe_merges = _subword.learn_bpe(_bpe_fx(spark), "text", _BM, _BMW, _BMF)

    def bpe_corpus_run():
        df = _subword.bpe_token_counts(docs, "doc_id", "text", _bpe_merges)
        df.agg(F.try_sum(F.xxhash64(*[F.col(c).cast("string") for c in df.columns]))).collect()

    entries += [("bpe_corpus_counts", bpe_corpus_run)]

    timings, noise = run_interleaved(entries)
    docs_per_sec = round(n_rows / timings["extract_pages"], 1)
    pages.unpersist()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "bench_suite_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # per-query noise band: median/min across the interleaved
                # reps — >1.5 means the box was contended while this query
                # sampled; the committed value is the least-contended rep
                "noise_band": noise,
                "sf": sf,
                "docs_per_sec": docs_per_sec,
                "extract_docs": n_rows,
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
