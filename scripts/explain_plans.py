"""Dump formatted physical plans for the headline queries — the review loop
for shuffle/broadcast/pushdown hygiene (run after changing any operator).

Checks (printed per query):
- PushedFilters / ReadSchema on parquet scans (pruning reaches the source)
- BroadcastHashJoin vs SortMergeJoin choices
- Exchange count (shuffles)
- WholeStageCodegen coverage
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from batch_doc_vqa_spark.session import get_spark  # noqa: E402

INTERESTING = [
    "q1_pricing_summary",
    "revenue_by_order",
    "region_rollup",
    "best_order_per_customer",
    "supplier_customer_match",
    "matching_pipeline",
    "dedup_exact",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "ann_cosine_topk",
    "pareto_parts",
    "events_hourly",
    "dedup_resolve_lsh",
    "validate_coerce",
    "cohort_stats",
    "pdf_text_extract",
    "corpus_filter",
    "chunk_documents",
    "url_dedup",
    "boilerplate_lines",
    "media_decode",
    "repetition_scores",
    "validate_strict",
    "contamination_report",
    "decontaminate",
    "pack_sequences",
    "training_recipe_v2",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "contamination_report_shuffle",
    "snapshot_diff",
    "incremental_dedup",
    # round 6: LM tier + tercile cut, temporal joins, portable HLL
    "lm_perplexity",
    "ppl_buckets",
    "events_asof_order",
    "events_in_windows",
    "hll_distinct_users",
    "quantile_sketch",
    "cms_heavy_hitters",
    # round 6b: inverted-index retrieval, shard delivery, map-side blocklist
    "bm25_topk",
    "shard_layout",
    "url_blocklist",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or INTERESTING
    spark = get_spark("explain", master="local[4]", shuffle_partitions=4)
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        n_bnl = len(re.findall(r"BroadcastNestedLoopJoin", plan))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        print(f"\n===== {name}: exchanges={n_exchange} bhj={n_bhj} smj={n_smj} bnlj={n_bnl}")
        for p in pushed[:4]:
            print(f"  pushed: [{p[:120]}]")
        if "--verbose" in sys.argv:
            print(plan)


if __name__ == "__main__":
    main()
