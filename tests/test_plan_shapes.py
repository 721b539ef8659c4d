"""Physical-plan hygiene regressions: the properties that decide whether a
query survives a 100× scale-up — pushdown reaching the parquet scan, column
pruning, broadcast (not nested-loop / sort-merge) joins for small dims, and
no accidental extra shuffles. Catching a regression here is cheaper than
finding it in a 100 TB run."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = entrymod.queries()

    def plan_of(name: str) -> str:
        df = qs[name](spark, sf_dir)
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")

    return plan_of


def _n_exchanges(p: str) -> int:
    """Exchange count EXCLUDING the scan-parallelism-repair repartition
    (r7: _t() hash-repartitions single-row-group fixture tables on their
    primary key, labeled REPARTITION_BY_NUM/_COL — size-gated off at scale)."""
    return len(re.findall(r"\(\d+\) Exchange", p)) - len(
        re.findall(r"REPARTITION_BY_(?:COL|NUM)", p)
    )


def test_q1_pushdown_and_pruning(plans):
    p = plans("q1_pricing_summary")
    # the shipdate filter must reach the parquet scan, not run post-scan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate[^\]]*LessThanOrEqual", p), p[:2000]
    # column pruning: the scan must not read all 16 lineitem columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    # <= 7: the 6 needed columns plus l_orderkey, the scan-repair
    # repartition key (_t(); gated off at scale, where the scan reads 6)
    assert m and len(m.group(1).split(",")) <= 7, m.group(1) if m else "no ReadSchema"


def test_small_dim_joins_broadcast(plans):
    for q in ("revenue_by_order", "region_rollup", "supplier_customer_match"):
        p = plans(q)
        assert "BroadcastHashJoin" in p, q
        assert "SortMergeJoin" not in p, q
        assert "BroadcastNestedLoopJoin" not in p, q


def test_extraction_path_is_shuffle_lean(plans):
    # salted repartition = exactly one exchange; extraction itself is map-side.
    # formatted explain lists every node twice (tree + detail) — count node
    # headers "(k) Exchange", not raw word occurrences.
    p = plans("extract_main_content")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:1500]
    # 16 buckets on a 4-partition session: 4 tasks, not one per bucket
    assert re.search(r"hashpartitioning\(bucket#\d+, 4\)", p), p[:1500]
    assert "ArrowEvalPython" in p  # extraction is Arrow-batched, not row Python
    assert "BatchEvalPython" not in p  # never a row-at-a-time Python UDF


def test_driver_built_frames_are_local_scans(plans):
    # frames built from driver-side lists (classifier weights, sweep axes)
    # go through pandas: Arrow-decoded in the JVM as a LocalTableScan, never
    # a Scan ExistingRDD whose Python-RDD tasks run inside the action
    for q in ("classifier_quality_score", "sweep_grid"):
        p = plans(q)
        assert "ExistingRDD" not in p and "LocalTableScan" in p, q


def test_minhash_band_join_not_nested_loop(plans):
    p = plans("minhash_lsh_pairs")
    # the band self-join must be a hash join on the band key, never BNLJ
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_textstats_stay_jvm_side(plans):
    # lang_id/doc_quality/fingerprint are pure column expressions: no Python
    # eval nodes anywhere in the plan
    for q in ("lang_id", "doc_quality", "fingerprint", "token_counts"):
        p = plans(q)
        assert "EvalPython" not in p and "MapInPandas" not in p, q
        # single parquet scan, no shuffle: per-row expressions only
        assert _n_exchanges(p) == 0, q


def test_round3_projection_ops_are_shuffle_free_and_jvm(plans):
    # the schema ladder, chunk fan-out and deterministic sample are pure
    # per-row plans: zero exchanges, zero Python
    for q in ("validate_coerce", "chunk_documents", "deterministic_sample"):
        p = plans(q)
        assert "EvalPython" not in p and "MapInPandas" not in p, q
        assert _n_exchanges(p) == 0, q


def test_deterministic_sample_filter_before_scan_output(plans):
    # the hash-membership filter must run inside the scan stage (no
    # materialize-then-filter): plan shows Filter directly over the scan
    p = plans("deterministic_sample")
    assert re.search(r"Filter.*\n.*Scan parquet|\(\d+\) Filter", p), p[:1200]


def test_cohort_stats_small_dims_broadcast(plans):
    p = plans("cohort_stats")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pdf_and_media_paths_arrow_batched_no_shuffle(plans):
    for q in ("pdf_text_extract", "media_decode"):
        p = plans(q)
        assert "BatchEvalPython" not in p, q  # never row-at-a-time Python
        assert "MapInPandas" in p or "ArrowEvalPython" in p, q
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, q  # map-only


def test_every_media_operator_is_map_only(spark):
    """The WHOLE media family is map-only by default — zero forced Exchange
    (VERDICT r3 #7: sample_frames' unconditional repartition made opt-in)."""
    from batch_doc_vqa_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [("m1", b"payload", "image")], "media_id string, payload binary, kind string"
    )
    ops = {
        "probe": mm.probe_media(df, "media_id", "payload", "kind"),
        "frames": mm.sample_frames(df, "media_id", "payload"),
        "resize": mm.resize_media(df, "media_id", "payload"),
        "decode": mm.decode_media(df, "media_id", "payload", "kind"),
        "features": mm.extract_features(df, "media_id", "payload"),
        "base64": mm.base64_payloads(df, "media_id", "payload"),
    }
    for name, out in ops.items():
        p = spark._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, (name, p[:1200])
        assert "BatchEvalPython" not in p, name
    # the opt-in still works when the caller knows the input layout is bad
    forced = mm.sample_frames(df, "media_id", "payload", repartition_to=4)
    p = spark._jvm.PythonSQLUtils.explainString(forced._jdf.queryExecution(), "formatted")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:1200]


def test_boilerplate_lines_single_aggregation_shuffle(plans):
    # explode → partial agg → ONE exchange on (host, line) → final agg
    p = plans("boilerplate_lines")
    assert "EvalPython" not in p and "MapInPandas" not in p
    assert _n_exchanges(p) == 1, p[:1500]


def test_url_dedup_single_shuffle_on_canonical_key(plans):
    p = plans("url_dedup")
    assert "EvalPython" not in p and "MapInPandas" not in p
    assert _n_exchanges(p) == 1, p[:1500]


@pytest.mark.parametrize(
    "query,bound",
    [
        ("ann_ivf_topk", 3),
        ("ann_pq_topk", 5),
        ("ann_pq_trained_topk", 5),
        ("ann_ivfpq_topk", 5),
        ("semdedup", 1),
    ],
)
def test_ann_shuffle_counts_bounded(plans, query, bound):
    # the ANN tiers share one encoder, ADC ranker, re-ranker and centroid
    # assignment (operators/similarity.py): a change to a shared helper
    # must not add a shuffle to any of them unnoticed
    assert _n_exchanges(plans(query)) <= bound, query


def test_scan_repair_gate_counts_part_files(spark, tmp_path):
    """_tp's size gate reads a multi-file parquet directory as one split per
    part file (no repair exchange) and a single file of the same rows as one
    split (repair exchange); a remote or missing path counts as adequately
    split."""
    docs = spark.range(4000).selectExpr("id AS doc_id", "repeat('x', 50) AS text")
    docs.repartition(8).write.parquet(str(tmp_path / "multi" / "documents.parquet"))
    docs.coalesce(1).write.parquet(str(tmp_path / "single" / "documents.parquet"))

    def repaired(sf_dir: str) -> bool:
        df = entrymod._tp(spark, sf_dir, "documents")
        return "RepartitionByExpression" in df._jdf.queryExecution().analyzed().toString()

    assert spark.sparkContext.defaultParallelism == 4
    assert entrymod._planned_scan_splits(spark, str(tmp_path / "multi" / "documents.parquet")) == 8
    assert not repaired(str(tmp_path / "multi"))
    assert repaired(str(tmp_path / "single"))
    assert entrymod._planned_scan_splits(spark, "s3a://bucket/sf1/documents.parquet") is None
    assert entrymod._planned_scan_splits(spark, str(tmp_path / "missing.parquet")) is None
