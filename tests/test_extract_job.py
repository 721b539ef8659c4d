"""End-to-end extraction job: byte-identity vs oracle, lineage, resume.

The resume test is the graft analogue of the reference's incremental
checkpoint + idempotent backfill
(/root/reference/src/batch_doc_vqa/openrouter/inference.py:2206-2207,
api.py:501-560): run on a prefix, rerun on the full input, assert the second
run only touched the remainder and the final table equals a one-shot run.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_doc_vqa_spark import __version__ as ENGINE_VERSION
from batch_doc_vqa_spark.functions import extract_payload
from batch_doc_vqa_spark.plans import (
    committed_publish_ids,
    config_fingerprint,
    read_lineage,
    read_results,
    run_extraction,
    salted_host_stats,
)
from batch_doc_vqa_spark.sources import page_row, pages_df

N = 300
SEED = 42


def test_job_end_to_end(spark, tmp_path):
    pages = pages_df(spark, N, seed=SEED)
    summary = run_extraction(spark, pages, str(tmp_path / "out"), run_id="r1", num_buckets=8)
    assert summary["n_docs"] == N
    assert summary["n_failed"] == 0
    assert summary["n_partitions"] <= 8

    results = read_results(spark, str(tmp_path / "out"))
    assert results.count() == N
    assert results.select("url").distinct().count() == N

    # byte-identity per url against the oracle kernel, on a sample
    got = {r["url"]: r["text"] for r in results.collect()}
    for i in range(0, N, 7):
        row = page_row(SEED, i)
        oracle = extract_payload(row["html"])
        assert got[row["url"]] == oracle.text, row["url"]
        assert got[row["url"]].encode("utf-8") == oracle.text.encode("utf-8")

    # lineage totals reconcile with the results table
    lin = read_lineage(spark, str(tmp_path / "out"))
    tot = lin.agg(F.sum("n_docs").alias("d"), F.sum("n_bytes").alias("b")).collect()[0]
    assert tot["d"] == N
    assert tot["b"] == results.agg(F.sum("n_input_bytes")).collect()[0][0]
    # bucket ids are data-defined: every result bucket appears in lineage
    assert lin.select("bucket").distinct().count() == results.select("bucket").distinct().count()


def test_strict_mode_routes_failures_to_lineage(spark, tmp_path):
    pages = pages_df(spark, 50, seed=SEED)
    # corrupt some payloads so extraction yields nothing for them
    broken = pages.withColumn(
        "html",
        F.when(F.xxhash64("url") % 5 == 0, F.lit(b"")).otherwise(F.col("html")),
    )
    out = str(tmp_path / "strict")
    s = run_extraction(spark, broken, out, run_id="strictrun", num_buckets=4, strict=True)
    assert s["n_failed"] > 0
    res = read_results(spark, out)
    failed = res.filter(F.col("status") == "failed")
    assert failed.count() == s["n_failed"]
    assert failed.filter(F.col("text").isNotNull()).count() == 0  # fail-row: no text
    lin = read_lineage(spark, out)
    urls = [u for r in lin.collect() for u in r["failure_urls"]]
    assert len(urls) == s["n_failed"]
    # lenient mode on the same input keeps the rows as 'empty'-free successes
    out2 = str(tmp_path / "lenient")
    s2 = run_extraction(spark, broken, out2, run_id="lenientrun", num_buckets=4, strict=False)
    assert s2["n_failed"] == 0


def test_failure_urls_are_the_first_hundred_in_sorted_order(spark, tmp_path):
    """A bucket with more than 100 failures records the first 100 failed
    urls in sorted order, not in whatever order the shuffle delivered."""
    pages = pages_df(spark, 130, seed=SEED).withColumn("html", F.lit(b""))
    out = str(tmp_path / "many_failed")
    s = run_extraction(spark, pages, out, run_id="f", num_buckets=1, strict=True)
    assert s["n_failed"] == 130
    failed = sorted(r["url"] for r in read_results(spark, out).collect())
    (lineage,) = read_lineage(spark, out).collect()
    assert lineage["n_failed"] == 130
    assert lineage["failure_urls"] == failed[:100]


def test_resume_is_idempotent_and_incremental(spark, tmp_path):
    full = pages_df(spark, N, seed=SEED)
    prefix = full.filter(F.xxhash64("url") % 2 == 0)  # deterministic half
    out = str(tmp_path / "resume")

    s1 = run_extraction(spark, prefix, out, run_id="runA", num_buckets=8)
    s2 = run_extraction(spark, full, out, run_id="runB", num_buckets=8)
    assert s1["n_docs"] + s2["n_docs"] == N
    assert s2["n_docs"] < N  # second run did only the remainder

    # third run: nothing left to do, so nothing is committed
    s3 = run_extraction(spark, full, out, run_id="runC", num_buckets=8)
    assert s3["n_docs"] == 0
    assert committed_publish_ids(spark, out) == ["runA", "runB"]

    resumed = read_results(spark, out)
    assert resumed.count() == N
    assert resumed.select("url").distinct().count() == N

    # final table identical to a one-shot run (url → text bytes)
    oneshot = str(tmp_path / "oneshot")
    run_extraction(spark, full, oneshot, run_id="solo", num_buckets=8)
    a = {r["url"]: r["text"] for r in resumed.collect()}
    b = {r["url"]: r["text"] for r in read_results(spark, oneshot).collect()}
    assert a == b


def test_salted_partitioning_bounds_hot_host(spark, tmp_path):
    pages = pages_df(spark, N, seed=SEED)
    stats = salted_host_stats(pages)
    rows = {r["host"]: r["n_rows"] for r in stats.collect()}
    assert sum(rows.values()) == N
    hottest = max(rows.values())
    assert hottest > N * 0.1  # the synthetic skew is real

    # salted extraction: hot host spread over multiple buckets
    out = str(tmp_path / "salted")
    run_extraction(spark, pages, out, run_id="rs", num_buckets=16, target_rows_per_task=10)
    res = read_results(spark, str(tmp_path / "salted"))
    hot_host = max(rows, key=rows.get)
    buckets = (
        res.filter(F.col("url").contains(hot_host)).select("bucket").distinct().count()
    )
    assert buckets > 1  # not funneled into a single task
    assert res.count() == N


def test_salted_host_stats_pools_case_userinfo_and_port(spark):
    """The salting key is the lowercased host without userinfo or port, also
    for a url with no path: these three urls are one host."""
    urls = ("http://a.com", "HTTP://A.com/x", "http://u:p@a.com:8080/y")
    df = spark.createDataFrame([(u, b"<p>x</p>") for u in urls], "url string, html binary")
    assert [(r["host"], r["n_rows"]) for r in salted_host_stats(df).collect()] == [("a.com", 3)]


def test_task_count_is_min_of_buckets_and_shuffle_partitions(spark):
    """The bucket count is the logical key; the repartition runs
    min(num_buckets, spark.sql.shuffle.partitions) tasks (4 in this
    session), on the plain and on the salted path alike."""
    from batch_doc_vqa_spark.plans.skew import with_salted_partition

    pages = pages_df(spark, 60, seed=SEED)
    for target in (None, 10):
        wide = with_salted_partition(pages, 32, target_rows_per_task=target)
        narrow = with_salted_partition(pages, 3, target_rows_per_task=target)
        assert wide.rdd.getNumPartitions() == 4, target
        assert narrow.rdd.getNumPartitions() == 3, target
        # bucket ids still span num_buckets, not the task count
        assert wide.agg(F.max("bucket")).collect()[0][0] > 4, target
        assert {r["bucket"] for r in narrow.select("bucket").distinct().collect()} <= {0, 1, 2}


def test_lineage_granularity_is_buckets_not_tasks(spark, tmp_path):
    """The same pages under shuffle.partitions=1 and =4 commit the same
    url → text bytes and the same per-bucket lineage rows."""
    pages = pages_df(spark, 120, seed=SEED)
    committed = {}
    try:
        for n in ("1", "4"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            out = str(tmp_path / f"sp{n}")
            run_extraction(spark, pages, out, run_id="r", num_buckets=8)
            texts = {r["url"]: r["text"].encode("utf-8") for r in read_results(spark, out).collect()}
            lineage = sorted(
                tuple(r)
                for r in read_lineage(spark, out).select("bucket", "n_docs", "n_bytes", "n_failed").collect()
            )
            committed[n] = (texts, lineage)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert committed["1"] == committed["4"]
    assert len(committed["4"][0]) == 120 and len(committed["4"][1]) == 8


def test_lineage_carries_config_identity(spark, tmp_path):
    """X10 reproducibility guard: lineage rows identify the exact job config —
    two runs with different extractor settings have different config hashes,
    identical configs hash identically (reference run_manager.py:66-148)."""
    out = str(tmp_path / "cfg")
    pages = pages_df(spark, 60, seed=SEED)
    run_extraction(spark, pages, out, run_id="lenient1", num_buckets=4)
    run_extraction(spark, pages_df(spark, 90, seed=SEED), out, run_id="strict1",
                   num_buckets=4, strict=True)
    lin = read_lineage(spark, out).select("run_id", "config_hash", "config_json", "engine_version")
    by_run = {r["run_id"]: r for r in lin.distinct().collect()}
    assert by_run["lenient1"]["config_hash"] != by_run["strict1"]["config_hash"]
    assert '"strict":true' in by_run["strict1"]["config_json"]
    assert by_run["lenient1"]["engine_version"]
    # same config => same hash (pure content hash, no wall-clock/uuid inputs)
    assert config_fingerprint({"a": 1}) == config_fingerprint({"a": 1})
    assert config_fingerprint({"a": 1})[1] != config_fingerprint({"a": 2})[1]


def test_resume_survives_crashed_first_run_directory(spark, tmp_path):
    """A first run that crashed after creating the results directory but
    before committing any data must not kill the retry: an unreadable/empty
    store is an empty done-set."""
    import os

    out = str(tmp_path / "crashed")
    os.makedirs(f"{out}/results")  # what a dead first attempt leaves behind
    s = run_extraction(spark, pages_df(spark, 40, seed=SEED), out, run_id="retry1", num_buckets=4)
    assert s["n_docs"] == 40 and s["n_failed"] == 0
    assert read_results(spark, out).count() == 40


def test_run_scoped_readback_is_partition_pruned(spark, tmp_path):
    """Both stores are run_id-partitioned, and a run_id filter on the
    committed results (the done-set reader) touches only THIS run's
    run_id=... directory, not every prior run's files — the
    O(corpus)-per-incremental-run fix (VERDICT r3 #1). Each run's lineage
    rows count only that run's docs."""
    import os

    out = str(tmp_path / "pp")
    run_extraction(spark, pages_df(spark, 60, seed=SEED), out, run_id="runA", num_buckets=4)
    run_extraction(spark, pages_df(spark, 120, seed=SEED), out, run_id="runB", num_buckets=4)

    # physical layout: hive-style run_id partitions on BOTH stores
    assert sorted(d for d in os.listdir(f"{out}/results") if d.startswith("run_id=")) == [
        "run_id=runA", "run_id=runB",
    ]
    assert sorted(d for d in os.listdir(f"{out}/lineage") if d.startswith("run_id=")) == [
        "run_id=runA", "run_id=runB",
    ]

    # a run_id filter on read_results (the committed store the done-set
    # reads) prunes at the directory level: partition filter present
    scan = read_results(spark, out).filter(F.col("run_id") == "runB")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "run_id" in plan.split("PartitionFilters", 1)[1]
    # pruning is effective: runB only processed the 60-doc remainder
    assert scan.count() == 60
    # partition column read back as string (type inference disabled)
    assert dict(scan.dtypes)["run_id"] == "string"
    # runB's lineage counts only the docs runB extracted
    assert sum(r["n_docs"] for r in read_lineage(spark, out).filter(F.col("run_id") == "runB").collect()) == 60


def test_publish_gate_quarantines_invalid_rows(spark, tmp_path):
    """S11: publish splits clean vs quarantined; nothing silently dropped."""
    from batch_doc_vqa_spark.plans import publish_run

    df = spark.createDataFrame(
        [
            (1, "a perfectly clean row", 1.0, '{"k": 1}'),
            (2, "", 2.0, '{"k": 2}'),                          # empty
            (3, "write to bob@example.com", 3.0, '{"k": 3}'),  # pii
            (4, "clean", float("nan"), '{"k": 4}'),            # non-finite
            (5, "clean", 5.0, "{broken"),                      # bad json
        ],
        "id long, text string, score double, props string",
    )
    out = str(tmp_path / "pub")
    counts = publish_run(spark, df, out, text_col="text",
                         numeric_cols=("score",), json_cols=("props",))
    assert (counts["published"], counts["quarantined"]) == (1, 4)
    quar = spark.read.parquet(f"{out}/quarantine")
    reasons = {r["id"]: r["reject_reason"] for r in quar.collect()}
    assert reasons == {2: "empty", 3: "pii_email", 4: "non_finite", 5: "bad_json"}
    pub = spark.read.parquet(f"{out}/published")
    assert [r["id"] for r in pub.collect()] == [1]
    assert "reject_reason" not in pub.columns


def test_publish_counts_are_per_run_not_cumulative(spark, tmp_path):
    """Two publishes into one dir each report THEIR OWN rows (no read-back
    of the cumulative tables)."""
    from batch_doc_vqa_spark.plans import publish_run

    out = str(tmp_path / "pub2")
    first = spark.createDataFrame(
        [(1, "clean row one"), (2, "")], "id long, text string"
    )
    second = spark.createDataFrame(
        [(3, "clean row two"), (4, "clean row three"), (5, "")], "id long, text string"
    )
    c1 = publish_run(spark, first, out, text_col="text", run_id="pubA")
    c2 = publish_run(spark, second, out, text_col="text", run_id="pubB")
    assert c1 == {"published": 1, "quarantined": 1, "run_id": "pubA"}
    assert c2 == {"published": 2, "quarantined": 1, "run_id": "pubB"}  # NOT 3/2 cumulative
    # the tables themselves are cumulative across runs
    from batch_doc_vqa_spark.plans import read_published, read_quarantine
    assert read_published(spark, out).count() == 3
    assert read_quarantine(spark, out).count() == 2


def test_backfill_merge_rewrites_only_candidate_partitions(spark, tmp_path):
    """MERGE-shaped enrichment: untouched bucket directories stay
    byte-identical; only buckets with cost-receiving rows are rewritten;
    rerun is a no-op (openrouter/api.py:501-560 analogue at scale)."""
    import hashlib
    import os

    from batch_doc_vqa_spark.plans.enrich import backfill_costs_merge

    tdir = str(tmp_path / "results")
    rows = [
        # bucket 0: one pending-cost row that WILL receive a cost
        (0, "u0", "gen-0", None), (0, "u1", "gen-1", 0.5),
        # bucket 1: pending row whose gid has NO incoming cost → untouched
        (1, "u2", "gen-9", None), (1, "u3", None, None),
        # bucket 2: nothing pending → untouched
        (2, "u4", "gen-4", 0.25),
    ]
    spark.createDataFrame(
        rows, "bucket int, url string, generation_id string, actual_cost double"
    ).write.partitionBy("bucket").parquet(tdir)

    def fingerprint(bucket: int) -> dict[str, str]:
        d = f"{tdir}/bucket={bucket}"
        return {
            f: hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }

    before = {b: fingerprint(b) for b in (1, 2)}
    costs = spark.createDataFrame([("gen-0", 0.125)], "generation_id string, actual_cost double")
    out = backfill_costs_merge(spark, tdir, costs, "bucket")
    assert out["rewritten_partitions"] == 1 and out["merged_rows"] == 2
    # untouched buckets: identical file names AND identical bytes
    assert {b: fingerprint(b) for b in (1, 2)} == before
    got = {r["url"]: r["actual_cost"] for r in spark.read.parquet(tdir).collect()}
    assert got == {"u0": 0.125, "u1": 0.5, "u2": None, "u3": None, "u4": 0.25}
    # idempotent: second run finds no candidate×cost matches → zero rewrites
    assert backfill_costs_merge(spark, tdir, costs, "bucket") == {
        "rewritten_partitions": 0, "merged_rows": 0,
    }


def test_publish_commit_is_atomic_under_kill_between_writes(spark, tmp_path):
    """A crash anywhere between the two table writes and the commit marker
    must leave the archive readers blind to the torn run (VERDICT r3 #3);
    a retry of the same run_id then commits idempotently."""
    import pytest

    from batch_doc_vqa_spark.plans import publish_run, read_published, read_quarantine

    out = str(tmp_path / "atomic")
    df = spark.createDataFrame(
        [(1, "clean row"), (2, ""), (3, "also clean")], "id long, text string"
    )
    # commit a first healthy run so the readers have a real archive to protect
    ok = publish_run(spark, df, out, text_col="text", run_id="good")
    assert (ok["published"], ok["quarantined"]) == (2, 1)

    # crash 1: after the published half, before quarantine — torn run
    with pytest.raises(RuntimeError, match="fault injection"):
        publish_run(spark, df, out, text_col="text", run_id="torn",
                    _crash_before_commit="published")
    # crash 2: after BOTH halves, before the marker — still a torn run
    with pytest.raises(RuntimeError, match="fault injection"):
        publish_run(spark, df, out, text_col="text", run_id="torn2",
                    _crash_before_commit="quarantine")

    # the torn runs' bytes exist on disk … but no reader ever observes them
    import os
    assert os.path.isdir(f"{out}/published/run_id=torn")
    assert os.path.isdir(f"{out}/quarantine/run_id=torn2")
    assert {r["run_id"] for r in read_published(spark, out).collect()} == {"good"}
    assert {r["run_id"] for r in read_quarantine(spark, out).collect()} == {"good"}
    assert read_published(spark, out).count() == 2

    # retrying the torn run commits it — idempotent overwrite, exact counts
    retried = publish_run(spark, df, out, text_col="text", run_id="torn")
    assert (retried["published"], retried["quarantined"]) == (2, 1)
    assert read_published(spark, out).count() == 4
    assert {r["run_id"] for r in read_published(spark, out).collect()} == {"good", "torn"}


def test_publish_gate_quarantines_stub_decoded_media(spark, tmp_path):
    """Strict multimodal contract: stub-decoded rows never publish."""
    from batch_doc_vqa_spark.operators.multimodal import probe_media
    from batch_doc_vqa_spark.plans import publish_run

    media = spark.createDataFrame(
        [("m1", b"payload-bytes", "image"), ("m2", None, "image")],
        "media_id string, payload binary, kind string",
    )
    meta = probe_media(media, "media_id", "payload", "kind")
    out = str(tmp_path / "mediapub")
    counts = publish_run(spark, meta, out, text_col=None, decode_status_col="decode_status")
    assert (counts["published"], counts["quarantined"]) == (0, 2)
    reasons = {
        r["media_id"]: r["reject_reason"]
        for r in spark.read.parquet(f"{out}/quarantine").collect()
    }
    assert reasons == {"m1": "stub_decode", "m2": "stub_decode"}


def test_param_sweep_grid_and_runner(spark):
    """X11: axis parse rules (normalize, dedup, reject dupes), Cartesian grid
    in axis order, and the run_sweep driver loop feeding A17 aggregation."""
    import pytest as _pytest

    from batch_doc_vqa_spark.plans import build_condition_grid, build_sweep_axes, parse_sweep_axis, run_sweep

    ax = parse_sweep_axis("Top-K = 10, 20,10 ,40")
    assert ax.name == "top_k" and ax.values == (10, 20, 40)
    with _pytest.raises(ValueError):
        parse_sweep_axis("no_equals_sign")
    with _pytest.raises(ValueError):
        build_sweep_axes(["a=1", "a=2"])  # duplicate axis

    axes = build_sweep_axes(["temperature=0.0,0.5", "top_k=10,20"])
    grid = build_condition_grid(axes)
    assert grid == [
        {"temperature": 0.0, "top_k": 10}, {"temperature": 0.0, "top_k": 20},
        {"temperature": 0.5, "top_k": 10}, {"temperature": 0.5, "top_k": 20},
    ]

    runs = run_sweep(spark, axes, lambda cond, t: {"metric": cond["top_k"] + t}, trials=2)
    agg = {(r["temperature"], r["top_k"]): r["m"] for r in
           runs.groupBy("temperature", "top_k").agg(F.avg("metric").alias("m")).collect()}
    assert agg[(0.0, 10)] == 10.5 and agg[(0.5, 20)] == 20.5


def test_salted_equi_join_matches_plain_join(spark):
    """Salting must not change join semantics — only the key distribution."""
    from batch_doc_vqa_spark.plans.skew import salted_equi_join

    # 90% of the big side shares one key (the mega-key scenario)
    big = spark.createDataFrame(
        [(i, 1 if i % 10 else 2, f"u{i}") for i in range(1000)], "row_id long, k long, src string"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")], "k long, label string")
    plain = {(r["row_id"], r["label"]) for r in big.join(dim, "k").collect()}
    salted = salted_equi_join(big, dim, "k", n_salts=8, salt_src="src")
    got = {(r["row_id"], r["label"]) for r in salted.collect()}
    assert got == plain and len(got) == 1000
    # the mega-key actually spreads: >1 distinct salt among its rows
    spread = (
        big.filter(F.col("k") == 1)
        .withColumn("_salt", F.pmod(F.xxhash64("src"), F.lit(8)))
        .select("_salt").distinct().count()
    )
    assert spread > 1


def test_jsonl_pages_roundtrip_and_extract(spark, tmp_path):
    """JSONL interchange: write pages as JSONL+base64, read back with explicit
    schema, payload bytes identical, extraction output identical."""
    from batch_doc_vqa_spark.sources import read_pages_jsonl, write_pages_jsonl

    pages = pages_df(spark, 80, seed=SEED)
    path = str(tmp_path / "pages_jsonl")
    write_pages_jsonl(pages, path)
    back = read_pages_jsonl(spark, path)
    assert back.schema.simpleString() == pages.schema.simpleString()
    a = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    b = {r["url"]: bytes(r["html"]) for r in back.collect()}
    assert a == b
    out = str(tmp_path / "jsonl_out")
    s = run_extraction(spark, back, out, run_id="jsonl", num_buckets=4)
    assert s["n_docs"] == 80 and s["n_failed"] == 0


def test_read_archive_before_any_commit_raises_clearly(spark, tmp_path):
    """A half-written first run (or a fresh dir) must yield 'nothing
    committed yet', never a misleading PATH_NOT_FOUND on the torn half."""
    import pytest

    from batch_doc_vqa_spark.plans import publish_run, read_published, read_quarantine

    out = str(tmp_path / "fresh")
    with pytest.raises(FileNotFoundError, match="no committed runs"):
        read_published(spark, out)
    # first publish crashes after the published half: still the clear error
    df = spark.createDataFrame([(1, "clean")], "id long, text string")
    with pytest.raises(RuntimeError, match="fault injection"):
        publish_run(spark, df, out, text_col="text", run_id="t1",
                    _crash_before_commit="published")
    with pytest.raises(FileNotFoundError, match="no committed runs"):
        read_quarantine(spark, out)
    # the retry commits; both readers come alive
    publish_run(spark, df, out, text_col="text", run_id="t1")
    assert read_published(spark, out).count() == 1
    assert read_quarantine(spark, out).count() == 0


def test_committed_epoch_is_never_overwritten_with_skip_guard(spark, tmp_path):
    """A colliding epoch (lost-checkpoint restart over an existing archive)
    leaves the committed epoch untouched and flags the collision."""
    import os

    from batch_doc_vqa_spark.plans import read_published
    from batch_doc_vqa_spark.streaming.publish_stream import gated_publish_stream

    out = str(tmp_path / "guard")
    schema = "id long, text string"
    first, collider = tmp_path / "first_in", tmp_path / "collider_in"
    spark.createDataFrame([(1, "original")], schema).write.parquet(str(first))
    spark.createDataFrame([(9, "intruder")], schema).write.parquet(str(collider))
    gated_publish_stream(
        spark, str(first), schema, out, str(tmp_path / "ckpt_lost")
    ).awaitTermination(120)
    assert committed_publish_ids(spark, out) == ["e00000000"]
    # a fresh checkpoint restarts epoch numbering at e00000000
    gated_publish_stream(
        spark, str(collider), schema, out, str(tmp_path / "ckpt_new")
    ).awaitTermination(120)
    rows = read_published(spark, out).collect()
    assert [r["id"] for r in rows] == [1] and rows[0]["text"] == "original"
    assert os.path.exists(f"{out}/_collisions/e00000000")


def test_resume_raises_on_unreadable_populated_store(spark, tmp_path):
    """A POPULATED results store written outside the marker-commit protocol
    (data files, no committed marker, no stored schema) must fail loudly,
    not be silently treated as an empty done-set — that would duplicate
    every prior run's rows (ADVICE r4: the old blanket AnalysisException
    catch swallowed exactly this)."""
    import pytest

    out = str(tmp_path / "corrupt")
    spark.createDataFrame([("a", 1)], "not_url string, x int").write.parquet(f"{out}/results")
    with pytest.raises(FileExistsError, match="results"):
        run_extraction(spark, pages_df(spark, 20, seed=SEED), out, run_id="r2", num_buckets=4)


def test_rerun_with_committed_run_id_is_refused(spark, tmp_path):
    """Reusing a committed run_id must not restage (overwrite) that run's
    results: the call raises and the committed run reads back unchanged."""
    import pytest

    out = str(tmp_path / "reuse")
    run_extraction(spark, pages_df(spark, 40, seed=SEED), out, run_id="once", num_buckets=4)
    before = _store_rows(spark, out)
    with pytest.raises(FileExistsError, match="once"):
        run_extraction(spark, pages_df(spark, 60, seed=SEED), out, run_id="once", num_buckets=4)
    assert _store_rows(spark, out) == before and len(before[0]) == 40


def _store_rows(spark, out):
    """(url, text) results and (run_id, bucket, n_docs, n_bytes) lineage."""
    res = sorted((r["url"], r["text"]) for r in read_results(spark, out).collect())
    lin = sorted(
        (r["run_id"], r["bucket"], r["n_docs"], r["n_bytes"])
        for r in read_lineage(spark, out).collect()
    )
    return res, lin


def test_vacuum_store_sweeps_noop_resume_dirs(spark, tmp_path):
    """A no-op resume commits nothing but leaves an empty, uncommitted
    ``results/run_id=<id>`` dir; ``vacuum_store`` sweeps it, and the
    committed results and lineage read back unchanged."""
    import os

    from batch_doc_vqa_spark.plans.publish import vacuum_store

    out = str(tmp_path / "sweep")
    pages = pages_df(spark, 40, seed=SEED)
    run_extraction(spark, pages, out, run_id="first", num_buckets=4)
    assert run_extraction(spark, pages, out, run_id="noop", num_buckets=4)["n_docs"] == 0
    assert os.path.isdir(f"{out}/results/run_id=noop")
    before = _store_rows(spark, out)
    assert vacuum_store(spark, out, grace_seconds=0) == ["noop"]
    assert not os.path.isdir(f"{out}/results/run_id=noop")
    assert _store_rows(spark, out) == before and len(before[0]) == 40


def test_vacuum_store_leaves_pre_protocol_extraction_store(spark, tmp_path):
    """A store written before the marker protocol holds unmarked
    ``results|lineage/run_id=`` dirs and no schema store. ``vacuum_store``
    must not read them as torn runs and delete them (no marker is live, so
    every dir would qualify); ``run_extraction`` refuses the store."""
    import os

    import pytest

    from batch_doc_vqa_spark.plans.publish import vacuum_store

    out = str(tmp_path / "pre_protocol")
    spark.createDataFrame([("u1", "text")], "url string, text string") \
        .write.parquet(f"{out}/results/run_id=old")
    spark.createDataFrame([(0, 1)], "bucket int, n_docs long") \
        .write.parquet(f"{out}/lineage/run_id=old")
    assert vacuum_store(spark, out, grace_seconds=0) == []
    assert os.path.isdir(f"{out}/results/run_id=old")
    assert os.path.isdir(f"{out}/lineage/run_id=old")
    with pytest.raises(FileExistsError, match="before the marker-commit protocol"):
        run_extraction(spark, pages_df(spark, 4, seed=SEED), out, run_id="new", num_buckets=2)


def test_torn_run_leaves_no_trace_and_no_lineage_hole(spark, tmp_path, monkeypatch):
    """A run that dies after staging results + lineage but before its marker
    is invisible: the resume re-extracts its urls, the committed url → text
    sha256 equals a single-shot run's, and lineage has exactly one row per
    (run_id, bucket) of committed runs, covering every doc."""
    import pytest

    from batch_doc_vqa_spark.plans import extract_job

    full = pages_df(spark, 200, seed=SEED)
    out = str(tmp_path / "torn")

    def crash(*_args, **_kwargs):
        raise RuntimeError("killed before the commit marker")

    with monkeypatch.context() as m:
        m.setattr(extract_job, "commit_marker", crash)
        with pytest.raises(RuntimeError, match="killed"):
            run_extraction(spark, full.limit(120), out, run_id="torn", num_buckets=8)
    s = run_extraction(spark, full, out, run_id="resume", num_buckets=8)
    assert s["n_docs"] == 200

    def digests(d: str) -> dict:
        rows = read_results(spark, d).select("url", F.sha2("text", 256).alias("h")).collect()
        assert len(rows) == len({r["url"] for r in rows})  # no url twice
        return {r["url"]: r["h"] for r in rows}

    oneshot = str(tmp_path / "oneshot")
    run_extraction(spark, full, oneshot, run_id="solo", num_buckets=8)
    got = digests(out)
    assert len(got) == 200 and got == digests(oneshot)

    lin = read_lineage(spark, out).select("run_id", "bucket", "n_docs").collect()
    keys = [(r["run_id"], r["bucket"]) for r in lin]
    assert len(keys) == len(set(keys)) == s["n_partitions"]
    assert {r["run_id"] for r in lin} == {"resume"}
    assert sum(r["n_docs"] for r in lin) == 200


def _readback_lineage(spark, out: str, run_id: str, **config):
    """The lineage as a read-back of the run's own committed results: the
    per-bucket aggregate ``run_extraction`` once computed after the results
    write, with the same column order and types."""
    config_json, config_hash = config_fingerprint(config)
    failed = F.col("status") == "failed"
    return (
        read_results(spark, out)
        .filter(F.col("run_id") == run_id)
        .drop("run_id")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_input_bytes").alias("n_bytes"),
            F.sum(failed.cast("long")).alias("n_failed"),
            F.slice(F.array_sort(F.collect_list(F.when(failed, F.col("url")))), 1, 100).alias(
                "failure_urls"
            ),
            F.lit("done").alias("status"),
            F.current_timestamp().alias("finished_at"),
            F.lit(config_hash).alias("config_hash"),
            F.lit(config_json).alias("config_json"),
            F.lit(ENGINE_VERSION).alias("engine_version"),
        )
    )


def _lineage_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.drop("finished_at").collect())


def _extract_and_compare(spark, pages, out, run_id, num_buckets, strict):
    """Run one extraction and assert its lineage equals the read-back of its
    committed results, column for column (bar ``finished_at``)."""
    s = run_extraction(spark, pages, out, run_id=run_id, num_buckets=num_buckets, strict=strict)
    oracle = _readback_lineage(
        spark, out, run_id, num_buckets=num_buckets, target_rows_per_task=None, strict=strict
    )
    lineage = read_lineage(spark, out).filter(F.col("run_id") == run_id).drop("run_id")
    got = _lineage_rows(lineage)
    assert got == _lineage_rows(oracle)
    assert (s["n_partitions"], s["n_docs"], s["n_failed"]) == (
        len(got), sum(r[1] for r in got), sum(r[3] for r in got)
    )
    assert s["n_bytes"] == sum(r[2] or 0 for r in got)
    return s, got, oracle


def test_lineage_equals_readback_of_its_results(spark, tmp_path):
    """The lineage folded inside the extraction UDF equals the aggregate of
    the run's own committed results: buckets spread over many Arrow batches
    (7 rows a batch), strict and lenient failures, unsupported_format PDFs,
    null payloads (a bucket of only nulls keeps ``n_bytes`` null, as SQL
    ``sum`` does), and 130 failures in one bucket (the first 100 in sorted
    order). The stored lineage schema is the read-back form's."""
    import json
    import os

    from batch_doc_vqa_spark.functions.pdf_real import encode_minimal_pdf

    encrypted = encode_minimal_pdf([["x"]], encrypted=True)
    h = F.xxhash64("url")
    pages = pages_df(spark, 240, seed=SEED).withColumn(
        "html",
        F.when(F.pmod(h, F.lit(8)) == 0, F.lit(None).cast("binary"))  # all of bucket 0
        .when(h % 7 == 1, F.lit(encrypted))
        .when(h % 5 == 2, F.lit(b""))
        .when(h % 11 == 3, F.lit(None).cast("binary"))
        .otherwise(F.col("html")),
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for strict in (True, False):
            out = str(tmp_path / f"strict{strict}")
            s, got, oracle = _extract_and_compare(spark, pages, out, "mixed", 8, strict)
            assert s["n_failed"] > 0 and len(got) == 8
            assert [r for r in got if r[0] == 0][0][2] is None  # null-only bucket
            assert all(r[2] is not None for r in got if r[0] != 0)
            assert [f for f in os.listdir(f"{out}/_schema") if f.startswith("lineage.")] == [
                "lineage.v1.json"
            ]
            with open(f"{out}/_schema/lineage.v1.json") as f:
                assert json.load(f)["schema"] == oracle.schema.jsonValue()
        failing = pages_df(spark, 130, seed=SEED).withColumn("html", F.lit(b""))
        out = str(tmp_path / "many_failed")
        s, got, _ = _extract_and_compare(spark, failing, out, "f", 1, True)
        assert s["n_failed"] == 130 and len(got[0][4]) == 100
    finally:
        spark.conf.set(key, before)


def test_resume_into_store_staged_by_readback_form(spark, tmp_path):
    """A store whose first run staged the read-back lineage (its schema in
    ``_schema/lineage.v1.json``) takes a new run without a schema change."""
    import os

    from batch_doc_vqa_spark.plans.publish import commit_marker, stage_table

    src, out = str(tmp_path / "src"), str(tmp_path / "legacy")
    config = dict(num_buckets=4, target_rows_per_task=None, strict=False)
    run_extraction(spark, pages_df(spark, 40, seed=SEED), src, run_id="old", num_buckets=4)
    stage_table(spark, out, "old", "results", read_results(spark, src).drop("run_id"))
    stage_table(spark, out, "old", "lineage", _readback_lineage(spark, src, "old", **config).coalesce(1))
    commit_marker(spark, out, "old")

    s, _, _ = _extract_and_compare(spark, pages_df(spark, 100, seed=SEED), out, "new", 4, False)
    assert s["n_docs"] == 60
    assert sum(r["n_docs"] for r in read_lineage(spark, out).collect()) == 100
    assert sorted(f for f in os.listdir(f"{out}/_schema") if f.startswith("lineage.")) == ["lineage.v1.json"]


_RETRY_PROBE = r"""
import json, os, sys
from pyspark import TaskContext
from batch_doc_vqa_spark.plans import extract_job, read_lineage
from batch_doc_vqa_spark.session import get_spark
from batch_doc_vqa_spark.sources import pages_df
from pyspark.sql import functions as F

work = sys.argv[1]
spark = get_spark(
    "retry", master="local[2,2]", shuffle_partitions=2,
    extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "7", "spark.driver.memory": "1g"},
)
kernel = extract_job.extract_frame

def flaky(html):
    # attempt 0 of result partition 0 raises on its second Arrow batch,
    # after the fold has added the first one
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        if os.path.exists(f"{work}/first_batch"):
            open(f"{work}/crashed", "w").close()
            raise RuntimeError("injected task failure")
        open(f"{work}/first_batch", "w").close()
    return kernel(html)

pages = pages_df(spark, 120, seed=42).withColumn(
    "html", F.when(F.xxhash64("url") % 5 == 0, F.lit(b"")).otherwise(F.col("html"))
)

def run(name):
    out = f"{work}/{name}"
    s = extract_job.run_extraction(spark, pages, out, run_id="r", num_buckets=8, strict=True)
    lineage = read_lineage(spark, out).drop("finished_at").collect()
    return s, sorted([list(r) for r in lineage])

clean = run("clean")
extract_job.extract_frame = flaky
retried = run("retried")
execs = spark._jsparkSession.sharedState().statusStore().executionsList()
plans = [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]
print(json.dumps({
    "clean": clean, "retried": retried, "crashed": os.path.exists(f"{work}/crashed"),
    "plan": [p for p in plans if "/retried/results/run_id=r" in p][-1],
}))
spark.stop()
"""


def test_retried_task_does_not_double_count(tmp_path):
    """A result task whose first attempt dies after the fold added a batch
    is retried (``local[2,2]``; plain ``local[N]`` never retries): the
    failed attempt sends no accumulator update, so the lineage and the
    summary equal a clean run's. The fold sits in the results write's one
    ArrowEvalPython node, above the bucket exchange, in the result stage."""
    import json
    import os
    import re
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_PROBE, str(tmp_path)],
        cwd=repo, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["crashed"]
    assert got["clean"][0]["n_failed"] > 0
    assert got["retried"] == got["clean"]
    final = got["plan"].split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    assert final.count("ArrowEvalPython") == 1, final
    assert final.index("ArrowEvalPython") < final.index("Exchange"), final
    assert re.search(r"\(\d+\) Exchange\n.*\nArguments: hashpartitioning\(bucket#\d+, 2\)", got["plan"])


def _group_job_count(spark, group: str) -> int:
    """Jobs the status tracker holds for ``group``, once the listener bus
    has delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_resume_call_runs_three_jobs_and_stages_lineage_without_one(spark, tmp_path, monkeypatch):
    """A resume with new docs runs exactly three Spark jobs: the done-set
    broadcast, the bucket shuffle and the results write. Staging the
    lineage runs none: the driver writes its one parquet file."""
    from batch_doc_vqa_spark.plans import extract_job

    out = str(tmp_path / "shape")
    run_extraction(spark, pages_df(spark, 40, seed=SEED), out, run_id="r1", num_buckets=4)
    pages = pages_df(spark, 80, seed=SEED)
    group = "resume-job-shape"
    staged = []

    def counted(*args):
        before = _group_job_count(spark, group)
        real(*args)
        staged.append(_group_job_count(spark, group) - before)

    real = extract_job.stage_rows
    monkeypatch.setattr(extract_job, "stage_rows", counted)
    sc = spark.sparkContext
    sc.setJobGroup(group, "resume")
    try:
        s = run_extraction(spark, pages, out, run_id="r2", num_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert s["n_docs"] == 40
    assert _group_job_count(spark, group) == 3
    assert staged == [0]
    assert read_results(spark, out).count() == 80


def test_mixed_writer_lineage_store(spark, tmp_path, monkeypatch):
    """A store whose first run's lineage was staged by Spark (the former
    ``createDataFrame(…, LINEAGE_SCHEMA).coalesce(1)`` write, kept here as
    the oracle) and whose second run's by the driver (``stage_rows``):
    each run's lineage equals the read-back of its results, and
    ``read_lineage`` gives identical rows after ``compact_store``,
    ``vacuum_store`` and a further resume. A bucket whose payloads are all
    null keeps a null ``n_bytes`` in both forms, ``finished_at`` round-trips
    to the µs, and a retried uncommitted run id leaves one lineage file."""
    import os

    import pandas as pd
    import pytest

    from batch_doc_vqa_spark.plans import extract_job
    from batch_doc_vqa_spark.plans.extract_job import LINEAGE_SCHEMA
    from batch_doc_vqa_spark.plans.publish import (
        compact_store,
        stage_rows,
        stage_table,
        vacuum_store,
    )

    def spark_form(spark_, out_dir, run_id, name, frame, schema):
        stage_table(spark_, out_dir, run_id, name, spark_.createDataFrame(frame, schema).coalesce(1))

    frames = {}

    def recorded(form):
        def stage(spark_, out_dir, run_id, name, frame, schema):
            frames[run_id] = frame
            form(spark_, out_dir, run_id, name, frame, schema)
        return stage

    h = F.xxhash64("url")
    pages = pages_df(spark, 160, seed=SEED).withColumn(
        "html", F.when(F.pmod(h, F.lit(8)) == 0, F.lit(None).cast("binary")).otherwise(F.col("html"))
    )
    out = str(tmp_path / "mixed")
    config = dict(num_buckets=8, target_rows_per_task=None, strict=False)
    with monkeypatch.context() as m:
        m.setattr(extract_job, "stage_rows", recorded(spark_form))
        run_extraction(spark, pages.limit(80), out, run_id="spark", num_buckets=8)

    def crash(*_args, **_kwargs):
        raise RuntimeError("killed before the commit marker")

    with monkeypatch.context() as m:
        m.setattr(extract_job, "commit_marker", crash)
        for _ in range(2):
            with pytest.raises(RuntimeError, match="killed"):
                run_extraction(spark, pages, out, run_id="driver", num_buckets=8)
    data = [f for f in os.listdir(f"{out}/lineage/run_id=driver") if not f.startswith((".", "_"))]
    assert len(data) == 1, data
    with monkeypatch.context() as m:
        m.setattr(extract_job, "stage_rows", recorded(stage_rows))
        assert run_extraction(spark, pages, out, run_id="driver", num_buckets=8)["n_docs"] == 80

    for run_id in ("spark", "driver"):
        lineage = read_lineage(spark, out).filter(F.col("run_id") == run_id).drop("run_id")
        got = _lineage_rows(lineage)
        assert got == _lineage_rows(_readback_lineage(spark, out, run_id, **config))
        assert [r[2] for r in got if r[0] == 0] == [None]  # null-only bucket
        assert all(r[2] is not None for r in got if r[0] != 0)
        stamps = lineage.select(F.unix_micros("finished_at").alias("us")).distinct().collect()
        expected = frames[run_id]["finished_at"].iloc[0]
        assert [r["us"] for r in stamps] == [expected.value // 1000]

    def rows():
        df = read_lineage(spark, out)
        return sorted(repr(tuple(r[c] for c in sorted(df.columns))) for r in df.collect())

    before = rows()
    assert len(before) == 16
    compact_store(spark, out)
    assert rows() == before
    vacuum_store(spark, out, grace_seconds=0)
    assert rows() == before
    assert run_extraction(spark, pages, out, run_id="again", num_buckets=8)["n_docs"] == 0
    assert rows() == before

    # a ns timestamp is floored to the µs, which Spark reads
    ns = str(tmp_path / "ns")
    stamp = pd.Timestamp("2026-01-02 03:04:05.123456789", tz="UTC")
    frame = pd.DataFrame(
        [(0, 1, None, 0, [], "done", stamp, "h", "{}", ENGINE_VERSION)], columns=LINEAGE_SCHEMA.names
    )
    stage_rows(spark, ns, "x", "lineage", frame, LINEAGE_SCHEMA)
    got = spark.read.schema(LINEAGE_SCHEMA).parquet(f"{ns}/lineage/run_id=x")
    assert got.select(F.unix_micros("finished_at")).first()[0] == stamp.value // 1000


_NEW_SESSION_PROBE = r"""
import json, sys
from batch_doc_vqa_spark.plans import publish, run_extraction
from batch_doc_vqa_spark.session import get_spark
from batch_doc_vqa_spark.sources import pages_df

work = sys.argv[1]
got = []
for run_id, n in (("r1", 20), ("r2", 40)):
    spark = get_spark("fs-handles", master="local[2]", shuffle_partitions=2)
    s = run_extraction(spark, pages_df(spark, n, seed=3), work, run_id=run_id, num_buckets=2)
    conf = publish._hadoop(spark.sparkContext)[1]
    got.append({
        "n_docs": s["n_docs"],
        "fresh_conf": conf.equals(spark._jsc.hadoopConfiguration()),
        "committed": publish.committed_publish_ids(spark, work),
    })
    spark.stop()
print(json.dumps(got))
"""


def test_hadoop_handles_are_per_spark_context(tmp_path):
    """``_fs``'s cached Path class and Hadoop conf belong to one
    SparkContext: a run committed after the session was stopped and a new
    one started uses the new context's conf, and both runs commit."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION_PROBE, str(tmp_path / "ex")],
        cwd=repo, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == [
        {"n_docs": 20, "fresh_conf": True, "committed": ["r1"]},
        {"n_docs": 20, "fresh_conf": True, "committed": ["r1", "r2"]},
    ]
