"""Marker-set compaction for every marker-committed store (VERDICT r4 #5):
consolidate old runs into one partition so the live marker set stays small,
with read output IDENTICAL before/after, plus the commit-time schema store
that replaces per-read mergeSchema. The store-maintenance contract tests run
over a publish store, an extraction store and a streaming sketch-partials
store."""

from __future__ import annotations

import os
import re
import shutil

import pytest

from batch_doc_vqa_spark.operators.sketches import loghist_partial
from batch_doc_vqa_spark.plans.extract_job import read_lineage, read_results, run_extraction
from batch_doc_vqa_spark.plans.publish import (
    ConcurrentCommitError,
    MaintenanceInProgressError,
    acquire_maintenance_lease,
    commit_run,
    committed_publish_ids,
    compact_store,
    consolidated_run_ids,
    publish_reject_reason,
    publish_run,
    read_committed_table,
    read_maintenance_lease,
    read_published,
    read_schema_store,
    recover_marker_store,
    release_maintenance_lease,
    save_index,
    tagged_tables,
    vacuum_store,
)
from batch_doc_vqa_spark.sources import pages_df
from batch_doc_vqa_spark.streaming.hll_stream import read_sketch_partials, sketch_stream


def _rows(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


def _publish_three_runs(spark, out):
    """r1 plain, r2 with scrub_pii (adds the n_redactions audit column —
    exercises the schema union), r3 plain; each with one quarantine row."""
    mk = lambda i: spark.createDataFrame(  # noqa: E731
        [(f"d{i}a", f"clean text {i}"), (f"d{i}b", f"contact a@b{i}.com now"), (f"d{i}c", "")],
        "doc_id string, text string",
    )
    publish_run(spark, mk(1), out, text_col="text", run_id="r1")
    publish_run(spark, mk(2), out, text_col="text", run_id="r2", scrub_pii=True)
    publish_run(spark, mk(3), out, text_col="text", run_id="r3")


SKETCH_SCHEMA = "doc_id long, v long, g string"


def _sketch_three_epochs(spark, tmp_path, out) -> str:
    """Three ``sketch_stream`` epochs (one new file each) of loghist
    partials — a sum-merged sketch, so a doubly committed row shows."""
    src = str(tmp_path / "sketch_src")
    for i in range(3):
        rows = [(j, j * 13 % 500, "ab"[j % 2]) for j in range(50 * i, 50 * i + 50)]
        spark.createDataFrame(rows, SKETCH_SCHEMA).write.mode("append").parquet(src)
        sketch_stream(
            spark, src, SKETCH_SCHEMA, lambda b: loghist_partial(b, "v", ["g"], 5),
            out, str(tmp_path / "sketch_ck"),
        ).awaitTermination(120)
    return src


@pytest.fixture(params=["publish", "extraction", "sketch"])
def store(request, spark, tmp_path):
    """(root, tables) of a marker-committed store holding three runs."""
    out = str(tmp_path / request.param)
    if request.param == "publish":
        _publish_three_runs(spark, out)
        return out, ["published", "quarantine"]
    if request.param == "extraction":
        for i, n in enumerate((8, 16, 24), 1):  # each call extracts 8 new pages
            run_extraction(spark, pages_df(spark, n, seed=5), out, run_id=f"r{i}", num_buckets=4)
        return out, ["results", "lineage"]
    _sketch_three_epochs(spark, tmp_path, out)
    return out, ["partials"]


def _reprs(df):
    """Rows as a sorted multiset of reprs (values may be None or nested,
    which plain tuples cannot always sort)."""
    return sorted(repr(tuple(r[c] for c in sorted(df.columns))) for r in df.collect())


def _store_rows(spark, out, tables, where="true"):
    return {t: _reprs(read_committed_table(spark, out, t).filter(where)) for t in tables}


def test_compaction_preserves_output_and_shrinks_markers(spark, store):
    out, tables = store
    before = _store_rows(spark, out, tables)
    pre = committed_publish_ids(spark, out)
    assert len(pre) == 3

    cid = compact_store(spark, out, run_ids=pre[:2])
    assert committed_publish_ids(spark, out) == sorted([pre[2], cid])
    # output identical — including the ORIGINAL run_id values
    assert _store_rows(spark, out, tables) == before
    for t in tables:
        run_ids = read_committed_table(spark, out, t).select("run_id").distinct().collect()
        assert {r["run_id"] for r in run_ids} == set(pre)

    # vacuum reclaims the superseded run dirs; output still identical
    deleted = vacuum_store(spark, out, grace_seconds=0)
    assert set(deleted) == set(pre[:2])
    assert not os.path.isdir(f"{out}/{tables[0]}/run_id={pre[0]}")
    assert _store_rows(spark, out, tables) == before

    # a full re-compaction (everything incl. the prior compact partition)
    cid2 = compact_store(spark, out)
    vacuum_store(spark, out, grace_seconds=0)
    assert committed_publish_ids(spark, out) == [cid2]
    assert _store_rows(spark, out, tables) == before
    # the re-compaction carried the first one's folded ids forward, and
    # vacuum dropped the record whose marker is gone
    assert consolidated_run_ids(spark, out) == {*pre, cid}
    records = [n for n in os.listdir(f"{out}/_compacted") if not n.startswith(".")]
    assert records == [f"{cid2}.json"]


def test_schema_store_serves_union_without_mergeschema(spark, tmp_path):
    """The commit-time schema store carries the column union (n_redactions
    appears only in the scrubbed run) so reads never pay the per-run footer
    fetch; additive-only evolution is enforced."""
    out = str(tmp_path / "schema")
    _publish_three_runs(spark, out)
    stored = read_schema_store(spark, out, "published")
    assert stored is not None and "n_redactions" in stored.fieldNames()
    pub = read_published(spark, out)
    assert "n_redactions" in pub.columns
    by_run = {(r["run_id"], r["doc_id"]): r["n_redactions"] for r in pub.collect()}
    assert by_run[("r2", "d2b")] == 1      # scrubbed run carries the audit count
    assert by_run[("r1", "d1a")] is None   # plain runs NULL-fill

    from batch_doc_vqa_spark.plans.publish import update_schema_store

    with pytest.raises(ValueError):  # type change refused
        bad = spark.createDataFrame([(1,)], "n_redactions string").schema
        update_schema_store(spark, out, "published", bad)


def test_commit_blocked_during_store_compaction(spark, tmp_path):
    out = str(tmp_path / "lease")
    _publish_three_runs(spark, out)
    acquire_maintenance_lease(spark, out, {"compact_id": "c", "pre_markers": []})
    with pytest.raises(MaintenanceInProgressError):
        publish_run(
            spark,
            spark.createDataFrame([("dx", "text")], "doc_id string, text string"),
            out, text_col="text", run_id="r4",
        )
    assert committed_publish_ids(spark, out) == ["r1", "r2", "r3"]
    release_maintenance_lease(spark, out)
    publish_run(
        spark,
        spark.createDataFrame([("dx", "text")], "doc_id string, text string"),
        out, text_col="text", run_id="r4",
    )
    assert "r4" in committed_publish_ids(spark, out)


def test_store_compaction_rolls_back_on_racing_run(spark, store):
    """A run whose commit slipped the probe-to-commit window is PRESERVED:
    the compaction rolls back and raises; a re-run then succeeds."""
    out, tables = store
    before = _store_rows(spark, out, tables)
    pre = committed_publish_ids(spark, out)

    def racer():  # a copy of the first run; marker raw: probe passed pre-lease
        for t in tables:
            shutil.copytree(f"{out}/{t}/run_id={pre[0]}", f"{out}/{t}/run_id=racer")
        open(f"{out}/_committed/racer", "w").close()

    with pytest.raises(ConcurrentCommitError, match="racer"):
        compact_store(spark, out, _test_hook_before_swap=racer)
    assert committed_publish_ids(spark, out) == sorted([*pre, "racer"])
    assert read_maintenance_lease(spark, out) is None
    for t in tables:
        df = read_committed_table(spark, out, t)
        assert _reprs(df.filter("run_id = 'racer'").drop("run_id")) == _reprs(
            df.filter(f"run_id = '{pre[0]}'").drop("run_id")
        )
    assert _store_rows(spark, out, tables, "run_id != 'racer'") == before

    with_racer = _store_rows(spark, out, tables)
    cid = compact_store(spark, out)
    vacuum_store(spark, out, grace_seconds=0)
    assert committed_publish_ids(spark, out) == [cid]
    assert _store_rows(spark, out, tables) == with_racer


def test_recover_store_after_crashes(spark, store):
    out, tables = store
    before = _store_rows(spark, out, tables)
    pre = committed_publish_ids(spark, out)

    class Crash(RuntimeError):
        pass

    def boom():
        raise Crash()

    with pytest.raises(Crash):  # crash before the swap
        compact_store(spark, out, _test_hook_before_swap=boom)
    assert recover_marker_store(spark, out) == "rolled_back"
    assert committed_publish_ids(spark, out) == pre
    assert consolidated_run_ids(spark, out) == set()  # the crashed pass's record is inert
    assert _store_rows(spark, out, tables) == before

    # crash between the swap renames: no live marker dir + held lease
    os.rename(f"{out}/_committed", f"{out}/_committed_old")
    acquire_maintenance_lease(spark, out, {"compact_id": "cX", "pre_markers": pre})
    with pytest.raises(FileNotFoundError):
        read_committed_table(spark, out, tables[0])  # loud, never silently empty
    with pytest.raises(MaintenanceInProgressError):
        vacuum_store(spark, out, grace_seconds=0)  # vacuum refuses mid-crash
    assert recover_marker_store(spark, out) == "rolled_back"
    assert committed_publish_ids(spark, out) == pre
    assert _store_rows(spark, out, tables) == before
    assert recover_marker_store(spark, out) == "clean"


def test_schema_store_versioned_cas_never_loses_columns(spark, tmp_path):
    """Interleaved updates (the concurrent-publishers shape): a writer that
    reads the store BEFORE another writer's new column lands must not
    clobber it — the versioned create-if-absent CAS forces the loser to
    re-merge on top of the winner (review r5 finding: the plain
    read-modify-write dropped committed columns from explicit-schema
    reads)."""
    from batch_doc_vqa_spark.plans.publish import update_schema_store

    out = str(tmp_path / "cas")
    base = spark.createDataFrame([("d", "t")], "doc_id string, text string").schema
    update_schema_store(spark, out, "published", base)

    # simulate the race: writer A claims the next version with column_a
    # while writer B (who read the store before A) then writes column_b
    a = spark.createDataFrame([("d", "t", 1)], "doc_id string, text string, column_a int").schema
    b = spark.createDataFrame([("d", "t", 2)], "doc_id string, text string, column_b int").schema
    # A wins the version race by writing first; B's create of the same
    # version number fails and B retries on top of A's union
    update_schema_store(spark, out, "published", a)
    update_schema_store(spark, out, "published", b)
    stored = read_schema_store(spark, out, "published")
    assert {"column_a", "column_b"} <= set(stored.fieldNames())

    # no-op unions create no version churn
    from batch_doc_vqa_spark.plans.publish import _schema_versions

    n_before = len(_schema_versions(spark, out, "published"))
    update_schema_store(spark, out, "published", a)
    assert len(_schema_versions(spark, out, "published")) == n_before

    # a torn latest version falls back to its predecessor, and the union
    # keeps building on the readable state
    latest = _schema_versions(spark, out, "published")[-1]
    with open(f"{out}/_schema/published.v{latest[0] + 1}.json", "w") as f:
        f.write("{torn")
    stored2 = read_schema_store(spark, out, "published")
    assert set(stored2.fieldNames()) == set(stored.fieldNames())


def test_vacuum_grace_protects_in_flight_runs(spark, tmp_path):
    """A marker-less run directory younger than the retention grace is an
    in-flight publish, not a torn run — default-grace vacuum must skip it
    (review r5 finding: deleting it yields a committed run with no data)."""
    out = str(tmp_path / "grace")
    _publish_three_runs(spark, out)
    # an in-flight run: data written, marker not yet committed
    spark.createDataFrame([("dx", "inflight")], "doc_id string, text string") \
        .write.parquet(f"{out}/published/run_id=rX")
    assert vacuum_store(spark, out) == []  # default grace: skipped
    assert os.path.isdir(f"{out}/published/run_id=rX")
    # the writer then commits; the run reads back complete
    spark.createDataFrame([], "doc_id string, text string, reject_reason string") \
        .write.parquet(f"{out}/quarantine/run_id=rX")
    from batch_doc_vqa_spark.plans.publish import commit_marker

    commit_marker(spark, out, "rX")
    assert {r["doc_id"] for r in read_published(spark, out).filter("run_id = 'rX'").collect()} == {"dx"}
    # once genuinely torn (grace 0), vacuum reclaims
    spark.createDataFrame([("dy", "torn")], "doc_id string, text string") \
        .write.parquet(f"{out}/published/run_id=rY")
    assert "rY" in vacuum_store(spark, out, grace_seconds=0)


def test_recover_merges_mid_swap_racer_markers(spark, tmp_path):
    """Window-2 crash state (review r5 finding 1): a racer's commit
    recreated the live marker dir between the two swap renames, then the
    compaction died. recover must fold the racer's marker into the restored
    set — previously it skipped the restore because _committed existed,
    stranding every pre-compaction marker in _committed_old."""
    out = str(tmp_path / "midswap")
    _publish_three_runs(spark, out)
    os.rename(f"{out}/_committed", f"{out}/_committed_old")
    os.makedirs(f"{out}/_committed")
    spark.createDataFrame([("dr", "racer")], "doc_id string, text string") \
        .write.parquet(f"{out}/published/run_id=racer")
    spark.createDataFrame([], "doc_id string, text string, reject_reason string") \
        .write.parquet(f"{out}/quarantine/run_id=racer")
    open(f"{out}/_committed/racer", "w").close()
    acquire_maintenance_lease(
        spark, out, {"distinguished": "cZ", "pre_markers": ["r1", "r2", "r3"]}
    )
    assert recover_marker_store(spark, out) == "rolled_back"
    assert committed_publish_ids(spark, out) == ["r1", "r2", "r3", "racer"]
    pub = read_published(spark, out)
    assert {r["doc_id"] for r in pub.filter("run_id = 'racer'").collect()} == {"dr"}
    assert pub.filter("run_id = 'r1'").count() == 1  # pre markers restored


def test_recover_preserves_window3_racer_in_live_dir(spark, tmp_path):
    """A racer marker that landed in the NEW live dir after activation
    (window 3) must survive a crash-time rollback: recover folds it into
    the restored set instead of deleting it with the retracted dir
    (review r5 pass 2, finding 2)."""
    out = str(tmp_path / "w3")
    _publish_three_runs(spark, out)
    cid = compact_store(spark, out)
    assert committed_publish_ids(spark, out) == [cid]
    # fabricate the crash state: swap done, racer committed into live,
    # aside dir still holding the pre set, lease (with recorded plan) held
    os.makedirs(f"{out}/_committed_old")
    for m in ("r1", "r2", "r3"):
        open(f"{out}/_committed_old/{m}", "w").close()
    spark.createDataFrame([("dr", "racer")], "doc_id string, text string") \
        .write.parquet(f"{out}/published/run_id=racer3")
    spark.createDataFrame([], "doc_id string, text string, reject_reason string") \
        .write.parquet(f"{out}/quarantine/run_id=racer3")
    open(f"{out}/_committed/racer3", "w").close()
    acquire_maintenance_lease(spark, out, {
        "distinguished": cid, "pre_markers": ["r1", "r2", "r3"], "new_markers": [cid],
    })
    res = recover_marker_store(spark, out)
    assert res.startswith("rolled_back")
    assert committed_publish_ids(spark, out) == ["r1", "r2", "r3", "racer3"]
    assert {r["doc_id"] for r in read_published(spark, out)
            .filter("run_id = 'racer3'").collect()} == {"dr"}


def test_recover_post_audit_crash_is_completed_not_rollback(spark, tmp_path):
    """ADVICE r5 (medium): crash AFTER the post-swap audit deleted the
    aside dir but BEFORE the lease release, with a racer marker now in the
    live dir. recover must treat missing-aside as 'swap completed' — the
    old behavior rebuilt the live set from the racer markers ALONE,
    dropping the compacted marker and every pre marker (all compacted data
    invisible, then vacuum-deletable)."""
    out = str(tmp_path / "postaudit")
    _publish_three_runs(spark, out)
    cid = compact_store(spark, out)
    pub_before = _rows(read_published(spark, out))
    # fabricate the crash state: swap + audit done (no _committed_old),
    # lease still held, and a racer marker that landed post-activation
    spark.createDataFrame([("dr", "racer")], "doc_id string, text string") \
        .write.parquet(f"{out}/published/run_id=racerP")
    spark.createDataFrame([], "doc_id string, text string, reject_reason string") \
        .write.parquet(f"{out}/quarantine/run_id=racerP")
    open(f"{out}/_committed/racerP", "w").close()
    acquire_maintenance_lease(spark, out, {
        "distinguished": cid, "pre_markers": ["r1", "r2", "r3"], "new_markers": [cid],
    })
    res = recover_marker_store(spark, out)
    assert res.startswith("completed")
    # compacted marker survived alongside the racer; data intact
    assert committed_publish_ids(spark, out) == sorted([cid, "racerP"])
    pub_after = read_published(spark, out)
    assert _rows(pub_after.filter("run_id != 'racerP'")) == pub_before
    # and vacuum must NOT reclaim the compacted data
    vacuum_store(spark, out, grace_seconds=0)
    assert _rows(read_published(spark, out).filter("run_id != 'racerP'")) == pub_before


def test_vacuum_prunes_superseded_schema_versions(spark, tmp_path):
    """ADVICE r5 (low): the vacuum schema prune must parse the CURRENT
    nonce-wrapped version format — the old raw StructType.fromJson check
    always failed on it, so superseded versions were never pruned."""
    from pyspark.sql.types import StringType, StructField, StructType

    from batch_doc_vqa_spark.plans.publish import _schema_versions, update_schema_store

    out = str(tmp_path / "sprune")
    _publish_three_runs(spark, out)
    base = read_schema_store(spark, out, "published")
    for extra in ("x1", "x2"):
        update_schema_store(
            spark, out, "published",
            StructType([*base.fields, StructField(extra, StringType(), True)]),
        )
    versions = _schema_versions(spark, out, "published")
    assert len(versions) >= 3
    vacuum_store(spark, out, grace_seconds=0)
    kept = _schema_versions(spark, out, "published")
    assert kept == [versions[-1]]  # only the latest readable version survives
    stored = read_schema_store(spark, out, "published")
    assert {"x1", "x2"} <= {f.name for f in stored.fields}


def test_recover_rolls_back_nested_activation_with_racer(spark, tmp_path):
    """Window-2 crash state where the activate rename nested the new set
    INSIDE a live dir a racer had recreated (``_committed/_committed_next``)
    and committed into: recover rolls back with the racer's file marker
    folded in and every pre marker restored, and the nested dir goes with
    the retracted live dir."""
    out = str(tmp_path / "nested")
    _publish_three_runs(spark, out)
    os.rename(f"{out}/_committed", f"{out}/_committed_old")
    os.makedirs(f"{out}/_committed/_committed_next")
    open(f"{out}/_committed/_committed_next/compact-nested", "w").close()
    spark.createDataFrame([("dr", "racer")], "doc_id string, text string") \
        .write.parquet(f"{out}/published/run_id=racer")
    spark.createDataFrame([], "doc_id string, text string, reject_reason string") \
        .write.parquet(f"{out}/quarantine/run_id=racer")
    open(f"{out}/_committed/racer", "w").close()
    acquire_maintenance_lease(spark, out, {
        "distinguished": "compact-nested", "pre_markers": ["r1", "r2", "r3"],
        "new_markers": ["compact-nested"],
    })
    assert recover_marker_store(spark, out).startswith("rolled_back")
    assert committed_publish_ids(spark, out) == ["r1", "r2", "r3", "racer"]
    assert not os.path.exists(f"{out}/_committed/_committed_next")
    assert not os.path.exists(f"{out}/_committed_old")
    pub = read_published(spark, out)
    assert {r["doc_id"] for r in pub.filter("run_id = 'racer'").collect()} == {"dr"}
    assert pub.filter("run_id = 'r1'").count() == 1


def test_compact_store_refuses_index_root(spark, tmp_path):
    """A ``save_index`` root's tables have no stored schema: consolidating
    the rest of the store would hide them, so compaction refuses, naming
    the path, before it takes the lease."""
    path = str(tmp_path / "idx")
    save_index(spark, path, {"docs": spark.createDataFrame([(1,)], "a int").write}, {"k": 1})
    with pytest.raises(ValueError, match=re.escape(f"{path}/docs")):
        compact_store(spark, path)
    assert read_maintenance_lease(spark, path) is None
    assert committed_publish_ids(spark, path) == ["index"]


def test_consolidated_run_id_is_not_reusable(spark, tmp_path):
    """A run id folded into a compaction stays taken: a retried publish
    raises instead of committing the run a second time beside its
    compacted rows, so does ``commit_marker`` itself (a writer that checked
    before the compaction folded its run), and a replayed stream epoch is
    skipped and flagged like a live one."""
    out = str(tmp_path / "retry")
    df = spark.createDataFrame([("d1", "clean text")], "doc_id string, text string")
    publish_run(spark, df, out, text_col="text", run_id="r1")
    cid = compact_store(spark, out)
    with pytest.raises(FileExistsError, match="'r1'"):
        publish_run(spark, df, out, text_col="text", run_id="r1")
    tagged = df.withColumn("_reject", publish_reject_reason("text"))
    with pytest.raises(FileExistsError, match="'r1' was consolidated"):
        commit_run(spark, out, "r1", tagged_tables(tagged))
    assert committed_publish_ids(spark, out) == [cid]
    got = read_published(spark, out).select("run_id", "doc_id").collect()
    assert [tuple(r) for r in got] == [("r1", "d1")]

    # a lost-checkpoint restart of a compacted stream store replays e00000000
    sk = str(tmp_path / "sketch")
    src = _sketch_three_epochs(spark, tmp_path, sk)
    before = _reprs(read_sketch_partials(spark, sk))
    cid = compact_store(spark, sk)
    sketch_stream(
        spark, src, SKETCH_SCHEMA, lambda b: loghist_partial(b, "v", ["g"], 5),
        sk, str(tmp_path / "fresh_ck"),
    ).awaitTermination(120)
    assert committed_publish_ids(spark, sk) == [cid]
    assert os.path.exists(f"{sk}/_collisions/e00000000")
    assert _reprs(read_sketch_partials(spark, sk)) == before


def test_compacted_extraction_store_resumes_and_takes_new_runs(spark, tmp_path):
    """After compaction the extraction done-set is unchanged (a resume
    extracts nothing), a consolidated run id is refused, and the stored
    lineage schema still accepts a new run."""
    out = str(tmp_path / "ex")
    for i, n in enumerate((8, 16, 24), 1):
        run_extraction(spark, pages_df(spark, n, seed=5), out, run_id=f"r{i}", num_buckets=4)
    compact_store(spark, out)
    resumed = run_extraction(spark, pages_df(spark, 24, seed=5), out, run_id="r4", num_buckets=4)
    assert resumed["n_docs"] == 0
    with pytest.raises(FileExistsError, match="'r2'"):
        run_extraction(spark, pages_df(spark, 30, seed=5), out, run_id="r2", num_buckets=4)
    summary = run_extraction(spark, pages_df(spark, 30, seed=5), out, run_id="r5", num_buckets=4)
    assert summary["n_docs"] == 6
    assert read_results(spark, out).count() == 30
    lineage = read_lineage(spark, out)
    assert lineage.filter("run_id = 'r5'").agg({"n_docs": "sum"}).collect()[0][0] == 6
    run_ids = {r["run_id"] for r in lineage.select("run_id").distinct().collect()}
    assert run_ids == {"r1", "r2", "r3", "r5"}
