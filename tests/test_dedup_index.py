"""Incremental dedup index: a new snapshot dedups against the persisted
corpus index without re-signaturing the corpus, and matches the full batch."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from batch_doc_vqa_spark.operators import dedup
from batch_doc_vqa_spark.operators.dedup_index import build_dedup_index, incremental_dedup_pairs
from batch_doc_vqa_spark.plans.publish import (
    ConcurrentCommitError,
    MaintenanceInProgressError,
    acquire_maintenance_lease,
    committed_publish_ids,
    recover_marker_store,
    release_maintenance_lease,
    vacuum_store,
)

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu".split()


def _doc(rng, n=60):
    return " ".join(rng.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def corpora(spark):
    rng = random.Random(99)
    old = [(f"old{i}", _doc(rng)) for i in range(30)]
    new = []
    for j in range(6):           # near-dups of old docs
        words = old[j][1].split()
        words[3] = "changed"
        new.append((f"new{j}", " ".join(words)))
    new.append(("new_exact", old[10][1]))          # exact dup of an old doc
    new.append(("new_unique", _doc(rng)))          # no dup
    new.append(("new_pair_a", _doc(rng)))
    new.append(("new_pair_b", new[-1][1]))         # new-vs-new exact dup
    schema = "doc_id string, text string"
    return spark.createDataFrame(old, schema), spark.createDataFrame(new, schema)


def test_incremental_matches_full_batch(spark, corpora, tmp_path):
    old, new = corpora
    path = str(tmp_path / "idx")
    build_dedup_index(old, "doc_id", "text", path)
    inc = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in incremental_dedup_pairs(spark, new, "doc_id", "text", path,
                                            threshold=0.5, update_index=False).collect()}
    full = {(r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in dedup.minhash_lsh_pairs(old.unionByName(new), "doc_id", "text",
                                             n=3, num_hashes=64, bands=16)
            .filter(F.col("est_jaccard") >= 0.5).collect()}
    # incremental == full batch restricted to pairs touching a new doc
    expected = {k: v for k, v in full.items()
                if k[0].startswith("new") or k[1].startswith("new")}
    assert inc == expected
    # the planted structure is actually found
    assert inc[("new_exact", "old10")] == 1.0
    assert inc[("new_pair_a", "new_pair_b")] == 1.0
    assert any(a == f"new{j}" or b == f"new{j}" for j in range(6) for a, b in inc)


def test_rebuild_over_committed_index_refuses(spark, corpora, tmp_path):
    """build_dedup_index is create-only: a second build on a committed path
    raises instead of deleting the live index."""
    from batch_doc_vqa_spark.operators.dedup_index import read_index_sigs

    old, new = corpora
    path = str(tmp_path / "idx_twice")
    build_dedup_index(old, "doc_id", "text", path)
    with pytest.raises(FileExistsError, match="committed data"):
        build_dedup_index(new, "doc_id", "text", path)
    assert read_index_sigs(spark, path).count() == 30


def test_index_append_makes_next_snapshot_see_previous(spark, corpora, tmp_path):
    old, new = corpora
    path = str(tmp_path / "idx2")
    build_dedup_index(old, "doc_id", "text", path)
    incremental_dedup_pairs(spark, new, "doc_id", "text", path, update_index=True)
    # index grew by exactly |new| rows per table
    assert spark.read.parquet(f"{path}/sigs").count() == 30 + new.count()
    # a third snapshot duplicating a SECOND-snapshot doc is caught
    third = spark.createDataFrame(
        [("third_dup_of_new", [r["text"] for r in new.collect() if r["doc_id"] == "new_unique"][0])],
        "doc_id string, text string",
    )
    pairs = {(r["id_a"], r["id_b"])
             for r in incremental_dedup_pairs(spark, third, "doc_id", "text", path,
                                              update_index=False).collect()}
    assert ("new_unique", "third_dup_of_new") in pairs


def test_reingested_snapshot_is_idempotent(spark, corpora, tmp_path):
    """A retried/re-crawled snapshot (same ids) must not bloat the index with
    duplicate signature rows nor re-emit its pairs on the retry."""
    old, new = corpora
    path = str(tmp_path / "idx3")
    build_dedup_index(old, "doc_id", "text", path)
    first = incremental_dedup_pairs(spark, new, "doc_id", "text", path, update_index=True)
    assert first.count() > 0
    n_after_first = spark.read.parquet(f"{path}/sigs").count()
    # retry the SAME snapshot (partial-failure replay): ids already indexed
    retry = incremental_dedup_pairs(spark, new, "doc_id", "text", path, update_index=True)
    assert retry.count() == 0  # nothing new touches the corpus
    assert spark.read.parquet(f"{path}/sigs").count() == n_after_first  # no bloat
    assert (
        spark.read.parquet(f"{path}/sigs").groupBy("_id").count().filter("count > 1").count() == 0
    )  # no conflicting duplicate signature rows either


def test_compaction_picks_up_changed_recrawls(spark, corpora, tmp_path):
    """Append-only emulation keeps a re-crawled id's ORIGINAL signature;
    compact_dedup_index rebuilds from current state so the change lands."""
    from batch_doc_vqa_spark.operators.dedup_index import compact_dedup_index

    old, new = corpora
    path = str(tmp_path / "idx4")
    build_dedup_index(old, "doc_id", "text", path)
    # re-crawl: old0's content becomes a copy of old1's
    changed = spark.createDataFrame(
        [("old0", [r["text"] for r in old.collect() if r["doc_id"] == "old1"][0])]
        + [(r["doc_id"], r["text"]) for r in old.collect() if r["doc_id"] != "old0"],
        "doc_id string, text string",
    )
    # pre-compaction: a fresh snapshot duplicating old1 finds old1, and the
    # stale old0 signature does NOT yet reflect the re-crawl
    probe = spark.createDataFrame([("probe", changed.collect()[0]["text"])],
                                  "doc_id string, text string")
    before = {(r["id_a"], r["id_b"])
              for r in incremental_dedup_pairs(spark, probe, "doc_id", "text", path,
                                               update_index=False).collect()}
    assert ("old1", "probe") in before and ("old0", "probe") not in before
    compact_dedup_index(spark, changed, "doc_id", "text", path)
    after = {(r["id_a"], r["id_b"])
             for r in incremental_dedup_pairs(spark, probe, "doc_id", "text", path,
                                              update_index=False).collect()}
    assert {("old0", "probe"), ("old1", "probe")} <= after  # change landed


def test_torn_snapshot_is_invisible_and_retry_heals(spark, corpora, tmp_path):
    """A snapshot whose marker never landed (crash between the sigs and
    bands writes) is invisible — its docs re-enter the next attempt's
    anti-join as not-indexed, so both halves get rewritten (VERDICT-review:
    the old append order could strand a doc with a signature but no band
    rows, silently unreachable forever)."""
    import os

    from batch_doc_vqa_spark.operators.dedup_index import read_index_bands, read_index_sigs

    old, new = corpora
    path = str(tmp_path / "idx5")
    build_dedup_index(old, "doc_id", "text", path)
    incremental_dedup_pairs(spark, new, "doc_id", "text", path,
                            update_index=True, snapshot_id="snapA")
    assert read_index_sigs(spark, path).count() == 30 + new.count()
    # tear snapA: delete its marker — the data dirs stay on disk
    os.remove(f"{path}/_committed/snapA")
    assert os.path.isdir(f"{path}/sigs/run_id=snapA")
    assert read_index_sigs(spark, path).count() == 30  # invisible
    assert read_index_bands(spark, path).filter("_id like 'new%'").count() == 0
    # retry heals: the snapshot's ids look un-indexed again and recommit
    pairs = incremental_dedup_pairs(spark, new, "doc_id", "text", path,
                                    update_index=True, snapshot_id="snapA")
    assert pairs.count() > 0  # pairs re-emitted (they never committed)
    assert read_index_sigs(spark, path).count() == 30 + new.count()
    assert read_index_bands(spark, path).filter("_id = 'new_exact'").count() == 16


def test_incremental_commit_blocked_during_compaction(spark, corpora, tmp_path):
    """The lease enforces single-writer: an incremental commit attempted
    while a compaction is in flight fails LOUDLY instead of being silently
    lost by the compaction's marker swap (VERDICT r4 #1)."""
    old, new = corpora
    path = str(tmp_path / "idx_lease")
    build_dedup_index(old, "doc_id", "text", path)
    acquire_maintenance_lease(spark, path, {"snap": "compact-test", "pre_markers": ["base"]})
    with pytest.raises(MaintenanceInProgressError):
        incremental_dedup_pairs(spark, new, "doc_id", "text", path,
                                update_index=True, snapshot_id="snapX")
    # the blocked attempt committed nothing
    assert committed_publish_ids(spark, path) == ["base"]
    release_maintenance_lease(spark, path)
    incremental_dedup_pairs(spark, new, "doc_id", "text", path,
                            update_index=True, snapshot_id="snapX")
    assert committed_publish_ids(spark, path) == ["base", "snapX"]


def test_compaction_rolls_back_and_preserves_racing_snapshot(spark, corpora, tmp_path):
    """A snapshot that slips past the lease probe and commits mid-compaction
    (simulated via the pre-swap hook committing a marker directly) is
    PRESERVED: the compaction detects it post-swap, restores the previous
    marker dir exactly, and raises ConcurrentCommitError."""
    from batch_doc_vqa_spark.operators.dedup import banded_rows, minhash_signatures
    from batch_doc_vqa_spark.operators.dedup_index import (
        INDEX_PARAMS,
        compact_dedup_index,
        read_index_sigs,
    )

    old, new = corpora
    path = str(tmp_path / "idx_race")
    build_dedup_index(old, "doc_id", "text", path)

    def racer_commit():
        # what incremental_dedup_pairs' commit does, with the marker file
        # created RAW (the racer's lease probe passed before the lease
        # appeared) — models the probe-then-commit race window
        p = INDEX_PARAMS
        sigs = minhash_signatures(new, "doc_id", "text", p["n"], p["num_hashes"],
                                  p["seed"], p["base_hash"])
        bands = banded_rows(sigs, p["num_hashes"], p["bands"], p["base_hash"])
        sigs.select("_id", "signature").write.mode("overwrite").parquet(
            f"{path}/sigs/run_id=racer")
        bands.select("_id", "band_idx", "band_hash").write.mode("overwrite").parquet(
            f"{path}/bands/run_id=racer")
        open(f"{path}/_committed/racer", "w").close()

    with pytest.raises(ConcurrentCommitError):
        compact_dedup_index(spark, old, "doc_id", "text", path,
                            _test_hook_before_swap=racer_commit)
    # rollback: both the original snapshot AND the racer survive, readable
    assert committed_publish_ids(spark, path) == ["base", "racer"]
    assert read_index_sigs(spark, path).count() == 30 + new.count()
    # the lease was released — a re-run compaction (now including the racer
    # docs in current state) succeeds
    current = old.unionByName(new)
    compact_dedup_index(spark, current, "doc_id", "text", path)
    assert len(committed_publish_ids(spark, path)) == 1
    assert read_index_sigs(spark, path).count() == 30 + new.count()


def test_recover_completes_or_rolls_back_crashed_compaction(spark, corpora, tmp_path):
    """Crash between the swap renames leaves NO live marker dir; readers
    fail loudly (never silently-empty) and recover_marker_store restores the
    exact pre-compaction state (ADVICE r4: no manual recovery)."""
    import os

    from batch_doc_vqa_spark.operators.dedup_index import (
        compact_dedup_index,
        read_index_sigs,
    )

    old, _ = corpora
    path = str(tmp_path / "idx_crash")
    build_dedup_index(old, "doc_id", "text", path)

    class Crash(RuntimeError):
        pass

    # crash right before the swap: data dirs written, lease held, markers
    # untouched → recover rolls back
    def boom():
        raise Crash()

    with pytest.raises(Crash):
        compact_dedup_index(spark, old, "doc_id", "text", path, _test_hook_before_swap=boom)
    assert recover_marker_store(spark, path) == "rolled_back"
    assert committed_publish_ids(spark, path) == ["base"]
    assert read_index_sigs(spark, path).count() == 30

    # crash AFTER the aside rename (no live _committed): simulate by moving
    # the live dir aside and re-planting the lease the crashed run held
    os.rename(f"{path}/_committed", f"{path}/_committed_old")
    acquire_maintenance_lease(spark, path, {"snap": "compact-crashed", "pre_markers": ["base"]})
    with pytest.raises(FileNotFoundError):
        read_index_sigs(spark, path)  # loud, not silently empty
    assert recover_marker_store(spark, path) == "rolled_back"
    assert committed_publish_ids(spark, path) == ["base"]
    assert read_index_sigs(spark, path).count() == 30
    assert recover_marker_store(spark, path) == "clean"  # idempotent


def test_vacuum_reclaims_only_uncommitted_snapshots(spark, corpora, tmp_path):
    """Compaction defers GC (concurrent readers keep scanning old snapshot
    files); vacuum_store is the separate reclaim step and refuses to
    run under a live lease (ADVICE r4)."""
    import os

    from batch_doc_vqa_spark.operators.dedup_index import (
        compact_dedup_index,
        read_index_sigs,
    )

    old, new = corpora
    path = str(tmp_path / "idx_vac")
    build_dedup_index(old, "doc_id", "text", path)
    incremental_dedup_pairs(spark, new, "doc_id", "text", path,
                            update_index=True, snapshot_id="snapV")
    # a lazy reader built BEFORE compaction
    pre_reader = read_index_sigs(spark, path)
    compact_dedup_index(spark, old.unionByName(new), "doc_id", "text", path)
    # old snapshot data dirs survive the compaction → the pre-swap reader
    # still scans without FileNotFound
    assert os.path.isdir(f"{path}/sigs/run_id=base") and os.path.isdir(f"{path}/sigs/run_id=snapV")
    assert pre_reader.count() == 30 + new.count()

    acquire_maintenance_lease(spark, path, {"snap": "x", "pre_markers": []})
    with pytest.raises(MaintenanceInProgressError):
        vacuum_store(spark, path)
    release_maintenance_lease(spark, path)
    # the default retention grace protects a marker-less dir that might be
    # an IN-FLIGHT commit (data written, marker not yet landed): these dirs
    # are seconds old, so the default-grace vacuum must not touch them
    assert vacuum_store(spark, path) == []
    assert os.path.isdir(f"{path}/sigs/run_id=base")
    deleted = vacuum_store(spark, path, grace_seconds=0)
    assert set(deleted) == {"base", "snapV"}
    assert not os.path.isdir(f"{path}/sigs/run_id=base")
    assert read_index_sigs(spark, path).count() == 30 + new.count()  # live snapshot intact


def test_pairs_for_snapshot_rejects_random_ids_sorting_after_target(
    spark, corpora, tmp_path
):
    """ADVICE r5 (low): 'earlier' is lexicographic on snapshot ids, so a
    batch snapshot with the default RANDOM 's<hex12>' id that sorts after
    the audited epoch has unknowable ingestion order — the recompute must
    fail loudly instead of returning a silently incomplete pair set.
    allow_unsorted_ids=True is the explicit override."""
    from batch_doc_vqa_spark.operators.dedup_index import (
        incremental_dedup_pairs,
        pairs_for_snapshot,
    )

    old, new = corpora
    path = str(tmp_path / "idx_mixed")
    build_dedup_index(old, "doc_id", "text", path)
    # an epoch-style snapshot (streaming twin scheme), then a batch append
    # with the DEFAULT random id (which always sorts after 'e…')
    incremental_dedup_pairs(
        spark, new.limit(4), "doc_id", "text", path,
        threshold=0.5, snapshot_id="e00000001",
    ).collect()
    incremental_dedup_pairs(
        spark, new.filter(F.col("doc_id") == "new_unique"), "doc_id", "text", path,
        threshold=0.5,  # default random 's<hex12>' snapshot id
    ).collect()
    with pytest.raises(ValueError, match="RANDOM id scheme"):
        pairs_for_snapshot(spark, path, "e00000001")
    # explicit override: the random snapshot genuinely ingested later here
    healed = pairs_for_snapshot(spark, path, "e00000001", allow_unsorted_ids=True)
    assert healed.count() >= 0


def test_pre_protocol_index_fails_loudly_and_vacuum_leaves_it(spark, corpora, tmp_path):
    """An index written before the shared layout (committed markers over
    ``sigs|bands/snap=<id>`` dirs) has no ``run_id`` column: its reads
    raise instead of returning an empty index (which would make every doc
    look new), and ``vacuum_store`` only ever deletes ``run_id=`` dirs."""
    import os
    import re

    from batch_doc_vqa_spark.operators.dedup import banded_rows, minhash_signatures
    from batch_doc_vqa_spark.operators.dedup_index import (
        INDEX_PARAMS,
        pairs_for_snapshot,
        read_index_sigs,
    )

    old, _ = corpora
    path = str(tmp_path / "idx_legacy")
    p = INDEX_PARAMS
    sigs = minhash_signatures(old, "doc_id", "text", p["n"], p["num_hashes"],
                              p["seed"], p["base_hash"])
    bands = banded_rows(sigs, p["num_hashes"], p["bands"], p["base_hash"])
    sigs.select("_id", "signature").write.parquet(f"{path}/sigs/snap=base")
    bands.select("_id", "band_idx", "band_hash").write.parquet(f"{path}/bands/snap=base")
    os.makedirs(f"{path}/_committed")
    open(f"{path}/_committed/base", "w").close()

    legacy = re.escape(f"{path}/sigs has no run_id= run dirs") + ".*predates.*build_dedup_index"
    with pytest.raises(ValueError, match=legacy):
        read_index_sigs(spark, path).count()
    with pytest.raises(ValueError, match=legacy):
        incremental_dedup_pairs(spark, old, "doc_id", "text", path).count()
    with pytest.raises(ValueError, match="predates"):
        pairs_for_snapshot(spark, path, "base")
    assert vacuum_store(spark, path, grace_seconds=0) == []
    assert os.path.isdir(f"{path}/sigs/snap=base") and os.path.isdir(f"{path}/bands/snap=base")


def test_pairs_for_snapshot_reads_one_marker_set(spark, corpora, tmp_path, monkeypatch):
    """The crash-heal recompute filters both tables on the marker set it
    captured once: a compaction swap landing mid-read (simulated by a
    later listing that no longer holds the target) must not filter the
    target snapshot out and heal the epoch with zero pairs."""
    from batch_doc_vqa_spark.operators.dedup_index import pairs_for_snapshot
    from batch_doc_vqa_spark.plans import publish

    old, new = corpora
    path = str(tmp_path / "idx_one_set")
    build_dedup_index(old, "doc_id", "text", path)
    incremental_dedup_pairs(spark, new, "doc_id", "text", path,
                            threshold=0.5, snapshot_id="e00000001").collect()
    expected = sorted(tuple(r) for r in pairs_for_snapshot(spark, path, "e00000001").collect())
    assert expected
    monkeypatch.setattr(publish, "committed_publish_ids", lambda *a: ["compact-later"])
    healed = sorted(tuple(r) for r in pairs_for_snapshot(spark, path, "e00000001").collect())
    assert healed == expected
