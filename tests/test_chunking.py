"""Token-window chunking + deterministic sampling/mixing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_doc_vqa_spark.operators import chunking


def test_chunk_windows_cover_all_tokens_with_overlap(spark):
    text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "only three tokens"), (3, "")],
                               "doc_id long, text string")
    out = chunking.chunk_documents(df, "doc_id", "text", chunk_tokens=40, overlap=10)
    rows = sorted(out.collect(), key=lambda r: (r["doc_id"], r["chunk_idx"]))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 1, 31, 61 (stride 30); last window [61..100] ends exactly at n
    c1 = by_doc[1]
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2]
    assert [r["n_tokens"] for r in c1] == [40, 40, 40]
    assert c1[0]["chunk_text"].split()[:2] == ["t0", "t1"]
    assert c1[2]["chunk_text"].split()[-1] == "t99"   # full coverage
    assert c1[1]["chunk_text"].split()[0] == "t30"    # overlap of 10
    # short doc: single chunk, actual token count
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 3
    # empty doc: no chunks
    assert 3 not in by_doc


def test_chunk_no_duplicate_tail(spark):
    # n=45, chunk=40, stride=30 -> starts 1, 31 (31+39=70 >= 45, covers tail);
    # a start at 61 would be past n and must NOT be emitted
    df = spark.createDataFrame([(1, " ".join(f"x{i}" for i in range(45)))],
                               "doc_id long, text string")
    out = chunking.chunk_documents(df, "doc_id", "text", 40, 10).collect()
    assert [r["chunk_idx"] for r in sorted(out, key=lambda r: r["chunk_idx"])] == [0, 1]
    assert sorted(out, key=lambda r: r["chunk_idx"])[1]["n_tokens"] == 15


def test_deterministic_sample_stable_under_partitioning(spark):
    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in chunking.deterministic_sample(df.repartition(1), "doc_id", 0.3, seed=1).collect()}
    b = {r["doc_id"] for r in chunking.deterministic_sample(df.repartition(16), "doc_id", 0.3, seed=1).collect()}
    assert a == b                      # membership independent of layout
    assert 0.25 < len(a) / 2000 < 0.35  # close to the nominal fraction
    c = {r["doc_id"] for r in chunking.deterministic_sample(df, "doc_id", 0.3, seed=2).collect()}
    assert a != c                      # seed changes the sample


def test_weighted_mixture_sources_and_weights(spark):
    a = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    b = spark.range(1000, 2000).select(F.col("id").alias("doc_id"))
    mix = chunking.weighted_mixture([(a, 1.0), (b, 0.2)], "doc_id", seed=5)
    rows = mix.groupBy("source_idx").count().collect()
    got = {r["source_idx"]: r["count"] for r in rows}
    assert got[0] == 1000              # weight 1.0 keeps everything
    assert 130 < got[1] < 270          # weight 0.2 keeps ~200


def test_epoch_expand_fractional_epochs(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    out = chunking.epoch_expand(df, "doc_id", F.lit(2.5), seed=3)
    rows = [(r["doc_id"], r["epoch_idx"]) for r in out.collect()]
    per_doc = {}
    for d, e in rows:
        per_doc.setdefault(d, []).append(e)
    # every doc appears 2 or 3 times with contiguous 0-based epoch indices
    assert all(sorted(v) == list(range(len(v))) and len(v) in (2, 3) for v in per_doc.values())
    # the fractional half lands near 50% of docs (content-keyed Bernoulli)
    n3 = sum(1 for v in per_doc.values() if len(v) == 3)
    assert 140 <= n3 <= 260
    # sub-1.0 epochs degrade to deterministic sampling (0 or 1 copies)
    down = chunking.epoch_expand(df, "doc_id", F.lit(0.25), seed=3)
    kept = down.count()
    assert 0 < kept < 200
    # partition-independence: same membership under different layouts
    again = chunking.epoch_expand(df.repartition(7), "doc_id", F.lit(2.5), seed=3)
    assert sorted(rows) == sorted((r["doc_id"], r["epoch_idx"]) for r in again.collect())


def test_budget_select_contiguous_prefix(spark):
    rows = [
        ("a", 1, 40), ("a", 2, 30), ("a", 3, 30), ("a", 4, 10),
        ("b", 5, 90), ("b", 6, 90),
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, toks int")
    out = chunking.budget_select(df, "src", "toks", 80, "toks", "doc_id")
    got = {(r["src"], r["doc_id"]): r["cum_tokens"] for r in out.collect()}
    # a: 40 + 30 = 70 fits; the next 30 would overshoot → prefix stops
    # b: first 90 already overshoots → nothing kept
    assert got == {("a", 1): 40, ("a", 2): 70}


def test_budget_select_two_layer_equals_plain(spark):
    """order_block mode (the mega-source scale path) must reproduce the
    plain per-group window exactly, for several block sizes — NULL token
    counts included: they add 0 in both forms, whether the NULL row leads
    its group, sits mid-block, leads a block mid-group, or fills a block."""
    import random as _r

    rng = _r.Random(21)
    rows = [(f"s{i % 3}", i, rng.randint(1, 300), rng.randint(5, 50)) for i in range(600)]
    rows += [
        ("s0", 9001, 1000, None),  # leads its group
        ("s0", 9002, 800, 7),
        ("s0", 9003, 700, None),  # 9003-9005: a whole NULL block (widths 8, 64)
        ("s0", 9004, 701, None),
        ("s0", 9005, 702, None),
        ("s0", 9006, 400, None),  # leads its block mid-group (widths 8, 64)
        ("s0", 9007, 250, None),  # after equal-quality rows: mid-block
        ("s0", 9008, 250, 11),
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, quality int, toks int")
    plain = sorted(
        (r["src"], r["doc_id"], r["cum_tokens"])
        for r in chunking.budget_select(df, "src", "toks", 2000, "quality", "doc_id").collect()
    )
    got = {d: c for _, d, c in plain}
    assert got[9001] == 0
    assert got[9003] == got[9004] == got[9005] == got[9006] == 7
    assert got[9008] == got[9007] + 11
    for ob in (8, 64, 1000):
        two = sorted(
            (r["src"], r["doc_id"], r["cum_tokens"])
            for r in chunking.budget_select(
                df, "src", "toks", 2000, "quality", "doc_id", order_block=ob
            ).collect()
        )
        assert two == plain, ob


@pytest.mark.parametrize(
    "sample",
    [
        lambda df, bh: chunking.deterministic_sample(df, "doc_id", 0.5, seed=3, base_hash=bh),
        lambda df, bh: chunking.score_resample(df, "doc_id", "score", base_hash=bh),
        lambda df, bh: chunking.epoch_expand(df, "doc_id", "score", base_hash=bh),
        lambda df, bh: chunking.weighted_sample(df, "doc_id", "score", 5, base_hash=bh),
        lambda df, bh: chunking.stratified_split(
            df, "doc_id", "src", {"train": 0.5, "test": 0.5}, base_hash=bh
        ),
        lambda df, bh: chunking.temperature_resample(df, "doc_id", "src", 0.5, base_hash=bh),
        lambda df, bh: chunking.weighted_mixture([(df, 0.5), (df, 0.2)], "doc_id", base_hash=bh),
    ],
    ids=[
        "deterministic_sample", "score_resample", "epoch_expand", "weighted_sample",
        "stratified_split", "temperature_resample", "weighted_mixture",
    ],
)
def test_samplers_refuse_an_unknown_base_hash(spark, sample):
    """Every seeded sampler draws through dedup.seeded_hash, so a mistyped
    base_hash raises (naming it) instead of silently drawing the md5
    sample."""
    df = spark.createDataFrame([(1, "a", 0.5)], "doc_id long, src string, score double")
    with pytest.raises(ValueError, match=r"unknown base_hash: xxh$"):
        sample(df, "xxh")
    sample(df, "md5")
    sample(df, "xxhash64")


def test_weighted_sample_race_semantics(spark):
    """Efraimidis-Spirakis without replacement: hand-math keys, k distinct
    winners, weight-proportional inclusion, zero/NULL weights excluded,
    per-group quotas, partition independence."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from batch_doc_vqa_spark.operators.chunking import weighted_sample

    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    rows = [(i, ["s1", "s2"][i % 2], float(1 + (i % 10) * 10)) for i in range(600)]
    rows += [(900, "s1", 0.0), (901, "s2", None)]
    df = spark.createDataFrame(rows, "doc_id long, src string, w double")

    def wkey(i, w):
        h = int(hashlib.md5(f"{i}#7".encode()).hexdigest()[:15], 16)
        u = (h % (1 << 20) + 1) / float((1 << 20) + 1)
        return r6(-math.log(u) / w)

    expect = sorted(
        ((wkey(i, w), i) for i, _, w in rows if w), key=lambda t: t
    )[:50]
    got = sorted(
        (r["wkey"], r["doc_id"])
        for r in weighted_sample(df, "doc_id", "w", 50, seed=7, base_hash="md5").collect()
    )
    assert got == expect
    assert len({i for _, i in got}) == 50  # without replacement

    # heavier rows win more: mean weight of winners >> corpus mean
    mean_w = sum(w for _, _, w in rows if w) / 600
    win_w = {i: w for i, _, w in rows}
    assert sum(win_w[i] for _, i in got) / 50 > 1.3 * mean_w

    # per-group quota: exactly k rows per source, the group-local race
    per = weighted_sample(df, "doc_id", "w", 20, seed=7, base_hash="md5",
                          group_cols=["src"]).collect()
    by_src = {}
    for r in per:
        by_src.setdefault(r["src"], []).append((r["wkey"], r["doc_id"]))
    for src in ("s1", "s2"):
        exp_src = sorted(
            ((wkey(i, w), i) for i, s, w in rows if s == src and w), key=lambda t: t
        )[:20]
        assert sorted(by_src[src]) == exp_src

    # partition independence + JVM plan
    again = sorted(
        (r["wkey"], r["doc_id"])
        for r in weighted_sample(
            df.repartition(9), "doc_id", "w", 50, seed=7, base_hash="md5"
        ).collect()
    )
    assert again == got
    plan = (
        weighted_sample(df, "doc_id", "w", 50)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, never a full global sort
