"""Sequence packing (concat-and-cut): the distributed two-layer prefix sum
must equal the naive sequential layout under any blocking/partitioning."""

from __future__ import annotations

import random

import pytest

from batch_doc_vqa_spark.operators.packing import pack_sequences, packing_stats, prefix_sum

CTX = 100


def _naive_layout(rows):
    out, off = {}, 0
    for k, n in sorted(rows):
        start = off
        end_seq = (start + max(n - 1, 0)) // CTX
        out[k] = (start, start // CTX, end_seq)
        off += n
    return out


def test_matches_naive_sequential_layout(spark):
    rng = random.Random(5)
    rows = [(i, rng.randint(0, 250)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    got = {
        r["doc_id"]: (r["start_offset"], r["seq_id"], r["end_seq_id"])
        for r in pack_sequences(df, "doc_id", "n_tokens", CTX, block_size=37).collect()
    }
    assert got == _naive_layout(rows)


def test_layout_is_blocking_and_partitioning_independent(spark):
    rng = random.Random(9)
    rows = [(i, rng.randint(0, 250)) for i in range(200)]
    base = None
    for block, parts in ((16, 2), (64, 8), (4096, 3)):
        df = spark.createDataFrame(rows, "doc_id long, n_tokens int").repartition(parts)
        got = sorted(
            (r["doc_id"], r["start_offset"])
            for r in pack_sequences(df, "doc_id", "n_tokens", CTX, block_size=block).collect()
        )
        base = base or got
        assert got == base, (block, parts)


def test_boundary_flags_and_zero_token_docs(spark):
    rows = [(0, 60), (1, 60), (2, 0), (3, 30)]  # doc1 spans the 100-token cut
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    got = {r["doc_id"]: r for r in pack_sequences(df, "doc_id", "n_tokens", CTX).collect()}
    assert (got[0]["seq_id"], got[0]["end_seq_id"], got[0]["crosses_boundary"]) == (0, 0, False)
    assert (got[1]["seq_id"], got[1]["end_seq_id"], got[1]["crosses_boundary"]) == (0, 1, True)
    # zero-token doc occupies no space but keeps a defined offset
    assert (got[2]["start_offset"], got[2]["crosses_boundary"]) == (120, False)
    assert got[3]["start_offset"] == 120

    stats = packing_stats(
        pack_sequences(df, "doc_id", "n_tokens", CTX), "n_tokens", CTX
    ).collect()[0]
    assert stats["n_docs"] == 4 and stats["total_tokens"] == 150
    assert stats["n_sequences"] == 2 and stats["n_boundary_docs"] == 1
    assert stats["fill_fraction"] == 0.75


def test_no_global_single_partition_shuffle(spark):
    """The corpus-sized window is partitioned by block; only the tiny block
    table may sort in one partition."""
    df = spark.createDataFrame([(i, 10) for i in range(100)], "doc_id long, n_tokens int")
    out = pack_sequences(df, "doc_id", "n_tokens", CTX, block_size=16)
    plan = spark._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    # the corpus-side window must be hash-partitioned on the block key
    assert "hashpartitioning(_blk" in plan, plan[:2000]


@pytest.mark.parametrize("inclusive", [False, True])
@pytest.mark.parametrize("partition_by", [[], ["g"]], ids=["global", "partitioned"])
@pytest.mark.parametrize("order", [["k"], ["-k"]], ids=["asc", "desc"])
def test_prefix_sum_equals_one_global_window(spark, order, partition_by, inclusive):
    """Every block width of the two-layer form equals the one-window form
    and a Python running sum: negative keys, NULL values (counted as 0),
    ascending and descending keys, partitioned and global sums, exclusive
    and inclusive frames, exact BIGINT (int) and double (float) cuts."""
    rng = random.Random(17)
    keys = list(range(-400, 400, 3))
    rng.shuffle(keys)
    rows = [(k, k % 3, None if k % 11 == 0 else rng.randint(0, 50)) for k in keys]
    df = spark.createDataFrame(rows, "k long, g int, v int").repartition(5)
    widths = (None, 1, 7, 64, 5000, 2.5)
    out = df
    for i, b in enumerate(widths):
        out = prefix_sum(out, "v", order, f"s{i}", partition_by, block=b, inclusive=inclusive)
    assert out.columns == ["k", "g", "v"] + [f"s{i}" for i in range(len(widths))]

    expect, run = {}, {}
    for k, g, v in sorted(rows, reverse=order == ["-k"]):
        part = g if partition_by else None
        before = run.get(part, 0)
        run[part] = before + (v or 0)
        expect[k] = run[part] if inclusive else before
    for r in out.collect():
        assert [r[f"s{i}"] for i in range(len(widths))] == [expect[r["k"]]] * len(widths), r


def test_prefix_sum_refuses_colliding_columns(spark):
    df = spark.createDataFrame([(1, 2, 3)], "k long, v long, _blk long")
    with pytest.raises(ValueError, match="collide with internals"):
        prefix_sum(df, "v", ["k"], "s", block=4)
    with pytest.raises(ValueError, match="collide with internals"):
        prefix_sum(df.drop("_blk"), "v", ["k"], "v")
