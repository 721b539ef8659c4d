"""Training-sample construction: token-window chunking + deterministic
corpus sampling/mixing — the document→sample stage of an LLM data pipeline
(the step after cleaning/dedup, before packing into sequences).

Both are pure column expressions: chunking is sequence+slice over the token
array (an in-plan UDTF-style fan-out, no Python), sampling keys off a
content hash so it is partition- and rerun-stable (never rand()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import seeded_hash
from .packing import prefix_sum

# every sampler here draws pmod(h(id#seed), 2^20): an integer in [0, 2^20)
_BUCKETS = 1 << 20


def _draw(id_col: str, seed: int, base_hash: str):
    return F.pmod(seeded_hash(id_col, seed, base_hash), F.lit(_BUCKETS))


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 256,
    overlap: int = 32,
    tokenizer: str = "ws",
    merges=None,
) -> DataFrame:
    """Split documents into token windows with overlap.

    Output: (id, chunk_idx, n_tokens, chunk_text); stride =
    chunk_tokens - overlap. The final window is emitted iff it starts inside
    the document and contains at least one token beyond the previous window
    (standard training-chunker semantics: every token appears in ≥1 chunk,
    no empty or fully-duplicated tail chunk).

    ``tokenizer='ws'`` (default) windows over whitespace tokens in pure
    column expressions; ``'bpe'`` delegates to
    ``subword.bpe_chunk_documents`` — the same window math over the REAL
    subword sequence (model-token context lengths), Arrow-batched with the
    ``merges`` table from ``subword.learn_bpe`` broadcast.

    Shape: tokens projected once, windows generated in-array via
    ``sequence`` + ``transform``+``slice``, then ONE posexplode — the
    document→sample fan-out stays inside codegen with zero Python and no
    shuffle (the explode is pipelined into the scan stage).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    if tokenizer == "bpe":
        if merges is None:
            raise ValueError("tokenizer='bpe' needs a merges table (subword.learn_bpe)")
        from .subword import bpe_chunk_documents

        return bpe_chunk_documents(df, id_col, text_col, merges, chunk_tokens, overlap)
    if tokenizer != "ws":
        raise ValueError(f"unknown tokenizer: {tokenizer!r}")
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))
    base = df.select(F.col(id_col), toks.alias("_t")).withColumn("_n", F.size("_t"))
    # window start offsets: 1, 1+stride, ... while start <= n (1-based);
    # empty docs produce no chunks
    starts = F.when(
        F.col("_n") > 0,
        F.sequence(
            F.lit(1),
            # last start: the largest 1+k*stride that still begins a window
            # with a NEW token: ceil((n - chunk)/stride) capped below at 0
            F.lit(1)
            + F.greatest(
                F.ceil((F.col("_n") - F.lit(chunk_tokens)) / F.lit(stride)).cast("int"),
                F.lit(0),
            )
            * F.lit(stride),
            F.lit(stride),
        ),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(starts, lambda s: F.array_join(F.slice("_t", s, chunk_tokens), " "))
    return (
        base.select(id_col, F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
        .withColumn(
            "n_tokens",
            F.size(F.filter(F.split("chunk_text", r"\s+"), lambda t: t != F.lit(""))),
        )
        .select(id_col, "chunk_idx", "n_tokens", "chunk_text")
    )


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    fraction: float,
    seed: int = 0,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Content-keyed Bernoulli sample: keep iff h(id, seed) < fraction·2^20.

    Unlike ``df.sample`` (task-order dependent), membership is a pure
    function of the row id — identical under any partitioning, resumable,
    and reproducible in SQL with ``base_hash='md5'`` (portable_hash64).
    """
    return df.filter(_draw(id_col, seed, base_hash) < int(fraction * _BUCKETS))


def score_resample(
    df: DataFrame,
    id_col: str,
    score_col: str,
    seed: int = 0,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Soft quality filter: keep a row with probability equal to its score
    (GPT-3's classifier-based importance resampling — documents are kept
    stochastically in proportion to quality, so borderline docs survive at
    reduced rate instead of a hard threshold cliff).

    The "randomness" is the repo's deterministic draw (CLAUDE.md): ``draw =
    pmod(h(id#seed), 2^20) / 2^20`` — a pure function of the row id, so
    membership is partition-independent, rerun-stable, and (with
    ``base_hash='md5'``) reproducible in the DuckDB oracle. Keep iff
    ``draw < score``; the draw is returned (rounded 6) for auditability.
    Pure column math, no shuffle at all — a map-side filter.
    """
    draw = _draw(id_col, seed, base_hash).cast("double") / F.lit(float(_BUCKETS))
    return (
        df.withColumn("draw", F.round(draw, 6))
        .filter(draw < F.col(score_col))
    )


def weighted_mixture(
    sources: list[tuple[DataFrame, float]],
    id_col: str,
    seed: int = 0,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Mix corpora by per-source sampling weights (0..1 keep-fractions).

    Each source is deterministically subsampled then unioned with a
    ``source_idx`` lineage column — the dataset-mixing step of a training
    recipe, rerun-stable by construction.
    """
    parts = []
    for idx, (df, w) in enumerate(sources):
        kept = deterministic_sample(df, id_col, w, seed=seed + idx, base_hash=base_hash)
        parts.append(kept.withColumn("source_idx", F.lit(idx)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def epoch_expand(
    df: DataFrame,
    id_col: str,
    epochs_col,
    seed: int = 0,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Deterministic UPsampling: repeat each row ``epochs`` times, where
    ``epochs`` may be fractional (LLaMA-style per-source epoch counts in a
    data-mixing recipe — e.g. books 2.5 epochs, web 1.0).

    Integer part → that many copies; fractional part → one extra copy iff
    the row's content-keyed Bernoulli draw (same hash convention as
    ``deterministic_sample``) lands under it. Output gains ``epoch_idx``
    (0-based copy index) so downstream shuffles of repeated rows stay
    distinguishable. Membership and copy count are pure functions of
    (id, seed) — identical under any partitioning.
    """
    epochs = epochs_col if not isinstance(epochs_col, str) else F.col(epochs_col)
    n_full = F.floor(epochs).cast("int")
    frac = epochs - n_full
    # explicit floor before the long cast: Spark's double→long cast truncates
    # but DuckDB's rounds, so a SQL mirror must write FLOOR(frac * 2^20) too
    # (matters for fractions like 0.1 that aren't binary-representable)
    extra = (_draw(id_col, seed, base_hash) < F.floor(frac * _BUCKETS).cast("long")).cast("int")
    copies = (n_full + extra).alias("_copies")
    return (
        df.withColumn("_copies", copies)
        .filter(F.col("_copies") > 0)
        .withColumn("epoch_idx", F.explode(F.sequence(F.lit(0), F.col("_copies") - 1)))
        .drop("_copies")
    )


def budget_select(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    budget: int,
    order_col: str,
    id_col: str,
    order_block: int | None = None,
) -> DataFrame:
    """Token-budget curation: within each group (source/domain), keep the
    best rows (``order_col`` descending, ``id_col`` tiebreak) until the
    running token total reaches ``budget`` — the fixed-budget curriculum
    step of a data recipe. The running total INCLUDES the current row: a
    row that would overshoot the budget is dropped, rows after it too
    (contiguous prefix by construction).

    A NULL token count adds 0, so a group's leading NULL-token rows are
    kept with ``cum_tokens`` 0.

    Scale: the running total is ``packing.prefix_sum``. The plain form is
    one window per group — fine when no group dominates. A mega-group (one
    "web" source owning most of a 10^12-doc corpus) would collapse onto one
    task, so ``order_block`` switches to its two-layer form with blocks cut
    along the descending order (requires a numeric ``order_col``; results
    are identical to the plain form — tested). Value-skew caveat: if most
    rows share ONE order value they share a block; pick ``order_block``
    small relative to the value spread.
    """
    toks = F.col(tokens_col).cast("long")
    return prefix_sum(
        df, toks, [f"-{order_col}", id_col], "cum_tokens",
        partition_by=[group_col], block=order_block, inclusive=True,
    ).filter(F.col("cum_tokens") <= budget)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
    base_hash: str = "xxhash64",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (the
    Efraimidis–Spirakis exponential race): each row gets
    ``wkey = round(-ln(u) / weight, 6)`` with ``u`` the repo's
    deterministic (0,1) draw from ``(id, seed)``, and the k SMALLEST keys
    win — inclusion probability is proportional to weight, no row repeats,
    and membership is a pure function of the data (partition- and
    rerun-stable; ``base_hash='md5'`` makes the draw reproducible in the
    DuckDB oracle). Ties after the 6-decimal round (needed for
    cross-engine float identity) break on the id — the selected SET is
    identical in both engines. Rows with weight <= 0 or NULL are never
    sampled (their race time is infinite).

    Scale shape: global top-k is a TakeOrderedAndProject — one linear
    scan, k rows kept per partition, no full sort materialization. With
    ``group_cols`` it is a per-group rank window: fine-grained groups
    spread; a mega-group serializes its own sort — for per-source quotas
    over 10^12 docs pick groups like (source, shard) and merge, or use
    ``budget_select`` for token-denominated quotas.
    """
    u = (_draw(id_col, seed, base_hash) + 1).cast("double") / F.lit(float(_BUCKETS + 1))
    w = F.col(weight_col).cast("double")
    base = df.filter(w.isNotNull() & (w > 0)).withColumn(
        "wkey", F.round(-F.log(u) / w, 6)
    )
    if group_cols:
        from pyspark.sql import Window

        win = Window.partitionBy(*group_cols).orderBy(F.col("wkey"), F.col(id_col))
        return (
            base.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
    return base.orderBy("wkey", id_col).limit(k)


def stratified_split(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    seed: int = 0,
    base_hash: str = "xxhash64",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic EXACT-fraction train/val/test assignment per stratum —
    the split step every training-data release ships. Each stratum
    (source, language, domain bucket) is ordered by the repo's (id, seed)
    draw and cut at floor(frac·n) boundaries in the given label order, so
    every stratum lands within one row of its target fraction (a Bernoulli
    split like ``deterministic_sample`` only hits fractions in
    expectation — real releases pin exact per-stratum counts). The LAST
    label absorbs the floor remainders; fractions must sum to 1.

    Assignment is a pure function of (data, seed): the draw is
    content-keyed (never ``rand()``/task order), the within-stratum rank
    tie-breaks on id, and re-running on any partitioning reproduces the
    identical split. ``base_hash='md5'`` makes the whole assignment
    reproducible in the DuckDB oracle.

    Scale shape: one shuffle on the stratum key; rank + stratum-size are
    two window passes over that single partitioning. A mega-stratum
    serializes its own sort — same caveat and same answer as
    ``weighted_sample``'s group tier (split such strata by a data-derived
    shard key first).
    """
    from pyspark.sql import Window

    if not fractions:
        raise ValueError("stratified_split: fractions must be non-empty")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"stratified_split: fractions must sum to 1: {total}")
    if any(f < 0 for f in fractions.values()):
        raise ValueError("stratified_split: fractions must be non-negative")
    if out_col in df.columns:
        raise ValueError(f"stratified_split: out_col collides: {out_col}")
    h = seeded_hash(id_col, seed, base_hash)
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    wn = Window.partitionBy(strata_col)
    ranked = df.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_sn", F.count(F.lit(1)).over(wn)
    )
    # cumulative floor(frac·n) boundaries in label order (first match
    # wins). The boundary is floor of a DOUBLE product — deterministic and
    # engine-identical as long as the oracle writes the same cumulative
    # literal (embed repr(cum), never re-sum in SQL): both engines compute
    # the identical IEEE product, so the cut lands on the identical row
    labels = list(fractions.keys())
    cum = 0.0
    expr = None
    for lbl in labels[:-1]:
        cum += fractions[lbl]
        bound = F.floor(F.lit(cum) * F.col("_sn"))
        cond = F.col("_rk") <= bound
        expr = F.when(cond, F.lit(lbl)) if expr is None else expr.when(cond, F.lit(lbl))
    last = F.lit(labels[-1])
    out = ranked.withColumn(out_col, last if expr is None else expr.otherwise(last))
    return out.drop("_rk", "_sn")


def temperature_resample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    alpha: float,
    total_budget: int | None = None,
    seed: int = 0,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Temperature-based mixture rebalancing (the multilingual α-sampling
    rule of mBERT/XLM-R): resample so group g's share of the output tracks
    ``n_g^α / Σ n^α`` instead of its raw share — α=1 keeps natural
    proportions, α→0 flattens toward uniform, lifting low-resource groups
    a pure proportional budget would starve.

    Each group's keep probability is ``min(1, T·q_g / n_g)`` with
    ``q_g = round(n_g^α / Σ n^α, 6)`` and T the output budget in rows
    (default: the input total — a pure rebalance). Membership is the
    repo's deterministic draw compared as an INTEGER
    (``pmod(h(id#seed), 2^20) < floor(round(p,6)·2^20)`` — no float
    boundary can flip between engines), so the kept set is a pure function
    of (data, α, seed) and reproducible in SQL with ``base_hash='md5'``.
    Groups where the cap binds (keep_prob=1) under-fill the budget rather
    than oversample — this operator never duplicates rows; compose with
    ``epoch_expand`` for >1 epochs of small groups.

    Scale shape: one map-side-combined group count (|groups| rows, a
    broadcast dim), then a map-only filter over the corpus — no corpus
    shuffle at all. Returns kept rows + ``keep_prob`` lineage.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"temperature_resample: alpha must be in (0,1]: {alpha}")
    if "keep_prob" in df.columns or "_tm_n" in df.columns:
        raise ValueError("temperature_resample: input collides with keep_prob/_tm_n")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_tm_n"))
    tot = counts.agg(
        F.sum("_tm_n").alias("_tm_total"),
        F.sum(F.pow(F.col("_tm_n").cast("double"), F.lit(float(alpha)))).alias("_tm_zsum"),
    )
    t_budget = (
        F.lit(int(total_budget)).cast("double")
        if total_budget is not None
        else F.col("_tm_total").cast("double")
    )
    q = F.round(
        F.pow(F.col("_tm_n").cast("double"), F.lit(float(alpha))) / F.col("_tm_zsum"), 6
    )
    dim = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.round(
            F.least(F.lit(1.0), t_budget * q / F.col("_tm_n").cast("double")), 6
        ).alias("keep_prob"),
    )
    return df.join(F.broadcast(dim), group_col).filter(
        _draw(id_col, seed, base_hash)
        < F.floor(F.col("keep_prob") * F.lit(float(_BUCKETS))).cast("long")
    )
