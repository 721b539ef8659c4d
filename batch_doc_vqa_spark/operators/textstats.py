"""Text analysis operators for training-data pipelines.

Language-ID (marker-word heuristic), quality scoring (length / punctuation /
stopword ratios — the graft analogue of the reference's repetition heuristic
at /root/reference/src/batch_doc_vqa/openrouter/inference.py:69-96), token
counting (whitespace + BPE-ish regex), and content fingerprinting. Everything
is built-in column expressions (JVM, whole-stage codegen) so the same
semantics are expressible as the DuckDB oracle SQL — no UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EN_STOPWORDS = ["the", "and", "with", "from", "that", "this", "for", "are", "was"]
_MARKERS = {
    "en": ["the", "and", "with", "from", "that"],
    "de": ["und", "der", "nicht", "mit", "aber"],
    "fr": ["les", "dans", "avec", "pour", "mais"],
    "es": ["los", "para", "pero", "como", "donde"],
}

# word-ish / number / single-symbol pieces — a BPE-ish proxy tokenizer
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tokens(text_col):
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != F.lit(""))


def quality_exprs(text_col) -> list:
    """Aliased quality-feature columns; shared by ``quality_features`` and
    the fused ``corpus_filter`` projection (kernel = oracle, one definition)."""
    toks = _tokens(text_col)
    n_chars = F.length(text_col)
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(text_col, r"[^.!?,;:]", ""))
    stop = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    mean_tok_len = F.when(n_tokens > 0, F.round(n_chars / n_tokens, 6)).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, F.round(punct / n_chars, 6)).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, F.round(stop / n_tokens, 6)).otherwise(F.lit(0.0))
    score = F.round(
        F.when((n_tokens >= 20) & (n_tokens <= 100000), 0.4).otherwise(0.0)
        + F.when((punct_ratio > 0.001) & (punct_ratio < 0.2), 0.3).otherwise(0.0)
        + F.when(stop_ratio > 0.05, 0.3).otherwise(0.0),
        6,
    )
    return [
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_tok_len.alias("mean_token_len"),
        score.alias("quality_score"),
    ]


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc quality features + composite score, all column arithmetic."""
    return df.select(F.col(id_col), *quality_exprs(F.col(text_col)))


def lang_guess_expr(text_col):
    """Column expr: marker-word language guess (argmax over stopword hits).

    Exposed as a bare expression so composed gates (``corpus_filter``) can
    evaluate it inside an existing projection — one scan, no self-join.
    """
    toks = _tokens(text_col)

    def _marker_hits(markers: list[str]):
        # NB: the filter lambda must take exactly one arg — pyspark treats a
        # second parameter as the array index
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    scores = {lang: _marker_hits(markers) for lang, markers in _MARKERS.items()}
    best = F.greatest(*scores.values())
    guess = F.when(best == 0, F.lit("und"))
    for lang in _MARKERS:  # deterministic tie-break: dict order en,de,fr,es
        guess = guess.when(scores[lang] == best, F.lit(lang))
    return scores, guess


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language guess: argmax over per-language stopword hits."""
    scores, guess = lang_guess_expr(F.col(text_col))
    return df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in _MARKERS],
        guess.alias("lang_guess"),
    )


def token_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokenizer: str = "ws",
    merges=None,
) -> DataFrame:
    """Token counts per document. ``tokenizer='ws'`` (default): whitespace
    tokens + BPE-ish regex pieces — pure column expressions. ``'bpe'``: a
    REAL trained subword count appended as ``bpe_tokens`` (broadcast-vocab
    greedy BPE in an Arrow UDF — ``operators.subword``; pass the ``merges``
    table from ``subword.learn_bpe``), so budgets and context lengths can
    be denominated in model tokens."""
    base = df.select(
        F.col(id_col),
        F.size(_tokens(F.col(text_col))).alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(TOKEN_REGEX)).alias("regex_tokens"),
    )
    if tokenizer == "ws":
        return base
    if tokenizer != "bpe":
        raise ValueError(f"unknown tokenizer: {tokenizer!r}")
    if merges is None:
        raise ValueError("tokenizer='bpe' needs a merges table (subword.learn_bpe)")
    from .subword import bpe_token_counts

    return base.join(bpe_token_counts(df, id_col, text_col, merges), id_col)


def winnow_fingerprint_kernel(text: str, k: int = 5, w: int = 4) -> list[int]:
    """Winnowing (Schleimer et al., SIGMOD 2003): k-gram rolling hashes,
    keep the min of each length-w window (rightmost on ties), dedup
    consecutive picks. Pure function — the oracle for the Arrow UDF."""
    import numpy as np

    t = text.lower()
    n = len(t) - k + 1
    if n <= 0:
        return []
    codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    B = np.uint64(1000003)
    # polynomial rolling hash mod 2^64 (deterministic uint64 wraparound)
    with np.errstate(over="ignore"):
        pows = np.empty(k, dtype=np.uint64)
        pows[0] = 1
        for i in range(1, k):
            pows[i] = pows[i - 1] * B
        h = np.zeros(n, dtype=np.uint64)
        for j in range(k):  # k is small (5): k vectorized passes
            h = h + codes[j : j + n] * pows[k - 1 - j]
    h = h.view(np.int64)  # LongType-compatible; sign is irrelevant for a fingerprint
    if n <= w:
        return [int(h.min())]
    # sliding-window minima, rightmost on ties
    from numpy.lib.stride_tricks import sliding_window_view

    win = sliding_window_view(h, w)
    rev_idx = w - 1 - np.argmin(win[:, ::-1], axis=1)
    picks = h[np.arange(len(win)) + rev_idx]
    keep = np.concatenate(([True], (np.arange(len(win))[1:] + rev_idx[1:]) != (np.arange(len(win))[:-1] + rev_idx[:-1])))
    return [int(x) for x in picks[keep]]


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4) -> DataFrame:
    """Document fingerprints via winnowed rolling hashes (Arrow-batched)."""

    @F.pandas_udf("array<long>")
    def _winnow(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: winnow_fingerprint_kernel(t or "", k, w))

    return df.select(F.col(id_col), _winnow(F.col(text_col)).alias("fingerprints"))


# char-trigram profiles per language (top frequent trigrams, public knowledge)
_TRIGRAM_PROFILES = {
    "en": [" th", "the", "he ", " an", "and", "nd ", "ing", " to", "ion", "ent"],
    "de": ["er ", "en ", "ch ", "der", " de", "ein", "ich", "sch", "die", "und"],
    "fr": [" de", "es ", "de ", "ent", "le ", "nt ", "la ", " le", "ion", "que"],
    "es": [" de", "de ", "os ", " la", "la ", "el ", " el", "ent", "as ", "ión"],
}


def lang_id_trigram(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Char-trigram language ID: per-language profile hit counts, argmax.

    A stronger heuristic than marker words: counts occurrences of each
    language's top trigrams with JVM-side expressions (no UDF) — a
    Cavnar-Trenkle-style n-gram profile match reduced to fixed literals.
    """
    low = F.lower(F.col(text_col))

    def hits(grams: list[str]):
        total = F.lit(0)
        for g in grams:
            # occurrences of g = (len(text) - len(remove(text, g))) / len(g)
            total = total + (F.length(low) - F.length(F.replace(low, F.lit(g), F.lit("")))) / len(g)
        return total.cast("long")

    scores = {lang: hits(g) for lang, g in _TRIGRAM_PROFILES.items()}
    best = F.greatest(*scores.values())
    guess = F.when(best == 0, F.lit("und"))
    for lang in _TRIGRAM_PROFILES:
        guess = guess.when(scores[lang] == best, F.lit(lang))
    return df.select(
        F.col(id_col),
        *[scores[lang].alias(f"tri_{lang}") for lang in _TRIGRAM_PROFILES],
        guess.alias("lang_guess"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprint: md5 over whitespace/case-normalized text.

    Hash-as-identity discipline from the reference
    (/root/reference/src/batch_doc_vqa/core/run_manager.py:42-63): dataset
    identity is a content hash, never a path.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        F.sha2(norm, 256).alias("fp_sha256"),
    )


def corpus_profile(df: DataFrame, id_col: str, text_col: str, approximate: bool = False) -> DataFrame:
    """One-row corpus profile: doc count, distinct-content count, length stats.

    ``approximate=True`` is the 100 TB tier: HyperLogLog distinct
    (approx_count_distinct) and sketch quantiles (percentile_approx) — fixed
    memory per partial, no giant exact-distinct shuffle. The exact tier is the
    small-scale oracle; tests bound the approx tier's relative error.
    """
    fp = F.md5(F.col(text_col))
    n_chars = F.length(F.col(text_col))
    if approximate:
        distinct = F.approx_count_distinct(fp).alias("n_distinct")
        median = F.percentile_approx(n_chars, 0.5).alias("median_chars")
    else:
        distinct = F.countDistinct(fp).alias("n_distinct")
        median = F.median(n_chars).cast("double").alias("median_chars")
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        distinct,
        F.round(F.sum(n_chars.cast("decimal(28,0)")).cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_chars"
        ),
        median,
        F.sum(F.size(_tokens(F.col(text_col))).cast("long")).alias("total_ws_tokens"),
    )


def repetition_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 80,
    unicode_words: bool = False,
) -> DataFrame:
    """Reference-exact repetition heuristic (P13), fully distributed.

    Mirrors ``assess_repetition`` (/root/reference/src/batch_doc_vqa/
    openrouter/inference.py:69-96) value-for-value: tokens are
    ``\\w+|[^\\s\\w]`` pieces of lower(text);
      repetition_ratio   = most-common-token count / total
      diversity_ratio    = unique tokens / total
      consecutive_repeats = adjacent-equal pairs / (total - 1)
      score = max(of the three); 0 below ``min_tokens`` (reference default 80)
      is_repetitive = score ≥ 0.22 or (diversity ≤ 0.35 and repetition ≥ 0.18)

    Unicode caveat: the reference tokenizes with Python ``re`` where ``\\w``
    is Unicode-aware; Spark and DuckDB ``\\w`` is ASCII-only, so tokenization
    (hence the ratios) can diverge from the reference on non-ASCII text.
    Engine and oracle agree with each other on all inputs; the thresholds
    and score formula match the reference exactly. ``unicode_words=True``
    switches to Java's ``(?U)`` (UNICODE_CHARACTER_CLASS) flag for full
    reference parity on non-ASCII text — choose it when matching the
    reference matters more than the cross-engine (DuckDB/RE2) oracle
    contract, which has no such flag.

    Shape: consecutive repeats stay in-array (zip_with over two slices, zero
    shuffle); token counts take ONE explode → groupBy(doc, token) with
    map-side combine → groupBy(doc) — the same two-level aggregation as
    word-count, corpus-linear. Ratios are exact double divisions of integers
    (bit-identical cross-engine); only the emitted columns are rounded.
    """
    pattern = r"(?U)\w+|[^\s\w]" if unicode_words else r"\w+|[^\s\w]"
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pattern), 0)
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_t")).select(
        "_id", "_t", F.size("_t").alias("_n")
    )
    consec = F.when(
        F.col("_n") > 1,
        F.aggregate(
            F.zip_with(
                F.slice("_t", 1, F.col("_n") - 1),
                F.slice("_t", 2, F.col("_n") - 1),
                lambda a, b: (a == b).cast("int"),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / (F.col("_n") - 1),
    ).otherwise(F.lit(0.0))
    per_doc = base.select("_id", "_n", consec.alias("_consec"))
    counts = (
        base.select("_id", F.explode("_t").alias("tok"))
        .groupBy("_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("_id")
        .agg(F.max("c").alias("_mc"), F.count(F.lit(1)).alias("_uniq"))
    )
    j = per_doc.join(counts, "_id", "left")
    rep = F.col("_mc") / F.col("_n")
    div = F.col("_uniq") / F.col("_n")
    eligible = (F.col("_n") >= min_tokens) & F.col("_mc").isNotNull()
    score = F.greatest(rep, F.lit(1.0) - div, F.col("_consec"))
    return j.select(
        F.col("_id").alias(id_col),
        F.col("_n").alias("n_tokens"),
        F.when(eligible, F.round(rep, 6)).otherwise(F.lit(0.0)).alias("repetition_ratio"),
        F.when(eligible, F.round(div, 6)).otherwise(F.lit(0.0)).alias("diversity_ratio"),
        F.when(eligible, F.round(F.col("_consec"), 6)).otherwise(F.lit(0.0)).alias("consecutive_repeats"),
        F.when(eligible, F.round(score, 6)).otherwise(F.lit(0.0)).alias("repetition_score"),
        F.when(
            eligible, (score >= 0.22) | ((div <= 0.35) & (rep >= 0.18))
        ).otherwise(F.lit(False)).alias("is_repetitive"),
    )


def corpus_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    allowed_langs: tuple[str, ...] = ("en",),
    min_tokens: int = 20,
    min_quality: float = 0.5,
    rep_min_tokens: int = 40,
) -> DataFrame:
    """Gopher-rules-style corpus gate: language → length → quality →
    repetition, first failed rule wins; every row keeps its features and a
    reason (kept rows read 'ok') so nothing is silently dropped.

    Fused for scale: language scores, token counts and the quality composite
    are pure projections computed in ONE pass over the scan; only the
    repetition detector adds its (doc, token) aggregation, joined back on the
    id. The filter itself never shuffles beyond that.
    """
    _, guess = lang_guess_expr(F.col(text_col))
    # quality features + language guess evaluated in ONE projection over the
    # scan — no self-join for the per-row rules
    feats = df.select(
        F.col(id_col), guess.alias("lang_guess"), *quality_exprs(F.col(text_col))
    )
    rep = repetition_scores(df, id_col, text_col, min_tokens=rep_min_tokens).select(
        F.col(id_col), "repetition_score", "is_repetitive"
    )
    j = feats.join(rep, id_col)
    reason = (
        F.when(~F.col("lang_guess").isin(*allowed_langs), F.lit("lang"))
        .when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("quality_score") < min_quality, F.lit("low_quality"))
        .when(F.col("is_repetitive"), F.lit("repetitive"))
        .otherwise(F.lit("ok"))
    )
    return j.select(
        F.col(id_col),
        "lang_guess",
        "n_tokens",
        "quality_score",
        "repetition_score",
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


def char_trigram_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc Shannon entropy of the character-trigram distribution — the
    in-engine stand-in for CCNet's LM-perplexity quality signal: natural text
    sits in a mid-entropy band, gibberish/binary junk scores high, degenerate
    repetition scores low.

    H = -Σ (c/n)·log2(c/n) over the doc's own trigram counts. Shape: trigrams
    generated in-array (sequence+substring), ONE explode → two-level
    combine-aggregated groupBy — same corpus-linear shape as repetition.
    Rounded to 6 for cross-engine hash parity (log/· identically on both
    engines after rounding).
    """
    # r7: fully IN-ROW — sort the doc's trigram array, cut it into runs,
    # fold Σ c·log2 c over the run lengths. Zero shuffle (the old shape
    # exploded ~10³ trigram rows per doc through a (doc, trigram) exchange
    # plus a per-doc exchange plus a join-back for short docs); every doc is
    # one map-side row, so the op is corpus-linear with NO exchange at any
    # scale. Values are unchanged: the per-trigram c·log2 c terms are
    # identical and the old shuffle-order double sum was already
    # order-arbitrary — the in-row fold just pins sorted-trigram order
    # (value-equality over the full fixture asserted in tests). Expressions
    # are parsed SQL strings: one py4j round trip each, not per-element
    # Column composition.
    lowered = df.select(F.col(id_col).alias("_id"), F.lower(F.col(text_col)).alias("_t"))
    tri = lowered.withColumn(
        "_tri",
        F.expr(
            "CASE WHEN length(_t) >= 3 THEN"
            " array_sort(transform(sequence(1, length(_t) - 2), i -> substring(_t, i, 3)))"
            " ELSE array() END"
        ),
    )
    # run starts: positions whose trigram differs from its predecessor;
    # run lengths: gap to the next start (last run closes at size + 1)
    runs = tri.withColumn(
        "_starts",
        F.expr(
            # indices start at 2 so i-1 is always a valid 1-based index
            # (an `i = 1 OR ...` guard is rewritten by boolean
            # simplification into a non-short-circuit OR and element_at
            # (_, 0) throws INVALID_INDEX_OF_ZERO); size guards keep
            # sequence() ascending (sequence(2, 1) is the DESCENDING
            # [2, 1], not empty)
            "CASE WHEN size(_tri) >= 2 THEN concat(array(1),"
            " filter(sequence(2, size(_tri)),"
            " i -> element_at(_tri, i) != element_at(_tri, i - 1)))"
            " WHEN size(_tri) = 1 THEN array(1)"
            " ELSE array() END"
        ),
    ).withColumn(
        "_c",
        F.expr(
            "CASE WHEN size(_tri) = 0 THEN array() ELSE"
            " zip_with(_starts,"
            " concat(slice(_starts, 2, size(_starts) - 1), array(size(_tri) + 1)),"
            " (s, e) -> e - s) END"
        ),
    )
    return runs.select(
        F.col("_id").alias(id_col),
        F.size("_tri").cast("long").alias("n_trigrams"),
        F.size("_c").cast("long").alias("distinct_trigrams"),
        F.coalesce(
            F.when(
                F.size("_tri") > 0,
                F.round(
                    F.log2(F.size("_tri"))
                    - F.expr("aggregate(_c, 0.0D, (acc, c) -> acc + c * log2(c))")
                    / F.size("_tri"),
                    6,
                ),
            ),
            F.lit(0.0),
        ).alias("trigram_entropy"),
    )


def lm_perplexity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    train_mod: int = 10,
    train_slot: int = 0,
    alpha: float = 0.5,
    broadcast_model: bool | None = None,
    broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """(id, n_bigrams, avg_logprob, ppl): n-gram LM perplexity scoring —
    the CCNet recipe's language-model quality tier (docs whose perplexity
    under an in-domain LM is low read like the training domain; the filter
    the classifier tier approximates discriminatively, done generatively).

    The model is an add-α-smoothed word-BIGRAM LM trained on a
    deterministic, data-derived split of the SAME corpus (docs whose
    ``portable_hash64(id) % train_mod == train_slot`` — CCNet trains on
    Wikipedia; over a single-table fixture the held-in split is the
    stand-in, and the split is a pure function of the id, never of
    partitioning). Everything is column math — counts, smoothing, log —
    so the ENTIRE pipeline (training included, no VALUES embedding) is
    expressible as the DuckDB oracle; there is no kernel because there is
    no iteration.

    Numeric discipline (CLAUDE.md): per-bigram ``ln((c2+α)/(c1+α·V))``
    written identically both engines, rounded to 6 THEN exact-decimal
    summed (order-free under any shuffle), mean rounded 6, perplexity
    ``exp(-avg)`` rounded 6. Docs with <2 tokens return n_bigrams=0 and
    NULL scores.

    Scale shape (two corpus scans total, no join-back): the train split is
    scanned ONCE — unigrams and bigrams are tagged structs in a single
    explode, so one shuffle yields the whole model (bigram counts, the
    left-context rollup derived from them, and |V| as a metadata count
    over the same checkpointed frame). The doc side is scanned once with
    ``explode_outer`` so <2-token docs survive as a NULL-bigram row and
    the per-doc aggregate already covers every doc — the old
    re-scan + shuffle join-back to re-attach them is gone. The score-side
    joins broadcast when the model is small (counted once on the
    localCheckpointed model — the decontam auto-tier pattern) and fall
    back to keyed shuffle joins when it isn't; the corpus is never
    collected.
    """
    from .dedup import normalized_tokens, portable_hash64

    toks = df.select(F.col(id_col), normalized_tokens(F.col(text_col)).alias("_t"))
    n = F.size("_t")
    bg_arr = F.when(
        n >= 2,
        F.zip_with(
            F.slice("_t", 1, n - F.lit(1)),
            F.slice("_t", 2, n - F.lit(1)),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_bg = toks.withColumn("_bg_arr", bg_arr)

    is_train = (
        F.pmod(portable_hash64(F.col(id_col).cast("string")), F.lit(train_mod))
        == F.lit(train_slot)
    )
    # One train-split scan: unigrams (_k=1) and bigrams (_k=2) explode
    # together; the grouped counts ARE the model and fit executor memory
    # (model-size, not corpus-size), so localCheckpoint is safe.
    grams = (
        with_bg.filter(is_train)
        .select(
            F.explode(
                F.concat(
                    F.transform(
                        "_t", lambda t: F.struct(F.lit(1).alias("_k"), t.alias("_g"))
                    ),
                    F.transform(
                        "_bg_arr",
                        lambda b: F.struct(F.lit(2).alias("_k"), b.alias("_g")),
                    ),
                )
            ).alias("_gr")
        )
        .select(F.col("_gr._k").alias("_k"), F.col("_gr._g").alias("_g"))
        .groupBy("_k", "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        # lazy: feeds c2, c1, vocab, and the size probe — materializes once
        # on first use (the probe when broadcast_model is None, else inside
        # the scoring job) instead of an extra barrier job up front
        .localCheckpoint(eager=False)
    )
    c2 = grams.filter(F.col("_k") == 2).select(
        F.col("_g").alias("_bg"),
        F.col("_c").alias("_c2"),
        F.substring_index(F.col("_g"), " ", 1).alias("_w1"),
    )
    c1 = c2.groupBy("_w1").agg(F.sum("_c2").alias("_c1"))
    # grams is already distinct per (_k, _g): |V| is a plain row count.
    vocab = grams.filter(F.col("_k") == 1).agg(F.count(F.lit(1)).alias("_v"))
    if broadcast_model is None:
        broadcast_model = c2.count() <= broadcast_threshold
    hint = F.broadcast if broadcast_model else (lambda d: d)

    doc_bg = with_bg.select(
        id_col, F.explode_outer("_bg_arr").alias("_bg")
    ).withColumn("_w1", F.substring_index("_bg", " ", 1))
    scored = (
        doc_bg.join(hint(c2.select("_bg", "_c2")), "_bg", "left")
        .join(hint(c1), "_w1", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "_lp",
            F.when(
                F.col("_bg").isNotNull(),
                F.round(
                    F.log(
                        (
                            F.coalesce(F.col("_c2"), F.lit(0)).cast("double")
                            + F.lit(alpha)
                        )
                        / (
                            F.coalesce(F.col("_c1"), F.lit(0)).cast("double")
                            + F.lit(alpha) * F.col("_v").cast("double")
                        )
                    ),
                    6,
                ),
            ),
        )
        .groupBy(id_col)
        .agg(
            F.sum(F.col("_lp").cast("decimal(18,6)")).cast("double").alias("_s"),
            F.count("_bg").alias("_n"),
        )
    )
    avg = F.round(F.col("_s") / F.col("_n"), 6)
    return scored.select(
        id_col,
        F.col("_n").alias("n_bigrams"),
        avg.alias("avg_logprob"),
        F.round(F.exp(-avg), 6).alias("ppl"),
    )


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bias: float,
    weights: dict[int, float],
    n_buckets: int = 4096,
) -> DataFrame:
    """(id, clf_score): LEARNED quality score — the CCNet/GPT-3 recipe's
    wiki-vs-crawl classifier tier, beyond the heuristic `quality_features`.

    Production split: the model trains OFFLINE on a small labeled seed set
    (``functions.linear_clf.train_logreg`` — iterative, driver-side, fully
    deterministic); THIS pass is the corpus-scale half and is pure column
    math: tokens → portable md5 bucket → broadcast weight join → exact
    decimal weight sum (order-free — a double fold would expose
    shuffle-order nondeterminism in the 6th decimal) → mean → sigmoid,
    rounded 6. Zero Python; one shuffle (the per-doc aggregate).
    Byte-identical per document to ``linear_clf.score_text`` — the
    kernel-as-oracle invariant, and the DuckDB oracle embeds the trained
    weights as VALUES.
    """
    from .dedup import normalized_tokens, portable_hash64

    w_rows = sorted(weights.items()) or [(0, 0.0)]
    spark = df.sparkSession
    # a pandas frame is a local scan; a list of tuples runs Python-RDD tasks
    w_df = spark.createDataFrame(
        pd.DataFrame({"_b": [int(b) for b, _ in w_rows], "_w": [float(w) for _, w in w_rows]}),
        "_b long, _w double",
    )
    toks = df.select(F.col(id_col), normalized_tokens(F.col(text_col)).alias("_t"))
    tok = toks.select(id_col, F.explode_outer("_t").alias("_tok"))
    bucketed = tok.withColumn(
        "_b",
        F.when(
            F.col("_tok").isNotNull(),
            F.pmod(portable_hash64(F.col("_tok")), F.lit(n_buckets)),
        ),
    )
    joined = bucketed.join(F.broadcast(w_df), "_b", "left")
    agg = joined.groupBy(id_col).agg(
        F.sum(F.coalesce(F.col("_w"), F.lit(0.0)).cast("decimal(18,6)"))
        .cast("double")
        .alias("_sw"),
        F.count("_tok").alias("_nt"),
    )
    z = F.lit(float(bias)) + F.when(
        F.col("_nt") > 0, F.col("_sw") / F.col("_nt")
    ).otherwise(F.lit(0.0))
    return agg.select(
        id_col, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("clf_score")
    )


def ppl_buckets(
    df: DataFrame,
    id_col: str,
    lang_col: str,
    ppl_col: str,
    n_buckets: int = 3,
    value_block: float | None = None,
    broadcast_cuts: bool | None = None,
    broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """(df.* , bucket, tier): CCNet's head/middle/tail cut — per language,
    split scored docs into ``n_buckets`` equal-rank perplexity buckets
    (bucket 0 = lowest perplexity = most in-domain). The step that turns
    ``lm_perplexity`` scores into the tiered corpus CCNet actually ships.

    Exactness over interpolation: bucket boundaries are RANK cuts on the
    distinct (lang, ppl) VALUE table, not interpolated percentiles — a
    value whose first doc has ``r0`` docs strictly below it lands in
    bucket ``#{k : r0·B ≥ k·n}`` (pure integer compares, written
    identically in the DuckDB oracle; no float division anywhere, so no
    boundary doc can flip on a last-ulp quantile difference between
    engines). Ties share a value, hence a bucket — membership is a pure
    function of (lang, ppl, the per-lang distribution), never of
    partitioning or row order. Docs with NULL ppl (<2 tokens) get bucket
    NULL / tier 'unscored'.

    Scale shape: one shuffle builds the value table (corpus-size → distinct
    6-decimal values, orders of magnitude smaller); per-lang totals are a
    tiny broadcast aggregate; the rank window runs over the VALUE table
    only. When even that table is too big for a single per-lang sort task,
    ``value_block`` switches the running rank to ``packing.prefix_sum``'s
    two-layer form over blocks of ``value_block`` ppl width (identical
    results, tested). The bucket map joins back broadcast when small
    (counted once on the localCheckpointed value table — the decontam
    auto-tier pattern).
    """
    from .packing import prefix_sum

    if n_buckets < 2:
        raise ValueError(f"ppl_buckets: n_buckets={n_buckets} must be >= 2")
    scored = df.filter(F.col(ppl_col).isNotNull())
    vals = (
        scored.groupBy(lang_col, ppl_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        # lazy (see lm_perplexity): feeds totals, ranks, and the size probe
        .localCheckpoint(eager=False)
    )
    lang_n = vals.groupBy(lang_col).agg(F.sum("_cnt").alias("_n"))

    # _r0: docs strictly below this value in its language
    ranked = prefix_sum(
        vals, "_cnt", [ppl_col], "_r0", partition_by=[lang_col],
        block=None if value_block is None else float(value_block),
    )

    bucket = sum(
        ((F.col("_r0") * n_buckets) >= (F.lit(k) * F.col("_n"))).cast("int")
        for k in range(1, n_buckets)
    )
    cuts = (
        ranked.join(F.broadcast(lang_n), lang_col)
        .select(lang_col, ppl_col, bucket.alias("bucket"))
    )
    if broadcast_cuts is None:
        broadcast_cuts = vals.count() <= broadcast_threshold
    hint = F.broadcast if broadcast_cuts else (lambda d: d)

    if n_buckets == 3:
        # NB: Spark's element_at treats a NULL index as the last element —
        # the isNotNull guard below is load-bearing, not defensive.
        label = F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            F.col("bucket") + 1,
        )
    else:
        label = F.concat(F.lit("b"), F.col("bucket").cast("string"))
    return df.join(hint(cuts), [lang_col, ppl_col], "left").withColumn(
        "tier",
        F.when(F.col("bucket").isNotNull(), label).otherwise(F.lit("unscored")),
    )
