"""Deterministic hashed-bag-of-words linear quality classifier — pure kernel.

The CCNet/GPT-3-style corpus recipe scores every document with a LEARNED
quality classifier (wiki-vs-crawl logistic regression), not just heuristic
ratios — the tier `textstats.quality_features` doesn't cover. Production
shape: the model is trained OFFLINE on a small labeled seed set (this
kernel — iterative gradient descent, so not SQL-expressible, but fully
deterministic), and the corpus-scale scoring pass is pure column math over
the broadcast weight table (`textstats.classifier_score` — zero Python).

Determinism contract (kernel = oracle):

- features: hashed bag of words — bucket = portable_hash64(token) mod
  n_buckets, the SAME md5-based hash the Spark side and the DuckDB oracle
  compute (``dedup.portable_hash64``: first 15 hex chars of md5 as int);
  tokens from the repo's ONE shared normalization;
- model: mean of bucket weights + bias through a sigmoid — the fastText
  linear architecture with scalar weights (length-invariant via the mean);
- training: full-batch gradient descent in fixed row order, float64, no
  RNG anywhere (zero-init weights); weights round to 6 decimals at the
  end so they embed exactly as SQL VALUES.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np

_NORM_RE = re.compile(r"[^a-z0-9\s]")


def tokens_of(text: str) -> list[str]:
    """The shared normalization (mirrors ``dedup.normalized_tokens``): the
    maximal ``[a-z0-9]`` runs of the lowercased text."""
    if not text:
        return []
    return _NORM_RE.sub(" ", text.lower()).split()


def bucket_of(token: str, n_buckets: int) -> int:
    """portable_hash64(token) mod n_buckets — first 15 md5 hex chars as a
    (positive) int, identical to the Spark/DuckDB expressions."""
    return int(hashlib.md5(token.encode()).hexdigest()[:15], 16) % n_buckets


def featurize(text: str, n_buckets: int) -> list[int]:
    return [bucket_of(t, n_buckets) for t in tokens_of(text)]


def train_logreg(
    rows: list[tuple[int, str]],
    n_buckets: int = 4096,
    epochs: int = 40,
    lr: float = 0.5,
) -> tuple[float, dict[int, float]]:
    """Full-batch logistic regression on (label∈{0,1}, text) rows.
    Returns (bias, {bucket: weight}) with weights/bias rounded to 6 —
    deterministic (fixed row order, zero init, no sampling)."""
    feats = [featurize(t, n_buckets) for _, t in rows]
    ys = np.array([float(lab) for lab, _ in rows])
    w = np.zeros(n_buckets)
    b = 0.0
    n = len(rows)
    if n == 0:
        raise ValueError("train_logreg: empty training set")
    for _ in range(epochs):
        gw = np.zeros(n_buckets)
        gb = 0.0
        for f, y in zip(feats, ys):
            z = b + (np.mean(w[f]) if f else 0.0)
            p = 1.0 / (1.0 + math.exp(-z))
            err = p - y
            gb += err
            if f:
                # d(mean)/dw_j = count_j/len(f)
                np.add.at(gw, f, err / len(f))
        w -= lr * gw / n
        b -= lr * gb / n
    w = np.round(w, 6)
    return round(float(b), 6), {int(i): float(w[i]) for i in np.nonzero(w)[0]}


def score_text(text: str, bias: float, weights: dict[int, float], n_buckets: int) -> float:
    """sigmoid(bias + mean of bucket weights), rounded 6 — the exact value
    the Spark scorer and the SQL oracle must reproduce per document. The
    weight sum goes through exact decimal accumulation (the repo's
    cross-engine sum discipline: weights are 6-rounded, so the decimal sum
    is exact and ORDER-FREE — a float fold would expose Spark's
    shuffle-order nondeterminism in the 6th decimal)."""
    import decimal

    f = featurize(text, n_buckets)
    if f:
        sw = float(sum(decimal.Decimal(repr(weights.get(i, 0.0))) for i in f))
        z = bias + sw / len(f)
    else:
        z = bias
    return round(1.0 / (1.0 + math.exp(-z)), 6)
