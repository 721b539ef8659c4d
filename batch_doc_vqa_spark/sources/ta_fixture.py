"""Seeded TA-benchmark fixture rows (FIXTURES.md F7, flattened).

Hand-shaped like the reference's label documents after exploding the nested
schema (/root/reference/src/batch_doc_vqa/ta_benchmark/schema.py:97-164):
problem text pairs, figure-pair item sets, rubric scores and feedback rows,
with controlled overlaps/deltas so every metric branch fires.
"""

from __future__ import annotations

import hashlib
import random

_TEXTS = [
    "solve for x in 2x + 3 = 9",
    "compute the derivative of x^2",
    "integrate sin x over 0 to pi",
    "find the eigenvalues of the matrix",
    "prove the triangle inequality",
    "estimate the limit as x approaches zero",
]
_TAGS = ["sign_error", "algebra_slip", "missing_step", "wrong_units", "off_by_one"]


def _rng(seed: int, tag: str, i: int) -> random.Random:
    h = hashlib.sha256(f"ta:{tag}:{seed}:{i}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def text_pairs(n: int = 24, seed: int = 42) -> list[tuple]:
    """(doc, gt, pred): pred is gt with seeded char edits (0-3)."""
    rows = []
    for i in range(n):
        rng = _rng(seed, "txt", i)
        gt = rng.choice(_TEXTS)
        pred = list(gt)
        for _ in range(rng.randrange(4)):
            j = rng.randrange(len(pred))
            pred[j] = rng.choice("abcdefgh ")
        rows.append((i, gt, "".join(pred)))
    return rows


def item_sets(n_docs: int = 12, seed: int = 42) -> tuple[list[tuple], list[tuple]]:
    """(gt, pred) (doc_id, item) rows with controlled set overlap."""
    gt, pred = [], []
    for d in range(n_docs):
        rng = _rng(seed, "items", d)
        g = rng.sample(_TAGS, rng.randint(1, 4))
        p = [t for t in g if rng.random() < 0.7] + (
            [rng.choice(_TAGS)] if rng.random() < 0.5 else []
        )
        gt += [(d, t) for t in g]
        # dict.fromkeys: drop duplicates in first-seen order — set() order
        # depends on PYTHONHASHSEED and would make the oracle text vary
        pred += [(d, t) for t in dict.fromkeys(p)]
    return gt, pred


def rubric_rows(n_docs: int = 10, seed: int = 42) -> tuple[list[tuple], list[tuple]]:
    """(doc, problem_uid, criterion_id, awarded_points) gt/pred with deltas
    and ~20% missing predictions."""
    gt, pred = [], []
    for d in range(n_docs):
        for p in range(2):
            for c in range(2):
                rng = _rng(seed, "rub", d * 100 + p * 10 + c)
                pts = float(rng.randint(0, 4))
                gt.append((d, f"p{p}", f"c{c}", pts))
                if rng.random() < 0.8:
                    delta = rng.choice([0.0, 0.0, 0.5, -0.5, 1.0])
                    pred.append((d, f"p{p}", f"c{c}", max(0.0, pts + delta)))
    return gt, pred


def label_pairs(n: int = 40, n_labels: int = 4, seed: int = 42) -> list[tuple]:
    """(t, p) integer label pairs, correlated (for QWK)."""
    rows = []
    for i in range(n):
        rng = _rng(seed, "qwk", i)
        t = rng.randrange(n_labels)
        p = t if rng.random() < 0.6 else rng.randrange(n_labels)
        rows.append((t, p))
    return rows


def feedback_rows(n_docs: int = 10, seed: int = 42) -> tuple[list[tuple], list[tuple]]:
    """(doc, problem_uid, specificity, actionability, correctness) gt/pred."""
    gt, pred = [], []
    for d in range(n_docs):
        for p in range(2):
            rng = _rng(seed, "fb", d * 10 + p)
            g = (rng.randint(0, 3), rng.randint(0, 3), rng.randint(0, 1))
            pr = tuple(v if rng.random() < 0.7 else rng.randint(0, 3) for v in g)
            gt.append((d, f"p{p}", *g))
            pred.append((d, f"p{p}", *pr))
    return gt, pred
