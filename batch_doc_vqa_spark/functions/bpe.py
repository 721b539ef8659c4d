"""Deterministic byte-pair-encoding (BPE) subword tokenizer — pure kernel.

Why: every budget/packing/chunking decision in a training-data pipeline is
denominated in MODEL tokens, not whitespace words (the reference's central
cost metric is token usage, /root/reference/src/batch_doc_vqa/openrouter/
inference.py:1233-1238). This module is the kernel-as-oracle half: the Spark
operators (``operators.subword``) broadcast the learned merge table and call
EXACTLY this code inside Arrow-batched UDFs — byte-identity per document is
the invariant, pytest-pinned and driver-oracled via kernel-output VALUES.

Algorithm (Sennrich et al. 2016, learn + greedy encode):

- words come from the repo's ONE shared normalization (the maximal
  ``[a-z0-9]`` runs of the lowercased text — the same rule as
  ``dedup.normalized_tokens`` and the oracles' ``_NTOKS`` mirror, so token
  units can never drift from the dedup/decontam shingles);
- a word is a symbol sequence: its characters plus a terminal ``</w>``;
- learning: repeatedly merge the most frequent adjacent symbol pair
  (frequency weighted by word count; ties broken by the lexicographically
  SMALLEST pair — determinism needs no RNG at all);
- encoding: apply learned merges in rank order until none applies (the
  standard greedy BPE encode). Unseen characters simply never merge —
  there is no <unk>: counting is total, every input char is covered.

Everything is a pure function of (texts, n_merges) — no seeds, no state.
"""

from __future__ import annotations

import re

_NORM_RE = re.compile(r"[^a-z0-9\s]")
END = "</w>"


def normalize_words(text: str) -> list[str]:
    """The shared tokenizer (mirrors ``dedup.normalized_tokens``): the
    maximal ``[a-z0-9]`` runs of the lowercased text."""
    if not text:
        return []
    return _NORM_RE.sub(" ", text.lower()).split()


def word_freqs(texts) -> dict[str, int]:
    freqs: dict[str, int] = {}
    for t in texts:
        for w in normalize_words(t):
            freqs[w] = freqs.get(w, 0) + 1
    return freqs


def learn_bpe_merges(
    freqs: dict[str, int], n_merges: int, min_freq: int = 2
) -> list[tuple[str, str]]:
    """Learn ≤ ``n_merges`` merge rules from a word-frequency table.
    Deterministic: argmax pair frequency, ties to the lexicographically
    smallest (a, b); stops early when the best pair drops below
    ``min_freq``."""
    seqs: list[tuple[list[str], int]] = [
        (list(w) + [END], c) for w, c in sorted(freqs.items())
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for sym, c in seqs:
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_freq:
            break
        pair = best[0]
        merges.append(pair)
        joined = pair[0] + pair[1]
        for i, (sym, c) in enumerate(seqs):
            out, j = [], 0
            while j < len(sym):
                if j + 1 < len(sym) and sym[j] == pair[0] and sym[j + 1] == pair[1]:
                    out.append(joined)
                    j += 2
                else:
                    out.append(sym[j])
                    j += 1
            seqs[i] = (out, c)
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode of one normalized word: repeatedly merge the
    best-ranked (earliest-learned) adjacent pair."""
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank, best_i = None, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def make_ranks(merges) -> dict[tuple[str, str], int]:
    return {tuple(p): i for i, p in enumerate(merges)}


def encode_text(text: str, ranks, _cache: dict | None = None) -> list[str]:
    """Subword tokens of ``text`` — concatenation of per-word encodes (BPE
    never merges across the word boundary: ``</w>`` terminates each word).
    ``_cache`` memoizes per-word encodes across a batch (Zipf pays)."""
    out: list[str] = []
    cache = _cache if _cache is not None else {}
    for w in normalize_words(text):
        enc = cache.get(w)
        if enc is None:
            enc = encode_word(w, ranks)
            cache[w] = enc
        out.extend(enc)
    return out


def count_tokens(text: str, ranks, _cache: dict | None = None) -> int:
    cache = _cache if _cache is not None else {}
    n = 0
    for w in normalize_words(text):
        enc = cache.get(w)
        if enc is None:
            enc = encode_word(w, ranks)
            cache[w] = enc
        n += len(enc)
    return n


def chunk_tokens(
    text: str, ranks, chunk_size: int, overlap: int, _cache: dict | None = None
) -> list[tuple[int, int, str]]:
    """(chunk_idx, n_tokens, chunk_text) windows over the SUBWORD sequence —
    the BPE twin of ``chunking.chunk_documents``'s window math (same
    stride/last-start rule, so the two tiers share chunk-boundary
    semantics). ``chunk_text`` is the space-joined subword pieces: chunks
    are training samples in token space, not display text."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    toks = encode_text(text, ranks, _cache)
    n = len(toks)
    if n == 0:
        return []
    stride = chunk_size - overlap
    last_start = max(-(-(n - chunk_size) // stride), 0) * stride  # ceil, floored at 0
    out = []
    for idx, start in enumerate(range(0, last_start + 1, stride)):
        piece = toks[start : start + chunk_size]
        out.append((idx, len(piece), " ".join(piece)))
    return out
