"""Independent reference computations the benchmark checks outputs against.

Pure Python and NumPy, written from the documented semantics, not from
the engine's code:

* tokenization: lowercase, split on non-word characters, drop empty
  strings and the generator's stopword fillers, keep order and repeats;
* TF-IDF as the paper defines it: tf = count / doc length, idf = N / df
  (no logarithm) over the union of both catalogs, cosine of the weight
  vectors;
* candidate pairs: record pairs sharing at least one token, counted by
  brute force over the token postings;
* BM25 (Okapi, +1-smoothed idf, k1 = 1.2, b = 0.75).
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

from gen import FILLER

_SPLIT = re.compile(r"\W+")
_STOP = frozenset(FILLER)


def tokens(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t and t not in _STOP]


class TfIdf:
    """Reference TF-IDF weights over catalogs A and B."""

    def __init__(self, a: list[tuple[int, str]], b: list[tuple[int, str]]):
        self.toks = {i: tokens(t) for i, t in a}
        self.toks.update({i: tokens(t) for i, t in b})
        df: Counter = Counter()
        for ts in self.toks.values():
            df.update(set(ts))
        n = len(self.toks)
        self.idf = {t: n / d for t, d in df.items()}
        self.weights: dict[int, dict[str, float]] = {}
        self.norms: dict[int, float] = {}
        for i, ts in self.toks.items():
            w = {t: c / len(ts) * self.idf[t] for t, c in Counter(ts).items()}
            self.weights[i] = w
            self.norms[i] = math.sqrt(sum(x * x for x in w.values()))

    def cosine(self, a_id: int, b_id: int) -> float:
        wa, wb = self.weights[a_id], self.weights[b_id]
        if len(wb) < len(wa):
            wa, wb = wb, wa
        dot = sum(x * wb[t] for t, x in wa.items() if t in wb)
        return dot / (self.norms[a_id] * self.norms[b_id])


def shared_token_pairs(
    a_toks: list[list[str]], b_toks: list[list[str]]
) -> int:
    """Brute-force count of (a, b) pairs sharing at least one token."""
    post_a: dict[str, list[int]] = {}
    post_b: dict[str, list[int]] = {}
    for i, ts in enumerate(a_toks):
        for t in set(ts):
            post_a.setdefault(t, []).append(i)
    for j, ts in enumerate(b_toks):
        for t in set(ts):
            post_b.setdefault(t, []).append(j)
    hit = np.zeros((len(a_toks), len(b_toks)), dtype=bool)
    for t, rows in post_a.items():
        cols = post_b.get(t)
        if cols:
            hit[np.ix_(rows, cols)] = True
    return int(hit.sum())


class Bm25:
    """Reference BM25 over a tokenized corpus."""

    def __init__(self, docs: list[tuple[int, list[str]]], k1: float = 1.2, b: float = 0.75):
        self.ids = np.array([i for i, _ in docs], dtype=np.int64)
        dl = np.array([len(ts) for _, ts in docs], dtype=np.float64)
        self.norm = k1 * (1.0 - b + b * dl / dl.mean())
        self.k1 = k1
        self.n = len(docs)
        post: dict[str, dict[int, int]] = {}
        for row, (_, ts) in enumerate(docs):
            for t, c in Counter(ts).items():
                post.setdefault(t, {})[row] = c
        self.post = {
            t: (np.fromiter(d.keys(), np.int64), np.fromiter(d.values(), np.float64))
            for t, d in post.items()
        }

    def scores(self, query: list[str]) -> dict[int, float]:
        """doc id -> score for every doc matching at least one term."""
        acc = np.zeros(self.n)
        hit = np.zeros(self.n, dtype=bool)
        for t in dict.fromkeys(query):
            if t not in self.post:
                continue
            rows, tf = self.post[t]
            df = len(rows)
            idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
            acc[rows] += idf * tf * (self.k1 + 1.0) / (tf + self.norm[rows])
            hit[rows] = True
        return dict(zip(self.ids[hit].tolist(), acc[hit].tolist()))


def topk_agrees(
    got: list[tuple[int, float]], want: dict[int, float], k: int, tol: float = 1e-6
) -> bool:
    """Does the engine's ranked top-k (id, rounded score) equal the
    reference ranking? Scores must match to ``tol`` (the engine rounds to
    6 places), order must be non-increasing, and no unreturned doc may
    score above the weakest returned one by more than ``tol`` (ties at
    the cut may resolve either way within the rounding)."""
    if len(got) != min(k, len(want)):
        return False
    if any(i not in want or abs(s - want[i]) > tol for i, s in got):
        return False
    if any(got[j][1] < got[j + 1][1] for j in range(len(got) - 1)):
        return False
    cut = min(want[i] for i, _ in got) if got else math.inf
    returned = {i for i, _ in got}
    return all(s <= cut + tol for i, s in want.items() if i not in returned)
