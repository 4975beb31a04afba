"""Seeded input generators for the benchmark workloads.

Every input a workload feeds the engine comes from here, drawn from one
``numpy.random.Generator`` seeded by the command line: the same seed
gives byte-identical inputs. Nothing here imports the engine, so the
inputs (and the reference checks built on them) are independent of the
code under test.

Shapes:

* ``sparse_catalogs`` -- two product catalogs over an OPEN vocabulary
  drawn from a Zipf law, by default sized like the reference's
  Amazon/Google pair (1,363 x 3,226 records, 1,300 gold pairs). The law
  (Zipf s = 0.97 over 200k words, 3 + Poisson(11) / 3 + Poisson(9)
  tokens per record) was tuned so the share of record pairs sharing a
  token lands near the reference's 2,441,100 / 4,397,038 = 0.555 with a
  ~17k token vocabulary (seeds 1 and 2: 0.547 and 0.549, 17.6k and
  17.9k tokens); a Zipf(1.05) law of shorter records gives 0.74-0.96.
* ``ingest_days`` -- a history corpus plus daily batches with planted
  exact, near, substring and semantic duplicates of history documents
  (and exact duplicates inside a batch), each doc labelled with what
  was planted, plus one embedding per document around pinned centroids.
* ``corpus`` -- a retrieval corpus over an open Zipf vocabulary.
* ``bm25_queries`` -- 1-3 term queries drawn from a corpus's own
  token distribution.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# Filler words mixed into generated text. All are English stopwords, so
# the engine's tokenizer must drop them; the reference tokenizer drops
# exactly these (generated words can never be stopwords, see _words).
FILLER = ("the", "and", "for", "with", "of", "a")

_CONS = "bdfglmnprstv"
_VOWELS = "aeiou"
# Every generated word ends in one of these letters; no English stopword
# does, so no generated word can collide with the stopword list.
_FINALS = "kxz"


# Seed of the word list. The vocabulary is the same for every input seed,
# like a natural language: the seed draws which words a document uses,
# not the words themselves, so the frequent words (and the shuffle
# partitions they hash to) do not change from seed to seed.
VOCAB_SEED = 0


def _words(n: int) -> list[str]:
    """``n`` distinct pseudo-words (3 consonant-vowel syllables plus a
    final k/x/z), in a fixed random order: word i is the i-th most
    frequent under a Zipf law over ranks."""
    rng = np.random.default_rng(VOCAB_SEED)
    n_syll = len(_CONS) * len(_VOWELS)
    space = n_syll**3 * len(_FINALS)
    if n > space:
        raise ValueError(f"cannot make {n} distinct words")
    out = []
    for code in rng.choice(space, size=n, replace=False).tolist():
        code, f = divmod(code, len(_FINALS))
        w = []
        for _ in range(3):
            code, s = divmod(code, n_syll)
            w.append(_CONS[s // len(_VOWELS)] + _VOWELS[s % len(_VOWELS)])
        out.append("".join(w) + _FINALS[f])
    return out


class _Draws:
    """Token ids from a fixed distribution, drawn in large chunks (one
    ``choice`` call per chunk instead of one per line)."""

    def __init__(self, rng: np.random.Generator, p: np.ndarray, chunk: int = 1 << 16):
        self.rng, self.p, self.chunk = rng, p, chunk
        self.buf = np.empty(0, dtype=np.int64)

    def take(self, n: int) -> np.ndarray:
        if len(self.buf) < n:
            more = self.rng.choice(len(self.p), size=max(n, self.chunk), p=self.p)
            self.buf = np.concatenate([self.buf, more])
        out, self.buf = self.buf[:n], self.buf[n:]
        return out


def _zipf_probs(support: int, s: float, shift: float) -> np.ndarray:
    w = 1.0 / (np.arange(1, support + 1) + shift) ** s
    return w / w.sum()


def _with_filler(rng: np.random.Generator, toks: list[str], rate: float) -> str:
    """Join tokens with spaces, inserting stopword fillers at ``rate``."""
    out: list[str] = []
    for t in toks:
        if rng.random() < rate:
            out.append(FILLER[int(rng.integers(len(FILLER)))])
        out.append(t)
    return " ".join(out)


@dataclass
class Catalogs:
    """Two record sets and the gold pairs between them. Records are
    (id, text); gold is a list of (a_id, b_id)."""

    a: list[tuple[int, str]]
    b: list[tuple[int, str]]
    gold: list[tuple[int, int]]


B_ID_BASE = 1_000_000  # B ids never overlap A ids


def sparse_catalogs(
    seed: int,
    n_a: int = 1363,
    n_b: int = 3226,
    n_gold: int = 1300,
    support: int = 200_000,
    s: float = 0.97,
    shift: float = 0.0,
    len_a: float = 11.0,
    len_b: float = 9.0,
) -> Catalogs:
    """Open-vocabulary catalogs. Record length is 3 + Poisson(len). A gold
    B record is its A record with each token kept with a per-pair
    probability in [0.3, 0.95], shuffled, plus Poisson(2) fresh tokens,
    so gold similarities spread from near 0 to near 1."""
    rng = np.random.default_rng([seed, 1])
    words = _words(support)
    p = _zipf_probs(support, s, shift)

    def draw(lengths: np.ndarray) -> list[np.ndarray]:
        flat = rng.choice(support, size=int(lengths.sum()), p=p)
        return np.split(flat, np.cumsum(lengths)[:-1])

    toks_a = draw(3 + rng.poisson(len_a, n_a))
    toks_b = draw(3 + rng.poisson(len_b, n_b - n_gold))
    gold_a = rng.choice(n_a, size=n_gold, replace=False)
    extra = draw(rng.poisson(2.0, n_gold) + 1)
    for i, ai in enumerate(gold_a):
        src = toks_a[ai]
        keep = src[rng.random(len(src)) < rng.uniform(0.3, 0.95)]
        toks_b.append(rng.permutation(np.concatenate([keep, extra[i]])))
    # shuffle B so gold records are not clustered at the end
    order = rng.permutation(n_b)
    b_pos = np.empty(n_b, dtype=np.int64)
    b_pos[order] = np.arange(n_b)
    a = [(i, _with_filler(rng, [words[t] for t in toks_a[i]], 0.1)) for i in range(n_a)]
    b = [
        (B_ID_BASE + int(b_pos[j]), _with_filler(rng, [words[t] for t in toks_b[j]], 0.1))
        for j in range(n_b)
    ]
    b.sort()
    gold = [
        (int(ai), B_ID_BASE + int(b_pos[n_b - n_gold + i])) for i, ai in enumerate(gold_a)
    ]
    return Catalogs(a, b, sorted(gold))


# Planted-duplicate kinds of an ingest document, and whether the engine's
# composed verdict must DROP it (exact/near/semantic duplicates) or keep
# it (unique docs; substring copies are audited through span counts,
# never dropped).
KINDS = ("unique", "exact_hist", "exact_batch", "near_hist", "substring", "semantic")
DROP_KINDS = frozenset({"exact_hist", "exact_batch", "near_hist", "semantic"})
_KIND_SHARE = (0.68, 0.08, 0.04, 0.07, 0.06, 0.07)


@dataclass
class IngestDays:
    """History docs, daily batches and their labels.

    ``history`` and every batch are lists of (doc_id, text);
    ``labels[doc_id]`` is the planted kind of a batch doc;
    ``embeddings`` maps every doc id (history and batches) to its
    vector; ``centroids`` is the pinned (k x dim) centroid set."""

    history: list[tuple[int, str]]
    batches: list[list[tuple[int, str]]]
    labels: dict[int, str]
    embeddings: dict[int, list[float]]
    centroids: np.ndarray


FOOTER = "subscribe to our newsletter for more updates"


def ingest_days(
    seed: int,
    n_history: int = 1800,
    n_batches: int = 30,
    batch_size: int = 150,
    dim: int = 32,
    n_centroids: int = 16,
    vocab: int = 50_000,
) -> IngestDays:
    """Multi-line documents (4-7 lines of 8-14 words from an open Zipf
    vocabulary; one doc in five ends with a shared boilerplate footer,
    which the line family counts). Planted kinds per batch doc, drawn
    with fixed shares: exact copy of a history doc, exact copy of an
    earlier doc of the same batch, near copy (one word replaced) of a
    history doc, fresh doc carrying one line copied from a
    history doc (substring), fresh text with a history doc's embedding
    plus tiny noise (semantic). Embeddings of unrelated docs are their
    centroid plus isotropic noise large enough that two of them are far
    below any sane semantic threshold."""
    rng = np.random.default_rng([seed, 3])
    words = _words(vocab)
    draws = _Draws(rng, _zipf_probs(vocab, 1.0, 5.0))
    cents = rng.normal(size=(n_centroids, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    def line() -> list[str]:
        return [words[t] for t in draws.take(int(rng.integers(8, 15)))]

    def fresh_lines() -> list[list[str]]:
        return [line() for _ in range(int(rng.integers(4, 8)))]

    def render(lines: list[list[str]], footer: bool) -> str:
        body = [" ".join(ln) for ln in lines]
        if footer:
            body.append(FOOTER)
        return "\n".join(body)

    def fresh_vec() -> np.ndarray:
        c = cents[int(rng.integers(n_centroids))]
        return c + rng.normal(scale=0.6, size=dim)

    emb: dict[int, np.ndarray] = {}
    hist_lines: list[list[list[str]]] = []
    history: list[tuple[int, str]] = []
    for i in range(n_history):
        ls = fresh_lines()
        hist_lines.append(ls)
        history.append((i, render(ls, rng.random() < 0.2)))
        emb[i] = fresh_vec()

    batches: list[list[tuple[int, str]]] = []
    labels: dict[int, str] = {}
    next_id = n_history
    for _ in range(n_batches):
        batch: list[tuple[int, str]] = []
        kinds = rng.choice(len(KINDS), size=batch_size, p=_KIND_SHARE)
        kinds[0] = 0  # the first doc is unique, so exact_batch has a source
        for k in kinds:
            kind = KINDS[int(k)]
            doc_id = next_id
            next_id += 1
            h = int(rng.integers(n_history))
            vec = fresh_vec()
            if kind == "exact_hist":
                text = history[h][1]
            elif kind == "exact_batch":
                src = batch[int(rng.integers(len(batch)))]
                if labels[src[0]] != "unique":
                    kind, text = "unique", render(fresh_lines(), False)
                else:
                    text = src[1]
            elif kind == "near_hist":
                ls = [list(ln) for ln in hist_lines[h]]
                ln = ls[int(rng.integers(len(ls)))]
                ln[int(rng.integers(len(ln)))] = words[int(rng.integers(vocab))]
                text = render(ls, False)
            elif kind == "substring":
                ls = fresh_lines()
                ls.insert(int(rng.integers(len(ls) + 1)), hist_lines[h][int(rng.integers(len(hist_lines[h])))])
                text = render(ls, False)
            elif kind == "semantic":
                text = render(fresh_lines(), False)
                vec = emb[h] + rng.normal(scale=0.005, size=dim)
            else:
                text = render(fresh_lines(), rng.random() < 0.2)
            labels[doc_id] = kind
            emb[doc_id] = vec
            batch.append((doc_id, text))
        batches.append(batch)
    return IngestDays(
        history,
        batches,
        labels,
        {i: v.tolist() for i, v in emb.items()},
        cents,
    )


def corpus(seed: int, n_docs: int = 5_000, vocab: int = 50_000) -> list[tuple[int, str]]:
    """A retrieval corpus: 20-120 tokens per doc from an open Zipf(1.0)
    vocabulary with stopword fillers."""
    rng = np.random.default_rng([seed, 4])
    words = _words(vocab)
    p = _zipf_probs(vocab, 1.0, 5.0)
    lengths = rng.integers(20, 121, size=n_docs)
    flat = rng.choice(vocab, size=int(lengths.sum()), p=p)
    toks = np.split(flat, np.cumsum(lengths)[:-1])
    return [(i, _with_filler(rng, [words[t] for t in toks[i]], 0.1)) for i in range(n_docs)]


def bm25_queries(
    seed: int, doc_tokens: list[list[str]], n_queries: int
) -> list[list[str]]:
    """``n_queries`` queries of 1-3 distinct terms, each term drawn from
    the corpus's token occurrences (so common terms are queried more
    often, as in real query logs)."""
    rng = np.random.default_rng([seed, 5])
    pool = [t for toks in doc_tokens for t in toks]
    out: list[list[str]] = []
    for _ in range(n_queries):
        q: list[str] = []
        n = int(rng.integers(1, 4))
        while len(q) < n:
            t = pool[int(rng.integers(len(pool)))]
            if t not in q:
                q.append(t)
        out.append(q)
    return out
