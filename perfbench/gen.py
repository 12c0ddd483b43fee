"""Seeded input generator for the benchmark.

Everything the program under test receives is made here from one seed:
the document corpus (written as parquet), the ``serve-hybrid`` query pool
and request sequence, and the ``ingest-live`` append/delete stream. The
same seed always gives the same inputs.

Corpus shape: a 64-d vector drawn from a 64-centroid Gaussian mixture,
20-120 tokens drawn Zipf(1.07) from the ASCII vocabulary ``w0 .. wV-1``
(so the reference tokenizer is a whitespace split), and metadata ``cat``
(int 0-49), ``price`` (uniform 0-1000) and ``lang`` (5 skewed values).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DIM = 64
N_CENTROIDS = 64
ZIPF_S = 1.07  # term frequencies
REQUEST_ZIPF_S = 1.1  # popularity of pool queries in a request sequence
LANGS = ("en", "de", "fr", "es", "ja")
LANG_P = (0.5, 0.2, 0.15, 0.1, 0.05)
N_CATS = 50
HEAD_TERMS = 100  # ranks below this are "head" terms for text queries
QUERY_TYPES = ("flat", "ivf", "text", "hybrid")


@dataclass
class Docs:
    """A block of documents as numpy columns (row i is one document)."""

    ids: np.ndarray  # int64
    vectors: np.ndarray  # float64 (n, DIM), float32-representable
    texts: list[str]
    cats: np.ndarray  # int64
    prices: np.ndarray  # float64
    langs: list[str]

    def __len__(self) -> int:
        return len(self.ids)


class Generator:
    """One seeded stream of documents and queries over a fixed mixture
    and vocabulary."""

    def __init__(self, seed: int, vocab: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = vocab
        self.centroids = self.rng.normal(0.0, 1.0, (N_CENTROIDS, DIM))
        ranks = np.arange(1, vocab + 1, dtype=np.float64)
        p = ranks**-ZIPF_S
        self.term_p = p / p.sum()
        self.next_id = 0

    def _vectors(self, n: int) -> np.ndarray:
        comp = self.rng.integers(0, N_CENTROIDS, n)
        v = self.centroids[comp] + self.rng.normal(0.0, 0.35, (n, DIM))
        # float32-representable doubles: every engine reads the same bits
        return v.astype(np.float32).astype(np.float64)

    def docs(self, n: int) -> Docs:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        lens = self.rng.integers(20, 121, n)
        toks = self.rng.choice(self.vocab, size=int(lens.sum()), p=self.term_p)
        texts, at = [], 0
        for ln in lens:
            texts.append(" ".join(f"w{t}" for t in toks[at : at + ln]))
            at += ln
        return Docs(
            ids=ids,
            vectors=self._vectors(n),
            texts=texts,
            cats=self.rng.integers(0, N_CATS, n).astype(np.int64),
            prices=np.round(self.rng.uniform(0.0, 1000.0, n), 2),
            langs=[LANGS[i] for i in self.rng.choice(len(LANGS), n, p=LANG_P)],
        )

    def query_vector(self) -> list[float]:
        return self._vectors(1)[0].tolist()

    def query_text(self) -> str:
        """1-4 terms mixing head (top-100 rank) and tail Zipf terms."""
        n = int(self.rng.integers(1, 5))
        terms = []
        for j in range(n):
            if j % 2 == 0:
                terms.append(int(self.rng.integers(0, HEAD_TERMS)))
            else:
                t = int(self.rng.choice(self.vocab, p=self.term_p))
                if t < HEAD_TERMS:
                    t = int(self.rng.integers(HEAD_TERMS, self.vocab))
                terms.append(t)
        return " ".join(f"w{t}" for t in terms)


# hybrid metadata filters by selectivity: (field, op, value)
FILTERS = {
    "1%": ("price", "lt", 10.0),
    "10%": ("cat", "in", tuple(range(5))),
    "50%": ("lang", "eq", "en"),
}


def query_pool(gen: Generator, per_type: int) -> dict[str, list[dict]]:
    """``per_type`` distinct queries of each request type."""
    pool: dict[str, list[dict]] = {t: [] for t in QUERY_TYPES}
    sels = sorted(FILTERS)
    for i in range(per_type):
        pool["flat"].append({"vec": gen.query_vector()})
        pool["ivf"].append({"vec": gen.query_vector()})
        pool["text"].append({"text": gen.query_text()})
        pool["hybrid"].append(
            {"vec": gen.query_vector(), "text": gen.query_text(), "filter": sels[i % 3]}
        )
    return pool


def request_sequence(gen: Generator, per_type: int, n: int) -> list[tuple[str, int]]:
    """``n`` requests ``(type, pool index)``: types in shuffled blocks of
    four (equal shares), pool index drawn Zipf over the type's pool so a
    share of requests repeat an earlier query."""
    p = np.arange(1, per_type + 1, dtype=np.float64) ** -REQUEST_ZIPF_S
    p /= p.sum()
    perm = gen.rng.permutation(per_type)  # which queries are popular
    out = []
    while len(out) < n:
        for t in gen.rng.permutation(len(QUERY_TYPES)):
            out.append((QUERY_TYPES[t], int(perm[gen.rng.choice(per_type, p=p)])))
    return out[:n]
