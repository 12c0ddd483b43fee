"""Reference answers the benchmark checks the program's outputs against.

Each oracle is computed in numpy / plain Python from the generated inputs
alone, never from the program's results, and always outside the timed
interval. Scores are compared with a small tolerance and rankings are
compared tie-tolerantly: a returned list is right when its scores match
the reference's score sequence and every returned id really has the
score it was returned with, so two ids with equal scores may swap.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

K1 = 1.2
B = 0.75
RRF_K = 60.0
TOL = 1e-5


def exact_knn(vectors: np.ndarray, ids: np.ndarray, q, k: int = 10, mask=None):
    """Exact L2 top-k ``[(id, dist)]`` by (distance rounded to 6, id)."""
    d = np.round(np.sqrt(((vectors - np.asarray(q)) ** 2).sum(axis=1)), 6)
    sel = np.arange(len(ids)) if mask is None else np.flatnonzero(mask)
    order = sel[np.lexsort((ids[sel], d[sel]))][:k]
    return [(int(ids[i]), float(d[i])) for i in order], dict(zip(ids.tolist(), d.tolist()))


def sq_dist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, d) x (m, d) -> (n, m) squared L2 by |a|^2 - 2ab + |b|^2."""
    d = (a * a).sum(axis=1)[:, None] - 2.0 * (a @ b.T) + (b * b).sum(axis=1)[None, :]
    return np.maximum(d, 0.0)


def probe_lists(centroids: np.ndarray, q, nprobe: int) -> list[int]:
    """The ``nprobe`` centroids nearest to ``q`` (L2), nearest first."""
    d = sq_dist(np.asarray(q, dtype=np.float64)[None, :], centroids)[0]
    return [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]


def rrf(vec_leg: list[tuple[int, float]], txt_leg: list[tuple[int, float]], k: int = 10):
    """Reciprocal-rank fusion of two ranked legs (0-based ranks):
    ``([(id, score)] top-k by (score desc, id), {id: score})``."""
    fused: dict[int, float] = {}
    for leg in (vec_leg, txt_leg):
        for rank, (i, _) in enumerate(leg):
            fused[i] = fused.get(i, 0.0) + 1.0 / (RRF_K + rank)
    truth = {i: round(s, 6) for i, s in fused.items()}
    rows = sorted(truth.items(), key=lambda r: (-r[1], r[0]))
    return rows[:k], truth


class BM25Ref:
    """Independent BM25 over whitespace tokens: K1 = 1.2, B = 0.75,
    idf = ln((N - df + 0.5) / (df + 0.5) + 1), a query term counted once
    per occurrence in the query, corpus statistics over every live
    document whatever the candidate filter. Supports appends and
    deletes so it can follow a live store."""

    def __init__(self):
        self.postings: dict[str, dict[int, int]] = {}
        self.doc_terms: dict[int, Counter] = {}
        self.dl: dict[int, int] = {}
        self.total_dl = 0

    def add(self, ids, texts) -> None:
        for i, t in zip(ids, texts):
            i = int(i)
            toks = t.split()
            tf = Counter(toks)
            self.doc_terms[i] = tf
            self.dl[i] = len(toks)
            self.total_dl += len(toks)
            for term, n in tf.items():
                self.postings.setdefault(term, {})[i] = n

    def remove(self, ids) -> None:
        for i in ids:
            i = int(i)
            for term in self.doc_terms.pop(i):
                del self.postings[term][i]
            self.total_dl -= self.dl.pop(i)

    def __len__(self) -> int:
        return len(self.dl)

    def scores(self, query: str, candidates=None) -> dict[int, float]:
        """Unrounded score of every matching (candidate) document."""
        n = len(self.dl)
        avgdl = self.total_dl / n
        out: dict[int, float] = {}
        for term, qtf in Counter(query.split()).items():
            plist = self.postings.get(term)
            if not plist:
                continue
            df = len(plist)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            for i, tf in plist.items():
                if candidates is not None and i not in candidates:
                    continue
                denom = tf + K1 * (1.0 - B + B * (self.dl[i] / avgdl))
                out[i] = out.get(i, 0.0) + qtf * idf * (tf * (K1 + 1.0)) / denom
        return out

    def topk(self, query: str, k: int = 10, candidates=None):
        """``([(id, score)] top-k by (score desc, id), {id: score})``."""
        s = {i: round(v, 6) for i, v in self.scores(query, candidates).items()}
        rows = sorted(s.items(), key=lambda r: (-r[1], r[0]))[:k]
        return rows, s


def same_ranking(got, want, truth: dict | None = None, tol: float = TOL) -> str | None:
    """None when ``got`` ([(id, score)]) matches ``want``; else a reason.

    Tie-tolerant: the score sequences must agree within ``tol`` and each
    returned id must carry its true score (``truth``) within ``tol``."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if len({i for i, _ in got}) != len(got):
        return "duplicate ids"
    for pos, ((gi, gs), (wi, ws)) in enumerate(zip(got, want)):
        if gs is None or abs(gs - ws) > tol:
            return f"rank {pos}: score {gs} != {ws}"
        if truth is not None:
            ts = truth.get(gi)
            if ts is None or abs(ts - gs) > tol:
                return f"rank {pos}: id {gi} returned with {gs}, true score {ts}"
        elif gi != wi:
            return f"rank {pos}: id {gi} != {wi}"
    return None
