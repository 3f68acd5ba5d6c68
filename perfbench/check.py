"""Exact pure-Python reference for the engine's ranked search and its
near-duplicate probe, used to check every answer the benchmark gets.

Scores follow the engine's output contracts:

* ``search_index`` / ``search_tf_index``: score = round(sum over the
  matched query terms of tf * ln(N / df), 4), conjunctive queries keep
  documents holding every term, order by score desc then doc_id;
* ``search_index_vsm``: score = floor(10^4 * qdot / |d|) / 10^4 with
  |d| the L2 norm of the document's whole weight vector.

Spark sums in another order than Python, so a returned score may differ
from the reference by one unit in the fourth decimal, and two documents
whose scores sit that close to the k-th score may swap in or out of the
top k.  :func:`same_ranking` accepts exactly those differences and
nothing else.
"""

from __future__ import annotations

import math
from collections import Counter

TOL = 2e-4


class Reference:
    """Term statistics of an ingested document set; ``add`` mirrors an
    append, so the reference always describes what the store holds."""

    def __init__(self, texts: list[str]):
        self.texts = texts
        self.tf: dict[int, Counter] = {}
        self.postings: dict[str, dict[int, int]] = {}

    def add(self, ids) -> None:
        for d in ids:
            c = Counter(self.texts[d].split(" "))
            self.tf[d] = c
            for t, n in c.items():
                self.postings.setdefault(t, {})[d] = n

    def _idf(self, term: str) -> float:
        return math.log(len(self.tf) / len(self.postings[term]))

    def scores(self, terms, conjunctive: bool) -> dict[int, float]:
        """Unrounded tf-idf score of every matching document."""
        acc: dict[int, float] = {}
        hits: Counter = Counter()
        for t in terms:
            for d, n in self.postings.get(t, {}).items():
                acc[d] = acc.get(d, 0.0) + n * self._idf(t)
                hits[d] += 1
        if conjunctive:
            acc = {d: s for d, s in acc.items() if hits[d] == len(terms)}
        return acc

    def cosine(self, terms) -> dict[int, float]:
        """Unfloored VSM cosine score of every document holding all
        terms (the norm covers the document's whole vector)."""
        dots = self.scores(terms, conjunctive=True)
        out = {}
        for d, dot in dots.items():
            nrm = math.sqrt(sum(
                (n * self._idf(t)) ** 2 for t, n in self.tf[d].items()
            ))
            out[d] = dot / nrm
        return out


def _round4(x: float) -> float:
    return round(x, 4)


def _floor4(x: float) -> float:
    return math.floor(x * 10000) / 10000


def same_ranking(got: list[tuple[int, float]], exact: dict[int, float],
                 k: int, floor: bool = False) -> bool:
    """Whether ``got`` (the engine's rows, in order) is a correct top-k
    for the reference scores ``exact``, up to summation-order rounding
    at the k-th place (module docstring)."""
    quant = _floor4 if floor else _round4
    if len(got) != min(k, len(exact)):
        return False
    for d, s in got:
        if d not in exact or s is None or abs(s - exact[d]) > TOL:
            return False
    if got != sorted(got, key=lambda r: (-r[1], r[0])):
        return False
    if not got:
        return True
    expected = sorted(exact, key=lambda d: (-quant(exact[d]), d))[:k]
    if [d for d, _ in got] == expected:
        return True
    kth = quant(exact[expected[-1]])
    must = {d for d in expected if quant(exact[d]) > kth + TOL}
    ids = {d for d, _ in got}
    return must <= ids and all(exact[d] >= kth - TOL for d in ids)


def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def probe_ok(got: list[tuple[int, float]], probe_text: str,
             texts: list[str], copy_of: int | None,
             theta: float = 0.8) -> bool:
    """Every returned document really is a near-duplicate at the
    returned Jaccard, and an exact copy of an ingested document is
    found at Jaccard 1.0.  (MinHash-LSH may miss a pair below 1.0, so
    the reference does not demand every pair above theta.)"""
    ps = shingles(probe_text)
    for d, j in got:
        s = shingles(texts[d])
        exact = len(ps & s) / len(ps | s)
        if exact < theta or abs(exact - j) > 1e-9:
            return False
    if copy_of is not None:
        return (copy_of, 1.0) in [(d, round(j, 9)) for d, j in got]
    return True
