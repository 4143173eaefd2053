"""Brute-force BM25 that shares no code with the engine.

Scores every document of a corpus state with numpy: k1=1.2, b=0.75,
Lucene idf ln(1 + (N - df + 0.5) / (df + 0.5)), the ``code`` analyzer's
token regex written out again here.
"""

from __future__ import annotations

import hashlib
import math
import re
from itertools import chain

import numpy as np
import pandas as pd

K1 = 1.2
B = 0.75
SCORE_TOL = 1e-9
_TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+|[^\sA-Za-z0-9_]")


class BruteForce:
    """Token counts of every document the run generated."""

    def __init__(self, doc_ids: np.ndarray, contents: list[str]):
        toks = [_TOKEN.findall(c) for c in contents]
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.dl = np.fromiter((len(t) for t in toks), dtype=np.int64,
                              count=len(toks))
        codes, uniq = pd.factorize(
            pd.Series(list(chain.from_iterable(toks)), dtype=object))
        self._codes = codes
        self._doc_of = np.repeat(np.arange(len(toks)), self.dl)
        self._code = {t: i for i, t in enumerate(uniq)}
        self._tf: dict[str, np.ndarray] = {}
        self._sha = [hashlib.sha256(c.encode("utf-8")).hexdigest()
                     for c in contents]
        self._row = {int(d): i for i, d in enumerate(self.doc_ids)}

    def _term_tf(self, term: str) -> np.ndarray:
        tf = self._tf.get(term)
        if tf is None:
            c = self._code.get(term)
            tf = np.zeros(self.doc_ids.size, dtype=np.int64)
            if c is not None:
                tf = np.bincount(self._doc_of[self._codes == c],
                                 minlength=self.doc_ids.size)
            self._tf[term] = tf
        return tf

    def content_sha256(self, doc_id: int) -> str:
        return self._sha[self._row[int(doc_id)]]

    def topk(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        """Top-k (doc_id, score) by (score DESC, doc_id ASC) over every
        document."""
        n = float(self.doc_ids.size)
        avgdl = float(int(self.dl.sum())) / n
        dl = self.dl.astype(np.float64)
        scores = np.zeros(self.doc_ids.size, dtype=np.float64)
        matched = np.zeros(self.doc_ids.size, dtype=bool)
        for t in sorted(set(terms)):
            tf = self._term_tf(t)
            hit = tf > 0
            df = float(np.count_nonzero(hit))
            if df == 0:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tfh = tf[hit].astype(np.float64)
            scores[hit] += idf * (tfh * (K1 + 1.0) / (
                tfh + K1 * (1.0 - B + B * dl[hit] / avgdl)))
            matched |= hit
        cand = np.flatnonzero(matched)
        order = np.lexsort((self.doc_ids[cand], -scores[cand]))[:k]
        return [(int(self.doc_ids[i]), float(scores[i])) for i in cand[order]]


def mismatch(got: list[tuple[int, float]],
             want: list[tuple[int, float]]) -> str | None:
    """None when ``got`` has the oracle's docs in the oracle's order with
    every score within ``SCORE_TOL``; else a one-line reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    for rank, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if gd != wd:
            return f"rank {rank}: doc {gd}, oracle doc {wd}"
        if not abs(gs - ws) <= SCORE_TOL:
            return f"rank {rank}: doc {gd} score {gs!r}, oracle {ws!r}"
    return None
