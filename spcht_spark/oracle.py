"""Pure-Python exact BM25 oracle (SURVEY.md §5 rebuild test plan item 3).

The correctness contract for the engine: rank-identical docIDs and
bit-identical scores on the reference query set (BASELINE.md "Top-k BM25
correctness").  Bit-identity is achievable because both sides

* compute idf driver-side in Python (``math.log``) from exact integer
  (N, df) — injected into the Spark plan as literals,
* evaluate the identical IEEE-double expression for each term
  contribution, and
* sum contributions in ascending-term order (deterministic summation;
  SURVEY.md §7 "rank identity under float summation order").

Tie-break: score desc, doc_id asc.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pandas as pd

from spcht_spark.index.tokenize import TOKEN_REGEX

K1 = 1.2
B = 0.75


def tokenize_py(text: str) -> list[str]:
    return re.findall(TOKEN_REGEX, text)


def idf(n_docs: int, df: int) -> float:
    """Lucene-style BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def term_score(tf: int, dl: int, avgdl: float, idf_val: float) -> float:
    """Single-term BM25 contribution — expression mirrored verbatim in
    spcht_spark.index.query (same parenthesization → same doubles)."""
    return idf_val * ((tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * (dl / avgdl))))


class Bm25Oracle:
    """Exact scorer over a pandas corpus (doc_id, content). ``tokenize``
    must split content the way the index under test did (default: the
    ``arrow`` code-token rule)."""

    def __init__(self, corpus: pd.DataFrame, tokenize=tokenize_py):
        self.tf: dict[int, Counter] = {}
        self.dl: dict[int, int] = {}
        self.df: Counter = Counter()
        for doc_id, content in zip(corpus["doc_id"], corpus["content"]):
            c = Counter(tokenize(content))
            self.tf[int(doc_id)] = c
            self.dl[int(doc_id)] = sum(c.values())
            self.df.update(c.keys())
        self.n_docs = len(self.dl)
        self.avgdl = sum(self.dl.values()) / self.n_docs

    def query(
        self, terms: list[str], k: int, mode: str = "or"
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score). mode='or' (Lucene SHOULD) or 'and'
        (MUST: doc needs every query term; any index-absent term → empty)."""
        terms = sorted(set(terms))  # dedupe + deterministic summation order
        idfs = {t: idf(self.n_docs, self.df[t]) for t in terms if self.df[t] > 0}
        scores: dict[int, float] = {}
        matched: dict[int, int] = {}
        for t in terms:
            if t not in idfs:
                continue
            for doc_id, c in self.tf.items():
                tf = c.get(t, 0)
                if tf:
                    s = term_score(tf, self.dl[doc_id], self.avgdl, idfs[t])
                    scores[doc_id] = scores.get(doc_id, 0.0) + s
                    matched[doc_id] = matched.get(doc_id, 0) + 1
        if mode == "and":
            scores = {d: s for d, s in scores.items() if matched[d] == len(terms)}
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]
