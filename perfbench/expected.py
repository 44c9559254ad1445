"""Expected answers, computed from the generated inputs alone.

* flat OR / AND requests and the batch: ``oracle.Bm25Oracle`` — bit-exact
  scores, ties broken score desc, doc asc;
* NOT / mixed / ``fq`` requests and facet counts: the matching set comes
  from ``boolean.ast_to_duckdb`` over the oracle's tokenization in DuckDB,
  scored with the oracle's ``idf`` / ``term_score`` in ascending term
  order (the engine's summation order);
* the committed ``dictionary`` / ``stats`` / ``doclens`` of a from-scratch
  build of the corpus after its deltas follow from the oracle's counts.

Answers are plain JSON (floats round-trip exactly through ``repr``), so a
seed's answers can be cached on disk and reused by the next run.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import duckdb
import pandas as pd
import pyarrow as pa

from spcht_spark.index.boolean import (
    ast_terms,
    ast_to_duckdb,
    parse_filter_query,
    parse_query,
    positive_terms,
)
from spcht_spark.oracle import Bm25Oracle, idf, term_score, tokenize_py


def _flat_terms(ast, op: str) -> list[str] | None:
    if ast[0] == "term":
        return [ast[1]]
    if ast[0] == op and all(c[0] == "term" for c in ast[1]):
        return [c[1] for c in ast[1]]
    return None


class Answers:
    """Oracle over one corpus (doc_id, lang, content)."""

    def __init__(self, corpus: pd.DataFrame):
        self.oracle = Bm25Oracle(corpus)
        self.lang = dict(zip(corpus["doc_id"].tolist(), corpus["lang"].tolist()))
        self._db = None

    @property
    def db(self):
        """The docs' term sets in DuckDB, loaded on the first boolean
        request (flat OR / AND answers and the tables never need it)."""
        if self._db is None:
            tf = self.oracle.tf
            self._db = duckdb.connect()
            self._db.register("docs_src", pa.table({
                "doc_id": pa.array(list(tf), pa.int64()),
                "lang": pa.array([self.lang[d] for d in tf], pa.string()),
                "terms": pa.array([sorted(c) for c in tf.values()], pa.list_(pa.string())),
            }))
            self._db.execute("CREATE TABLE docs AS SELECT * FROM docs_src")
        return self._db

    def close(self) -> None:
        if self._db is not None:
            self._db.close()

    def _matching(self, ast, fq: str | None) -> list[int]:
        pred = ast_to_duckdb(ast, "d.terms", "d.")
        if fq:
            pred = f"({pred}) AND {ast_to_duckdb(parse_filter_query(fq), 'd.terms', 'd.')}"
        return [r[0] for r in self.db.execute(f"SELECT doc_id FROM docs d WHERE {pred}").fetchall()]

    def _score(self, ast, doc_ids: list[int]) -> list[tuple[int, float]]:
        o = self.oracle
        pos = positive_terms(ast)
        idfs = {t: idf(o.n_docs, o.df[t]) for t in ast_terms(ast) if o.df[t] > 0}
        order = sorted(t for t in idfs if t in pos)
        out = []
        for d in doc_ids:
            acc, tf = 0.0, o.tf[d]
            for t in order:
                if tf.get(t, 0):
                    acc = acc + term_score(tf[t], o.dl[d], o.avgdl, idfs[t])
            out.append((d, acc))
        return out

    def request(self, q: str, k: int, fq: str | None = None, facet: bool = False) -> dict:
        """Hits (and lang facet counts) of one ``search()`` request."""
        ast = parse_query(q)
        out: dict = {}
        flat_or, flat_and = _flat_terms(ast, "or"), _flat_terms(ast, "and")
        if fq is None and not facet and flat_or is not None:
            hits = self.oracle.query(flat_or, k, "or")
        elif fq is None and not facet and flat_and is not None:
            hits = self.oracle.query(flat_and, k, "and")
        else:
            scored = self._score(ast, self._matching(ast, fq))
            hits = sorted(scored, key=lambda kv: (-kv[1], kv[0]))[:k]
        out["hits"] = [[int(d), float(s)] for d, s in hits]
        if facet:
            pred = ast_to_duckdb(ast, "d.terms", "d.")
            rows = self.db.execute(
                f"SELECT lang, count(*) FROM docs d WHERE {pred} GROUP BY lang"
            ).fetchall()
            out["facets"] = {str(v): int(n) for v, n in rows}
        return out

    def batch(self, queries: list[tuple[str, str, int]]) -> dict:
        """The flat-OR batch: qid → [[doc_id, score], ...]."""
        res = {}
        for qid, q, k in queries:
            terms = _flat_terms(parse_query(q), "or")
            res[qid] = [[int(d), float(s)] for d, s in self.oracle.query(terms, k, "or")]
        return res

    def tables_after(self, delta: tuple | None) -> dict:
        """``stats`` / ``dictionary`` / ``doclens`` of a from-scratch build
        of this corpus after the ``(changed, deleted_ids)`` delta, if any."""
        tf = dict(self.oracle.tf)
        if delta is not None:
            changed, deleted = delta
            for d in deleted:
                tf.pop(int(d), None)
            for d, c in zip(changed["doc_id"].tolist(), changed["content"].tolist()):
                tf[int(d)] = Counter(tokenize_py(c))
        df: Counter = Counter()
        cf: Counter = Counter()
        dl = {}
        for d, c in tf.items():
            df.update(c.keys())
            cf.update(c)
            dl[d] = sum(c.values())
        total = sum(dl.values())
        return {
            "stats": [len(dl), total, total / len(dl)],
            "dictionary": {t: [int(df[t]), int(cf[t])] for t in sorted(cf)},
            "doclens": {str(d): int(n) for d, n in sorted(dl.items())},
        }


class Cached:
    """One seed's answers: read from ``path`` if an earlier run of the
    same seed wrote them, else computed on first use (the oracle is only
    built when some answer is missing) and written back by :meth:`save`."""

    def __init__(self, path: str, corpus: pd.DataFrame, delta: tuple | None):
        self.path, self._corpus, self._delta = path, corpus, delta
        self._answers: Answers | None = None
        self.data: dict = {"requests": {}}
        if os.path.exists(path):
            with open(path) as fh:
                self.data = json.load(fh)

    def _get(self, store: dict, key: str, compute):
        if key not in store:
            if self._answers is None:
                self._answers = Answers(self._corpus)
            store[key] = compute(self._answers)
        return store[key]

    def request(self, req: dict) -> dict:
        return self._get(self.data["requests"], req["id"],
                         lambda a: a.request(req["q"], req["k"], req["fq"], req["facet"]))

    def batch(self, queries: list[tuple[str, str, int]]) -> dict:
        return self._get(self.data, "batch", lambda a: a.batch(queries))

    def tables(self) -> dict:
        return self._get(self.data, "tables", lambda a: a.tables_after(self._delta))

    def save(self) -> None:
        if self._answers is None:
            return
        self._answers.close()
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = f"{self.path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(self.data, fh)
        os.replace(tmp, self.path)
