"""Seeded inputs: code-like corpora, delta batches and request streams.

Everything here is a pure function of the workload seed. The engine only
ever sees the parquet these functions write; the expected answers are
computed from the same pandas frames (see ``expected.py``).

The vocabulary and its Zipfian weights are ``spcht_spark.corpus``'s
(braces and keywords hot, synthetic identifiers in the tail), so the
posting skew matches the repo's own fixtures; only the per-doc seeding
differs, because ``corpus.generate_corpus`` has a fixed seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from spcht_spark.corpus import _VOCAB_CDF, LANG_EXT, LANG_WEIGHTS, LANGS, REFERENCE_QUERIES, VOCAB

_DIRS = ["core", "util", "net", "io", "api", "db", "cli", "test", "pkg"]
_LANG_CDF = np.cumsum(LANG_WEIGHTS / LANG_WEIGHTS.sum())

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64(), False),
        pa.field("repo", pa.string(), False),
        pa.field("path", pa.string(), False),
        pa.field("commit", pa.string(), False),
        pa.field("lang", pa.string(), False),
        pa.field("content", pa.string(), False),
        pa.field("content_sha256", pa.string(), False),
    ]
)

# Hot terms are the head of the Zipf vocabulary, rare ones its tail.
# '(' and ')' are query-syntax grouping, so they never appear as terms.
HOT_TERMS = [str(t) for t in VOCAB[:28] if str(t) not in "()"]
RARE_TERMS = [str(t) for t in VOCAB[28:]]
_RANK = {str(t): i for i, t in enumerate(VOCAB)}


def make_docs(
    rng: np.random.Generator, doc_ids: np.ndarray, min_lines: int, max_lines: int
) -> pd.DataFrame:
    """One code-like doc per id: ``min_lines..max_lines`` lines of 3-12
    Zipfian tokens. Vectorized: one draw for every token of the batch."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    n = len(doc_ids)
    n_lines = rng.integers(min_lines, max_lines + 1, size=n)
    line_len = rng.integers(3, 13, size=int(n_lines.sum()))
    toks = VOCAB[np.searchsorted(_VOCAB_CDF, rng.random(int(line_len.sum())), side="right")]
    # separator after each token: ' ' inside a line, '\n' at line end,
    # '\0' at doc end (split away below)
    seps = np.full(len(toks), " ", dtype=object)
    line_end = np.cumsum(line_len) - 1
    seps[line_end] = "\n"
    seps[line_end[np.cumsum(n_lines) - 1]] = "\0"
    pieces = np.empty(2 * len(toks), dtype=object)
    pieces[0::2] = toks
    pieces[1::2] = seps
    content = "".join(pieces.tolist()).split("\0")[:-1]
    lang = np.array(LANGS)[np.searchsorted(_LANG_CDF, rng.random(n), side="right").clip(0, len(LANGS) - 1)]
    dirs = np.array(_DIRS)[rng.integers(0, len(_DIRS), size=n)]
    mods = rng.integers(0, 997, size=n)
    repo = [f"org{i % 7}/repo{i % 97}" for i in doc_ids.tolist()]
    path = [f"src/{d}/mod{m}.{LANG_EXT[lg]}" for d, m, lg in zip(dirs.tolist(), mods.tolist(), lang.tolist())]
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "repo": repo,
            "path": path,
            "commit": [hashlib.sha1(f"{r}/{p}".encode()).hexdigest() for r, p in zip(repo, path)],
            "lang": lang.tolist(),
            "content": content,
            "content_sha256": [hashlib.sha256(c.encode()).hexdigest() for c in content],
        }
    )


def corpus(seed: int, n_docs: int, min_lines: int, max_lines: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, n_docs, 1])
    return make_docs(rng, np.arange(n_docs, dtype=np.int64), min_lines, max_lines)


def write_parquet(df: pd.DataFrame, path: str, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet parts (so the scan has splits)."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        table = pa.Table.from_pandas(df.iloc[lo:hi], schema=_ARROW_SCHEMA, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def write_ids(ids: np.ndarray, path: str) -> None:
    """Write a (doc_id) parquet — a delta's deletes."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({"doc_id": pa.array(np.asarray(ids, dtype=np.int64), pa.int64())})
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def delta(
    seed: int, step: int, live_ids: np.ndarray, frac: float, min_lines: int, max_lines: int
) -> tuple[pd.DataFrame, np.ndarray]:
    """Delta commit number ``step``: ~``frac`` of the docs upserted,
    ~``frac`` inserted at new ids past the largest live id, and ~``frac``
    deleted. Upserts and deletes are drawn from the newest fifth of the
    live ids (recent files churn most). Returns ``(changed_df, deleted_ids)``."""
    rng = np.random.default_rng([seed, len(live_ids), 2, step])
    live = np.sort(np.asarray(live_ids, dtype=np.int64))
    m = max(1, int(len(live) * frac))
    picked = rng.choice(live[-max(5 * m, len(live) // 5):], size=2 * m, replace=False)
    next_id = int(live[-1]) + 1
    inserts = np.arange(next_id, next_id + m, dtype=np.int64)
    changed = make_docs(rng, np.concatenate([picked[:m], inserts]), min_lines, max_lines)
    return changed, np.sort(picked[m:])


def apply_delta(corpus: pd.DataFrame, changed: pd.DataFrame, deleted: np.ndarray) -> pd.DataFrame:
    """The corpus after one delta commit: upserts replace, inserts append,
    deletes drop (what a from-scratch build of the new state would see)."""
    gone = np.concatenate([changed["doc_id"].to_numpy(), np.asarray(deleted, dtype=np.int64)])
    kept = corpus[~corpus["doc_id"].isin(gone)]
    return pd.concat([kept, changed], ignore_index=True).sort_values("doc_id", ignore_index=True)


# --- request stream ---------------------------------------------------

# One cycle of the stream: ten request shapes in a fixed order, so every
# seed and every whole number of cycles asks about the same work; only
# the terms are drawn from the seed. A shape is (kind, its terms' bands,
# k), with "h" a hot term and "r" a rare one. The kind shares
# (40/20/20/10/10 %), the shapes and the one k=100 request are assumed,
# not taken from a query log; traced runs report each kind's median
# latency on its own (``search.p50_ms.<kind>``) so that a change to one
# route shows whatever these weights are.
CYCLE = [
    ("or", "h", 100),
    ("and", "hh", 10),
    ("or", "hr", 10),
    ("not", "hrr", 10),
    ("fq", "hr", 10),
    ("or", "hhr", 10),
    ("and", "hr", 10),
    ("facet", "hr", 10),
    ("or", "hrrr", 10),
    ("not", "rhr", 10),
]
CYCLE_LEN = len(CYCLE)
KINDS = list(dict.fromkeys(kind for kind, _, _ in CYCLE))


def requests(seed: int, n: int) -> list[dict]:
    """``n`` Solr-style requests, cycling through ``CYCLE``.

    ``or``: flat OR (WAND route); ``and``: flat AND (skipping-AND route);
    ``not``: ``(h OR r) AND NOT r`` or ``r OR (h AND NOT r)`` (full-decode
    route); ``fq``: OR plus an ``fq`` on ``lang``; ``facet``: OR plus a
    ``lang`` facet. The terms of one request are distinct."""
    rng = np.random.default_rng([seed, 3])
    out: list[dict] = []
    while len(out) < n:
        kind, bands, k = CYCLE[len(out) % CYCLE_LEN]
        ts: list[str] = []
        for band in bands:
            pool = [t for t in (HOT_TERMS if band == "h" else RARE_TERMS) if t not in ts]
            ts.append(pool[int(rng.integers(0, len(pool)))])
        req = {"id": f"r{len(out):04d}", "kind": kind, "k": k, "fq": None, "facet": False}
        if kind == "and":
            req["q"] = " AND ".join(ts)
        elif kind == "not":
            req["q"] = (f"({ts[0]} OR {ts[1]}) AND NOT {ts[2]}" if bands == "hrr"
                        else f"{ts[0]} OR ({ts[1]} AND NOT {ts[2]})")
        else:
            req["q"] = " OR ".join(ts)
            if kind == "fq":
                req["fq"] = "lang:" + LANGS[int(rng.integers(0, len(LANGS)))]
            elif kind == "facet":
                req["facet"] = True
        out.append(req)
    return out


def batch(seed: int) -> list[tuple[str, str, int]]:
    """The 25-query ``boolean_topk`` batch: ``REFERENCE_QUERIES``' slots
    with each term redrawn from its own df band, so every seed asks about
    the same work. A vocabulary term's band is the ranks within a fifth
    of its own (at least two either side), where the Zipf weights differ
    by well under 2x outside the first few ranks; a never-indexed term
    stays never indexed."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for qid, ts, k in REFERENCE_QUERIES:
        new: list[str] = []
        for t in ts:
            if t not in _RANK:
                new.append(f"zzz_absent_{int(rng.integers(0, 1000))}")
                continue
            r = _RANK[t]
            w = max(2, r // 5)
            pool = [str(u) for u in VOCAB[max(0, r - w): r + w + 1]
                    if str(u) not in "()" and str(u) not in new]
            new.append(pool[int(rng.integers(0, len(pool)))])
        out.append((qid, " OR ".join(new), k))
    return out
