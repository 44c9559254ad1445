"""Analyzer chains: content/token normalization shared by index build
and query parse.

Solr cores analyze text through a tokenizer + filter chain and run the
SAME chain at index and query time; the reference's ``q`` strings hit
analyzed fields (/root/reference/Spcht/Core/WorkOrder.py:693). The
engine's chain is a comma-separated spec over three filters:

* ``lowercase`` — case folding (Solr LowerCaseFilter). Applied
  content-level before tokenization (safe: the tokenizers' character
  classes are case-symmetric), one whole-stage-codegen projection.
* ``stop`` — fixed English stopword removal (Solr StopFilter with its
  default list's common core). Removed tokens contribute NOTHING —
  no postings, no doc-length — matching Lucene's norm over emitted
  tokens.
* ``sstem`` — Harman's S-stemmer (the conservative plural stemmer:
  -ies→-y, -es→-e, -s→∅ with the classic exception suffixes). Chosen
  over Porter because it is exactly expressible in EVERY execution
  substrate this engine runs in — SQL CASE/LIKE, vectorized pandas str
  ops and pure Python — so one definition stays provably identical
  across all of them.

The chain has three forms, pinned equal in tests/test_analyze.py:

* pure Python (:func:`fold_token_py`) — the query parser;
* pandas (:func:`fold_tokens_pd`) — the build's Arrow tokenizer batches;
* SQL text (:func:`fold_token_sql`) — evaluated by Spark (the
  percolator's ``transform(terms, t -> ...)``) and by the DuckDB
  oracle alike.

The default analyzer (``None``) is the identity: case-preserving, no
removal — the right call for the north-rule source-code corpus where
``Return`` vs ``return`` and ``is`` vs ``if`` are real distinctions.
"""

from __future__ import annotations

import pandas as pd

# Common core of Lucene's classic English stop set (deterministic,
# version-pinned here rather than imported).
STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)
_STOPSET = frozenset(STOPWORDS)

_CONTENT_STEPS = {"lowercase"}
_TOKEN_STEPS = {"stop", "sstem"}
_ALL_STEPS = _CONTENT_STEPS | _TOKEN_STEPS


def parse_analyzer(spec: str | None) -> list[str]:
    """``"lowercase,stop,sstem"`` → validated step list (may be [])."""
    if spec is None:
        return []
    steps = [s.strip() for s in spec.split(",") if s.strip()]
    bad = [s for s in steps if s not in _ALL_STEPS]
    if bad:
        raise ValueError(
            f"unknown analyzer step(s) {bad} in {spec!r} "
            f"(choose from {sorted(_ALL_STEPS)})"
        )
    return steps


def content_steps(spec: str | None) -> list[str]:
    return [s for s in parse_analyzer(spec) if s in _CONTENT_STEPS]


def token_steps(spec: str | None) -> list[str]:
    return [s for s in parse_analyzer(spec) if s in _TOKEN_STEPS]


# ------------------------------------------------------------ S-stemmer

# Rule semantics: the FIRST rule whose suffix matches decides — if its
# exception also matches, the word is left UNCHANGED (no fall-through
# to a shorter-suffix rule). This is how s-stemmer implementations
# treat Harman's exception list; fall-through would make the
# exceptions meaningless (goes → es-rule excepted → s-rule → "goe").

def _sstem_py(t: str) -> str:
    if t.endswith("ies"):
        if t.endswith("eies") or t.endswith("aies"):
            return t
        return t[:-3] + "y"
    if t.endswith("es"):
        if t.endswith("aes") or t.endswith("ees") or t.endswith("oes"):
            return t
        return t[:-1]
    if t.endswith("s"):
        if t.endswith("us") or t.endswith("ss"):
            return t
        return t[:-1]
    return t


def _sstem_pd(s: pd.Series) -> pd.Series:
    suf_ies = s.str.endswith("ies")
    suf_es = s.str.endswith("es") & ~suf_ies
    suf_s = s.str.endswith("s") & ~s.str.endswith("es") & ~suf_ies
    do_ies = suf_ies & ~s.str.endswith(("eies", "aies"))
    do_es = suf_es & ~s.str.endswith(("aes", "ees", "oes"))
    do_s = suf_s & ~s.str.endswith(("us", "ss"))
    out = s.copy()
    out[do_ies] = s[do_ies].str[:-3] + "y"
    out[do_es] = s[do_es].str[:-1]
    out[do_s] = s[do_s].str[:-1]
    return out


def _sstem_sql(expr: str) -> str:
    head3 = f"substring({expr}, 1, length({expr})-3) || 'y'"
    head1 = f"substring({expr}, 1, length({expr})-1)"
    return (
        f"CASE WHEN {expr} LIKE '%ies' THEN "
        f"(CASE WHEN {expr} LIKE '%eies' OR {expr} LIKE '%aies' "
        f"THEN {expr} ELSE {head3} END) "
        f"WHEN {expr} LIKE '%es' THEN "
        f"(CASE WHEN {expr} LIKE '%aes' OR {expr} LIKE '%ees' "
        f"OR {expr} LIKE '%oes' THEN {expr} ELSE {head1} END) "
        f"WHEN {expr} LIKE '%s' THEN "
        f"(CASE WHEN {expr} LIKE '%us' OR {expr} LIKE '%ss' "
        f"THEN {expr} ELSE {head1} END) "
        f"ELSE {expr} END"
    )


# ---------------------------------------------------- the three forms

def fold_token_py(term: str, spec: str | None) -> str | None:
    """Pure-Python token filter chain: the query-parse form (and the
    reference for the other two). None = token removed (stopword)."""
    for step in token_steps(spec):
        if step == "stop":
            if term in _STOPSET:
                return None
        elif step == "sstem":
            term = _sstem_py(term)
    return term


def fold_tokens_pd(s: pd.Series, spec: str | None) -> pd.Series:
    """pandas form (vectorized str ops, no per-row Python): NaN for
    removed tokens. Used inside the Arrow tokenizer batches."""
    for step in token_steps(spec):
        if step == "stop":
            s = s.mask(s.isin(_STOPSET))
        elif step == "sstem":
            notna = s.notna()
            s = s.copy()
            s[notna] = _sstem_pd(s[notna])
    return s


def fold_token_sql(expr: str, spec: str | None) -> str:
    """SQL form, valid in Spark and DuckDB: expression yielding the
    folded token or NULL."""
    out = expr
    for step in token_steps(spec):
        if step == "stop":
            lst = ", ".join(f"'{w}'" for w in STOPWORDS)
            out = f"(CASE WHEN ({out}) IN ({lst}) THEN NULL ELSE ({out}) END)"
        elif step == "sstem":
            out = _sstem_sql(f"({out})")
    return out
