"""Solr function queries: parse `div(n_chars,100)`-style strings into
Catalyst Column expressions, DuckDB SQL, and referenced fields.

The reference's upstream Solr accepts function queries in `sort=`,
`bf=`/`boost=` (edismax) and `fl=` (pseudo-fields) — part of the query
surface behind the requests Spcht issues
(/root/reference/Spcht/Core/WorkOrder.py:693). Lucene compiles them to
ValueSource trees evaluated per hit from docValues; the Spark-first
equivalent is a Catalyst Column tree evaluated over the doc-attributes
table — whole-stage codegen, no Python, and the parser also emits the
identical ANSI-SQL string so every use is DuckDB-oracle-able.

Grammar (the arithmetic core of Solr's function-query language):

    expr  := number | field | func '(' expr (',' expr)* ')'
    func  := sum | sub | product | mul | div | min | max
           | log | ln | sqrt | abs | pow

`log` is base-10 (Solr/Lucene semantics); `ln` is natural. Fields
resolve against the attrs table at use time; `fields()` reports which
columns an expression reads so joins stay pruned (same contract as the
facet specs / boosted_topk column lists).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from spcht_spark.index.query import topn


class FuncParseError(ValueError):
    pass


# ----------------------------------------------------------------- AST

@dataclass(frozen=True)
class Num:
    value: float


@dataclass(frozen=True)
class Field:
    name: str


@dataclass(frozen=True)
class Call:
    func: str
    args: tuple


_FUNCS_VARIADIC = {"sum", "product", "min", "max"}
_FUNCS_BINARY = {"sub", "div", "pow"}
_FUNCS_UNARY = {"log", "ln", "sqrt", "abs"}
_ALIASES = {"mul": "product"}

_TOKEN_RE = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*|-?\d+(?:\.\d+)?|[(),])")


def _tokenize(src: str) -> list[str]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise FuncParseError(f"bad function query at {src[pos:]!r}")
        out.append(m.group(1))
        pos = m.end()
    return out


def parse_func(src: str):
    """Parse a function-query string into the AST above."""
    toks = _tokenize(src)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take(expect=None):
        nonlocal pos
        if pos >= len(toks):
            raise FuncParseError(f"unexpected end of {src!r}")
        t = toks[pos]
        if expect is not None and t != expect:
            raise FuncParseError(f"expected {expect!r}, got {t!r} in {src!r}")
        pos += 1
        return t

    def expr():
        t = take()
        if re.fullmatch(r"-?\d+(?:\.\d+)?", t):
            return Num(float(t))
        if peek() == "(":
            name = _ALIASES.get(t, t)
            known = _FUNCS_VARIADIC | _FUNCS_BINARY | _FUNCS_UNARY
            if name not in known:
                raise FuncParseError(f"unknown function {t!r}")
            take("(")
            args = [expr()]
            while peek() == ",":
                take(",")
                args.append(expr())
            take(")")
            n = len(args)
            if name in _FUNCS_UNARY and n != 1:
                raise FuncParseError(f"{name} takes 1 arg, got {n}")
            if name in _FUNCS_BINARY and n != 2:
                raise FuncParseError(f"{name} takes 2 args, got {n}")
            if name in _FUNCS_VARIADIC and n < 1:
                raise FuncParseError(f"{name} needs at least 1 arg")
            return Call(name, tuple(args))
        return Field(t)

    node = expr()
    if pos != len(toks):
        raise FuncParseError(f"trailing input {toks[pos:]} in {src!r}")
    return node


# -------------------------------------------------------- three backends

def func_fields(node) -> list[str]:
    """Attr columns the expression reads (sorted, deduped) — the
    explicit join-pruning list boosted_topk/facet specs use."""
    if isinstance(node, Num):
        return []
    if isinstance(node, Field):
        return [node.name]
    seen: list[str] = []
    for a in node.args:
        for f in func_fields(a):
            if f not in seen:
                seen.append(f)
    return sorted(seen)


def _fold(op, cols):
    acc = cols[0]
    for c in cols[1:]:
        acc = op(acc, c)
    return acc


def func_column(node) -> Column:
    """Catalyst Column for the expression (doubles throughout)."""
    if isinstance(node, Num):
        return F.lit(node.value)
    if isinstance(node, Field):
        return F.col(node.name).cast("double")
    args = [func_column(a) for a in node.args]
    if node.func == "sum":
        return _fold(lambda a, b: a + b, args)
    if node.func == "product":
        return _fold(lambda a, b: a * b, args)
    if node.func == "min":
        return F.least(*args) if len(args) > 1 else args[0]
    if node.func == "max":
        return F.greatest(*args) if len(args) > 1 else args[0]
    if node.func == "sub":
        return args[0] - args[1]
    if node.func == "div":
        return args[0] / args[1]
    if node.func == "pow":
        return F.pow(args[0], args[1])
    if node.func == "log":
        return F.log10(args[0])
    if node.func == "ln":
        return F.log(args[0])
    if node.func == "sqrt":
        return F.sqrt(args[0])
    if node.func == "abs":
        return F.abs(args[0])
    raise FuncParseError(f"unreachable func {node.func}")


def func_sql(node) -> str:
    """The same expression as ANSI SQL (DuckDB oracle)."""
    if isinstance(node, Num):
        v = node.value
        return repr(int(v)) if v == int(v) else repr(v)
    if isinstance(node, Field):
        return f"({node.name}::DOUBLE)"
    args = [func_sql(a) for a in node.args]
    if node.func == "sum":
        return "(" + " + ".join(args) + ")"
    if node.func == "product":
        return "(" + " * ".join(args) + ")"
    if node.func == "min":
        return f"least({', '.join(args)})" if len(args) > 1 else args[0]
    if node.func == "max":
        return f"greatest({', '.join(args)})" if len(args) > 1 else args[0]
    if node.func == "sub":
        return f"({args[0]} - {args[1]})"
    if node.func == "div":
        return f"({args[0]} / {args[1]})"
    if node.func == "pow":
        return f"pow({args[0]}, {args[1]})"
    if node.func == "log":
        return f"log10({args[0]})"
    if node.func == "ln":
        return f"ln({args[0]})"
    if node.func == "sqrt":
        return f"sqrt({args[0]})"
    if node.func == "abs":
        return f"abs({args[0]})"
    raise FuncParseError(f"unreachable func {node.func}")


def compile_func(src: str) -> tuple[Column, list[str]]:
    """One-call helper: string → (Column, referenced attr columns) —
    the exact pair boosted_topk's ``bf=``/``boost=`` parameters take,
    so CLI/facade strings plug straight in."""
    node = parse_func(src)
    return func_column(node), func_fields(node)


def function_sorted(
    matches,
    attrs,
    sort_src: str,
    descending: bool,
    k: int,
    keep: tuple[str, ...] = (),
):
    """(query_id, rank, doc_id, *keep, sort_v): each query's first
    ``k`` rows of ``matches`` (query_id, doc_id, *keep) ordered by
    ``sort_v`` = round(f, 6) of the function query ``sort_src`` over
    ``attrs`` (the determinism contract every ranked surface uses),
    NULL values last in both directions (Solr sortMissingLast, the
    DuckDB default), ties by doc_id asc.

    Plan: a narrow attrs join restricted to the columns the function
    reads → :func:`spcht_spark.index.query.topn` salted on doc_id. The
    function evaluates JVM-side in whole-stage codegen."""
    col, fields = compile_func(sort_src)
    j = matches.select("query_id", "doc_id", *keep).join(
        attrs.select("doc_id", *fields), "doc_id"
    ).select("query_id", "doc_id", *keep, F.round(col, 6).alias("sort_v"))
    return topn(
        j, ["query_id"],
        f"sort_v {'DESC' if descending else 'ASC'} NULLS LAST, doc_id ASC",
        k, salt="doc_id", cols=["query_id", "rank", "doc_id", *keep, "sort_v"],
    )


def function_sort_topk(
    spark,
    blocks,
    queries: list[tuple[str, list[str]]],
    attrs,
    sort_src: str,
    k: int,
    descending: bool = True,
):
    """Solr ``sort=<func()> desc``: the top-k docs matching each query
    (≥1 term — Solr's default OR admissibility for sort-only requests)
    through :func:`function_sorted`; ``sort_v`` rounds to 4dp in the
    output."""
    from spcht_spark.index.facets import matching_docs

    return function_sorted(
        matching_docs(spark, blocks, queries), attrs, sort_src, descending, k
    ).withColumn("sort_v", F.round("sort_v", 4))
