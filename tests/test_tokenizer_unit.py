"""Spark-free unit equivalence: the shipped split kernel
(spcht_spark.index.tokenize.split) must produce exactly
re.findall(TOKEN_REGEX) under rule 'arrow' and the non-empty
str.split(' ') pieces under rule 'ws', on adversarial inputs (the
Spark-level agreement test is test_index_build.test_tokenizers_agree)."""

from __future__ import annotations

import pyarrow as pa
import pytest

from spcht_spark.corpus import generate_corpus_local
from spcht_spark.index.tokenize import split
from spcht_spark.oracle import tokenize_py


def _tok(texts: list[str], rule: str = "arrow") -> list[list[str]]:
    lists = split(pa.array(texts, type=pa.string()), rule)
    return [[t for t in lst if t != ""] for lst in lists.to_pylist()]


ADVERSARIAL = [
    "foo(bar) { return x; }",
    "9abc 123 abc9 _x9 x9y 99abc99 9abc9def 1_a",
    'weird "quoted" #hash @deco $dollar %percent &amp |pipe ~tilde',
    "a.b.c, d->e f<=g h>=i j*k/l m-n+o p=q",
    "tab\tsep\nnewline  multi   space\r\ncrlf",
    "",
    "((()))[]{};;",
    "émoji ünïcode straße mixédascii",
    "x=1;y=2;z=10*4",
    "__dunder__ _private camelCase PascalCase snake_case SCREAMING",
    "0x1F hex 1e10 sci 3.14 pi",
    "trailing space ",
    " leading",
    "012leading0zeros",
    "C:\\dir C:\\Program Files\\x",
    "foo\\",
    "it's don't 'quoted'",
    "{}{}{} {{{}}} a{}b",
    "  double  space  ",
]


def test_arrow_tokenizer_equals_findall_adversarial():
    got = _tok(ADVERSARIAL)
    for text, g in zip(ADVERSARIAL, got):
        assert g == tokenize_py(text), repr(text)


def test_arrow_tokenizer_equals_findall_corpus():
    texts = generate_corpus_local(50, 2, 30)["content"].tolist()
    got = _tok(texts)
    for text, g in zip(texts, got):
        assert g == tokenize_py(text)


def test_ws_split_equals_str_split_adversarial():
    got = _tok(ADVERSARIAL, "ws")
    for text, g in zip(ADVERSARIAL, got):
        assert g == [t for t in text.split(" ") if t], repr(text)


def test_split_rejects_unknown_rule():
    with pytest.raises(ValueError, match="unknown tokenizer"):
        split(pa.array(["a"], type=pa.string()), "jvm")
