"""Property test: descriptor literals reach the triples unchanged.

The compiler renders every node as Spark SQL text, so each literal a
descriptor carries — ``static_field``, ``prepend``/``append``, mapping
keys and values, ``$default``, a string ``if_value``, the text of an
``insert_into`` template around its ``{}`` slots, ``predicate`` and the
subject prefix — is embedded in a SQL string literal. Backslashes,
quotes, braces, ``%``, newlines, escape-like runs and non-ASCII text
must all come back exactly, over records whose value list is empty,
``[""]`` or NULL as well as populated.

Regex-valued keys (``match``/``cut``) stay out: Java and Python regex
dialects differ, so a pure-Python expectation cannot model them. A
numeric-looking ``if_value`` compares numerically (SpchtCore.py:995),
so the generated one is kept non-numeric.
"""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from spcht_spark.descriptor import compile_descriptor
from spcht_spark.descriptor.compiler import _num

SPECIAL = [
    "\\", "'", '"', "{", "}", "{}", "%", "%s", "\n", "\\'", "''", "\\\\",
    "\\n", "\\u0041", "$1", "é", "中", "😀",
]

text_st = st.lists(
    st.one_of(
        st.sampled_from(SPECIAL),
        st.characters(min_codepoint=32, blacklist_categories=("Cs",)),
    ),
    max_size=6,
).map("".join)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("vals", T.ArrayType(T.StringType())),
        T.StructField("more", T.ArrayType(T.StringType())),
    ]
)


def _descriptor(lit: dict) -> dict:
    preds = [f"{lit['predicate']}#{i}" for i in range(5)]
    node = {"source": "dict", "field": "vals", "required": "optional"}
    return {
        "id_source": "dict",
        "id_field": "id",
        "nodes": [
            dict(node, predicate=preds[0], static_field=lit["static"]),
            dict(node, predicate=preds[1], prepend=lit["prepend"], append=lit["append"]),
            dict(node, predicate=preds[2], mapping=lit["mapping"],
                 mapping_settings={"$default": lit["default"]}),
            dict(node, predicate=preds[3], static_field=lit["static"],
                 if_field="vals", if_condition="==", if_value=lit["if_value"]),
            dict(node, predicate=preds[4], insert_into=lit["template"],
                 insert_add_fields=[{"field": "more"}]),
        ],
    }


def _expected(lit: dict, records: list[tuple]) -> Counter:
    """The triples, computed in Python from the literals."""
    preds = [f"{lit['predicate']}#{i}" for i in range(5)]
    mapping, template = lit["mapping"], lit["template"]
    out = Counter()
    for rid, vals, more in records:
        subject = lit["prefix"] + rid
        vals = vals or []  # NULL and [] are both missing
        objs = [[lit["static"]], [], [], [], []]
        if vals:
            objs[1] = [lit["prepend"] + v + lit["append"] for v in vals]
            objs[2] = [mapping[v] for v in vals if v in mapping] or [lit["default"]]
            if len(re.findall(r"\{\}", template)) == 2:
                head, mid, tail = template.split("{}")
                objs[4] = [
                    head + v + mid + w + tail
                    for v in vals
                    for w in (more or [""])  # an empty add-field reads [""]
                    if v and w  # strict: an empty inserted value kills the line
                ]
        # a missing if_field passes "==" (the reference's quirk)
        if not vals or lit["if_value"] in vals:
            objs[3] = [lit["static"]]
        for pred, os_ in zip(preds, objs):
            out.update((subject, pred, o) for o in os_)
    return out


@st.composite
def cases(draw):
    lit = {
        "static": draw(text_st),
        "prepend": draw(text_st),
        "append": draw(text_st),
        "mapping": draw(st.dictionaries(text_st, text_st, max_size=3)),
        "default": draw(text_st),
        "if_value": draw(text_st),
        "template": draw(text_st) + "{}" + draw(text_st) + "{}" + draw(text_st),
        "predicate": draw(text_st),
        "prefix": draw(text_st),
    }
    assume(_num(lit["if_value"]) is None)
    value = st.one_of(
        text_st, st.sampled_from(sorted(lit["mapping"]) + [lit["if_value"], ""])
    )
    value_list = st.one_of(
        st.just([]), st.just([""]), st.none(), st.lists(value, min_size=1, max_size=3)
    )
    records = [(f"r{i}", draw(value_list), draw(value_list)) for i in range(3)]
    return lit, records


@given(cases())
@settings(max_examples=30, deadline=None)
def test_descriptor_literals_round_trip(spark, case):
    lit, records = case
    df = spark.createDataFrame(records, schema=SCHEMA)
    out = compile_descriptor(_descriptor(lit), df, subject_prefix=lit["prefix"])
    got = Counter((r["subject"], r["predicate"], r["object"]) for r in out.collect())
    assert got == _expected(lit, records)


# --- edge cases next to the literal round trip ---------------------------

def test_joined_match_failure_beats_default(spark):
    """A joined value that fails `match` yields no triple, even when the
    mapping's `$default` would give it an object (SpchtCore.py:794-896:
    match runs before mapping on each position)."""
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("colour", T.ArrayType(T.StringType())),
            T.StructField("code", T.ArrayType(T.StringType())),
        ]
    )
    df = spark.createDataFrame(
        [("r", ["Yellow", "Blue", "Red"], ["001", "002", "003"])], schema=schema
    )
    descriptor = {
        "id_source": "dict",
        "id_field": "id",
        "nodes": [{
            "source": "dict", "field": "colour", "predicate": "p",
            "required": "optional", "joined_field": "code",
            "joined_map": {"001": "one", "002": "two", "003": "three"},
            "match": "^[YB]", "mapping": {"Yellow": "gelb"},
            "mapping_settings": {"$default": "farbe"},
        }],
    }
    out = compile_descriptor(descriptor, df, subject_prefix="s:")
    got = sorted((r["predicate"], r["object"]) for r in out.collect())
    assert got == [("one", "gelb"), ("two", "farbe")]


def test_bare_datatype_tag_carries_no_datatype(spark):
    """A tag of just "^^" names no datatype: the column is NULL, as for
    an untagged node, so no sink writes an empty datatype IRI."""
    df = spark.createDataFrame([("r", ["v"], None)], schema=SCHEMA)
    node = {"source": "dict", "field": "vals", "required": "optional"}
    descriptor = {
        "id_source": "dict",
        "id_field": "id",
        "nodes": [dict(node, predicate="p0", tag="^^"),
                  dict(node, predicate="p1", tag="^^xsd:string"),
                  dict(node, predicate="p2", tag="@en")],
    }
    out = compile_descriptor(descriptor, df, subject_prefix="s:")
    got = sorted((r["predicate"], r["lang"], r["datatype"]) for r in out.collect())
    assert got == [("p0", None, None), ("p1", None, "xsd:string"), ("p2", "en", None)]
