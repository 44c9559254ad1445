"""saveas side-channel (P8), projection-pushdown field analysis (P2),
descriptor validation, the compiler's per-descriptor driver cost, and
conjunctive BM25 mode."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import types as T

from spcht_spark.corpus import REFERENCE_QUERIES
from spcht_spark.descriptor.compiler import (
    descriptor_fields,
    saveas_table,
    validate_descriptor,
)
from spcht_spark.index.query import exact_topk
from spcht_spark.oracle import Bm25Oracle

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from descriptor_probe import (  # noqa: E402
    RECORDS,
    SCHEMA,
    compile_ntriples,
    driver_calls,
    featureset_descriptor,
)

DESC = {
    "id_source": "dict",
    "id_field": "id",
    "nodes": [
        {"source": "dict", "field": "title", "predicate": "p1",
         "alternatives": ["title_short"], "required": "optional",
         "fallback": {"source": "dict", "field": "backup"}},
        {"source": "dict", "field": "author2", "predicate": "p2",
         "joined_field": "author2_role", "required": "optional",
         "if_field": "publishDateSort", "if_condition": ">=", "if_value": 2000},
        {"source": "dict", "field": "topic", "predicate": "p3",
         "required": "optional",
         "insert_into": "{}{}", "insert_add_fields": [{"field": "institution"}],
         "append_uuid_object_fields": ["id", "topic"]},
        {"source": "tree", "field": "a>b>c", "predicate": "p4",
         "required": "optional"},
        {"source": "marc", "field": "951:a", "predicate": "p5",
         "required": "optional"},
    ],
}


def test_descriptor_fields():
    # P2 parity: exactly the fields the reference would request via `fl`
    assert descriptor_fields(DESC) == [
        "a", "author2", "author2_role", "backup", "id", "institution",
        "publishDateSort", "title", "title_short", "topic",
    ]


def test_validate_descriptor_ok():
    assert validate_descriptor(DESC) == []


def test_validate_descriptor_problems():
    bad = {
        "id_source": "dict",
        "nodes": [
            {"source": "solr", "predicate": "p"},
            {"source": "dict", "field": "x", "predicate": "p",
             "match": "([unclosed", "if_field": "y", "if_condition": "wat"},
        ],
    }
    problems = validate_descriptor(bad)
    joined = "\n".join(problems)
    assert "missing header key 'id_field'" in joined
    assert "unknown source 'solr'" in joined
    assert "missing 'field'" in joined
    assert "bad regex" in joined
    assert "unknown if_condition" in joined
    assert "if_condition without if_value" in joined


def test_saveas_table(spark):
    desc = {
        "id_source": "dict", "id_field": "id",
        "nodes": [
            {"source": "dict", "field": "title", "predicate": "p",
             "required": "optional", "saveas": "years",
             "if_field": "dates", "if_condition": "!=", "if_value": "never",
             "if_cut": "-.*$", "if_replace": ""},
        ],
    }
    df = spark.createDataFrame(
        [("r1", "T", ["1901-1980", "2001-"]), ("r2", "U", ["1999-2001"])],
        ["id", "title", "dates"],
    )
    got = sorted(
        (r["key"], r["value"]) for r in saveas_table(desc, df).collect()
    )
    # post-if_cut values, no prepend/append (SpchtCore.py:709-718)
    assert got == [("years", "1901"), ("years", "1999"), ("years", "2001")]
    deduped = saveas_table(desc, df, dedup=True).count()
    assert deduped == 3  # all distinct here


def test_saveas_reachability_gates(spark):
    """Capture only where the reference's _handle_if actually runs its
    prefixed postprocessing: not for 'exi' (returns at :977-982 before
    it), not when the main field is empty or match-filtered empty
    (EXIT 1-3 precede _handle_if, :545-568), not when if_field itself is
    empty (:983-991), and for fallback nodes only when the parent
    failed."""
    df = spark.createDataFrame(
        [("r1", "T", ["1999"], None)],
        T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("dates", T.ArrayType(T.StringType())),
            T.StructField("ghost", T.StringType()),
        ]),
    )

    def keys(desc):
        return sorted(r["key"] for r in saveas_table(desc, df).collect())

    base = {"source": "dict", "predicate": "p", "required": "optional",
            "if_field": "dates", "if_condition": "!=", "if_value": "x",
            "saveas": "k"}
    # exi never captures
    assert keys({"id_source": "dict", "id_field": "id", "nodes": [
        dict(base, field="title", if_condition="exi")]}) == []
    # empty main field → _handle_if never reached
    assert keys({"id_source": "dict", "id_field": "id", "nodes": [
        dict(base, field="ghost")]}) == []
    # match-filtered-to-empty main field → EXIT 3 before _handle_if
    assert keys({"id_source": "dict", "id_field": "id", "nodes": [
        dict(base, field="title", match="ZZZ")]}) == []
    # empty if_field → _handle_if returns before postprocessing
    assert keys({"id_source": "dict", "id_field": "id", "nodes": [
        dict(base, field="title", if_field="ghost")]}) == []
    # healthy node captures
    assert keys({"id_source": "dict", "id_field": "id", "nodes": [
        dict(base, field="title")]}) == ["k"]
    # fallback captures only when the parent failed
    parent_ok = {"source": "dict", "field": "title", "predicate": "p",
                 "required": "optional",
                 "fallback": dict(base, field="title", saveas="fb")}
    assert keys({"id_source": "dict", "id_field": "id",
                 "nodes": [parent_ok]}) == []
    parent_fail = dict(parent_ok, field="ghost")
    assert keys({"id_source": "dict", "id_field": "id",
                 "nodes": [parent_fail]}) == ["fb"]


def test_conjunctive_bm25(spark, small_index, small_corpus_pd):
    oracle = Bm25Oracle(small_corpus_pd)
    queries = [
        ("qa1", ["return", "node42"], 10),
        ("qa2", ["{", "}"], 10),
        ("qa3", ["def", "self", "node7", "parse_3"], 100),
        ("qa4", ["return", "zzz_absent"], 10),  # absent term → empty
    ]
    res = exact_topk(
        spark, small_index.blocks, small_index.doclens, small_index.dictionary,
        small_index.stats, queries, mode="and",
    ).toPandas()
    got = {
        qid: [(int(r.doc_id), float(r.score)) for r in g.sort_values("rank").itertuples()]
        for qid, g in res.groupby("query_id")
    }
    for qid, terms, k in queries:
        want = oracle.query(terms, k, mode="and")
        have = got.get(qid, [])
        assert [d for d, _ in have] == [d for d, _ in want], f"{qid}"
        for (d, s1), (_, s2) in zip(have, want):
            assert s1 == pytest.approx(s2, abs=1e-9)
    assert "qa4" not in got
    # AND results ⊂ OR results' doc set restricted to all-match docs
    or_res = exact_topk(
        spark, small_index.blocks, small_index.doclens, small_index.dictionary,
        small_index.stats, [("qa1", ["return", "node42"], 10_000)], mode="or",
    ).count()
    assert or_res >= len(got.get("qa1", []))


def test_descriptor_driver_cost_is_flat(spark):
    """Compiling a descriptor costs a fixed number of py4j round-trips,
    whatever its node count: every node is rendered as SQL text, parsed
    once by Spark. The featureset descriptor at 9 and at 54 nodes
    (compile, N-Triples, plan analysis) — at most 2× apart, and below a
    tenth of what the per-node Column builders cost at 54 nodes
    (31,382 calls)."""
    df = spark.createDataFrame(RECORDS, schema=SCHEMA)
    counts = {}
    for copies in (1, 6):
        with driver_calls(spark) as calls:
            compile_ntriples(featureset_descriptor(copies), df)
        counts[copies] = calls[0]
    assert counts[6] <= 2 * counts[1], counts
    assert counts[6] < 3_138, counts
