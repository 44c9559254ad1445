"""Descriptor-compiler parity with the reference interpreter.

Every test mirrors a case from /root/reference/tests/test_spcht_internals.py
(golden expectations cited per test); the fixture row reproduces TEST_DATA
(:39-72) as a typed one-row DataFrame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spcht_spark.descriptor.compiler import (
    Ctx,
    _compile_if,
    compile_descriptor,
    compile_node,
)
from spcht_spark.descriptor.rdf import triples_to_ntriples

SCHEMA = T.StructType(
    [
        T.StructField("salmon", T.LongType()),
        T.StructField("perch", T.ArrayType(T.StringType())),
        T.StructField("trout", T.StringType()),
        T.StructField("bowfin", T.ArrayType(T.StringType())),
        T.StructField("tench", T.LongType()),
        T.StructField("sturgeon", T.ArrayType(T.LongType())),
        T.StructField("cutthroat", T.StringType()),
        T.StructField("lamprey", T.ArrayType(T.StringType())),
        T.StructField("catfish", T.ArrayType(T.StringType())),
        T.StructField("goldfish", T.ArrayType(T.StringType())),
        T.StructField("silverfish", T.ArrayType(T.StringType())),
        T.StructField("foulfish", T.ArrayType(T.StringType())),
        T.StructField("bronzefish", T.StringType()),
        T.StructField("copperfish", T.StringType()),
        T.StructField("enten", T.ArrayType(T.StringType())),
        T.StructField(
            "uboot", T.ArrayType(T.StructType([T.StructField("uran", T.StringType())]))
        ),
        T.StructField(
            "spaceship",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "ufo",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("earth", T.StringType()),
                                        T.StructField("mars", T.StringType()),
                                    ]
                                )
                            ),
                        )
                    ]
                )
            ),
        ),
        T.StructField(
            "layer1",
            T.StructType(
                [
                    T.StructField(
                        "layer2",
                        T.StructType(
                            [T.StructField("layer3", T.ArrayType(T.StringType()))]
                        ),
                    )
                ]
            ),
        ),
    ]
)

ROW = {
    "salmon": 5,
    "perch": ["12", "9"],
    "trout": "ice water danger xfire air fire hairs flair",
    "bowfin": ["air hair", "lair, air, fair", "stairs, fair and air"],
    "tench": 12,
    "sturgeon": [4, 9, 12],
    "cutthroat": "de",
    "lamprey": ["en", "de", "DE"],
    "catfish": ["air", "hair", "lair", "stairs", "fair", "tear"],
    "goldfish": ["001", "002", "003"],
    "silverfish": ["Yellow", "Blue", "Red"],
    "foulfish": ["Yellow", "Purple"],
    "bronzefish": "001",
    "copperfish": "Pink",
    "enten": ["ganz", "ente", "großente", "Elefant", "studenten"],
    "uboot": [{"uran": "u-235"}, {"uran": "u-238"}],
    "spaceship": [
        {"ufo": [{"earth": "round", "mars": None}, {"earth": None, "mars": "square"}]},
        {"ufo": [{"earth": "imperial", "mars": None}, {"earth": None, "mars": "mechanicum"}]},
    ],
    "layer1": {"layer2": {"layer3": ["one", "two", "True"]}},
}

JOINED_NODE = {
    "field": "copperfish",
    "predicate": "thousand",
    "joined_field": "bronzefish",
    "joined_map": {"001": "nullnullone", "002": "twonullnull", "003": "nullthreenull"},
    "source": "dict",
}


@pytest.fixture(scope="module")
def row_df(spark):
    return spark.createDataFrame([ROW], schema=SCHEMA).cache()


def run_node(row_df, node):
    ctx = Ctx.for_row(row_df.schema)
    arr = F.expr(compile_node(node, ctx))
    rows = row_df.select(arr.alias("t")).collect()[0]["t"]
    return [(r["p"], r["o"], r["u"], r["s"]) for r in rows]


def objs(row_df, node):
    return [o for _p, o, _u, _s in run_node(row_df, node)]


def run_if(row_df, node):
    ctx = Ctx.for_row(row_df.schema)
    return bool(row_df.select(F.expr(_compile_if(node, ctx)).alias("b")).collect()[0]["b"])


# --- match pre-filter (ref :101-137) -----------------------------------

def test_match_multi(row_df):
    node = {"field": "enten", "source": "dict", "predicate": "p", "match": "(ente)"}
    assert objs(row_df, node) == ["ente", "großente", "studenten"]


def test_match_no_hit_yields_nothing(row_df):
    node = {"field": "enten", "source": "dict", "predicate": "p", "match": "(uboot)"}
    assert objs(row_df, node) == []


# --- mapping (ref :139-203) --------------------------------------------

def test_mapping_normal_and_empty(row_df):
    node = {"field": "tench", "source": "dict", "predicate": "p", "mapping": {12: "dutzend"}}
    assert objs(row_df, node) == ["dutzend"]
    node["mapping"] = {}
    assert objs(row_df, node) == []


def test_mapping_multi(row_df):
    node = {
        "field": "sturgeon", "source": "dict", "predicate": "p",
        "mapping": {4: "quartet", 9: "lives", 12: "dutzend"},
    }
    assert objs(row_df, node) == ["quartet", "lives", "dutzend"]


def test_mapping_casesens(row_df):
    mapping = {"DE": "big de", "de": "small de", "De": "inbetween"}
    node = {"field": "cutthroat", "source": "dict", "predicate": "p", "mapping": mapping}
    assert objs(row_df, node) == ["small de"]
    node["mapping_settings"] = {"$casesens": False}
    # lowercasing keys: last writer wins → 'inbetween' (ref :172-177)
    assert objs(row_df, node) == ["inbetween"]


def test_mapping_regex(row_df):
    node = {
        "field": "catfish", "source": "dict", "predicate": "p",
        "mapping": {"^(water)": "air", "(air)$": "fire"},
        "mapping_settings": {"$regex": True},
    }
    assert objs(row_df, node) == ["fire", "fire", "fire", "fire"]
    node["mapping_settings"] = {"$regex": True, "$inherit": True}
    assert objs(row_df, node) == ["fire", "fire", "fire", "stairs", "fire", "tear"]
    node["mapping"] = {"^(water)": "air"}
    node["mapping_settings"] = {"$regex": True, "$default": "this_is_defaul t"}
    assert objs(row_df, node) == ["this_is_defaul t"]


# --- cut/replace/prepend/append (ref :205-271) -------------------------

def test_cut_replace_single(row_df):
    node = {"field": "trout", "source": "dict", "predicate": "p",
            "cut": "(air)\\b", "replace": "xXx"}
    assert objs(row_df, node) == ["ice water danger xfire xXx fire hairs flxXx"]


def test_cut_replace_multi(row_df):
    node = {"field": "bowfin", "source": "dict", "predicate": "p",
            "cut": "(air)\\b", "replace": "xXx"}
    assert objs(row_df, node) == [
        "xXx hxXx", "lxXx, xXx, fxXx", "stairs, fxXx and xXx"
    ]


def test_append_prepend(row_df):
    node = {"field": "copperfish", "source": "dict", "predicate": "p",
            "append": " :IC-1211", "prepend": "AS-400: "}
    assert objs(row_df, node) == ["AS-400: Pink :IC-1211"]


# --- insert_into (ref :273-361) ----------------------------------------

def test_insert_single_field(row_df):
    node = {"field": "salmon", "source": "dict", "insert_into": "#{}", "predicate": "p"}
    assert objs(row_df, node) == ["#5"]
    node["field"] = "sturgeon"
    assert objs(row_df, node) == ["#4", "#9", "#12"]


def test_insert_two_fields(row_df):
    node = {
        "field": "salmon", "source": "dict", "insert_into": "#{}~{}",
        "predicate": "p", "insert_add_fields": [{"field": "tench"}],
    }
    assert objs(row_df, node) == ["#5~12"]
    node["field"] = "sturgeon"
    assert objs(row_df, node) == ["#4~12", "#9~12", "#12~12"]
    node["insert_add_fields"] = [{"field": "foulfish"}]
    assert objs(row_df, node) == [
        "#4~Yellow", "#4~Purple", "#9~Yellow", "#9~Purple", "#12~Yellow", "#12~Purple"
    ]


def test_insert_add_field_transforms(row_df):
    node = {
        "field": "salmon", "source": "dict", "insert_into": "#{}~{}", "predicate": "p",
        "insert_add_fields": [{"field": "tench", "append": "**"}],
    }
    assert objs(row_df, node) == ["#5~12**"]
    node["insert_add_fields"] = [{"field": "tench", "prepend": "**"}]
    assert objs(row_df, node) == ["#5~**12"]
    node["insert_add_fields"] = [{"field": "catfish", "cut": "(air)\\b"}]
    assert objs(row_df, node) == ["#5~h", "#5~l", "#5~stairs", "#5~f", "#5~tear"]
    node["insert_add_fields"] = [{"field": "catfish", "cut": "(air)\\b", "replace": "fire"}]
    assert objs(row_df, node) == [
        "#5~fire", "#5~hfire", "#5~lfire", "#5~stairs", "#5~ffire", "#5~tear"
    ]
    node["insert_add_fields"] = [{"field": "catfish", "match": "(air)\\b"}]
    assert objs(row_df, node) == ["#5~air", "#5~hair", "#5~lair", "#5~fair"]


# --- if conditions (ref :364-441) --------------------------------------

IF_NODE = {"field": "frogfish", "source": "dict", "if_field": "salmon",
           "if_condition": ">", "if_value": 10}


def test_if_basic(row_df):
    node = dict(IF_NODE)
    assert run_if(row_df, node) is False
    node["if_value"] = 3
    assert run_if(row_df, node) is True
    node["if_value"], node["if_condition"] = 5, "eq"
    assert run_if(row_df, node) is True


def test_if_missing_field_infinite_negativity(row_df):
    node = dict(IF_NODE, if_field="flounder")
    assert run_if(row_df, node) is False  # '>' on missing → False
    node["if_condition"] = ">="
    assert run_if(row_df, node) is False
    node["if_condition"] = "!="
    assert run_if(row_df, node) is True
    node["if_condition"] = "<"
    assert run_if(row_df, node) is True


def test_if_missing_field_equal_is_true_upstream_quirk(row_df):
    # The reference's missing-field gate (SpchtCore.py:983) tests the
    # NORMALIZED condition against ("=", ">", ">="), but SPCHT_BOOL_OPS
    # maps "=" → "==" so "==" never matches and falls through to True.
    # Pinned deliberately: parity over plausibility.
    node = dict(IF_NODE, if_field="flounder", if_condition="==")
    assert run_if(row_df, node) is True
    node["if_condition"] = "eq"
    assert run_if(row_df, node) is True
    node["if_value"] = [5, "6"]  # list-== on missing field → also True
    assert run_if(row_df, node) is True


def test_if_exi(row_df):
    node = dict(IF_NODE, if_condition="exi")
    assert run_if(row_df, node) is True
    node["if_field"] = "hibutt"
    assert run_if(row_df, node) is False


def test_if_list_values(row_df):
    node = dict(IF_NODE, if_value=[5, "sechs", "5"])
    with pytest.raises(TypeError):
        run_if(row_df, node)
    node["if_condition"] = "eq"
    assert run_if(row_df, node) is True
    node["if_value"] = ["7", "sechs", 12]
    assert run_if(row_df, node) is False


def test_if_multi_value_field(row_df):
    node = dict(IF_NODE, if_field="perch")  # ["12", "9"] > 10
    assert run_if(row_df, node) is True
    node["if_value"] = "13"
    assert run_if(row_df, node) is False
    node["if_value"] = "7"
    assert run_if(row_df, node) is True


# --- joined_map, 3 modes (ref :443-473) --------------------------------

def test_joined_map_parallel(row_df):
    node = dict(JOINED_NODE, field="silverfish", joined_field="goldfish")
    assert run_node(row_df, node) == [
        ("nullnullone", "Yellow", False, None),
        ("twonullnull", "Blue", False, None),
        ("nullthreenull", "Red", False, None),
    ]


def test_joined_map_single(row_df):
    node = dict(JOINED_NODE)  # copperfish × bronzefish, 1:1
    assert run_node(row_df, node) == [("nullnullone", "Pink", False, None)]


def test_joined_map_broadcast(row_df):
    node = dict(JOINED_NODE, field="silverfish", joined_field="bronzefish")
    assert run_node(row_df, node) == [
        ("nullnullone", "Yellow", False, None),
        ("nullnullone", "Blue", False, None),
        ("nullnullone", "Red", False, None),
    ]


def test_joined_map_length_mismatch(row_df):
    node = dict(JOINED_NODE, field="silverfish", joined_field="foulfish")  # 3 vs 2
    assert run_node(row_df, node) == []


# --- static / uuid (ref :475-506) --------------------------------------

def test_static_field(row_df):
    node = {"field": "salmon", "source": "dict", "predicate": "p",
            "static_field": "static_text"}
    assert objs(row_df, node) == ["static_text"]
    node["field"] = "whargabl"  # static wins even when field missing
    assert objs(row_df, node) == ["static_text"]


def test_static_field_without_field_key(row_df):
    # validate_descriptor accepts 'field' OR 'static_field'; the compiler
    # must agree (static_field replaces extraction, SpchtCore.py:546-547).
    node = {"static_field": "solo", "source": "dict", "predicate": "p"}
    assert objs(row_df, node) == ["solo"]


def test_sub_nodes_subject_after_insert_into(row_df):
    # The reference hands _handle_sub_node the main_value AFTER
    # insert_into/append_uuid (SpchtCore.py:578-600): the child subject
    # is the templated value, not the pre-template one.
    node = {
        "field": "salmon", "source": "dict", "predicate": "p", "type": "uri",
        "insert_into": "https://x/{}",
        "sub_nodes": [
            {"field": "copperfish", "source": "dict", "predicate": "c"},
        ],
    }
    rows = run_node(row_df, node)
    assert ("c", "Pink", False, "https://x/5") in rows
    assert ("p", "https://x/5", True, None) in rows


def test_append_uuid_golden(row_df):
    node = {
        "field": "salmon", "source": "dict", "predicate": "p",
        "static_field": "https://test.whargable/",
        "append_uuid_object_fields": ["salmon", "perch", "trout"],
    }
    assert objs(row_df, node) == [
        "https://test.whargable/fbe44eac-4162-5ee5-bf36-88ea7914eb6d"
    ]


def test_append_uuid_predicate_fields(row_df):
    # SpchtSchema.json:193: same uuid5 construction as object fields,
    # appended to the PREDICATE; all named fields must exist.
    node = {
        "field": "salmon", "source": "dict", "predicate": "p/",
        "static_field": "obj",
        "append_uuid_predicate_fields": ["salmon", "perch", "trout"],
    }
    rows = run_node(row_df, node)
    assert rows == [("p/fbe44eac-4162-5ee5-bf36-88ea7914eb6d", "obj", False, None)]
    node["append_uuid_predicate_fields"] = ["salmon", "missing_f"]
    assert run_node(row_df, node) == []


def test_append_uuid_missing_field_kills_node(row_df):
    node = {
        "field": "salmon", "source": "dict", "predicate": "p",
        "static_field": "x/", "append_uuid_object_fields": ["salmon", "missing_f"],
    }
    assert objs(row_df, node) == []


def test_uuid_hashes_once(row_df):
    """Each uuid renders one sha1 (its hex digest bound once), not one
    per substring piece — and still yields the golden uuid."""
    node = {
        "field": "salmon", "source": "dict", "predicate": "p/",
        "static_field": "https://test.whargable/",
        "append_uuid_object_fields": ["salmon", "perch", "trout"],
    }
    ctx = Ctx.for_row(row_df.schema)
    assert compile_node(node, ctx).count("sha1(") == 1
    node["append_uuid_predicate_fields"] = ["salmon", "perch", "trout"]
    assert compile_node(node, ctx).count("sha1(") == 2
    uuid = "fbe44eac-4162-5ee5-bf36-88ea7914eb6d"
    assert run_node(row_df, node) == [
        (f"p/{uuid}", f"https://test.whargable/{uuid}", False, None)
    ]


# --- sub_nodes (ref :508-540) ------------------------------------------

def test_sub_nodes(row_df):
    node = {
        "field": "salmon", "prepend": "https://test.whargable/res/", "source": "dict",
        "predicate": "whargable:subres", "type": "uri",
        "sub_nodes": [
            {"field": "perch", "source": "dict", "type": "uri", "predicate": "whargable:fish"},
            {"field": "foulfish", "source": "dict", "type": "uri", "predicate": "whargable:canine"},
        ],
    }
    assert run_node(row_df, node) == [
        ("whargable:fish", "12", True, "https://test.whargable/res/5"),
        ("whargable:fish", "9", True, "https://test.whargable/res/5"),
        ("whargable:canine", "Yellow", True, "https://test.whargable/res/5"),
        ("whargable:canine", "Purple", True, "https://test.whargable/res/5"),
        ("whargable:subres", "https://test.whargable/res/5", True, None),
    ]


# --- tree source (ref :543-552) ----------------------------------------

def test_tree_extract(row_df):
    node = {"source": "tree", "field": "layer1 >layer2> layer3", "predicate": "p"}
    assert objs(row_df, node) == ["one", "two", "True"]


# --- sub_data (ref :554-610) -------------------------------------------

def test_sub_data(row_df):
    node = {
        "field": "uboot", "source": "dict", "predicate": "whargable:ship",
        "sub_data": [
            {"field": "uran", "source": "dict", "predicate": "whargable:element"}
        ],
    }
    assert run_node(row_df, node) == [
        ("whargable:element", "u-235", False, None),
        ("whargable:element", "u-238", False, None),
    ]


def test_nested_sub_data(row_df):
    node = {
        "field": "spaceship", "source": "dict", "predicate": "whargable:ftl",
        "sub_data": [
            {
                "field": "ufo", "source": "dict", "predicate": "whargable:ufo",
                "sub_data": [
                    {"field": "earth", "source": "dict", "predicate": "whargable:shape"},
                    {"field": "mars", "source": "dict", "predicate": "whargable:shape"},
                ],
            }
        ],
    }
    assert run_node(row_df, node) == [
        ("whargable:shape", "round", False, None),
        ("whargable:shape", "square", False, None),
        ("whargable:shape", "imperial", False, None),
        ("whargable:shape", "mechanicum", False, None),
    ]


# --- fallback / alternatives / descriptor-level ------------------------

def test_fallback_chain(row_df):
    node = {
        "field": "missing_a", "source": "dict", "predicate": "p1",
        "fallback": {"field": "missing_b", "source": "dict",
                     "fallback": {"field": "salmon", "source": "dict"}},
    }
    # fallback inherits predicate (SpchtCore.py:608-610)
    assert run_node(row_df, node) == [("p1", "5", False, None)]


def test_fallback_own_predicate(row_df):
    node = {
        "field": "missing_a", "source": "dict", "predicate": "p1",
        "fallback": {"field": "salmon", "source": "dict", "predicate": "p2"},
    }
    assert run_node(row_df, node) == [("p2", "5", False, None)]


def test_alternatives(row_df):
    node = {"field": "missing_a", "source": "dict", "predicate": "p",
            "alternatives": ["missing_b", "perch"]}
    assert objs(row_df, node) == ["12", "9"]


def test_compile_descriptor_end_to_end(spark, row_df):
    desc = {
        "id_source": "dict", "id_field": "copperfish",
        "nodes": [
            {"field": "perch", "source": "dict", "predicate": "has:perch",
             "required": "optional"},
            {"field": "cutthroat", "source": "dict", "predicate": "has:lang",
             "required": "optional", "tag": "@en"},
        ],
    }
    out = compile_descriptor(desc, row_df, subject_prefix="https://t/").collect()
    assert [(r["subject"], r["predicate"], r["object"], r["lang"]) for r in out] == [
        ("https://t/Pink", "has:perch", "12", None),
        ("https://t/Pink", "has:perch", "9", None),
        ("https://t/Pink", "has:lang", "de", "en"),
    ]
    nt = triples_to_ntriples(
        compile_descriptor(desc, row_df, subject_prefix="https://t/")
    ).collect()
    assert nt[2]["line"] == '<https://t/Pink> <has:lang> "de"@en .'


def test_mandatory_drops_record(spark, row_df):
    desc = {
        "id_source": "dict", "id_field": "copperfish",
        "nodes": [
            {"field": "missing_f", "source": "dict", "predicate": "p",
             "required": "mandatory"},
        ],
    }
    assert compile_descriptor(desc, row_df).count() == 0
