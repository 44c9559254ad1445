"""Spcht descriptor → SQL-expression compiler.

Semantics ported 1:1 from the reference's per-record interpreter
(file:line cites inline); execution is columnar: every node renders to
ONE Spark SQL expression of type
``array<struct<s,p,o,u,lang,datatype>>`` over the record schema; all
node arrays of a record are concatenated and exploded in ONE pass over
the scan (no per-node re-scan, no per-row Python — the uuid5 is a pure
expression, and the MARC parse, when a node reads MARC, is the only
Python stage). The driver cost is a fixed number of DataFrame calls per
descriptor, whatever its node count: the text is parsed by Spark once.

Pipeline order per node — _recursion_node, SpchtCore.py:498-600:
extract → static_field → alternatives → match → if → cut/replace/
prepend/append → mapping → insert_into → append_uuid → tag/type →
sub_nodes → iron.  Fallback triggers exactly at the reference's five
exits (extract empty / match empty / if false / mapping empty).

Falsiness parity: the reference's ``if final_value:`` treats scalar 0 /
"" as missing (extract_dictmarc_value, SpchtCore.py:1218-1229) — lists
keep falsy *elements* but an empty list is missing.

Every descriptor literal enters the text through ``index.query``'s
``sql_str``/``sql_map``/``sql_double``/``sql_ident``, so it evaluates to
exactly the descriptor's value.
"""

from __future__ import annotations

import itertools
import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from spcht_spark.index.query import sql_double, sql_ident, sql_map, sql_str

TRIPLE_ELEM = (
    "struct<s:string,p:string,o:string,u:boolean,lang:string,datatype:string>"
)
_EMPTY_TRIPLES = f"CAST(array() AS array<{TRIPLE_ELEM}>)"
_EMPTY_STR_ARR = "CAST(array() AS array<string>)"
_NULL_STR = "CAST(NULL AS STRING)"

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StringType(), True),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("object", T.StringType(), False),
        T.StructField("object_is_uri", T.BooleanType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("datatype", T.StringType(), True),
    ]
)

# SPCHT_BOOL_OPS parity (SpchtConstants.py:25-28)
_BOOL_OPS = {
    "equal": "==", "eq": "==", "greater": ">", "gr": ">", "lesser": "<",
    "ls": "<", "greater_equal": ">=", "gq": ">=", "lesser_equal": "<=",
    "lq": "<=", "unequal": "!=", "uq": "!=", "=": "==", "==": "==",
    "<": "<", ">": ">", "<=": "<=", ">=": ">=", "!=": "!=", "exi": "exi",
}

# Lambda variables: a lambda variable shadows any column (and any outer
# lambda variable) of the same name, case-insensitively, so every lambda
# gets a fresh name that a nested body cannot capture.
_VAR_IDS = itertools.count()


def _var() -> str:
    return f"_v{next(_VAR_IDS)}"


def _lit(v) -> str:
    """String literal, or a typed NULL for ``None``."""
    return _NULL_STR if v is None else sql_str(str(v))


def _case(cond: str, then: str, other: str) -> str:
    return f"CASE WHEN {cond} THEN {then} ELSE {other} END"


# NAMESPACE_URL bytes (RFC 4122): 6ba7b811-9dad-11d1-80b4-00c04fd430c8
_NS_URL_HEX = "6ba7b8119dad11d180b400c04fd430c8"


def _uuid5_expr(name: str) -> str:
    """RFC-4122 v5 uuid as a PURE expression (uuid_generator parity,
    SpchtCore.py:1136-1145): sha1(namespace ‖ name) with the version
    nibble forced to 5 and the variant nibble to 10xx. Staying
    expression-side lets it nest inside higher-order lambdas and keeps
    the whole descriptor pipeline JVM-only. The hex digest is bound
    once, as the variable of a one-element ``transform``, so sha1 and
    the name expression run once per uuid, not once per piece."""
    sha = f"sha1(concat(to_binary('{_NS_URL_HEX}', 'hex'), encode({name}, 'UTF-8')))"
    h = _var()
    variant = (
        f"element_at(array('8', '9', 'a', 'b'), "
        f"(CAST(conv(substring({h}, 17, 1), 16, 10) AS INT) % 4) + 1)"
    )
    return (
        f"element_at(transform(array({sha}), {h} -> concat_ws('-', "
        f"substring({h}, 1, 8), substring({h}, 9, 4), "
        f"concat('5', substring({h}, 14, 3)), concat({variant}, substring({h}, 18, 3)), "
        f"substring({h}, 21, 12))), 1)"
    )


# --------------------------------------------------------------- loading

def load_descriptor(path: str) -> dict:
    """Load + "compile" a descriptor: $ref mapping files inlined
    (_load_ref_node, SpchtCore.py:428-496), inline keys win."""
    with open(path) as fh:
        desc = json.load(fh)
    base = os.path.dirname(os.path.abspath(path))
    desc["nodes"] = [_resolve_refs(n, base) for n in desc.get("nodes", [])]
    if "id_fallback" in desc:
        desc["id_fallback"] = _resolve_refs(desc["id_fallback"], base)
    return desc


def _resolve_refs(node: dict, base: str) -> dict:
    node = dict(node)
    if "fallback" in node and node["fallback"]:
        node["fallback"] = _resolve_refs(node["fallback"], base)
    ms = node.get("mapping_settings")
    if isinstance(ms, dict) and ms.get("$ref"):
        with open(os.path.normpath(os.path.join(base, ms["$ref"]))) as fh:
            ref_map = json.load(fh)
        mapping = dict(node.get("mapping", {}))
        for k, v in ref_map.items():
            mapping.setdefault(k, v)  # inline keys win (SpchtCore.py:469-471)
        node["mapping"] = mapping
        ms = {k: v for k, v in ms.items() if k != "$ref"}
        node["mapping_settings"] = ms
        if not ms:
            del node["mapping_settings"]
    if "joined_map_ref" in node:
        with open(os.path.normpath(os.path.join(base, node["joined_map_ref"]))) as fh:
            ref_map = json.load(fh)
        jm = dict(node.get("joined_map", {}))
        for k, v in ref_map.items():
            jm.setdefault(k, v)
        node["joined_map"] = jm
        del node["joined_map_ref"]
    for key in ("sub_nodes", "sub_data"):
        if key in node and node[key]:
            node[key] = [_resolve_refs(c, base) for c in node[key]]
    return node


# ------------------------------------------------------------ extraction

class Ctx:
    """Field access abstraction: row columns (main record) or struct
    elements (sub_data recursion), each rendered as SQL text. Missing
    fields are a compile-time fact (schema known) → empty array,
    mirroring SpchtCore.py:1171-1174."""

    def __init__(self, fields: dict[str, T.DataType], get, marc: str | None = None):
        self.fields = fields
        self.get = get  # name -> SQL text
        self.marc = marc  # parsed MARC array (sources.marc) as SQL text, optional

    @classmethod
    def for_row(cls, schema: T.StructType, marc: str | None = None) -> "Ctx":
        return cls({f.name: f.dataType for f in schema.fields}, sql_ident, marc)

    @classmethod
    def for_struct(cls, stype: T.StructType, var: str) -> "Ctx":
        """Fields of the struct bound to lambda variable ``var``."""
        return cls(
            {f.name: f.dataType for f in stype.fields},
            lambda n: f"{var}.{sql_ident(n)}",
        )

    def _resolve(self, source: str, field: str):
        """→ (SQL text, DataType) or None if statically absent."""
        if source == "tree":
            keys = [k.strip() for k in field.split(">")]
            dt: Any = T.StructType(
                [T.StructField(n, t) for n, t in self.fields.items()]
            )
            col = None
            for k in keys:
                if not isinstance(dt, T.StructType) or k not in dt.fieldNames():
                    return None
                col = self.get(k) if col is None else f"{col}.{sql_ident(k)}"
                dt = dt[k].dataType
            return col, dt
        # source == "dict" (marc handled separately by the marc module)
        if field not in self.fields:
            return None
        return self.get(field), self.fields[field]

    def raw(self, source: str, field: str) -> str:
        """Normalized value list: array<string>, empty = missing.
        Scalar falsiness (0/""/null → missing) per SpchtCore.py:1218."""
        if source == "marc":
            if self.marc is None:
                return _EMPTY_STR_ARR
            from spcht_spark.sources.marc import marc_values

            return f"coalesce({marc_values(self.marc, field)}, {_EMPTY_STR_ARR})"
        hit = self._resolve(source, field)
        if hit is None:
            return _EMPTY_STR_ARR
        return _leaf_to_str_arr(*hit)

    def raw_struct_arr(self, source: str, field: str):
        """array<struct> for sub_data, or None if absent/not array-of-struct."""
        hit = self._resolve(source, field)
        if hit is None:
            return None
        col, dt = hit
        if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
            return col, dt.elementType
        return None


def _leaf_to_str_arr(col: str, dt: T.DataType) -> str:
    if isinstance(dt, T.ArrayType):
        inner = dt.elementType
        if isinstance(inner, (T.StructType, T.MapType, T.ArrayType)):
            return _EMPTY_STR_ARR  # nested non-scalar: not a value list
        v = _var()
        if isinstance(inner, T.BooleanType):
            each = _case(v, "'True'", "'False'")
        else:
            each = f"CAST({v} AS STRING)"
        return f"coalesce(transform({col}, {v} -> {each}), {_EMPTY_STR_ARR})"
    if isinstance(dt, (T.StructType, T.MapType)):
        return _EMPTY_STR_ARR
    if isinstance(dt, T.BooleanType):
        # Python str(True) == "True"; False is falsy → missing
        return _case(f"{col} IS NULL OR NOT {col}", _EMPTY_STR_ARR, "array('True')")
    if isinstance(dt, T.NumericType):
        missing, value = f"{col} IS NULL OR {col} = 0", f"CAST({col} AS STRING)"
    elif isinstance(dt, T.StringType):
        missing, value = f"{col} IS NULL OR {col} = ''", col
    else:
        missing, value = f"{col} IS NULL", f"CAST({col} AS STRING)"
    return _case(missing, _EMPTY_STR_ARR, f"array({value})")


# ------------------------------------------------------ pipeline pieces

def _apply_match(arr: str, pattern: str | None) -> str:
    """P5 `match` (re.search semantics = unanchored rlike), SpchtCore.py:645-683."""
    if pattern is None:
        return arr
    v = _var()
    return f"filter({arr}, {v} -> {v} RLIKE {sql_str(pattern)})"


def _post_one(x: str, node: dict, prefix: str = "") -> str:
    """P6/P7 cut/replace + prepend/append on one element (SpchtCore.py:685-721)."""
    cut = node.get(f"{prefix}cut")
    rep = node.get(f"{prefix}replace", "")
    pre = node.get(f"{prefix}prepend", "")
    app = node.get(f"{prefix}append", "")
    y = f"regexp_replace({x}, {sql_str(cut)}, {sql_str(rep)})" if cut else x
    if pre or app:
        y = f"concat({sql_str(pre)}, {y}, {sql_str(app)})"
    return y


def _apply_post(arr: str, node: dict, prefix: str = "") -> str:
    if any(f"{prefix}{k}" in node for k in ("cut", "prepend", "append")):
        v = _var()
        return f"transform({arr}, {v} -> {_post_one(v, node, prefix)})"
    return arr


def _map_one(x: str, mapping: dict, settings: dict) -> str:
    """Mapped value for one element or NULL if unmatched (pre-inherit)."""
    if not mapping:
        return _NULL_STR
    if settings.get("$regex", False):
        # first pattern wins in insertion order (SpchtCore.py:765-776)
        arms = " ".join(
            f"WHEN {x} RLIKE {sql_str(k)} THEN {sql_str(v)}" for k, v in mapping.items()
        )
        return f"CASE {arms} ELSE {_NULL_STR} END"
    casesens = settings.get("$casesens", True)
    items = {(str(k) if casesens else str(k).lower()): str(v) for k, v in mapping.items()}
    key = x if casesens else f"lower({x})"
    return f"element_at({sql_map(items.items(), sql_str)}, {key})"


def _apply_mapping(arr: str, mapping: dict | None, settings: dict | None) -> str:
    """P10 `mapping` with $default/$inherit/$casesens/$regex
    (SpchtCore.py:723-792). $default fires only when NOTHING matched."""
    if not isinstance(mapping, dict):
        return arr
    settings = settings or {}
    v, w = _var(), _var()
    one = _map_one(v, mapping, settings)
    if settings.get("$inherit", False):
        one = f"coalesce({one}, {v})"
    result = f"filter(transform({arr}, {v} -> {one}), {w} -> {w} IS NOT NULL)"
    if "$default" in settings:
        result = _case(
            f"size({result}) = 0", f"array({sql_str(settings['$default'])})", result
        )
    return result


def _num(v):
    try:
        return int(v)
    except (TypeError, ValueError):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None


def _compile_if(node: dict, ctx: Ctx) -> str:
    """P12 `if_` gate (_handle_if, SpchtCore.py:941-1056), incl. the
    infinite-negativity rule for missing fields (:981-987). A value
    that reads as a number compares numerically: the element is
    ``try_cast`` to DOUBLE (NULL → no match)."""
    cond = _BOOL_OPS.get(node["if_condition"])
    if cond is None:
        return "false"  # "if your comparator is false nothing can be true"
    raw = ctx.raw(node.get("source", "dict"), node["if_field"])
    raw_empty = f"size({raw}) = 0"
    if cond == "exi":
        return f"NOT ({raw_empty})"

    arr = _apply_post(_apply_match(raw, node.get("if_match")), node, "if_")
    if_value = node["if_value"]
    x = _var()

    def cmp(v, op: str) -> str:
        n = _num(v)
        if n is None:
            return f"{x} {op} {sql_str(str(v))}"
        return f"try_cast({x} AS DOUBLE) {op} {sql_double(float(n))}"

    def exists(pred: str) -> str:
        return f"coalesce(exists({arr}, {x} -> {pred}), false)"

    if isinstance(if_value, list):
        # == any-of / != none-of (SpchtCore.py:998-1019); ordering ops raise
        if cond not in ("==", "!="):
            raise TypeError("Cannot do greater/lesser than with a list of Values")
        any_eq = " OR ".join(f"({cmp(v, '=')})" for v in if_value) or "false"
        hit = exists(f"coalesce({any_eq}, false)")
        # Missing if_field → True, mirroring the upstream quirk: the
        # reference's missing-field gate tests the NORMALIZED condition
        # against ("=", ">", ">=") (SpchtCore.py:983), but
        # SPCHT_BOOL_OPS normalizes "=" to "==" (SpchtConstants.py:25),
        # so "==" never matches the tuple and falls into the
        # return-True branch. Pinned in test_descriptor_parity.
        return _case(raw_empty, "true", hit if cond == "==" else f"NOT {hit}")

    if cond in (">", "<", ">=", "<="):
        if _num(if_value) is None:
            raise TypeError("Cannot compared with non-numbers")
        hit = exists(f"coalesce({cmp(if_value, cond)}, false)")
        # missing field: < and <= are vacuously true (infinite negativity)
        return _case(raw_empty, str(cond in ("<", "<=")).lower(), hit)
    if cond == "==":
        # Missing field → True (upstream quirk, see the list branch above).
        return _case(raw_empty, "true", exists(f"coalesce({cmp(if_value, '=')}, false)"))
    # "!=": any element unequal → True; empty field → True; all equal → False
    return _case(raw_empty, "true", exists(f"coalesce({cmp(if_value, '!=')}, true)"))


def _apply_insert_into(arr: str, node: dict, ctx: Ctx) -> str:
    """P9 `insert_into` (+insert_add_fields): cartesian of value lists ×
    `{}` placeholders, strict (SpchtCore.py:898-939; all_variants
    SpchtUtility.py:96-106; insert_list_into_str SpchtUtility.py:125-165)."""
    template = node["insert_into"]
    n_slots = len(re.findall(r"\{\}", template))
    add_fields = node.get("insert_add_fields", [])
    if 1 + len(add_fields) != n_slots:
        # strict mode: every combination returns None → empty result
        return _EMPTY_STR_ARR

    add_arrs = []
    for spec in add_fields:
        sub = ctx.raw(spec.get("source", node.get("source", "dict")), spec["field"])
        sub = _apply_post(_apply_match(sub, spec.get("match")), spec)
        # empty add-field → [""] (SpchtCore.py:931-933)
        add_arrs.append(_case(f"size({sub}) = 0", "array('')", sub))

    fmt = sql_str(template.replace("%", "%%").replace("{}", "%s"))

    def build(vals: list[str], remaining: list[str]) -> str:
        if not remaining:
            # strict: an empty inserted string kills the combination
            dead = " OR ".join(f"length({v}) = 0" for v in vals)
            line = f"format_string({fmt}, {', '.join(vals)})"
            return _case(dead, _EMPTY_STR_ARR, f"array({line})")
        v = _var()
        return f"flatten(transform({remaining[0]}, {v} -> {build(vals + [v], remaining[1:])}))"

    return build([], [arr] + add_arrs)


def _uuid_name_expr(
    node: dict, ctx: Ctx, key: str = "append_uuid_object_fields"
) -> tuple[str, str]:
    """(name string, all-fields-present bool) for append_uuid_*_fields.
    Reproduces str(list-of-SpchtThird) concatenation (SpchtCore.py:1136-1145,
    repr at :1403-1412) — golden vector fbe44eac-… (tests/test_spcht_internals.py:492)."""
    parts, oks = [], []
    for fieldname in node[key]:
        raw = ctx.raw(node.get("source", "dict"), fieldname)
        oks.append(f"size({raw}) > 0")
        v = _var()
        third = f"concat('SpchtThird(\"', {v}, '\",uri=False,language=None,annotation=None)')"
        parts.append(f"concat('[', array_join(transform({raw}, {v} -> {third}), ', '), ']')")
    return f"concat({', '.join(parts)})", " AND ".join(oks) or "true"


def _parse_tag(tag: str | None) -> tuple[str | None, str | None]:
    """(lang, datatype) from "@lang" / "^^dtype" (SpchtThird.import_tag,
    SpchtCore.py:1439-1444)."""
    if not tag or len(tag) <= 1:
        return None, None
    if tag.startswith("@"):
        return tag[1:], None
    if tag.startswith("^^"):
        return None, tag[2:] or None  # a bare "^^" carries no datatype
    return None, None


# ------------------------------------------------------- node compiler

def _mk_triples(objs: str, predicate: str, node: dict, subject: str = _NULL_STR) -> str:
    """One triple per object; the node's type and tag are literals."""
    lang, dtype = _parse_tag(node.get("tag"))
    is_uri = str(node.get("type", "")).lower() == "uri"
    o = _var()
    return (
        f"transform({objs}, {o} -> named_struct('s', {subject}, 'p', {predicate}, "
        f"'o', {o}, 'u', {str(is_uri).lower()}, 'lang', {_lit(lang)}, "
        f"'datatype', {_lit(dtype)}))"
    )


def _alts_raw(node: dict, ctx: Ctx) -> str:
    """Main-field extraction with `alternatives` (first non-empty wins,
    SpchtCore.py:549-560)."""
    source = node.get("source", "dict")
    field = ctx.raw(source, node["field"])
    if "alternatives" not in node:
        return field
    cands = [field] + [ctx.raw(source, alt) for alt in node["alternatives"]]
    arms = " ".join(f"WHEN size({c}) > 0 THEN {c}" for c in cands)
    return f"CASE {arms} ELSE {_EMPTY_STR_ARR} END"


def _if_ok(node: dict, ctx: Ctx) -> str:
    return f"({_compile_if(node, ctx)})" if "if_field" in node else "true"


def _main_stages(node: dict, ctx: Ctx) -> tuple[str, str, str, str, str, str]:
    """The plain-node main-value pipeline (_recursion_node,
    SpchtCore.py:545-600): (raw, after_match, if_ok, mapped, vals,
    uuid_ok). Shared by compile_node and saveas_table (the latter needs
    the stage sizes to reproduce fallback/if reachability)."""
    if "static_field" in node:
        # static_field replaces extraction entirely (SpchtCore.py:546-547)
        # — `field` may legitimately be absent, so don't resolve it.
        raw = f"array({sql_str(node['static_field'])})"
    else:
        raw = _alts_raw(node, ctx)

    after_match = _apply_match(raw, node.get("match"))
    if_ok = _if_ok(node, ctx)
    post = _apply_post(after_match, node)
    mapped = _apply_mapping(post, node.get("mapping"), node.get("mapping_settings"))

    vals = mapped
    if "insert_into" in node:
        vals = _apply_insert_into(vals, node, ctx)
    uuid_ok = "true"
    if "append_uuid_object_fields" in node:
        name, uuid_ok = _uuid_name_expr(node, ctx)
        v = _var()
        vals = f"transform({vals}, {v} -> concat({v}, {_uuid5_expr(name)}))"
    return raw, after_match, if_ok, mapped, vals, uuid_ok


def _main_failed(raw: str, after_match: str, if_ok: str, mapped: str) -> str:
    """The reference's fallback exits for a plain node."""
    return (
        f"size({raw}) = 0 OR size({after_match}) = 0 OR NOT {if_ok} "
        f"OR size({mapped}) = 0"
    )


def compile_node(node: dict, ctx: Ctx, predicate: str | None = None) -> str:
    """One node → SQL text of an array<struct<s,p,o,u,lang,datatype>>
    (s NULL = record subject)."""
    predicate = node.get("predicate", predicate)

    fallback = node.get("fallback")
    # fallback inherits predicate
    fb = compile_node(fallback, ctx, predicate) if fallback else _EMPTY_TRIPLES

    if "joined_value" in node or "joined_field" in node:
        main = _compile_joined(node, ctx, predicate)
        return _case(f"size({main}) = 0", fb, main)

    if "sub_data" in node:
        return _compile_sub_data(node, ctx, fb)

    raw, after_match, if_ok, mapped, vals, uuid_ok = _main_stages(node, ctx)

    pred = _lit(predicate)
    if "append_uuid_predicate_fields" in node:
        # Documented descriptor key (SpchtSchema.json:193: "adds to the
        # end of the predicate value", all fields required) — the
        # reference declares it in its schema/constants/field-analysis
        # (SpchtCore.py:1311) and we apply it symmetrically to
        # append_uuid_object_fields (:579-580).
        pname, p_ok = _uuid_name_expr(node, ctx, "append_uuid_predicate_fields")
        pred = f"concat({pred}, {_uuid5_expr(pname)})"
        uuid_ok = f"({uuid_ok}) AND ({p_ok})"

    own = _mk_triples(vals, pred, node)

    if "sub_nodes" in node:
        # parent value must be singular; children's subject = parent value
        # AFTER insert_into/append_uuid — the reference hands
        # _handle_sub_node the fully post-processed main_value
        # (SpchtCore.py:578-600), so `vals`, not `mapped`.
        sub_subject = f"element_at({vals}, 1)"
        subs = []
        for child in node["sub_nodes"]:
            t = _var()
            subs.append(
                f"transform({compile_node(child, ctx)}, {t} -> named_struct("
                f"'s', coalesce({t}.s, {sub_subject}), 'p', {t}.p, 'o', {t}.o, "
                f"'u', {t}.u, 'lang', {t}.lang, 'datatype', {t}.datatype))"
            )
        own = _case(f"size({vals}) = 1", f"concat({', '.join(subs + [own])})", _EMPTY_TRIPLES)

    failed = _main_failed(raw, after_match, if_ok, mapped)
    return f"CASE WHEN {failed} THEN {fb} WHEN {uuid_ok} THEN {own} ELSE {_EMPTY_TRIPLES} END"


def _compile_joined(node: dict, ctx: Ctx, predicate: str | None) -> str:
    """J1 `joined_map` (SpchtCore.py:794-896): positional zip of field ×
    joined_field; per-position object pipeline + predicate mapping with
    the static predicate as $default; n=1 joined value broadcasts."""
    field = _alts_raw(node, ctx)
    joined = ctx.raw(node.get("source", "dict"), node["joined_field"])
    n, m = f"size({field})", f"size({joined})"
    joined_eff = _case(
        f"{m} = 1 AND {n} != 1", f"array_repeat(element_at({joined}, 1), {n})", joined
    )
    ok = f"{_if_ok(node, ctx)} AND {n} > 0 AND {m} > 0 AND size({joined_eff}) = {n}"

    jm = {str(k): str(v) for k, v in node.get("joined_map", {}).items()}
    f, j = _var(), _var()
    # per position: the value's mapping/post pipeline (≤1 object); a value
    # failing `match` yields nothing, before `$default` could fill it in
    one = f"array({f})"
    if node.get("mapping"):
        one = _apply_mapping(one, node["mapping"], node.get("mapping_settings"))
    one = _apply_post(one, node)
    pred = f"coalesce({_map_one(j, jm, {})}, {_lit(predicate)})" if jm else _lit(predicate)
    triples = _mk_triples(one, pred, node)
    if node.get("match"):
        triples = _case(f"{f} RLIKE {sql_str(node['match'])}", triples, _EMPTY_TRIPLES)
    return _case(ok, f"flatten(zip_with({field}, {joined_eff}, ({f}, {j}) -> {triples}))",
                 _EMPTY_TRIPLES)


def _compile_sub_data(node: dict, ctx: Ctx, fb: str) -> str:
    """sub_data (_handle_sub_data, SpchtCore.py:1092-1126): field is a
    list of records; child nodes run per element, subject unchanged."""
    if_failed = f"NOT {_if_ok(node, ctx)}"
    hit = ctx.raw_struct_arr(node.get("source", "dict"), node["field"])
    if hit is None:
        return _case(if_failed, fb, _EMPTY_TRIPLES)
    arr, elem_type = hit
    x = _var()
    ectx = Ctx.for_struct(elem_type, x)
    parts = [compile_node(child, ectx) for child in node["sub_data"]]
    per_elem = f"concat({', '.join(parts)})" if parts else _EMPTY_TRIPLES
    result = _case(
        f"{arr} IS NOT NULL", f"flatten(transform({arr}, {x} -> {per_elem}))", _EMPTY_TRIPLES
    )
    return _case(if_failed, fb, result)


# ------------------------------------------------------ saveas (P8)

def saveas_table(descriptor: dict, df: DataFrame, dedup: bool = False) -> DataFrame:
    """P8 ``saveas`` side-channel → (key, value) DataFrame.

    Reference semantics (_node_postprocessing, SpchtCore.py:709-718 +
    _add_to_save_as :1128-1134): a value is captured only on the
    *prefixed* postprocessing pass (in practice the ``if_`` comparator
    pipeline), AFTER ``if_cut`` but BEFORE prepend/append; ``get_save_as``
    (:355-369) dedups on demand — exposed here via ``dedup``.

    Capture REACHABILITY mirrors where the reference actually executes
    that pass: _handle_if must be *reached* and must get past its early
    exits. Per node shape:

    * plain node   — main field non-empty after alternatives AND after
      ``match`` (EXIT 1-3 precede _handle_if, SpchtCore.py:545-568);
    * joined node  — main field non-empty after alternatives
      (_joined_map :812-829, no match pre-filter);
    * sub_data     — unconditional (_handle_sub_data :1106 runs it first).

    Inside _handle_if (:941-997): an invalid comparator returns before
    postprocessing, ``exi`` returns before it, and a missing/empty
    ``if_field`` returns before it — none of those capture. Fallback
    nodes capture only when their parent failed (the five EXITs);
    sub_nodes children only when the parent succeeded with a singular
    value; sub_data children only when the node's own if passed."""
    ctx = Ctx.for_row(df.schema)
    pieces = []

    def walk(node, prior: str):
        if not node:
            return
        src = node.get("source", "dict")
        if "joined_value" in node or "joined_field" in node:
            main = _compile_joined(node, ctx, node.get("predicate", "p"))
            failed = f"size({main}) = 0"
            reached_if = f"size({_alts_raw(node, ctx)}) > 0"
            child_prior = "false"  # joined has no sub_nodes/sub_data
        elif "sub_data" in node:
            if_ok = _if_ok(node, ctx)
            failed = f"NOT {if_ok}"
            reached_if = "true"
            child_prior = f"{prior} AND {if_ok}"
        else:
            raw, after_match, if_ok, mapped, vals, _uuid_ok = _main_stages(node, ctx)
            failed = _main_failed(raw, after_match, if_ok, mapped)
            reached_if = f"size({raw}) > 0 AND size({after_match}) > 0"
            child_prior = f"{prior} AND NOT ({failed}) AND size({vals}) = 1"

        if "saveas" in node and "if_field" in node:
            cond = _BOOL_OPS.get(node["if_condition"])
            if cond is not None and cond != "exi":
                if_raw = ctx.raw(src, node["if_field"])
                # captured after if_cut/if_replace, before prepend/append
                cut = {k: node[k] for k in ("if_cut", "if_replace") if k in node}
                arr = _apply_post(_apply_match(if_raw, node.get("if_match")), cut, "if_")
                gate = f"{prior} AND ({reached_if}) AND size({if_raw}) > 0"
                v = _var()
                pieces.append(_case(
                    gate,
                    f"transform({arr}, {v} -> named_struct('key', {sql_str(node['saveas'])}, "
                    f"'value', {v}))",
                    "CAST(array() AS array<struct<key:string,value:string>>)",
                ))
        walk(node.get("fallback"), f"({prior}) AND ({failed})")
        for child in (node.get("sub_nodes") or []) + (node.get("sub_data") or []):
            walk(child, f"({child_prior})")

    for n in descriptor.get("nodes", []):
        walk(n, "true")
    if not pieces:
        return df.sparkSession.createDataFrame(
            [], schema=T.StructType([T.StructField("key", T.StringType()),
                                     T.StructField("value", T.StringType())])
        )
    out = df.selectExpr(f"inline(concat({', '.join(pieces)}))")
    return out.distinct() if dedup else out


# ----------------------------------------- static analysis / validation

def descriptor_fields(descriptor: dict) -> list[str]:
    """P2 projection pushdown (get_node_fields, SpchtCore.py:1231-1255 +
    recursion :1283-1327): the exact set of input fields the descriptor
    reads — what the reference sends to Solr as ``fl`` and what we
    ``select(...)`` before the pipeline (column pruning made explicit)."""
    fields: set[str] = set()

    def walk(node: dict | None):
        if not node:
            return
        for key in ("field", "if_field", "joined_field"):
            v = node.get(key)
            if isinstance(v, str):
                fields.add(v.split(">")[0].strip() if node.get("source") == "tree" else v)
        for alt in node.get("alternatives") or []:
            fields.add(alt)
        for spec in node.get("insert_add_fields") or []:
            fields.add(spec["field"])
        for f in (node.get("append_uuid_object_fields") or []) + (
            node.get("append_uuid_predicate_fields") or []
        ):  # get_node_fields_recursion parity (SpchtCore.py:1309-1312)
            fields.add(f)
        walk(node.get("fallback"))
        for child in (node.get("sub_nodes") or []) + (node.get("sub_data") or []):
            walk(child)

    for key in ("id_field",):
        if descriptor.get(key):
            fields.add(descriptor[key])
    walk(descriptor.get("id_fallback"))
    for n in descriptor.get("nodes", []):
        walk(n)
    # marc shorthands read the raw blob, not a column of their own
    return sorted(f for f in fields if ":" not in f)


def validate_descriptor(descriptor: dict) -> list[str]:
    """Structural validation (schema_validation parity,
    SpchtUtility.py:596-664, sans the jsonschema dependency): returns a
    list of problems; empty = valid."""
    problems: list[str] = []
    for key in ("id_source", "id_field", "nodes"):
        if key not in descriptor:
            problems.append(f"missing header key '{key}'")

    def check(node, path):
        if not isinstance(node, dict):
            problems.append(f"{path}: node is not an object")
            return
        if "source" not in node:
            problems.append(f"{path}: missing 'source'")
        elif node["source"] not in ("dict", "tree", "marc"):
            problems.append(f"{path}: unknown source '{node['source']}'")
        if "field" not in node and "static_field" not in node:
            problems.append(f"{path}: missing 'field'")
        if "if_field" in node:
            if "if_condition" not in node:
                problems.append(f"{path}: if_field without if_condition")
            elif node["if_condition"] not in _BOOL_OPS:
                problems.append(f"{path}: unknown if_condition '{node['if_condition']}'")
            if node.get("if_condition") != "exi" and "if_value" not in node:
                problems.append(f"{path}: if_condition without if_value")
        for regex_key in ("match", "cut", "if_match", "if_cut"):
            if regex_key in node:
                try:
                    re.compile(node[regex_key])
                except re.error as ex:
                    problems.append(f"{path}: bad regex in '{regex_key}': {ex}")
        if "joined_field" in node and "predicate" not in node:
            problems.append(f"{path}: joined_map node needs a predicate")
        if node.get("fallback"):
            check(node["fallback"], f"{path}.fallback")
        for i, child in enumerate(node.get("sub_nodes") or []):
            check(child, f"{path}.sub_nodes[{i}]")
        for i, child in enumerate(node.get("sub_data") or []):
            check(child, f"{path}.sub_data[{i}]")

    for i, node in enumerate(descriptor.get("nodes", [])):
        if "predicate" not in node:
            problems.append(f"nodes[{i}]: missing 'predicate'")
        check(node, f"nodes[{i}]")
    return problems


# -------------------------------------------------- descriptor compiler

def _uses_marc(descriptor: dict) -> bool:
    def walk(node) -> bool:
        if not isinstance(node, dict):
            return False
        if node.get("source") == "marc":
            return True
        kids = [node.get("fallback")] + list(node.get("sub_nodes") or []) + list(
            node.get("sub_data") or []
        )
        return any(walk(k) for k in kids if k)

    return descriptor.get("id_source") == "marc" or any(
        walk(n) for n in descriptor.get("nodes", [])
    )


def compile_descriptor(
    descriptor: dict, df: DataFrame, subject_prefix: str = "",
    marc_col: str = "fullrecord",
) -> DataFrame:
    """Full descriptor × record DataFrame → triples DataFrame
    (subject, predicate, object, object_is_uri, lang, datatype).

    Record-level semantics (process_data, SpchtCore.py:184-279): subject
    from the id header node; records with no/ambiguous id dropped;
    `required: mandatory` node producing nothing drops the record.
    If any node reads source 'marc' and ``marc_col`` exists, the MARC
    blob is parsed ONCE (Arrow UDF) before compilation.

    Three DataFrame calls whatever the node count: one ``selectExpr``
    for the id and node arrays, one ``where`` for the exactly-one-id
    and mandatory checks, one ``selectExpr`` that explodes the triples."""
    marc = None
    if _uses_marc(descriptor) and marc_col in df.columns:
        from spcht_spark.sources.marc import with_parsed_marc

        df = with_parsed_marc(df, marc_col, "_marc")
        marc = sql_ident("_marc")
    ctx = Ctx.for_row(df.schema, marc)

    id_node = {
        "name": "$Identifier$",
        "source": descriptor["id_source"],
        "predicate": "none",
        "field": descriptor["id_field"],
    }
    if descriptor.get("id_alternatives"):
        id_node["alternatives"] = descriptor["id_alternatives"]
    if descriptor.get("id_fallback"):
        id_node["fallback"] = descriptor["id_fallback"]

    nodes = descriptor["nodes"]
    arrays = ", ".join(compile_node(node, ctx) for node in nodes)
    keep = ["size(_id) = 1"] + [  # exactly one id; mandatory nodes non-empty
        f"size(_nodes[{i}]) > 0"
        for i, node in enumerate(nodes)
        if node.get("required") == "mandatory"
    ]
    t = _var()
    subject = f"coalesce({t}.s, concat({sql_str(subject_prefix)}, _id[0].o))"
    return (
        df.selectExpr(
            f"{compile_node(id_node, ctx)} AS _id",
            f"array({arrays}) AS _nodes" if nodes
            else f"CAST(array() AS array<array<{TRIPLE_ELEM}>>) AS _nodes",
        )
        .where(" AND ".join(keep))
        .selectExpr(
            f"inline(transform(flatten(_nodes), {t} -> named_struct('subject', {subject}, "
            f"'predicate', {t}.p, 'object', {t}.o, 'object_is_uri', {t}.u, "
            f"'lang', {t}.lang, 'datatype', {t}.datatype)))"
        )
    )
