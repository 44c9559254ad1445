"""Spcht descriptor → Column-expression compiler.

Semantics ported 1:1 from the reference's per-record interpreter
(file:line cites inline); execution is columnar: every node becomes an
``array<struct<s,p,o,u,tag>>`` expression; all node arrays of a record
are concatenated and exploded in ONE pass over the scan (no per-node
re-scan, no per-row Python except the uuid5 Arrow UDF).

Pipeline order per node — _recursion_node, SpchtCore.py:498-600:
extract → static_field → alternatives → match → if → cut/replace/
prepend/append → mapping → insert_into → append_uuid → tag/type →
sub_nodes → iron.  Fallback triggers exactly at the reference's five
exits (extract empty / match empty / if false / mapping empty).

Falsiness parity: the reference's ``if final_value:`` treats scalar 0 /
"" as missing (extract_dictmarc_value, SpchtCore.py:1218-1229) — lists
keep falsy *elements* but an empty list is missing.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRIPLE_ELEM = "struct<s:string,p:string,o:string,u:boolean,tag:string>"


def _empty_triples() -> Column:
    return F.array().cast(f"array<{TRIPLE_ELEM}>")


def _empty_str_arr() -> Column:
    return F.array().cast("array<string>")

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


# NAMESPACE_URL bytes (RFC 4122): 6ba7b811-9dad-11d1-80b4-00c04fd430c8
_NS_URL_HEX = "6ba7b8119dad11d180b400c04fd430c8"


def _uuid5_expr(name: Column) -> Column:
    """RFC-4122 v5 uuid as a PURE Column expression (uuid_generator
    parity, SpchtCore.py:1136-1145): sha1(namespace ‖ name) with the
    version nibble forced to 5 and the variant nibble to 10xx. Staying
    expression-side lets it nest inside higher-order lambdas and keeps
    the whole descriptor pipeline JVM-only."""
    h = F.sha1(
        F.concat(F.to_binary(F.lit(_NS_URL_HEX), F.lit("hex")), F.encode(name, "UTF-8"))
    )
    variant = F.element_at(
        F.array(F.lit("8"), F.lit("9"), F.lit("a"), F.lit("b")),
        (F.conv(F.substring(h, 17, 1), 16, 10).cast("int") % 4) + 1,
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
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
    elements (sub_data recursion). Missing fields are a compile-time
    fact (schema known) → empty array, mirroring SpchtCore.py:1171-1174."""

    def __init__(self, fields: dict[str, T.DataType], get, marc: Column | None = None):
        self.fields = fields
        self.get = get  # name -> Column
        self.marc = marc  # parsed MARC array (sources.marc), optional

    @classmethod
    def for_row(cls, schema: T.StructType, marc: Column | None = None) -> "Ctx":
        return cls({f.name: f.dataType for f in schema.fields}, F.col, marc)

    @classmethod
    def for_struct(cls, stype: T.StructType, expr: Column) -> "Ctx":
        return cls({f.name: f.dataType for f in stype.fields}, lambda n: expr[n])

    def _resolve(self, source: str, field: str):
        """→ (Column, DataType) or None if statically absent."""
        if source == "tree":
            keys = [k.strip() for k in field.split(">")]
            dt: Any = T.StructType(
                [T.StructField(n, t) for n, t in self.fields.items()]
            )
            col = None
            for k in keys:
                if not isinstance(dt, T.StructType) or k not in dt.fieldNames():
                    return None
                col = self.get(k) if col is None else col[k]
                dt = dt[k].dataType
            return col, dt
        # source == "dict" (marc handled separately by the marc module)
        if field not in self.fields:
            return None
        return self.get(field), self.fields[field]

    def raw(self, source: str, field: str) -> Column:
        """Normalized value list: array<string>, empty = missing.
        Scalar falsiness (0/""/null → missing) per SpchtCore.py:1218."""
        if source == "marc":
            if self.marc is None:
                return _empty_str_arr()
            from spcht_spark.sources.marc import marc_values

            return F.coalesce(marc_values(self.marc, field), _empty_str_arr())
        hit = self._resolve(source, field)
        if hit is None:
            return _empty_str_arr()
        col, dt = hit
        return _leaf_to_str_arr(col, dt)

    def raw_struct_arr(self, source: str, field: str):
        """array<struct> for sub_data, or None if absent/not array-of-struct."""
        hit = self._resolve(source, field)
        if hit is None:
            return None
        col, dt = hit
        if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
            return col, dt.elementType
        return None


def _leaf_to_str_arr(col: Column, dt: T.DataType) -> Column:
    if isinstance(dt, T.ArrayType):
        inner = dt.elementType
        if isinstance(inner, T.BooleanType):
            arr = F.transform(col, lambda x: F.when(x, "True").otherwise("False"))
        elif isinstance(inner, (T.StructType, T.MapType, T.ArrayType)):
            return _empty_str_arr()  # nested non-scalar: not a value list
        else:
            arr = F.transform(col, lambda x: x.cast("string"))
        return F.coalesce(arr, _empty_str_arr())
    if isinstance(dt, T.BooleanType):
        # Python str(True) == "True"; False is falsy → missing
        return F.when(col.isNull() | ~col, _empty_str_arr()).otherwise(
            F.array(F.lit("True"))
        )
    if isinstance(dt, T.NumericType):
        return F.when(col.isNull() | (col == 0), _empty_str_arr()).otherwise(
            F.array(col.cast("string"))
        )
    if isinstance(dt, T.StringType):
        return F.when(col.isNull() | (col == ""), _empty_str_arr()).otherwise(F.array(col))
    if isinstance(dt, (T.StructType, T.MapType)):
        return _empty_str_arr()
    return F.when(col.isNull(), _empty_str_arr()).otherwise(F.array(col.cast("string")))


# ------------------------------------------------------ pipeline pieces

def _apply_match(arr: Column, pattern: str | None) -> Column:
    """P5 `match` (re.search semantics = unanchored rlike), SpchtCore.py:645-683."""
    if pattern is None:
        return arr
    return F.filter(arr, lambda x: x.rlike(pattern))


def _post_one(x: Column, node: dict, prefix: str = "") -> Column:
    """P6/P7 cut/replace + prepend/append on one element (SpchtCore.py:685-721)."""
    cut = node.get(f"{prefix}cut")
    rep = node.get(f"{prefix}replace", "")
    pre = node.get(f"{prefix}prepend", "")
    app = node.get(f"{prefix}append", "")
    y = F.regexp_replace(x, cut, rep) if cut else x
    if pre or app:
        y = F.concat(F.lit(pre), y, F.lit(app))
    return y


def _apply_post(arr: Column, node: dict, prefix: str = "") -> Column:
    if any(f"{prefix}{k}" in node for k in ("cut", "prepend", "append")):
        return F.transform(arr, lambda x: _post_one(x, node, prefix))
    return arr


def _map_one(x: Column, mapping: dict, settings: dict) -> Column:
    """Mapped value for one element or NULL if unmatched (pre-inherit)."""
    casesens = settings.get("$casesens", True)
    if settings.get("$regex", False):
        expr = F.lit(None).cast("string")
        # first pattern wins in insertion order (SpchtCore.py:765-776)
        for k, v in reversed(list(mapping.items())):
            expr = F.when(x.rlike(str(k)), F.lit(str(v))).otherwise(expr)
        return expr
    items = {(str(k).lower() if not casesens else str(k)): str(v) for k, v in mapping.items()}
    if not items:
        return F.lit(None).cast("string")
    map_lit = F.create_map(*[F.lit(s) for kv in items.items() for s in kv])
    key = F.lower(x) if not casesens else x
    return F.element_at(map_lit, key)


def _apply_mapping(arr: Column, mapping: dict | None, settings: dict | None) -> Column:
    """P10 `mapping` with $default/$inherit/$casesens/$regex
    (SpchtCore.py:723-792). $default fires only when NOTHING matched."""
    if not isinstance(mapping, dict) or mapping is None:
        return arr
    settings = settings or {}
    inherit = bool(settings.get("$inherit", False))
    mapped = F.transform(
        arr,
        (lambda x: F.coalesce(_map_one(x, mapping, settings), x))
        if inherit
        else (lambda x: _map_one(x, mapping, settings)),
    )
    result = F.filter(mapped, lambda x: x.isNotNull())
    if "$default" in settings:
        default = str(settings["$default"])
        result = F.when(F.size(result) == 0, F.array(F.lit(default))).otherwise(result)
    return result


def _compile_if(node: dict, ctx: Ctx) -> Column:
    """P12 `if_` gate (_handle_if, SpchtCore.py:941-1056), incl. the
    infinite-negativity rule for missing fields (:981-987)."""
    cond = _BOOL_OPS.get(node["if_condition"])
    if cond is None:
        return F.lit(False)  # "if your comparator is false nothing can be true"
    raw = ctx.raw(node.get("source", "dict"), node["if_field"])
    raw_empty = F.size(raw) == 0
    if cond == "exi":
        return ~raw_empty

    arr = _apply_post(_apply_match(raw, node.get("if_match")), node, "if_")
    if_value = node["if_value"]

    def _num(v):
        try:
            return int(v)
        except (TypeError, ValueError):
            try:
                return float(v)
            except (TypeError, ValueError):
                return None

    if isinstance(if_value, list):
        # == any-of / != none-of (SpchtCore.py:998-1019); ordering ops raise
        if cond not in ("==", "!="):
            raise TypeError("Cannot do greater/lesser than with a list of Values")
        def eq_any(x):
            e = F.lit(False)
            for v in if_value:
                n = _num(v)
                if n is not None and not isinstance(v, str):
                    e = e | (x.try_cast("double") == F.lit(float(n)))
                elif _num(v) is not None:  # numeric-looking string → coerced
                    e = e | (x.try_cast("double") == F.lit(float(_num(v))))
                else:
                    e = e | (x == F.lit(str(v)))
            return F.coalesce(e, F.lit(False))
        hit = F.exists(arr, eq_any)
        if cond == "==":
            # Missing if_field → True, mirroring the upstream quirk: the
            # reference's missing-field gate tests the NORMALIZED condition
            # against ("=", ">", ">=") (SpchtCore.py:983), but
            # SPCHT_BOOL_OPS normalizes "=" to "==" (SpchtConstants.py:25),
            # so "==" never matches the tuple and falls into the
            # return-True branch. Pinned in test_descriptor_parity.
            return F.when(raw_empty, F.lit(True)).otherwise(F.coalesce(hit, F.lit(False)))
        return F.when(raw_empty, F.lit(True)).otherwise(~F.coalesce(hit, F.lit(False)))

    num = _num(if_value)
    if cond in (">", "<", ">=", "<="):
        if num is None:
            raise TypeError("Cannot compared with non-numbers")
        op = {
            ">": lambda a, b: a > b, "<": lambda a, b: a < b,
            ">=": lambda a, b: a >= b, "<=": lambda a, b: a <= b,
        }[cond]
        hit = F.exists(arr, lambda x: F.coalesce(op(x.try_cast("double"), F.lit(float(num))), F.lit(False)))
        # missing field: < and <= are vacuously true (infinite negativity)
        return F.when(raw_empty, F.lit(cond in ("<", "<="))).otherwise(
            F.coalesce(hit, F.lit(False))
        )
    if num is not None:
        pred = lambda x: F.coalesce(x.try_cast("double") == F.lit(float(num)), F.lit(False))
    else:
        pred = lambda x: F.coalesce(x == F.lit(str(if_value)), F.lit(False))
    hit = F.coalesce(F.exists(arr, pred), F.lit(False))
    if cond == "==":
        # Missing field → True (upstream quirk, see the list branch above).
        return F.when(raw_empty, F.lit(True)).otherwise(hit)
    # "!=": any element unequal → True; empty field → True; all equal → False
    if num is not None:
        ne = lambda x: F.coalesce(x.try_cast("double") != F.lit(float(num)), F.lit(True))
    else:
        ne = lambda x: F.coalesce(x != F.lit(str(if_value)), F.lit(True))
    return F.when(raw_empty, F.lit(True)).otherwise(
        F.coalesce(F.exists(arr, ne), F.lit(False))
    )


def _apply_insert_into(arr: Column, node: dict, ctx: Ctx) -> Column:
    """P9 `insert_into` (+insert_add_fields): cartesian of value lists ×
    `{}` placeholders, strict (SpchtCore.py:898-939; all_variants
    SpchtUtility.py:96-106; insert_list_into_str SpchtUtility.py:125-165)."""
    template = node["insert_into"]
    n_slots = len(re.findall(r"\{\}", template))
    add_fields = node.get("insert_add_fields", [])
    n_values = 1 + len(add_fields)
    if n_values != n_slots:
        # strict mode: every combination returns None → empty result
        return _empty_str_arr()

    add_arrs = []
    for spec in add_fields:
        sub = ctx.raw(spec.get("source", node.get("source", "dict")), spec["field"])
        sub = _apply_post(_apply_match(sub, spec.get("match")), spec)
        # empty add-field → [""] (SpchtCore.py:931-933)
        add_arrs.append(F.when(F.size(sub) == 0, F.array(F.lit(""))).otherwise(sub))

    fmt = template.replace("%", "%%").replace("{}", "%s")

    def build(vals: list[Column], remaining: list[Column]) -> Column:
        if not remaining:
            line = F.format_string(fmt, *vals)
            # strict: an empty inserted string kills the combination
            dead = F.lit(False)
            for v in vals:
                dead = dead | (F.length(v) == 0)
            return F.when(dead, F.array().cast("array<string>")).otherwise(F.array(line))
        head, *tail = remaining
        return F.flatten(F.transform(head, lambda v: build(vals + [v], tail)))

    return build([], [arr] + add_arrs)


def _uuid_name_expr(
    node: dict, ctx: Ctx, key: str = "append_uuid_object_fields"
) -> tuple[Column, Column]:
    """(name string, all-fields-present bool) for append_uuid_*_fields.
    Reproduces str(list-of-SpchtThird) concatenation (SpchtCore.py:1136-1145,
    repr at :1403-1412) — golden vector fbe44eac-… (tests/test_spcht_internals.py:492)."""
    parts, ok = [], F.lit(True)
    for fieldname in node[key]:
        raw = ctx.raw(node.get("source", "dict"), fieldname)
        ok = ok & (F.size(raw) > 0)
        rendered = F.concat(
            F.lit("["),
            F.array_join(
                F.transform(
                    raw,
                    lambda x: F.concat(
                        F.lit('SpchtThird("'), x,
                        F.lit('",uri=False,language=None,annotation=None)'),
                    ),
                ),
                ", ",
            ),
            F.lit("]"),
        )
        parts.append(rendered)
    return F.concat(*parts), ok


def _parse_tag(tag: str | None) -> tuple[str | None, str | None]:
    """(lang, datatype) from "@lang" / "^^dtype" (SpchtThird.import_tag,
    SpchtCore.py:1439-1444)."""
    if not tag or len(tag) <= 1:
        return None, None
    if tag.startswith("@"):
        return tag[1:], None
    if tag.startswith("^^"):
        return None, tag[2:]
    return None, None


# ------------------------------------------------------- node compiler

def _mk_triples(objs: Column, predicate: Column, node: dict, subject: Column) -> Column:
    is_uri = str(node.get("type", "")).lower() == "uri"
    lang, dtype = _parse_tag(node.get("tag"))
    tag = node.get("tag") if (lang or dtype) else None
    return F.transform(
        objs,
        lambda o: F.struct(
            subject.alias("s"),
            predicate.alias("p"),
            o.alias("o"),
            F.lit(is_uri).alias("u"),
            F.lit(tag).cast("string").alias("tag"),
        ),
    )


def _alts_raw(node: dict, ctx: Ctx) -> Column:
    """Main-field extraction with `alternatives` (first non-empty wins,
    SpchtCore.py:549-560)."""
    source = node.get("source", "dict")
    field = ctx.raw(source, node["field"])
    if "alternatives" in node:
        cands = [field] + [ctx.raw(source, alt) for alt in node["alternatives"]]
        picked = _empty_str_arr()
        for cand in reversed(cands):
            picked = F.when(F.size(cand) > 0, cand).otherwise(picked)
        field = picked
    return field


def _main_stages(
    node: dict, ctx: Ctx
) -> tuple[Column, Column, Column, Column, Column, Column]:
    """The plain-node main-value pipeline (_recursion_node,
    SpchtCore.py:545-600): (raw, after_match, if_ok, mapped, vals,
    uuid_ok). Shared by compile_node and saveas_table (the latter needs
    the stage sizes to reproduce fallback/if reachability)."""
    if "static_field" in node:
        # static_field replaces extraction entirely (SpchtCore.py:546-547)
        # — `field` may legitimately be absent, so don't resolve it.
        raw = F.array(F.lit(str(node["static_field"])))
    else:
        raw = _alts_raw(node, ctx)

    after_match = _apply_match(raw, node.get("match"))
    if_ok = _compile_if(node, ctx) if "if_field" in node else F.lit(True)
    post = _apply_post(after_match, node)
    mapped = _apply_mapping(post, node.get("mapping"), node.get("mapping_settings"))

    vals = mapped
    if "insert_into" in node:
        vals = _apply_insert_into(vals, node, ctx)
    uuid_ok = F.lit(True)
    if "append_uuid_object_fields" in node:
        name, uuid_ok = _uuid_name_expr(node, ctx)
        u = _uuid5_expr(name)
        vals = F.transform(vals, lambda x: F.concat(x, u))
    return raw, after_match, if_ok, mapped, vals, uuid_ok


def compile_node(node: dict, ctx: Ctx, predicate: str | None = None) -> Column:
    """One node → array<struct<s,p,o,u,tag>> (s NULL = record subject)."""
    predicate = node.get("predicate", predicate)
    pred_col = F.lit(predicate)

    fallback = node.get("fallback")
    fb = (
        compile_node(fallback, ctx, predicate)  # fallback inherits predicate
        if fallback
        else _empty_triples()
    )

    if "joined_value" in node or "joined_field" in node:
        main = _compile_joined(node, ctx, predicate)
        return F.when(F.size(main) == 0, fb).otherwise(main)

    if "sub_data" in node:
        return _compile_sub_data(node, ctx, fb)

    raw, after_match, if_ok, mapped, vals, uuid_ok = _main_stages(node, ctx)

    if "append_uuid_predicate_fields" in node:
        # Documented descriptor key (SpchtSchema.json:193: "adds to the
        # end of the predicate value", all fields required) — the
        # reference declares it in its schema/constants/field-analysis
        # (SpchtCore.py:1311) and we apply it symmetrically to
        # append_uuid_object_fields (:579-580).
        pname, p_ok = _uuid_name_expr(node, ctx, "append_uuid_predicate_fields")
        pred_col = F.concat(pred_col, _uuid5_expr(pname))
        uuid_ok = uuid_ok & p_ok

    own = _mk_triples(vals, pred_col, node, F.lit(None).cast("string"))

    if "sub_nodes" in node:
        # parent value must be singular; children's subject = parent value
        # AFTER insert_into/append_uuid — the reference hands
        # _handle_sub_node the fully post-processed main_value
        # (SpchtCore.py:578-600), so `vals`, not `mapped`.
        parent_ok = F.size(vals) == 1
        sub_subject = F.element_at(vals, 1)
        subs = [
            F.transform(
                compile_node(child, ctx),
                lambda t: F.struct(
                    F.coalesce(t["s"], sub_subject).alias("s"),
                    t["p"].alias("p"), t["o"].alias("o"),
                    t["u"].alias("u"), t["tag"].alias("tag"),
                ),
            )
            for child in node["sub_nodes"]
        ]
        own = F.when(parent_ok, F.concat(F.concat(*subs), own)).otherwise(_empty_triples())

    trigger_fb = (
        (F.size(raw) == 0)
        | (F.size(after_match) == 0)
        | ~if_ok
        | (F.size(mapped) == 0)
    )
    return F.when(trigger_fb, fb).otherwise(F.when(uuid_ok, own).otherwise(_empty_triples()))


def _compile_joined(node: dict, ctx: Ctx, predicate: str | None) -> Column:
    """J1 `joined_map` (SpchtCore.py:794-896): positional zip of field ×
    joined_field; per-position object pipeline + predicate mapping with
    the static predicate as $default; n=1 joined value broadcasts."""
    source = node.get("source", "dict")
    field = _alts_raw(node, ctx)
    if_ok = _compile_if(node, ctx) if "if_field" in node else F.lit(True)
    joined = ctx.raw(source, node["joined_field"])

    n, m = F.size(field), F.size(joined)
    joined_eff = F.when(
        (m == 1) & (n != 1), F.array_repeat(F.element_at(joined, 1), n)
    ).otherwise(joined)
    ok = if_ok & (n > 0) & (m > 0) & (F.size(joined_eff) == n)

    jm = {str(k): str(v) for k, v in node.get("joined_map", {}).items()}
    jm_settings: dict = {}
    is_uri = str(node.get("type", "")).lower() == "uri"
    lang, dtype = _parse_tag(node.get("tag"))
    tag = node.get("tag") if (lang or dtype) else None
    match = node.get("match")
    mapping = node.get("mapping")
    msettings = node.get("mapping_settings")

    def per_pair(pair: Column) -> Column:
        obj0 = pair["f"]
        keep = obj0.rlike(match) if match else F.lit(True)
        one = F.array(obj0)
        if mapping:
            one = _apply_mapping(one, mapping, msettings)
        one = _apply_post(one, node)
        sobj = F.element_at(one, 1)
        pred = (
            F.coalesce(_map_one(pair["j"], jm, jm_settings), F.lit(predicate))
            if jm
            else F.lit(predicate)
        )
        return F.when(
            keep & (F.size(one) == 1),
            F.array(
                F.struct(
                    F.lit(None).cast("string").alias("s"),
                    pred.alias("p"), sobj.alias("o"),
                    F.lit(is_uri).alias("u"), F.lit(tag).cast("string").alias("tag"),
                )
            ),
        ).otherwise(_empty_triples())

    zipped = F.arrays_zip(field.alias("f"), joined_eff.alias("j"))
    result = F.flatten(F.transform(zipped, per_pair))
    return F.when(ok, result).otherwise(_empty_triples())


def _compile_sub_data(node: dict, ctx: Ctx, fb: Column) -> Column:
    """sub_data (_handle_sub_data, SpchtCore.py:1092-1126): field is a
    list of records; child nodes run per element, subject unchanged."""
    if_ok = _compile_if(node, ctx) if "if_field" in node else F.lit(True)
    hit = ctx.raw_struct_arr(node.get("source", "dict"), node["field"])
    if hit is None:
        return F.when(~if_ok, fb).otherwise(_empty_triples())
    arr, elem_type = hit

    def per_elem(x: Column) -> Column:
        ectx = Ctx.for_struct(elem_type, x)
        parts = [compile_node(child, ectx) for child in node["sub_data"]]
        return F.concat(*parts) if parts else _empty_triples()

    result = F.when(
        arr.isNotNull(), F.flatten(F.transform(arr, per_elem))
    ).otherwise(_empty_triples())
    return F.when(~if_ok, fb).otherwise(result)


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

    def capture_arr(node) -> Column:
        arr = _apply_match(
            ctx.raw(node.get("source", "dict"), node["if_field"]),
            node.get("if_match"),
        )
        cut = node.get("if_cut")
        if cut:
            rep = node.get("if_replace", "")
            arr = F.transform(arr, lambda x: F.regexp_replace(x, cut, rep))
        return arr

    def walk(node, prior: Column):
        if not node:
            return
        src = node.get("source", "dict")
        is_joined = "joined_value" in node or "joined_field" in node
        is_sub_data = "sub_data" in node

        if_ok = _compile_if(node, ctx) if "if_field" in node else F.lit(True)
        if is_joined:
            main = _compile_joined(node, ctx, node.get("predicate", "p"))
            failed = F.size(main) == 0
            reached_if = F.size(_alts_raw(node, ctx)) > 0
            child_prior = F.lit(False)  # joined has no sub_nodes/sub_data
        elif is_sub_data:
            failed = ~if_ok
            reached_if = F.lit(True)
            child_prior = prior & if_ok
        else:
            raw, after_match, if_ok, mapped, vals, _uuid_ok = _main_stages(node, ctx)
            failed = (
                (F.size(raw) == 0)
                | (F.size(after_match) == 0)
                | ~if_ok
                | (F.size(mapped) == 0)
            )
            reached_if = (F.size(raw) > 0) & (F.size(after_match) > 0)
            child_prior = prior & ~failed & (F.size(vals) == 1)

        if "saveas" in node and "if_field" in node:
            cond = _BOOL_OPS.get(node["if_condition"])
            if cond is not None and cond != "exi":
                if_raw_nonempty = F.size(ctx.raw(src, node["if_field"])) > 0
                gate = prior & reached_if & if_raw_nonempty
                pieces.append(
                    (
                        node["saveas"],
                        F.when(gate, capture_arr(node)).otherwise(_empty_str_arr()),
                    )
                )
        walk(node.get("fallback"), prior & failed)
        for child in node.get("sub_nodes") or []:
            walk(child, child_prior)
        for child in node.get("sub_data") or []:
            walk(child, child_prior)

    for n in descriptor.get("nodes", []):
        walk(n, F.lit(True))
    if not pieces:
        return df.sparkSession.createDataFrame(
            [], schema=T.StructType([T.StructField("key", T.StringType()),
                                     T.StructField("value", T.StringType())])
        )
    def tag_with(key: str, arr: Column) -> Column:
        # nb: a two-arg lambda in F.transform would receive (elem, index)
        return F.transform(
            arr, lambda v: F.struct(F.lit(key).alias("key"), v.alias("value"))
        )

    all_arr = F.concat(*[tag_with(key, arr) for key, arr in pieces])
    out = df.select(F.explode(all_arr).alias("kv")).select("kv.key", "kv.value")
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
    blob is parsed ONCE (Arrow UDF) before compilation."""
    marc = None
    if _uses_marc(descriptor) and marc_col in df.columns:
        from spcht_spark.sources.marc import with_parsed_marc

        df = with_parsed_marc(df, marc_col, "_marc")
        marc = F.col("_marc")
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
    id_triples = compile_node(id_node, ctx)

    node_arrays = []
    mandatory_flags = []
    for node in descriptor["nodes"]:
        arr = compile_node(node, ctx)
        node_arrays.append(arr)
        if node.get("required") == "mandatory":
            mandatory_flags.append(F.size(arr) > 0)

    out = df.withColumn("_id_triples", id_triples)
    out = out.filter(F.size(F.col("_id_triples")) == 1)  # exactly one id
    out = out.withColumn(
        "_subject",
        F.concat(F.lit(subject_prefix), F.element_at(F.col("_id_triples"), 1)["o"]),
    )
    for flag in mandatory_flags:
        out = out.filter(flag)

    all_triples = F.concat(*node_arrays) if node_arrays else _empty_triples()
    exploded = out.select(
        F.col("_subject"), F.explode(all_triples).alias("t")
    )
    return exploded.select(
        F.coalesce(F.col("t.s"), F.col("_subject")).alias("subject"),
        F.col("t.p").alias("predicate"),
        F.col("t.o").alias("object"),
        F.col("t.u").alias("object_is_uri"),
        F.when(
            F.col("t.tag").startswith("@"), F.expr("substring(t.tag, 2)")
        ).alias("lang"),
        F.when(
            F.col("t.tag").startswith("^^"), F.expr("substring(t.tag, 3)")
        ).alias("datatype"),
    )


def triples_to_ntriples(triples: DataFrame) -> DataFrame:
    """S6 sink (process2RDF, SpchtUtility.py:506-535) — canonical
    implementation (with literal escaping and the ttl/nquads/xml
    siblings) lives in spcht_spark.descriptor.rdf; re-exported here for
    back-compat."""
    from spcht_spark.descriptor.rdf import triples_to_ntriples as _impl

    return _impl(triples)
