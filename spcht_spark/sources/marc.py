"""MARC21 binary record parsing (S5 parity).

The reference parses `fullrecord` via pymarc into a nested dict
(marc2list, /root/reference/Spcht/Core/SpchtUtility.py:404-475, with
control-char repair marc21_fixRecord :277-319). Here a from-scratch
parser of the public ISO 2709 / MARC21 layout runs as an Arrow-batched
UDF ONCE per record; everything downstream is pure column ops over the
flattened ``array<struct<tag,ind1,ind2,subfield,value>>`` (SQL text
rendered by :func:`marc_values`).

Layout (public MARC21 spec): 24-byte leader (record length in [0:5],
base address in [12:17]) · directory of 12-byte entries (tag 3, field
length 4, field start 5) terminated by 0x1E · field data: control
fields (tag < 010) are raw values; data fields are 2 indicator bytes
then 0x1F-separated subfields (first char = code); fields end 0x1E,
record ends 0x1D.

The reference also un-escapes literal "#29;"/"#30;"/"#31;" markers some
exports carry (marc21_fixRecord); replicated in _fix_record.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from spcht_spark.index.query import sql_str

RS = "\x1d"  # record terminator
FS = "\x1e"  # field terminator
SS = "\x1f"  # subfield separator

MARC_ELEM = T.StructType(
    [
        T.StructField("tag", T.IntegerType(), False),
        T.StructField("ind1", T.StringType(), True),
        T.StructField("ind2", T.StringType(), True),
        T.StructField("subfield", T.StringType(), False),
        T.StructField("value", T.StringType(), False),
    ]
)
MARC_ARR_TYPE = T.ArrayType(MARC_ELEM)


def _fix_record(rec: str) -> str:
    """Control-char repair (marc21_fixRecord parity)."""
    return rec.replace("#29;", RS).replace("#30;", FS).replace("#31;", SS)


def parse_marc_record(rec: str) -> list[tuple]:
    """One MARC21 string → [(tag, ind1, ind2, subfield, value)].
    Control fields get subfield 'none' and indicators 'i1'/'i2' are
    exposed as pseudo-subfields (extract_dictmarc_value parity,
    SpchtCore.py:1190-1217).

    ISO 2709 record length, base address, and directory length/start
    values are BYTE counts, so all slicing happens on the UTF-8 byte
    encoding (a str-index slice mis-addresses every field after the
    first multi-byte character — umlauts are routine in MARC library
    data); field payloads are decoded back to str afterwards. The
    reference gets this for free by handing pymarc bytes."""
    if not rec:
        return []
    b = _fix_record(rec).encode("utf-8")
    fsb = FS.encode()
    out: list[tuple] = []
    try:
        base = int(b[12:17])
    except (ValueError, IndexError):
        return []
    directory = b[24 : base - 1]  # trailing FS before base
    for off in range(0, len(directory) - 11, 12):
        entry = directory[off : off + 12]
        try:
            tag = int(entry[0:3])
            length = int(entry[3:7])
            start = int(entry[7:12])
        except ValueError:
            continue
        data_b = b[base + start : base + start + length]
        if data_b.endswith(fsb):
            data_b = data_b[:-1]
        data = data_b.decode("utf-8", errors="replace")
        if tag < 10:  # control field
            out.append((tag, None, None, "none", data))
            continue
        ind1, ind2 = (data[0], data[1]) if len(data) >= 2 else (" ", " ")
        out.append((tag, ind1, ind2, "i1", ind1))
        out.append((tag, ind1, ind2, "i2", ind2))
        for sub in data[2:].split(SS):
            if len(sub) >= 1 and sub[0] not in ("", " "):
                code, val = sub[0], sub[1:]
                if val != "" or code:
                    out.append((tag, ind1, ind2, code, val))
    return out


def with_parsed_marc(
    df: DataFrame, marc_col: str = "fullrecord", out_col: str = "_marc"
) -> DataFrame:
    """Attach the flattened MARC array — Arrow-batched parse, once."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                parse_marc_record(r) if isinstance(r, str) else []
                for r in pdf[marc_col]
            ]
            yield pdf

    schema = T.StructType(df.schema.fields + [T.StructField(out_col, MARC_ARR_TYPE)])
    return df.mapInPandas(run, schema=schema)


def build_marc_record(fields) -> str:
    """Minimal valid ISO-2709/MARC21 record (fixture helper; inverse of
    :func:`parse_marc_record`).

    fields: [(tag, value)] for control fields, or
            [(tag, ind1, ind2, [(code, val), ...])] for data fields.
    Directory lengths/starts and the leader counts are UTF-8 BYTE
    counts per ISO 2709 (non-ASCII values must round-trip)."""
    datas, entries, pos = [], [], 0
    for f in fields:
        if len(f) == 2:
            tag, value = f
            data = value + FS
        else:
            tag, i1, i2, subs = f
            data = i1 + i2 + "".join(SS + c + v for c, v in subs) + FS
        nbytes = len(data.encode("utf-8"))
        entries.append(f"{int(tag):03d}{nbytes:04d}{pos:05d}")
        datas.append(data)
        pos += nbytes
    directory = "".join(entries) + FS
    base = 24 + len(directory)
    total = base + pos + 1
    leader = f"{total:05d}nam a22{base:05d}   4500"
    return leader + directory + "".join(datas) + RS


def slice_shorthand(field: str) -> tuple[int, str] | None:
    """'951:a' → (951, 'a') (slice_marc_shorthand parity,
    SpchtUtility.py:243-256)."""
    parts = field.split(":")
    if len(parts) != 2:
        return None
    try:
        return int(parts[0]), parts[1]
    except ValueError:
        return None


def marc_values(marc_arr: str, field: str) -> str:
    """Values for a 'tag:subfield' shorthand as SQL text of an
    array<string> (empty when absent) over ``marc_arr``, the SQL text of
    the parsed array — pure expressions, no Python at runtime."""
    sliced = slice_shorthand(field)
    if sliced is None:
        return "CAST(array() AS array<string>)"
    tag, sub = sliced
    return (
        f"transform(filter({marc_arr}, m -> m.tag = {tag} AND m.subfield = {sql_str(sub)}), "
        f"m -> m.value)"
    )
