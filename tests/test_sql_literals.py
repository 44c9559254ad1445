"""Property test: the SQL literal renderers round-trip any string.

Spark's SQL parser treats ``\\`` as an escape character inside string
literals, ``'`` closes them, and ``spark.sql``'s argument templating
reads ``{`` / ``}``. Code tokens and user queries carry all of these,
plus non-ASCII text, so every renderer that embeds a string in SQL text
(:func:`sql_str`, :func:`values_df`, :func:`sql_in`, :func:`sql_map`)
must give back exactly the string it was handed."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from spcht_spark.index.query import sql_esc, sql_in, sql_map, sql_str, values_df

SPECIAL = ["\\", "'", '"', "{", "}", "\\'", "''", "\\\\", "\\n", "\\u0041", "é", "中", "😀"]

text_st = st.lists(
    st.one_of(
        st.sampled_from(SPECIAL),
        st.characters(min_codepoint=32, blacklist_categories=("Cs",)),
    ),
    max_size=8,
).map("".join)


@given(st.lists(text_st, min_size=1, max_size=6))
@settings(max_examples=40, deadline=None)
def test_string_literals_round_trip(spark, strings):
    row = spark.sql(
        f"SELECT array({', '.join(sql_str(s) for s in strings)}) AS lits, "
        f"array({sql_in(strings)}) AS ins"
    ).collect()[0]
    assert list(row["lits"]) == strings
    assert list(row["ins"]) == strings

    keys = sorted(set(strings))
    m = spark.sql(f"SELECT {sql_map([(k, k) for k in keys], sql_str)} AS m")
    assert m.collect()[0]["m"] == {k: k for k in keys}
    # the templated path (spark.sql with frame arguments) needs sql_esc
    templated = spark.sql(
        f"SELECT {sql_esc(sql_map([(k, k) for k in keys], sql_str))} AS m "
        "FROM {t}",
        t=spark.range(1),
    )
    assert templated.collect()[0]["m"] == {k: k for k in keys}

    rows = [(i, s) for i, s in enumerate(strings)]
    vdf = values_df(spark, rows, ["i", "s"])
    assert sorted((r["i"], r["s"]) for r in vdf.collect()) == rows
    hits = vdf.where(f"s IN ({sql_in(strings)})").count()
    assert hits == len(strings)
