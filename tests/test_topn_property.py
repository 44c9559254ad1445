"""Property test (hypothesis) for ``query.topn``, the engine's one
per-partition top-n: the salted two-stage and the one-stage shapes both
equal a pandas reference row for row, over ties, NULL order keys under
NULLS FIRST and NULLS LAST, empty and one-row partitions, int and
per-query map limits (k larger than the partition included) and
``part=[]``. Small frames never reach ``SALT_MIN_DOCS``, so this is what
runs the salted pre-window under test."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spcht_spark.index.query import topn

QIDS = ["a", "b'{x}", "c\\"]
GRPS = ["g0", "g1"]
# (ORDER BY text, pandas sort: (column, ascending) pairs, NULLs first?)
ORDERS = [
    ("score DESC NULLS LAST, doc_id ASC", [("score", False), ("doc_id", True)], False),
    ("score ASC NULLS FIRST, doc_id DESC", [("score", True), ("doc_id", False)], True),
    ("score DESC NULLS FIRST, doc_id ASC", [("score", False), ("doc_id", True)], True),
]
PARTS = [["query_id"], ["query_id", "grp"], []]
COLS = ["query_id", "grp", "doc_id", "score"]

rows_st = st.lists(
    st.tuples(
        st.sampled_from(QIDS),
        st.sampled_from(GRPS),
        st.one_of(st.none(), st.sampled_from([0.5, 1.0, 2.0])),  # ties
    ),
    max_size=14,
)


@st.composite
def config_st(draw):
    part = draw(st.sampled_from(PARTS))
    order = draw(st.integers(0, len(ORDERS) - 1))
    salt = draw(st.sampled_from([None, "doc_id", "grp"]))
    k = st.integers(1, 6)
    limit = (
        draw(k) if not part or draw(st.booleans())
        else {q: draw(k) for q in QIDS}
    )
    return part, order, salt, limit


def reference(pdf: pd.DataFrame, part, order, limit) -> list[tuple]:
    _, keys, nulls_first = ORDERS[order]
    s = pdf.assign(_null=pdf["score"].isna() != nulls_first)
    s = s.sort_values(
        ["_null"] + [c for c, _ in keys],
        ascending=[True] + [a for _, a in keys],
        kind="stable",
    )
    if part:
        s = s.assign(rank=s.groupby(part).cumcount() + 1)
    else:
        s = s.assign(rank=range(1, len(s) + 1))
    lim = s["query_id"].map(limit) if isinstance(limit, dict) else limit
    s = s[s["rank"] <= lim]
    return sorted(
        (r.query_id, r.grp, int(r.doc_id), None if pd.isna(r.score) else r.score,
         int(r.rank))
        for r in s.itertuples()
    )


@given(rows_st, st.lists(config_st(), min_size=4, max_size=4))
@settings(max_examples=25, deadline=None)
def test_topn_equals_pandas_reference(spark, rows, configs):
    """Each batch: one frame, four top-n shapes, unioned and collected
    in one Spark action; every shape equals the pandas reference."""
    data = [(q, g, 100 + 3 * i, s) for i, (q, g, s) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "query_id string, grp string, doc_id long, score double"
    )
    outs = [
        topn(df, part, ORDERS[order][0], limit, salt=salt)
        .selectExpr(f"{i} AS cfg", *COLS, "rank")
        for i, (part, order, salt, limit) in enumerate(configs)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    got: dict[int, list] = {i: [] for i in range(len(configs))}
    for r in out.collect():
        got[r["cfg"]].append(
            (r["query_id"], r["grp"], r["doc_id"], r["score"], r["rank"])
        )
    pdf = pd.DataFrame(data, columns=COLS)
    for i, (part, order, salt, limit) in enumerate(configs):
        assert sorted(got[i]) == reference(pdf, part, order, limit), (
            part, ORDERS[order][0], salt, limit,
        )


@pytest.mark.parametrize("salt", [None, "doc_id"])
def test_topn_cols_place_rank_and_map_limit(spark, salt):
    """``cols`` orders the output and places the rank column (the
    windows carry only ``cols``, so it names the order column); a map
    limit reads each row's query_id, and a query missing from the map
    keeps no rows."""
    df = spark.createDataFrame(
        [("a", 1, 3.0), ("a", 2, 3.0), ("a", 3, 1.0), ("b", 4, 2.0), ("z", 5, 9.0)],
        "query_id string, doc_id long, score double",
    )
    got = topn(
        df, ["query_id"], "score DESC, doc_id ASC", {"a": 2, "b": 5},
        salt=salt, rank="r", cols=["r", "doc_id", "query_id", "score"],
    )
    assert got.columns == ["r", "doc_id", "query_id", "score"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 1, "a", 3.0), (1, 4, "b", 2.0), (2, 2, "a", 3.0),
    ]
