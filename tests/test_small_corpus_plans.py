"""Below SALT_MIN_DOCS every ranked surface takes the small-corpus shape
its stats row proves: no salt pre-window in the top-k, and the exact
scorer hash-partitions by query_id alone, so its aggregation and the
top-k window share one exchange."""

from __future__ import annotations

import re

import pytest

from spcht_spark.index.collapse import collapse_topk
from spcht_spark.index.fielded import build_fielded_index, fielded_topk
from spcht_spark.index.grouping import group_topk
from spcht_spark.index.phrase import phrase_topk
from spcht_spark.index.query import SALT_MIN_DOCS, exact_topk

QUERIES = [("q_ri", ["return", "import"], 5), ("q_w", ["while"], 3)]
SALT = "pmod(xxhash64("
BY_QUERY = re.compile(r"RepartitionByExpression \[query_id#\d+\]")


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture(scope="module")
def fielded(spark, small_corpus):
    return build_fielded_index(
        spark, small_corpus, ["content", "lang"], tokenizer="arrow", shard_span=64
    )


@pytest.fixture(scope="module")
def pos_index(spark, small_corpus):
    from spcht_spark.index.phrase import build_positional_index

    return build_positional_index(spark, small_corpus, mode="arrow", shard_span=64)


def test_phrase_and_fielded_rank_unsalted_below_the_salt_gate(
    spark, small_index, pos_index, fielded
):
    assert small_index.stats.collect()[0]["n_docs"] < SALT_MIN_DOCS
    phrase = phrase_topk(
        spark, pos_index.blocks, pos_index.dictionary, pos_index.stats,
        [("p0", ["return", "{"], 5)],
    )
    assert SALT not in _analyzed(phrase)
    multi = fielded_topk(spark, fielded, {"content": 1.0, "lang": 2.0}, QUERIES)
    assert SALT not in _analyzed(multi)


def test_exact_scorers_repartition_by_query_below_the_salt_gate(
    spark, small_corpus, small_index, fielded
):
    idx = small_index
    plans = {
        "exact_topk": exact_topk(
            spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats, QUERIES
        ),
        "collapse_topk": collapse_topk(
            spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
            small_corpus, "lang", QUERIES,
        ),
        "group_topk": group_topk(
            spark, idx.blocks, idx.doclens, idx.dictionary, idx.stats,
            small_corpus, "lang", QUERIES,
        ),
        "fielded_topk": fielded_topk(spark, fielded, {"content": 1.0}, QUERIES),
    }
    for name, df in plans.items():
        assert BY_QUERY.search(_analyzed(df)), name
