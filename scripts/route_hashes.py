"""Route-identity probe for the full-decode scorer.

Builds the tests' small corpus (``generate_corpus``, 400 docs) into an
index at shard span 64 and prints one JSON line of sha256 hashes:

* ``not_plan`` and ``attr_plan`` — the analyzed plans of
  ``boolean_matches`` over NOT and boost queries, and over an
  attribute query (the path that joins the attrs table);
* ``batch_plan`` — the analyzed plan of a ``boolean_topk`` batch that
  routes to WAND, the skipping AND and the full path;
* ``exact_or``, ``exact_and``, ``exact_mm`` — the rows of
  ``exact_topk`` under ``mode="or"``, ``mode="and"`` and
  ``min_match=2``, scores as ``float.hex``;
* ``not_rows``, ``attr_rows`` and ``batch_rows`` — the rows of the
  three boolean frames.

Plan text is normalised first: pyspark's ``_pyspark_<uuid>`` temp-view
names and Catalyst's ``#<id>`` expression ids are stripped. Equal
hashes on two commits show that the boolean routes' plans and every
score did not move.

Usage: python scripts/route_hashes.py
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spcht_spark.corpus import generate_corpus  # noqa: E402
from spcht_spark.index.boolean import boolean_matches, boolean_topk  # noqa: E402
from spcht_spark.index.build import build_index  # noqa: E402
from spcht_spark.index.query import exact_topk  # noqa: E402
from spcht_spark.session import get_spark  # noqa: E402

ATTR_QUERIES = [("a_not", "return AND NOT lang:python", 10)]
NOT_QUERIES = [
    ("n_not", "return AND NOT import", 10),
    ("n_nest", "(while OR for) AND NOT self", 10),
    ("n_boost", "return^2.5 OR import", 10),
]
BATCH = [
    ("b_or", "return OR import", 10),
    ("b_and", "while AND for", 10),
    ("b_not", "return AND NOT import", 10),
]
# k covers the corpus, so the exact rows are whole admissible sets
TERMS = [
    ("t_ri", ["return", "import", "self"], 400),
    ("t_w", ["while", "for"], 400),
    ("t_x", ["else", "node42", "zzz_absent"], 400),
]


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def plan_hash(df) -> str:
    plan = df._jdf.queryExecution().analyzed().toString()
    plan = re.sub(r"_pyspark_[0-9a-f]+", "_pyspark_", plan)
    return _sha(re.sub(r"#\d+", "#", plan))


def rows_hash(df) -> str:
    rows = sorted(
        tuple(float.hex(v) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )
    return _sha(repr(rows))


def main() -> None:
    spark = get_spark("route_hashes", cores=4, shuffle_partitions=8)
    corpus = generate_corpus(spark, n_docs=400, min_lines=5, max_lines=60, partitions=8)
    corpus = corpus.cache()
    idx = build_index(spark, corpus, shard_span=64)
    tables = (idx.blocks, idx.doclens, idx.dictionary, idx.stats)
    not_df = boolean_matches(spark, *tables, NOT_QUERIES)
    attr_df = boolean_matches(spark, *tables, ATTR_QUERIES, attrs=corpus)
    batch_df = boolean_topk(
        spark, *tables, BATCH, attrs=corpus, shard_span=idx.shard_span
    )
    out = {
        "not_plan": plan_hash(not_df),
        "attr_plan": plan_hash(attr_df),
        "batch_plan": plan_hash(batch_df),
        "exact_or": rows_hash(exact_topk(spark, *tables, TERMS)),
        "exact_and": rows_hash(exact_topk(spark, *tables, TERMS, mode="and")),
        "exact_mm": rows_hash(exact_topk(spark, *tables, TERMS, min_match=2)),
        "not_rows": rows_hash(not_df),
        "attr_rows": rows_hash(attr_df),
        "batch_rows": rows_hash(batch_df),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
