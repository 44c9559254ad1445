"""Catalyst tokenizer shapes: the independent cross-check for the Arrow
inversion (spcht_spark.index.tokenize.tokens).

Pure JVM expressions, no Python stage: ``regexp_extract_all`` over
TOKEN_REGEX (rule ``"arrow"``) or ``split(content, ' ')`` (rule ``"ws"``)
→ explode → drop empties → token steps via the analyzer chain's SQL
form (``fold_token_sql``) → groupBy count → dl as a per-doc window sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spcht_spark.index.analyze import fold_token_sql, token_steps
from spcht_spark.index.tokenize import TOKEN_REGEX


def tokens_catalyst(
    corpus: DataFrame, tokenizer: str = "arrow", analyzer: str | None = None
) -> DataFrame:
    """(doc_id, term, tf, dl), row-identical to ``tokens`` by contract."""
    if tokenizer == "arrow":
        # regexp_extract_all needs the pattern escaped into a SQL literal
        pat = TOKEN_REGEX.replace("\\", "\\\\")
        terms = F.expr(f"regexp_extract_all(content, '{pat}', 0)")
    else:
        terms = F.split("content", " ")
    toks = corpus.select("doc_id", F.explode(terms).alias("term")).filter(
        F.col("term") != ""
    )
    if token_steps(analyzer):
        toks = toks.withColumn(
            "term", F.expr(fold_token_sql("term", analyzer))
        ).filter(F.col("term").isNotNull())
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return tf.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
