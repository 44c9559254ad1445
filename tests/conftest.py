from __future__ import annotations

import pytest

from spcht_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("spcht_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def small_corpus_pd():
    from spcht_spark.corpus import generate_corpus_local

    return generate_corpus_local(n_docs=400, min_lines=5, max_lines=60)


@pytest.fixture(scope="session")
def small_corpus(spark, small_corpus_pd):
    from spcht_spark.corpus import generate_corpus

    df = generate_corpus(spark, n_docs=400, min_lines=5, max_lines=60, partitions=8)
    return df.cache()


@pytest.fixture(scope="session")
def small_index(spark, small_corpus):
    """Shared index over small_corpus, shard_span=64 → multi-shard terms."""
    from spcht_spark.index.build import build_index

    idx = build_index(spark, small_corpus, shard_span=64)
    idx.tokens = idx.tokens.cache()
    idx.doclens = idx.doclens.cache()
    idx.dictionary = idx.dictionary.cache()
    idx.blocks = idx.blocks.cache()
    idx.blocks.count()
    return idx


@pytest.fixture(scope="session")
def committed_small_index(spark, small_corpus, tmp_path_factory):
    """small_corpus committed through the work-order ladder at the same
    span as small_index and reopened with load_index, so its stats and
    dictionary answer term lookups on the driver."""
    from spcht_spark.plans.indexer import index_order, load_index, run_index_order

    workdir = str(tmp_path_factory.mktemp("committed_small") / "idx")
    run_index_order(spark, index_order(
        workdir, "small", lambda s: small_corpus, shard_span=64,
        verify_sha256=False,
    ))
    return load_index(spark, workdir)
