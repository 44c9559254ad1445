"""Index build: tokenizer equivalence, codec round-trip, block layout."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from spcht_spark.index.build import block_impacts, build_index
from spcht_spark.index.compress import (
    segmented_positions,
    varbyte_decode,
    varbyte_encode,
    varbyte_encode_segments,
)
from spcht_spark.index.query import decode_blocks
from spcht_spark.index.tokenize import tokens
from spcht_spark.oracle import Bm25Oracle

from catalyst_tokens import tokens_catalyst


def test_varbyte_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(5):
        arr = rng.integers(0, 2**45, size=500).astype(np.uint64)
        assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)
    assert np.array_equal(varbyte_decode(varbyte_encode(np.array([0], dtype=np.uint64))), [0])
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""


def test_postings_block_roundtrip():
    """The build's encode (delta gaps reset per segment, one varbyte
    pass sliced by varbyte_encode_segments) against the decode the
    query and phrase paths run (varbyte_decode + segmented_positions),
    as one block and split into two."""
    docs = np.array([3, 17, 18, 900, 12345], dtype=np.int64)
    tfs = np.array([1, 5, 2, 1, 9], dtype=np.int64)
    for seg_starts in (np.array([0]), np.array([0, 2])):
        seg_lens = np.diff(np.append(seg_starts, len(docs)))
        gaps = np.diff(docs.astype(np.uint64), prepend=np.uint64(0))
        gaps[seg_starts] = docs[seg_starts]  # delta chain resets per segment
        db = varbyte_encode_segments(gaps, seg_starts)
        tb = varbyte_encode_segments(tfs.astype(np.uint64), seg_starts)
        assert len(db) == len(tb) == len(seg_starts)
        d2 = segmented_positions(varbyte_decode(b"".join(db)), seg_lens)
        t2 = np.concatenate([varbyte_decode(b) for b in tb])
        assert np.array_equal(d2, docs)
        assert np.array_equal(t2.astype(np.int64), tfs)


def test_block_impacts_are_the_pareto_frontier():
    """Per block, block_impacts keeps exactly the (tf, dl) pairs no
    other posting of the block dominates (tf' >= tf and dl' <= dl),
    once each, tf ascending — against a brute-force frontier, on
    random blocks with duplicate and dominated pairs, and with values
    large enough that the single int64 sort key would overflow."""
    rng = np.random.default_rng(11)

    def frontier(tfs, dls):
        pairs = set(zip(tfs.tolist(), dls.tolist()))
        return sorted(
            p for p in pairs
            if not any(q != p and q[0] >= p[0] and q[1] <= p[1] for q in pairs)
        )

    for trial in range(60):
        big = trial % 4 == 0
        n = int(rng.integers(4 if big else 1, 400))
        tfs = rng.integers(1, 2**30 if big else 40, n)
        dls = np.minimum(tfs + rng.integers(0, 2**31 if big else 300, n), 2**31 - 1)
        starts = np.unique(np.append(rng.integers(0, n, int(rng.integers(0, 12))), 0))
        if big:  # single key would need >= 2^63: the three-key sort runs
            tfs[0], dls[0], starts = 2**30, 2**31 - 1, np.arange(4)
        imp_tf, imp_dl = block_impacts(tfs, dls, starts)
        ends = np.append(starts[1:], n)
        assert len(imp_tf) == len(imp_dl) == len(starts)
        for s, e, it, idl in zip(starts, ends, imp_tf, imp_dl):
            assert it.dtype == idl.dtype == np.int32
            assert list(zip(it.tolist(), idl.tolist())) == frontier(tfs[s:e], dls[s:e])


def test_tokenizers_agree(spark, small_corpus):
    for rule in ("arrow", "ws"):
        a = tokens(small_corpus, rule).orderBy("doc_id", "term").toPandas()
        j = tokens_catalyst(small_corpus, rule).orderBy("doc_id", "term").toPandas()
        assert a.equals(j), rule


def test_tokens_match_oracle(spark, small_corpus, small_corpus_pd):
    oracle = Bm25Oracle(small_corpus_pd)
    got = tokens(small_corpus).toPandas()
    tf_map = {(int(r.doc_id), r.term): int(r.tf) for r in got.itertuples()}
    want = {
        (doc, t): tf for doc, c in oracle.tf.items() for t, tf in c.items()
    }
    assert tf_map == want


def test_blocks_cover_all_postings(spark, small_index, small_corpus_pd):
    # Tiny shard_span forces hot terms across many shards — decoded blocks
    # must equal the token table exactly, with disjoint ordered doc ranges.
    idx = small_index
    dec = decode_blocks(idx.blocks).orderBy("term", "doc_id").toPandas()
    tok = idx.tokens.orderBy("term", "doc_id").toPandas()
    assert dec[["term", "doc_id", "tf"]].reset_index(drop=True).equals(
        tok[["term", "doc_id", "tf"]].reset_index(drop=True)
    )
    sharded = idx.blocks.groupBy("term").agg(F.countDistinct("shard").alias("s")).toPandas()
    assert (sharded["s"] > 1).any(), "expected hot terms to span multiple shards"
    # doc-range sharding: per term, (shard, block_seq) order == doc order
    b = idx.blocks.orderBy("term", "shard", "block_seq").toPandas()
    for term, grp in b.groupby("term"):
        lasts = grp["last_doc"].to_numpy()
        firsts = grp["first_doc"].to_numpy()
        assert (firsts[1:] > lasts[:-1]).all(), f"overlapping blocks for {term}"
