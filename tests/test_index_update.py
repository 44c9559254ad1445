"""Incremental index maintenance must be indistinguishable from a full
rebuild: on a planted delta (inserts + modifications + deletes),
``update_index(build_index(base), delta)`` equals ``build_index(final)``
on doclens, dictionary, stats and blocks — including the varbyte
binaries and the impacts lanes. Blocks store no avgdl-dependent value,
so a delta leaves every untouched block byte for byte, and the bound a
query derives from a block's impacts equals the max over its postings
at any avgdl. The update keeps no tokens table. Reference flow: delta
fetch → delete → re-insert (Spcht/Core/WorkOrder.py:702-707, 875-942)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spcht_spark.index.build import build_index
from spcht_spark.index.update import update_index

SPAN = 64


def _canon(df, keys):
    pdf = df.toPandas()
    return pdf.sort_values(keys).reset_index(drop=True)[sorted(pdf.columns)]


def _lists(lane) -> list[list[int]]:
    return [list(map(int, v)) for v in lane]


def _assert_tables_equal(full, incr, skip=()):
    for name, keys in [
        ("tokens", ["doc_id", "term"]),
        ("doclens", ["doc_id"]),
        ("dictionary", ["term"]),
        ("stats", ["n_docs"]),
        ("blocks", ["term", "shard", "block_seq"]),
    ]:
        if name in skip:
            continue
        a = _canon(getattr(full, name), keys)
        b = _canon(getattr(incr, name), keys)
        assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)} rows"
        for col in a.columns:
            av, bv = a[col], b[col]
            if av.dtype.kind == "f":
                # bit-exact contract (same int64 decode, same float expr)
                assert (av.to_numpy() == bv.to_numpy()).all(), f"{name}.{col}"
            elif col.startswith("imp_"):  # array lanes, element-wise
                assert _lists(av) == _lists(bv), f"{name}.{col}"
            else:
                assert av.equals(bv), f"{name}.{col}"


@pytest.fixture(scope="module")
def delta_setup(spark, small_corpus):
    """final = small_corpus (400 docs). base = final with docs 370-399
    missing (to be inserted), docs 0-19 truncated (to be modified), and
    10 doomed docs at ids 1000+ (to be deleted)."""
    doomed = spark.createDataFrame(
        [
            (1000 + i, "org0/doomed", f"tmp/doomed{i}.py", "c" * 40, "python",
             f"return doomed{i} {{ }} if else import node42 ;", "")
            for i in range(10)
        ],
        small_corpus.schema,
    )
    truncated = small_corpus.filter(F.col("doc_id") < 20).withColumn(
        "content", F.substring("content", 1, 25)
    )
    base = (
        small_corpus.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 370))
        .unionByName(truncated)
        .unionByName(doomed)
    )
    changed = small_corpus.filter(
        (F.col("doc_id") < 20) | (F.col("doc_id") >= 370)
    ).select("doc_id", "content")
    deleted = doomed.select("doc_id")
    return base.cache(), changed.cache(), deleted.cache()


def test_incremental_equals_full_rebuild(spark, small_corpus, delta_setup):
    """The delta path reads no tokens table, retained or not: the old
    postings come from decoding the touched shards' blocks, and every
    table matches the full rebuild bit-for-bit."""
    base, changed, deleted = delta_setup
    base_idx = build_index(spark, base, shard_span=SPAN)
    assert base_idx.tokens is not None  # present, and ignored
    incr = update_index(spark, base_idx, changed, deleted)
    assert incr.tokens is None
    assert (incr.shard_span, incr.tokenizer) == (SPAN, "arrow")
    full = build_index(spark, small_corpus, shard_span=SPAN)
    _assert_tables_equal(full, incr, skip=("tokens",))


def test_incremental_without_tokens_stage(spark, small_corpus, delta_setup):
    """The tokens table is optional state: with it deleted, the update
    recovers the delta's old postings by decoding the touched shards'
    blocks — and every remaining table still matches the full rebuild
    bit-for-bit."""
    import dataclasses

    base, changed, deleted = delta_setup
    base_idx = dataclasses.replace(
        build_index(spark, base, shard_span=SPAN), tokens=None
    )
    incr = update_index(spark, base_idx, changed, deleted)
    assert incr.tokens is None
    full = build_index(spark, small_corpus, shard_span=SPAN)
    _assert_tables_equal(full, incr, skip=("tokens",))


def test_update_tokenizer_from_index(spark, small_corpus, delta_setup):
    """A ``ws``-built index is updated with the ``ws`` tokenizer it
    records — no tokenizer argument — and equals the ``ws`` rebuild."""
    base, changed, deleted = delta_setup
    base_idx = build_index(spark, base, tokenizer="ws", shard_span=SPAN)
    incr = update_index(spark, base_idx, changed, deleted)
    full = build_index(spark, small_corpus, tokenizer="ws", shard_span=SPAN)
    _assert_tables_equal(full, incr, skip=("tokens",))


def test_update_index_checkpoints_once(spark, small_index, delta_setup, monkeypatch):
    """The delta's eager work is one barrier: ``update_index`` builds one
    frame of tagged ids and removed and added postings, and checkpoints
    it once; every other input of the new tables is a lazy projection
    of that frame."""
    _, changed, deleted = delta_setup
    frame = type(changed)  # the session's concrete DataFrame class
    calls = []
    checkpoint = frame.localCheckpoint

    def counted(self, *args, **kwargs):
        calls.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", counted)
    update_index(spark, small_index, changed, deleted)
    assert len(calls) == 1


def test_dictionary_delta_signed_postings(spark, small_corpus, delta_setup):
    """One signed aggregate: the base dictionary merged with the delta's
    removed (−1) and added (+1) postings equals the rebuild's dictionary
    (exact ints; terms whose df drops to 0 vanish)."""
    from spcht_spark.index.build import build_tokens
    from spcht_spark.index.update import dictionary_delta

    base, changed, deleted = delta_setup
    base_idx = build_index(spark, base, shard_span=SPAN)
    touched = changed.select("doc_id").unionByName(deleted)
    removed = base_idx.tokens.join(touched, "doc_id", "semi")
    added = build_tokens(changed)
    postings = removed.select("term", "tf", F.lit(-1).alias("sign")).unionByName(
        added.select("term", "tf", F.lit(1).alias("sign"))
    )
    got = _canon(dictionary_delta(base_idx.dictionary, postings), ["term"])
    want = _canon(build_index(spark, small_corpus, shard_span=SPAN).dictionary, ["term"])
    pd.testing.assert_frame_equal(got, want)


def test_update_refuses_missing_build_params(spark, small_index, delta_setup):
    import dataclasses

    _, changed, deleted = delta_setup
    for name in ("shard_span", "tokenizer"):
        idx = dataclasses.replace(small_index, **{name: None})
        with pytest.raises(ValueError, match=f"records no {name}"):
            update_index(spark, idx, changed, deleted)


def test_update_refuses_positional_index(spark, small_corpus, delta_setup):
    """The delta path re-encodes without positions: a positional index
    is refused with a ValueError, not an unresolved ``pos_bin``."""
    from spcht_spark.index.phrase import build_positional_index

    _, changed, deleted = delta_setup
    pidx = build_positional_index(
        spark, small_corpus.filter(F.col("doc_id") < 40), shard_span=SPAN
    )
    with pytest.raises(ValueError, match="rebuild"):
        update_index(spark, pidx, changed, deleted)


@pytest.fixture(scope="module")
def committed_base(spark, delta_setup, tmp_path_factory):
    """A span-64 ladder build of the delta base (tokens stage retained),
    committed once; tests update copies of it."""
    from spcht_spark.plans.indexer import index_order, run_index_order

    base, _, _ = delta_setup
    workdir = str(tmp_path_factory.mktemp("committed") / "base")
    run_index_order(spark, index_order(
        workdir, "t-base", lambda s: base, shard_span=SPAN, verify_sha256=False
    ))
    return workdir


def _copy_committed(src, tmp_path, name):
    import shutil

    dst = str(tmp_path / name)
    shutil.copytree(src, dst)
    return dst


def test_apply_update_without_tokens_dir(
    spark, small_corpus, delta_setup, committed_base, tmp_path
):
    """Committed-index update after the tokens stage dir was deleted:
    load → block-decode update → swap; reloaded index matches the
    full rebuild on every remaining table."""
    import shutil

    from spcht_spark.index.update import apply_update

    _, changed, deleted = delta_setup
    workdir = _copy_committed(committed_base, tmp_path, "idx_notok")
    shutil.rmtree(f"{workdir}/tokens")
    updated = apply_update(spark, workdir, changed, deleted, run_id="t-delta")
    assert updated.tokens is None
    full = build_index(spark, small_corpus, shard_span=SPAN)
    _assert_tables_equal(full, updated, skip=("tokens",))


def test_apply_update_span_mismatch_raises(
    spark, delta_setup, committed_base, tmp_path
):
    """``shard_span=`` is a check only: a value the manifest disagrees
    with raises before anything is written."""
    import os

    from spcht_spark.index.update import apply_update

    _, changed, deleted = delta_setup
    workdir = _copy_committed(committed_base, tmp_path, "idx_mismatch")
    before = sorted(os.listdir(workdir))
    with pytest.raises(ValueError, match="shard_span"):
        apply_update(spark, workdir, changed, deleted, shard_span=SPAN * 2)
    assert sorted(os.listdir(workdir)) == before


def test_update_is_idempotent(spark, small_corpus, delta_setup):
    """Delete-then-reinsert semantics: re-sending the same delta changes
    nothing (the reference re-sends whole Solr pages on resume)."""
    base, changed, deleted = delta_setup
    idx1 = update_index(
        spark, build_index(spark, base, shard_span=SPAN), changed, deleted
    )
    # materialize once so the second update doesn't recompute the first
    for t in ("doclens", "dictionary", "stats", "blocks"):
        setattr(idx1, t, getattr(idx1, t).localCheckpoint())
    idx2 = update_index(spark, idx1, changed, deleted)
    _assert_tables_equal(idx1, idx2, skip=("tokens",))


def test_untouched_groups_not_rebuilt(spark, small_corpus, delta_setup):
    """The efficiency contract: blocks of (term, shard) groups the delta
    never touches are carried over unchanged — every column, the posting
    binaries and the impacts lanes included — although the delta moves
    avgdl."""
    base, changed, deleted = delta_setup
    base_idx = build_index(spark, base, shard_span=SPAN)
    touched_ids = changed.select("doc_id").unionByName(deleted).distinct()
    # touched terms = old tokens of touched docs (base index: covers the
    # deleted doomed docs' vocabulary) ∪ new tokens of changed docs
    touched_terms = {
        r["term"]
        for r in base_idx.tokens.join(touched_ids, "doc_id", "semi")
        .select("term")
        .unionByName(
            build_index(spark, small_corpus, shard_span=SPAN)
            .tokens.join(touched_ids, "doc_id", "semi")
            .select("term")
        )
        .distinct()
        .collect()
    }
    incr = update_index(spark, base_idx, changed, deleted)
    old = base_idx.blocks.toPandas()
    new = incr.blocks.toPandas()
    untouched_old = old[~old.term.isin(touched_terms)]
    merged = untouched_old.merge(
        new, on=["term", "shard", "block_seq"], suffixes=("_o", "_n")
    )
    assert len(merged) == len(untouched_old)
    stats = [float(i.stats.collect()[0]["avgdl"]) for i in (base_idx, incr)]
    assert stats[0] != stats[1]
    for col in old.columns:
        if col in ("term", "shard", "block_seq"):
            continue
        o, n = merged[f"{col}_o"], merged[f"{col}_n"]
        if col.startswith("imp_"):
            assert _lists(o) == _lists(n), col
        else:
            assert (o == n).all(), col


def test_apply_update_persisted(
    spark, small_corpus, delta_setup, committed_base, tmp_path
):
    """Committed-index update: stage dirs swapped atomically, manifest
    records the update, reloaded index equals the full rebuild. With no
    span argument the delta shards at the recorded span (64, not the
    default), and the retained tokens stage is deleted — it would
    describe the pre-update corpus."""
    import json
    import os

    from spcht_spark.index.build import DEFAULT_SHARD_SPAN
    from spcht_spark.index.update import apply_update

    assert DEFAULT_SHARD_SPAN != SPAN
    _, changed, deleted = delta_setup
    workdir = _copy_committed(committed_base, tmp_path, "idx")
    assert os.path.isdir(os.path.join(workdir, "tokens"))
    updated = apply_update(spark, workdir, changed, deleted, run_id="t-delta")
    assert not os.path.exists(os.path.join(workdir, "tokens"))
    assert updated.tokens is None and updated.shard_span == SPAN
    full = build_index(spark, small_corpus, shard_span=SPAN)
    _assert_tables_equal(full, updated, skip=("tokens",))
    with open(os.path.join(workdir, "manifest.json")) as fh:
        m = json.load(fh)
    assert m["params"]["shard_span"] == SPAN
    assert m["updates"][0]["run_id"] == "t-delta"
    assert m["updates"][0]["changed"] == 50
    assert m["updates"][0]["deleted"] == 10
    assert not any(p.endswith(".new") for p in os.listdir(workdir))


def test_reopened_index_stats_equal_rebuild(
    spark, small_corpus, delta_setup, committed_base, tmp_path
):
    """After apply_update, a handle reopened with load_index answers N,
    avgdl and every term's df (through its idf: for a fixed N, idf is
    strictly decreasing in df) on the driver, with no Spark job, exactly
    as a rebuild of the final corpus does through its one job."""
    from spcht_spark.index.query import stats_and_idfs
    from spcht_spark.index.update import apply_update
    from spcht_spark.plans.indexer import load_index

    _, changed, deleted = delta_setup
    workdir = _copy_committed(committed_base, tmp_path, "idx_stats")
    apply_update(spark, workdir, changed, deleted, run_id="t-delta")
    full = build_index(spark, small_corpus, shard_span=SPAN)
    terms = sorted(r["term"] for r in full.dictionary.select("term").collect())
    terms += ["doomed3", "zzz_absent"]  # deleted by the delta; never indexed
    want = stats_and_idfs(full.dictionary, full.stats, terms)

    reopened = load_index(spark, workdir)
    sc = spark.sparkContext
    sc.setJobGroup("reopened-stats", "stats_and_idfs")
    try:
        got = stats_and_idfs(reopened.dictionary, reopened.stats, terms)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("reopened-stats") == []
    assert got == want
    assert len(got[1]) == len(terms) - 2


def test_apply_update_skew_equals_rebuild(
    spark, small_corpus, delta_setup, committed_base, tmp_path
):
    """The committed skew stage after a delta (aggregated from the
    written blocks.new) equals the skew stage of a from-scratch ladder
    build of the final corpus, row for row, and stays bounded."""
    from spcht_spark.index.update import apply_update
    from spcht_spark.plans.indexer import index_order, run_index_order, skew_report

    _, changed, deleted = delta_setup
    workdir = _copy_committed(committed_base, tmp_path, "idx_skew")
    apply_update(spark, workdir, changed, deleted, run_id="t-delta")
    fulldir = str(tmp_path / "idx_skew_full")
    run_index_order(spark, index_order(
        fulldir, "t-full", lambda s: small_corpus, shard_span=SPAN,
        verify_sha256=False,
    ))
    got = _canon(spark.read.parquet(f"{workdir}/skew"), ["log2_bucket"])
    want = _canon(spark.read.parquet(f"{fulldir}/skew"), ["log2_bucket"])
    assert len(want) > 1
    pd.testing.assert_frame_equal(got, want)
    assert skew_report(spark, workdir, SPAN)["bounded"]


@pytest.mark.parametrize("span", [SPAN, 1024])
def test_impact_bounds_equal_block_max(spark, small_corpus, delta_setup, span):
    """The bound ``_TermCursor`` derives from a block's impacts equals
    max(bm25_part) over the block's decoded postings, bit for bit, at
    the committed avgdl, at ×0.97 and ×1.03, and at the avgdl after a
    delta — on the base index and on the updated one. Span 64 spreads
    every term over many shards; span 1024 gives hot terms full
    128-posting blocks."""
    from spcht_spark.index.build import bm25_part
    from spcht_spark.index.compress import BLOCK_SIZE, varbyte_decode
    from spcht_spark.index.wand import _TermCursor

    base, changed, deleted = delta_setup
    base_idx = build_index(spark, base, shard_span=span)
    incr = update_index(spark, base_idx, changed, deleted)
    avgdl, after = (float(i.stats.collect()[0]["avgdl"]) for i in (base_idx, incr))
    assert avgdl != after
    for idx in (base_idx, incr):
        pdf = idx.blocks.toPandas()
        assert (pdf["n_docs"] == 1).any()
        assert (pdf["n_docs"] == BLOCK_SIZE).any() == (span > BLOCK_SIZE)
        # one cursor over every block: unique block_seq keeps row order
        pdf["block_seq"] = np.arange(len(pdf))
        tfs = [varbyte_decode(b).astype(np.int64) for b in pdf["tfs_bin"]]
        dls = [varbyte_decode(b).astype(np.int64) for b in pdf["dls_bin"]]
        starts = np.cumsum([0] + [len(t) for t in tfs[:-1]])
        for a in (avgdl, avgdl * 0.97, avgdl * 1.03, after):
            want = np.maximum.reduceat(
                bm25_part(np.concatenate(tfs), np.concatenate(dls), a), starts
            )
            for idf in (1.0, 1.7):
                got = _TermCursor("t", idf, pdf, a).bounds
                assert np.array_equal(
                    got.view(np.int64), (idf * want).view(np.int64)
                ), (span, a, idf)


def test_load_index_refuses_pre_impacts_layout(spark, committed_base, tmp_path):
    """A committed index whose blocks store a ``max_part`` bound instead
    of impacts lanes is refused by name, not read with wrong bounds."""
    import shutil

    from spcht_spark.plans.indexer import load_index

    workdir = _copy_committed(committed_base, tmp_path, "idx_old_layout")
    old = (
        spark.read.parquet(f"{workdir}/blocks")
        .drop("imp_tf", "imp_dl")
        .withColumn("max_part", F.lit(1.0))
    )
    old.write.parquet(f"{workdir}/blocks.old")
    shutil.rmtree(f"{workdir}/blocks")
    shutil.move(f"{workdir}/blocks.old", f"{workdir}/blocks")
    with pytest.raises(ValueError, match="imp_tf.*rebuild"):
        load_index(spark, workdir)


def test_delete_by_query_equals_rebuild(spark, small_corpus, small_index):
    """delete_by_query('return AND import') must leave every index
    table equal to a from-scratch build over the surviving docs —
    including varbyte binaries (same delta path as id-deletes)."""
    from spcht_spark.index.update import delete_by_query
    from spcht_spark.oracle import tokenize_py

    got = delete_by_query(spark, small_index, "return AND import")
    pdf = small_corpus.select("doc_id", "content").toPandas()
    doomed = {
        int(r.doc_id)
        for r in pdf.itertuples()
        if {"return", "import"} <= set(tokenize_py(r.content))
    }
    assert doomed, "probe query must match some docs"
    survivors = small_corpus.filter(~F.col("doc_id").isin(list(doomed)))
    full = build_index(spark, survivors, shard_span=SPAN)
    _assert_tables_equal(full, got, skip=("tokens",))


def test_child_topk_expands_top_parents(spark, small_index, small_corpus):
    """Children of the top parent carry the parent's (max) score; every
    returned doc belongs to a top-parent group; ranks are contiguous."""
    from spcht_spark.index.join import child_topk, parent_topk
    from spcht_spark.index.query import exact_topk

    attrs = small_corpus.select("doc_id", "repo")
    scored = exact_topk(
        spark, small_index.blocks, small_index.doclens,
        small_index.dictionary, small_index.stats,
        [("q", ["return", "import"], 1_000_000)],
    ).select("query_id", "doc_id", "score")
    parents = {
        r["parent"]: r["score"]
        for r in parent_topk(scored, attrs, "repo", {"q": 2}).collect()
    }
    kids = child_topk(
        scored, attrs, "repo", {"q": 50}, parent_ks={"q": 2}
    ).collect()
    assert kids
    by_doc = {r["doc_id"]: r for r in kids}
    members = {
        int(r.doc_id): str(r.repo)
        for r in small_corpus.select("doc_id", "repo").toPandas().itertuples()
    }
    for r in kids:
        assert r["parent"] in parents            # only top parents expand
        assert members[r["doc_id"]] == r["parent"]
        assert r["score"] == pytest.approx(parents[r["parent"]])
    ranks = sorted(r["rank"] for r in kids)
    assert ranks == list(range(1, len(ranks) + 1))
    assert len(by_doc) == len(kids)              # no doc twice


def test_realtime_get_order_and_absent(spark, small_corpus):
    """/get returns request order, omits absent ids, prunes to fl."""
    from spcht_spark.index.search import realtime_get

    out = realtime_get(
        small_corpus, [5, 99999, 2, 11], fl=["repo"]
    ).collect()
    assert [r["doc_id"] for r in out] == [5, 2, 11]
    assert out[0].asDict().keys() == {"doc_id", "repo"}


def test_realtime_get_duplicate_ids(spark, small_corpus):
    """Repeated ids return each doc once, at its first request position
    (create_map would reject the duplicate keys)."""
    from spcht_spark.index.search import realtime_get

    out = realtime_get(small_corpus, [3, 1, 3]).collect()
    assert [r["doc_id"] for r in out] == [3, 1]
