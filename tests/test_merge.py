"""Incremental index maintenance (operators/merge.py): LSM upsert merge
and delete compaction must be VALUE-IDENTICAL to a from-scratch rebuild
of the equivalent corpus — the equality contract that makes "build a
delta, merge it in" safe at 100 TB."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.merge import (
    delete_docs,
    flat_postings,
    merge_indexes,
)
from search_engine_spark.operators.query import search
from search_engine_spark.sources.corpus import generate_corpus

from tests.conftest import TEST_CFG

QUERIES = ["banana recipe", "banana AND recipe", '"banana recipe"', "spark"]


def _index_signature(idx):
    """Order-insensitive value snapshot of a whole index: decoded flat
    postings (rounded), doc stats, term stats, globals."""
    flat = sorted(
        (
            r.term,
            r.doc_id,
            round(r.tf, 6),
            r.doc_len,
            tuple(r.positions or []),
        )
        for r in flat_postings(idx).collect()
    )
    stats = sorted(
        (r.term, r.df, round(r.idf, 9))
        for r in idx.term_stats.collect()
    )
    dl = sorted((r.doc_id, r.doc_len) for r in idx.doc_stats.collect())
    return flat, stats, dl, idx.n_docs, round(idx.avgdl, 9)


def _topk(idx, q, k=10):
    return [
        (r.doc_id, round(r.score, 9))
        for r in search(idx, q, k=k).collect()
    ]


@pytest.fixture(scope="module")
def split_corpus(spark):
    # 240 docs; A = [0, 160), B = [120, 240) — 40-doc overlap exercises
    # the upsert path (same generator+seed, so B's copy of a shared doc
    # equals A's; right-wins must still route through the replace join).
    full = generate_corpus(spark, n_docs=240, seed=7).cache()
    a = full.filter(F.col("doc_id") < 160).cache()
    b = full.filter(F.col("doc_id") >= 120).cache()
    return full, a, b


@pytest.mark.parametrize("store_arrays", [True, False])
def test_merge_equals_rebuild(spark, split_corpus, store_arrays):
    full, a, b = split_corpus
    cfg = EngineConfig(
        docs_per_shard=64, block_size=16, store_arrays=store_arrays
    )
    ia, ib = build_index(a, cfg=cfg), build_index(b, cfg=cfg)
    merged = merge_indexes(ia, ib)
    rebuilt = build_index(full, cfg=cfg)
    assert _index_signature(merged) == _index_signature(rebuilt)
    for q in QUERIES:
        assert _topk(merged, q) == _topk(rebuilt, q), q

    # one pass with tombstones: 5 is only in a, 130 in both sides, 200
    # only in the delta — a tombstone beats its same-pass upsert
    dead = [5, 130, 200]
    one_pass = merge_indexes(
        ia, ib, deleted=full.where(F.col("doc_id").isin(dead))
    )
    want = _index_signature(
        build_index(full.where(~F.col("doc_id").isin(dead)), cfg=cfg)
    )
    assert _index_signature(one_pass) == want
    assert _index_signature(delete_docs(merged, dead)) == want


def test_merge_right_wins_on_conflict(spark, split_corpus):
    full, a, b = split_corpus
    # Mutate B's copy of the overlap docs: append a token so the winner
    # is observable in the merged postings.
    b_mut = b.withColumn(
        "content",
        F.when(
            F.col("doc_id") < 160,
            F.concat(F.col("content"), F.lit(" zzzmarker")),
        ).otherwise(F.col("content")),
    )
    merged = merge_indexes(
        build_index(a, cfg=TEST_CFG), build_index(b_mut, cfg=TEST_CFG)
    )
    expected_src = a.filter(F.col("doc_id") < 120).unionByName(b_mut)
    rebuilt = build_index(expected_src, cfg=TEST_CFG)
    assert _index_signature(merged) == _index_signature(rebuilt)
    # the marker term's postings must be exactly B's overlap docs
    marker_docs = sorted(
        r.doc_id
        for r in flat_postings(merged)
        .filter(F.col("term") == "zzzmarker")
        .collect()
    )
    assert marker_docs == list(range(120, 160))


def test_merge_on_conflict_error(spark, split_corpus):
    _, a, b = split_corpus
    ia, ib = build_index(a, cfg=TEST_CFG), build_index(b, cfg=TEST_CFG)
    with pytest.raises(ValueError, match="overlap"):
        merge_indexes(ia, ib, on_conflict="error")
    # disjoint split passes
    merged = merge_indexes(
        build_index(a.filter(F.col("doc_id") < 120), cfg=TEST_CFG),
        ib,
        on_conflict="error",
    )
    assert merged.n_docs == 240


def test_merge_rejects_incompatible_cfg(spark, split_corpus):
    _, a, b = split_corpus
    ia = build_index(a, cfg=TEST_CFG)
    ib = build_index(
        b, cfg=EngineConfig(docs_per_shard=64, block_size=16, stem=False)
    )
    with pytest.raises(ValueError, match="stem"):
        merge_indexes(ia, ib)


@pytest.mark.parametrize("store_arrays", [True, False])
def test_delete_equals_rebuild(spark, split_corpus, store_arrays):
    full, a, _ = split_corpus
    cfg = EngineConfig(
        docs_per_shard=64, block_size=16, store_arrays=store_arrays
    )
    idx = build_index(full, cfg=cfg)
    pruned = delete_docs(idx, range(160, 240))
    rebuilt = build_index(a, cfg=cfg)
    assert _index_signature(pruned) == _index_signature(rebuilt)
    for q in QUERIES:
        assert _topk(pruned, q) == _topk(rebuilt, q), q


def test_delete_accepts_dataframe(spark, split_corpus):
    full, a, _ = split_corpus
    idx = build_index(full, cfg=TEST_CFG)
    ids = full.filter(F.col("doc_id") >= 160).select("doc_id")
    pruned = delete_docs(idx, ids)
    assert pruned.n_docs == 160
    assert _topk(pruned, "banana recipe") == _topk(
        build_index(a, cfg=TEST_CFG), "banana recipe"
    )


def test_merged_index_wand_and_save_roundtrip(spark, split_corpus, tmp_path):
    """A merged index must behave like any built index downstream:
    WAND search ranks identically to exhaustive, and save/load
    roundtrips."""
    from search_engine_spark.operators.index_build import Index
    from search_engine_spark.operators.wand import search_wand

    full, a, b = split_corpus
    merged = merge_indexes(
        build_index(a, cfg=TEST_CFG), build_index(b, cfg=TEST_CFG)
    )
    q = "banana recipe"
    assert [
        (r.doc_id, round(r.score, 6))
        for r in search_wand(merged, q, k=10).collect()
    ] == [(d, round(s, 6)) for d, s in _topk(merged, q)]

    path = str(tmp_path / "merged_idx")
    merged.save(path)
    loaded = Index.load(spark, path)
    assert _topk(loaded, q) == _topk(merged, q)


@pytest.mark.parametrize("store_arrays", [True, False])
def test_clean_shards_pass_through_without_regroup(spark, store_arrays):
    """The dirty-shard fast path: an append-only delta landing in NEW
    shards must leave the main index's clean-shard id/tf/position
    binaries byte-identical (they are rescored in place, never
    decoded-shuffled-regrouped) while the bm25 binaries change with the
    new global avgdl/N."""
    cfg = EngineConfig(
        docs_per_shard=64, block_size=16, store_arrays=store_arrays
    )
    full = generate_corpus(spark, 256, seed=9).cache()
    a = build_index(full.filter(F.col("doc_id") < 128), cfg=cfg)
    b = build_index(full.filter(F.col("doc_id") >= 128), cfg=cfg)
    merged = merge_indexes(a, b, on_conflict="error")

    key = lambda r: (r.term, r.shard)  # noqa: E731
    a_rows = {key(r): r for r in a.postings.collect()}
    m_rows = {key(r): r for r in merged.postings.collect()}
    clean = [k for k in a_rows if k[1] < 2]
    assert clean
    changed_bm = 0
    for k in clean:
        ar, mr = a_rows[k], m_rows[k]
        assert bytes(mr.doc_ids_enc) == bytes(ar.doc_ids_enc), k
        assert bytes(mr.tf_enc) == bytes(ar.tf_enc), k
        assert bytes(mr.pos_enc) == bytes(ar.pos_enc), k
        assert mr.n_postings == ar.n_postings
        changed_bm += bytes(mr.bm25_tf_enc) != bytes(ar.bm25_tf_enc)
    # avgdl moved, so bm25 binaries must have been rescored
    assert changed_bm > 0
    # and the rescored values equal a full rebuild's
    rebuilt = {
        key(r): r for r in build_index(full, cfg=cfg).postings.collect()
    }
    for k in clean:
        assert bytes(m_rows[k].bm25_tf_enc) == bytes(
            rebuilt[k].bm25_tf_enc
        ), k
        assert m_rows[k].block_max == rebuilt[k].block_max, k


def test_merge_keeps_base_docs_columns(spark, split_corpus):
    """Regression (ADVICE r03): a delta built from raw docs lacks
    page_rank; the merged docs projection used to keep only the column
    INTERSECTION, silently dropping the base's page_rank. It must keep
    the union — base values intact, delta rows null."""
    _, a, b = split_corpus
    a_pr = a.withColumn("page_rank", F.lit(0.25))
    b_delta = b.filter(F.col("doc_id") >= 160)  # no overlap, no page_rank
    merged = merge_indexes(
        build_index(a_pr, cfg=TEST_CFG), build_index(b_delta, cfg=TEST_CFG)
    )
    assert "page_rank" in merged.docs.columns
    rows = {r.doc_id: r.page_rank for r in
            merged.docs.select("doc_id", "page_rank").collect()}
    assert all(abs(rows[i] - 0.25) < 1e-9 for i in range(0, 160))
    assert all(rows[i] is None for i in range(160, 240))
    # sha256 projection also survives on both sides
    assert "sha256" in merged.docs.columns
    assert merged.docs.filter(F.col("sha256").isNull()).count() == 0


def test_release_unpersists_merge_chain(spark, split_corpus):
    """A per-micro-batch caller (streaming/live_index) publishes each
    merged generation then release()s it; without that, one-to-two
    cached frames per wave accumulate in the SQL CacheManager for the
    life of the stream. release() must unpersist the merge's own cache
    AND the chain that produced it (the delta build's token cache)."""
    _, a, b = split_corpus
    ia = build_index(a, cfg=TEST_CFG)
    ib = build_index(b, cfg=TEST_CFG)
    merged = merge_indexes(ia, ib)
    # force materialization (what publish_index's save() does)
    merged.postings.count()
    lvl = merged.postings.storageLevel
    assert lvl.useMemory or lvl.useDisk  # small path caches the union
    owned = list(merged.owned_caches)
    # the chain: merged postings + both sides' token caches
    assert len(owned) >= 3
    merged.release()
    assert merged.owned_caches == []
    for df in [merged.postings] + owned:
        s = df.storageLevel
        assert not (s.useMemory or s.useDisk)
    # the index stays QUERYABLE after release (caches are a perf
    # artifact, never a correctness dependency)
    assert len(_topk(merged, "spark")) > 0
