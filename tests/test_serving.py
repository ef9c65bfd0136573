"""Driver-side serving path (serving.py): rank-identity with the Spark
query path over the same saved index, plus latency sanity — the serving
tier answers warm queries without any Spark job."""

import time

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.index_build import Index, build_index
from search_engine_spark.operators.query import search
from search_engine_spark.serving import ServingIndex
from search_engine_spark.sources.corpus import generate_corpus

QUERY_SET = [
    "banana",
    "banana recipe",
    "the banana",
    "traveling",
    '"banana recipe"',
    "banana AND recipe",
    "banana OR recipe",
    "banana NOT recipe",
    '"banana recipe" AND spark',
    'spark OR "banana recipe"',
    'spark NOT "banana recipe"',
    "nosuchwordxyz",
    "partition shuffle broadcast",
]


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serve_idx"))
    docs = generate_corpus(spark, 400, seed=11).cache()
    cfg = EngineConfig(docs_per_shard=64, block_size=8)
    build_index(docs, cfg=cfg).save(d)
    idx = Index.load(spark, d, cfg=cfg)
    idx.postings = idx.postings.cache()
    idx.term_stats = idx.term_stats.cache()
    return d, idx, docs


def test_serving_rank_identity(saved):
    d, idx, _docs = saved
    srv = ServingIndex.load(d)
    assert srv.n_docs == idx.n_docs
    for mode in ("bm25", "tfidf"):
        for q in QUERY_SET:
            exp = [
                (r["doc_id"], round(r["score"], 6))
                for r in search(idx, q, k=10, mode=mode).collect()
            ]
            got = [
                (doc, round(score, 6))
                for doc, _rel, _pr, score in srv.search(q, k=10, mode=mode)
            ]
            assert [x[0] for x in got] == [x[0] for x in exp], (mode, q)
            for (_, gs), (_, es) in zip(got, exp):
                assert abs(gs - es) < 1e-6, (mode, q)


def test_serving_pagerank_mix(saved, spark):
    d, idx, docs = saved
    pr_df = docs.select(
        "doc_id",
        ((F.crc32(F.col("doc_id").cast("string")) % 997) / 997.0).alias(
            "page_rank"
        ),
    )
    pr_map = {
        int(r["doc_id"]): float(r["page_rank"]) for r in pr_df.collect()
    }
    srv = ServingIndex.load(d, page_rank=pr_map)
    for q in ["banana recipe", "banana AND recipe", '"banana recipe"']:
        exp = [
            (r["doc_id"], round(r["score"], 6))
            for r in search(idx, q, k=10, page_rank=pr_df).collect()
        ]
        got = [
            (doc, round(score, 6))
            for doc, _rel, _pr, score in srv.search(q, k=10)
        ]
        assert [x[0] for x in got] == [x[0] for x in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert abs(gs - es) < 1e-6, q


def test_serving_latency_and_cache(saved):
    """Warm serving must answer well under the reference's 50 ms bar
    and the LRU must hit in sub-millisecond territory. Generous CI
    bounds — BENCH.md carries the measured numbers."""
    d, _idx, _docs = saved
    srv = ServingIndex.load(d)
    for q in QUERY_SET:  # warm the decode cache
        srv.cached_search(q, k=10)
    t0 = time.perf_counter()
    for q in QUERY_SET:
        srv.search(q, k=10)
    warm_ms = (time.perf_counter() - t0) * 1000 / len(QUERY_SET)
    t0 = time.perf_counter()
    for q in QUERY_SET:
        srv.cached_search(q, k=10)
    cached_ms = (time.perf_counter() - t0) * 1000 / len(QUERY_SET)
    assert warm_ms < 50, warm_ms
    assert cached_ms < 5, cached_ms
    assert srv.cache_hits >= len(QUERY_SET)


def test_serving_phrase_component_cache(saved, monkeypatch):
    """Reference parity (QueryIndex.java:112,199-210,332): phrase
    components are cached unbounded, separate from the LRU — a warm
    phrase query never re-runs the gap-3 position scan. The cache holds
    only each phrase's sorted matching doc ids."""
    import numpy as np

    import search_engine_spark.serving as serving_mod

    d, _idx, _docs = saved
    srv = ServingIndex.load(d)
    q = '"banana recipe"'
    first = srv.search(q, k=10)
    docs = srv._phrase_cache[q]  # populated by the first evaluation
    assert docs.dtype == np.int64 and docs.size
    assert np.array_equal(docs, np.unique(docs))
    assert {doc for doc, *_ in first} <= set(docs.tolist())

    def boom(*_a, **_k):  # pragma: no cover - should never run
        raise AssertionError("phrase matcher re-ran on a cached phrase")

    monkeypatch.setattr(serving_mod, "phrase_match", boom)
    assert srv.search(q, k=10) == first
    # boolean queries embedding the same phrase component hit it too
    srv.search('spark OR "banana recipe"', k=10)


def test_serving_lru_eviction(saved):
    d, _idx, _docs = saved
    srv = ServingIndex.load(d)
    srv._cache_size = 3
    for q in ["a b", "c d", "e f", "g h"]:
        srv.cached_search(q)
    assert len(srv._cache) == 3
    srv.cached_search("a b")  # evicted -> miss again
    assert srv.cache_misses == 5


def test_serving_paged_matches_spark(saved):
    from search_engine_spark.operators.query import search_paged

    d, idx, _docs = saved
    srv = ServingIndex.load(d)
    q = "banana recipe"
    for page, size in [(0, 5), (1, 5), (3, 7)]:
        sdf, stotal = search_paged(idx, q, page, size)
        exp = [
            (r["doc_id"], round(r["score"], 6)) for r in sdf.collect()
        ]
        rows, total = srv.search_paged(q, page, size)
        got = [(doc, round(s, 6)) for doc, _r, _p, s in rows]
        assert total == stotal
        assert [x[0] for x in got] == [x[0] for x in exp], (page, size)
    # beyond last page -> (empty, total)
    rows, total = srv.search_paged(q, 10_000, 10)
    assert rows == [] and total == stotal
    with pytest.raises(ValueError):
        srv.search_paged(q, -1, 5)


def test_serving_suggest_matches_spark(saved):
    from search_engine_spark.operators.suggestions import prefix_suggest

    d, idx, _docs = saved
    srv = ServingIndex.load(d)
    for p in ["s", "ba", "zz"]:
        exp = [r["term"] for r in prefix_suggest(idx, p, k=5).collect()]
        assert srv.suggest(p, k=5) == exp, p


def test_serving_codec_profile_bit_identity(spark, tmp_path_factory):
    """On the store_arrays=False profile both paths score the SAME
    float32-decoded values, so serving is bit-identical (not just
    rank-identical) to the Spark codec read path."""
    d = str(tmp_path_factory.mktemp("serve_codec"))
    docs = generate_corpus(spark, 300, seed=23).cache()
    cfg = EngineConfig(docs_per_shard=64, store_arrays=False)
    build_index(docs, cfg=cfg).save(d)
    from search_engine_spark.operators.index_build import Index

    idx = Index.load(spark, d, cfg=cfg)
    idx.postings = idx.postings.cache()
    srv = ServingIndex.load(d)
    for q in ["banana recipe", "banana AND recipe", "spark"]:
        exp = [
            (r["doc_id"], r["score"])
            for r in search(idx, q, k=10).collect()
        ]
        got = [
            (doc, score) for doc, _r, _p, score in srv.search(q, k=10)
        ]
        assert [x[0] for x in got] == [x[0] for x in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-12, abs=1e-15), q


def test_serving_snippets_match_spark_operator(saved, tmp_path):
    """Serving-tier snippets (result-page parity): the pure-Python
    sentence snippet over a row-group-pruned pyarrow doc fetch must
    equal the Spark bulk operator byte-for-byte on the same docs."""
    from search_engine_spark.operators.snippets import make_snippets

    d, idx, docs = saved
    docs_p = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_p)
    srv = ServingIndex.load(d)
    with pytest.raises(ValueError, match="attach_docs"):
        srv.fetch_docs([1])
    srv.attach_docs(docs_p, text_col="content")

    words = ["banana", "recipe"]
    top = [doc for doc, *_ in srv.search("banana recipe", k=10)]
    got = srv.snippets(top, words)
    exp = {
        r["doc_id"]: r["snippet"]
        for r in make_snippets(
            docs.filter(F.col("doc_id").isin(top)),
            words,
            width=150,
            text_col="content",
            mode="sentence",
        ).collect()
    }
    assert got == {k: exp[k] for k in got}
    # unknown id falls back to NO_PREVIEW, never a crash
    from search_engine_spark.functions.snippets_py import NO_PREVIEW

    assert srv.snippets([10**9], words) == {10**9: NO_PREVIEW}


def test_serving_result_page(saved, tmp_path):
    """The reference's full response shape: ranked page + snippet per
    row, operators stripped from the default highlight words."""
    d, idx, docs = saved
    docs_p = str(tmp_path / "docs_rp.parquet")
    docs.write.parquet(docs_p)
    srv = ServingIndex.load(d)
    srv.attach_docs(docs_p, text_col="content")

    rows, total = srv.result_page("banana AND recipe", page=0, size=5)
    paged, ptotal = srv.search_paged("banana AND recipe", 0, 5)
    assert total == ptotal and len(rows) == len(paged)
    for row, (doc, rel, pr, score) in zip(rows, paged):
        assert row["doc_id"] == doc and row["score"] == score
        assert isinstance(row["snippet"], str) and row["snippet"]
        # 'and' must not be highlighted (operator, not a query word)
        assert "<strong>and</strong>" not in row["snippet"].lower()


def test_docs_projection_rides_with_saved_index(spark, tmp_path):
    """A docs table carrying page_rank must survive save/load: the
    loaded index auto-attaches it (R1/R2 mix on, rank-identical to the
    in-memory index) and ServingIndex.load auto-arms the same mix with
    NO explicit page_rank argument."""
    docs = generate_corpus(spark, 300, seed=13).withColumn(
        "page_rank",
        (F.crc32(F.col("doc_id").cast("string")) % 997) / 997.0,
    ).cache()
    cfg = EngineConfig(docs_per_shard=64, block_size=8)
    idx = build_index(docs, cfg=cfg)
    assert "page_rank" in idx.docs.columns
    d = str(tmp_path / "pr_idx")
    idx.save(d)

    loaded = Index.load(spark, d)
    assert loaded.docs is not None
    assert "page_rank" in loaded.docs.columns
    for q in ["banana recipe", "banana AND recipe", '"banana recipe"']:
        exp = [
            (r["doc_id"], round(r["score"], 6))
            for r in search(idx, q, k=10).collect()
        ]
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in search(loaded, q, k=10).collect()
        ]
        assert got == exp, q
        srv_got = [
            (doc, round(score, 6))
            for doc, _rel, _pr, score in ServingIndex.load(d).search(q, k=10)
        ]
        assert [x[0] for x in srv_got] == [x[0] for x in exp], q
        for (_, gs), (_, es) in zip(srv_got, exp):
            assert abs(gs - es) < 1e-6, q


def test_saved_index_without_docs_loads_clean(spark, tmp_path):
    """Back-compat shape: an Index whose docs projection is None writes
    no docs artifact and loads with docs=None (scores rel-only)."""
    from dataclasses import replace as _replace  # noqa: F401

    docs = generate_corpus(spark, 120, seed=3).cache()
    idx = build_index(docs, cfg=EngineConfig(docs_per_shard=64))
    idx.docs = None
    d = str(tmp_path / "nodocs_idx")
    idx.save(d)
    import os

    assert not os.path.isdir(os.path.join(d, "docs"))
    loaded = Index.load(spark, d)
    assert loaded.docs is None
    assert search(loaded, "banana recipe", k=3).count() > 0


def test_or_phrase_left_does_not_pollute_phrase_cache(saved):
    """Regression (ADVICE r03): the OR branch used to merge the right
    component INTO the dict object stored in the unbounded phrase
    cache, so '"p" OR x' permanently contaminated later bare '"p"'
    queries with x's docs. The union must build a fresh dict."""
    import numpy as np

    d, _idx, _docs = saved
    clean = ServingIndex.load(d)
    baseline = clean.search('"banana recipe"', k=10)
    srv = ServingIndex.load(d)
    srv.search('"banana recipe" OR spark', k=10)
    assert srv.search('"banana recipe"', k=10) == baseline
    # the cached doc set must be the phrase's own, none of spark's docs
    assert np.array_equal(
        srv._phrase_cache['"banana recipe"'],
        clean._phrase_cache['"banana recipe"'],
    )
    assert list(srv._phrase_cache) == ['"banana recipe"']


def test_positions_decoded_only_for_phrase_stems(saved, monkeypatch):
    """Term, multi-term and boolean queries never decode positions; a
    phrase query decodes them for its own stems and nothing else."""
    import search_engine_spark.serving as serving_mod

    d, _idx, _docs = saved
    srv = ServingIndex.load(d)
    real = serving_mod.codec.decode_positions_csr

    def boom(*_a, **_k):
        raise AssertionError("positions decoded for a non-phrase query")

    monkeypatch.setattr(serving_mod.codec, "decode_positions_csr", boom)
    for q in ["banana", "banana recipe", "banana AND recipe",
              "banana OR recipe", "banana NOT recipe", "spark NOT banana"]:
        assert srv.search(q, k=10), q
    assert srv._pos == {}

    calls = []

    def counted(buf, n):
        calls.append(n)
        return real(buf, n)

    monkeypatch.setattr(serving_mod.codec, "decode_positions_csr", counted)
    srv.search('"banana recipe" AND spark', k=10)
    assert set(srv._pos) == {"banana", "recip"} and len(calls) == 2
    # each CSR run count matches the term's decoded postings
    assert [srv._postings(t)[0].size for t in ("banana", "recip")] == calls


def test_serving_stats(saved):
    """stats(): a plain dict of counters, memo sizes and resident bytes;
    within one generation every count and byte total only grows."""
    d, _idx, _docs = saved
    srv = ServingIndex.load(d)
    st = srv.stats()
    assert set(st) == {
        "queries", "cache_hits", "cache_misses", "cache_hit_ratio",
        "decoded_terms", "position_terms", "phrase_cache_entries",
        "encoded_bytes", "decoded_bytes", "positions_bytes",
        "phrase_cache_bytes", "generation", "load_s",
    }
    assert st["queries"] == 0 and st["decoded_bytes"] == 0
    assert st["encoded_bytes"] > 0 and st["load_s"] > 0
    assert st["generation"] is None
    grow = [k for k in st if k not in ("cache_hit_ratio", "generation",
                                       "load_s")]
    for n, q in enumerate(QUERY_SET + QUERY_SET[:4], start=1):
        srv.cached_search(q, k=10)
        nxt = srv.stats()
        assert all(nxt[k] >= st[k] for k in grow), q
        assert nxt["queries"] == n, q
        st = nxt
    assert st["cache_hits"] == 4 and st["cache_misses"] == len(QUERY_SET)
    assert st["cache_hit_ratio"] == 4 / (len(QUERY_SET) + 4)
    assert st["phrase_cache_entries"] > 0 and st["positions_bytes"] > 0
    assert st["decoded_terms"] >= st["position_terms"] > 0
