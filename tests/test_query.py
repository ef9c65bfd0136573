"""Rank-identity: Spark engine vs the quirk-faithful oracle on the
reference query set (FIXTURES.md F5) — every QP grammar shape."""

import math

import pytest

from search_engine_spark.operators.query import search
from search_engine_spark.oracle import oracle_search

# F5: single/multi-term, stopword, stemmed variants, phrases (gap pos+neg),
# AND/OR/NOT incl. phrase side, empty-result term
QUERY_SET = [
    "banana",
    "banana recipe",
    "the banana",                 # stopword on the query side (quirk Q3)
    "traveling",                  # stems to same as "travel"
    "travel traveling",
    '"banana recipe"',            # planted adjacent phrase
    '"banana"',                   # single-stem phrase
    '"banana banana"',            # repeated stem: one distinct stem
    "banana AND recipe",
    "banana OR recipe",
    "banana NOT recipe",
    '"banana recipe" AND spark',
    "spark OR nosuchwordxyz",
    "nosuchwordxyz",              # empty result
    "partition shuffle broadcast",
    "index AND token",
    "search OR engine",
]


def _run(index, oracle_idx, q, mode):
    got = [
        (r["doc_id"], r["score"])
        for r in search(index, q, k=10, mode=mode).collect()
    ]
    want = oracle_search(oracle_idx, q, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in want], (
        f"rank mismatch for {q!r}: {got} vs {want}"
    )
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (
            f"score mismatch for {q!r} doc {gd}: {gs} vs {ws}"
        )


@pytest.mark.parametrize("q", QUERY_SET)
def test_rank_identity_bm25(spark_index, oracle_idx, q):
    _run(spark_index, oracle_idx, q, "bm25")


@pytest.mark.parametrize("q", ["banana recipe", "banana OR recipe",
                               '"banana recipe"', "banana NOT recipe"])
def test_rank_identity_tfidf_mode(spark_index, oracle_idx, q):
    _run(spark_index, oracle_idx, q, "tfidf")


def test_phrase_gap_negative(spark_index, oracle_idx):
    # docs planted with banana x x x recipe (gap 4) must NOT match the
    # phrase, but DO match the bag-of-words query
    phrase = set(
        r["doc_id"]
        for r in search(spark_index, '"banana recipe"', k=1000).collect()
    )
    want = set(d for d, _ in oracle_search(oracle_idx, '"banana recipe"', k=1000))
    assert phrase == want
    bag = set(
        r["doc_id"]
        for r in search(spark_index, "banana AND recipe", k=1000).collect()
    )
    assert phrase <= bag
    assert bag - phrase, "expected some gap>3 docs matching AND but not phrase"


def test_and_keeps_left_scores(spark_index, oracle_idx):
    # quirk Q4: score of "banana AND recipe" uses banana-side tf/idf only
    got = {
        r["doc_id"]: r["score"]
        for r in search(spark_index, "banana AND recipe", k=1000).collect()
    }
    for doc_id, score in oracle_search(oracle_idx, "banana AND recipe", k=1000):
        assert math.isclose(got[doc_id], score, rel_tol=1e-9)


def test_empty_query_results(spark_index):
    assert search(spark_index, "nosuchwordxyz", k=10).count() == 0


def test_edge_queries(spark_index):
    # empty string, whitespace, stopword-only (stopwords are never
    # indexed — quirk Q3: the query side does NOT filter them, they
    # simply miss), unbalanced quote (plain-query fallback), k=1
    assert search(spark_index, "", k=10).count() == 0
    assert search(spark_index, "   ", k=10).count() == 0
    assert search(spark_index, "the and of", k=10).count() == 0
    unbal = search(spark_index, '"banana recipe', k=10).count()
    plain = search(spark_index, "banana recipe", k=10).count()
    assert unbal == plain
    assert search(spark_index, "banana", k=1).count() == 1


def test_empty_corpus_build(spark):
    from search_engine_spark.operators.index_build import build_index

    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, "
        "content string, doc_id long, sha256 string"
    )
    idx = build_index(empty)
    assert idx.n_docs == 0
    assert idx.postings.count() == 0
    assert search(idx, "anything", k=5).count() == 0


def test_unicode_and_symbol_content(spark):
    from search_engine_spark.operators.index_build import build_index

    rows = [
        (0, "naïve café résumé ascii words only survive"),
        (1, "日本語テキスト mixed with latin tokens here"),
        (2, "symbols !!! ### $$$ 123 42x x42 don't"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in rows], "doc_id long, content string"
    )
    idx = build_index(df)
    # pure-ASCII-alpha gate (T2): accented/CJK/digit tokens are dropped,
    # build neither crashes nor emits them
    terms = {r["term"] for r in idx.term_stats.collect()}
    assert "ascii" in terms or "word" in terms  # stemmed forms present
    assert all(t.isascii() and t.isalpha() for t in terms)


def test_codec_only_profile_rank_identity(spark, corpus_df):
    """store_arrays=False (the at-scale layout: codec binaries only, no
    decoded arrays) must answer every query shape identically to the
    arrays profile."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import build_index

    full = build_index(
        corpus_df, cfg=EngineConfig(docs_per_shard=64, block_size=16)
    )
    lean = build_index(
        corpus_df,
        cfg=EngineConfig(
            docs_per_shard=64, block_size=16, store_arrays=False
        ),
    )
    assert lean.postings.where("postings IS NOT NULL").count() == 0
    for q in ["banana recipe", '"banana recipe"', "banana AND recipe",
              "banana OR recipe", "banana NOT recipe"]:
        a = [(r["doc_id"], r["score"]) for r in search(full, q, k=15).collect()]
        b = [(r["doc_id"], r["score"]) for r in search(lean, q, k=15).collect()]
        # codec stores tf/bm25_tf as float32, so scores agree to ~1e-7
        # relative; ranking must match exactly
        assert [d for d, _ in a] == [d for d, _ in b], q
        for (_, sa), (_, sb) in zip(a, b):
            assert math.isclose(sa, sb, rel_tol=1e-5), q


def test_phrase_absent_stem_short_circuits(spark, corpus_df, spark_index,
                                           oracle_idx):
    """A phrase containing a stem absent from the index returns empty
    (reference HAVING count = n semantics) on BOTH physical layouts —
    and the shard whitelist that makes it cheap keeps exactly the
    shards where EVERY stem has a posting block."""
    import pyspark.sql.functions as F

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.query import phrase_matches
    from search_engine_spark.oracle import oracle_search

    q = '"banana nosuchwordxyz"'
    assert search(spark_index, q, k=10).collect() == []
    assert oracle_search(oracle_idx, q, k=10) == []
    lean = build_index(
        corpus_df,
        cfg=EngineConfig(docs_per_shard=64, block_size=16,
                         store_arrays=False),
    )
    assert search(lean, q, k=10).collect() == []

    # whitelist semantics: pruned phrase candidates == the blocks'
    # shard intersection (multi-shard fixture: docs_per_shard=64)
    stems = ["banana", "recip"]
    blocks = spark_index.postings.filter(F.col("term").isin(stems))
    both = {
        r["shard"]
        for r in blocks.groupBy("shard")
        .agg(F.count_distinct("term").alias("nt"))
        .filter(F.col("nt") == 2)
        .collect()
    }
    assert len(both) > 1, "fixture should span multiple shards"
    got_shards = {
        r["doc_id"] // 64
        for r in phrase_matches(spark_index, stems).select("doc_id").collect()
    }
    assert got_shards <= both


def test_search_paged_reference_semantics(spark_index):
    """R5 (BackendManager.java:331-356): offset slice, partial last page,
    beyond-last-page -> (empty, total)."""
    from search_engine_spark.operators.query import search, search_paged

    full = search(spark_index, "banana recipe", k=100000).collect()
    total_expected = len(full)
    assert total_expected > 3

    size = max(total_expected // 3, 1)
    seen = []
    page = 0
    while True:
        df, total = search_paged(spark_index, "banana recipe", page, size)
        rows = df.collect()
        assert total == total_expected
        if not rows:
            break
        seen.extend((r.doc_id, round(r.score, 9)) for r in rows)
        page += 1
    assert seen == [(r.doc_id, round(r.score, 9)) for r in full]

    # far beyond the last page: empty page, correct total
    df, total = search_paged(spark_index, "banana recipe", page + 50, size)
    assert df.count() == 0 and total == total_expected


def test_search_many_matches_per_query_search(spark_index):
    """The shared-scan batch path must be value-identical to N
    independent search() calls for every query shape (plain, boolean,
    phrase)."""
    from search_engine_spark.operators.query import search, search_many

    queries = [
        "banana recipe",
        "banana AND recipe",
        "banana OR recipe",
        "banana NOT recipe",
        '"banana recipe"',
        "zzz_absent",
    ]
    batched = search_many(spark_index, queries, k=10).collect()
    got = {}
    for r in batched:
        got.setdefault(r.query, []).append((r.doc_id, round(r.score, 9)))
    for q in queries:
        exp = [
            (r.doc_id, round(r.score, 9))
            for r in search(spark_index, q, k=10).collect()
        ]
        assert got.get(q, []) == exp, q


def test_search_batch_matches_search_many(spark_index):
    """The distributed batch plan (queries-as-data, one plan for any N —
    VERDICT r02 #3) must be value-identical to search_many / per-query
    search for every query shape, in both score modes."""
    from search_engine_spark.operators.query import search, search_batch

    queries = [
        "banana recipe",
        "banana AND recipe",
        "banana OR recipe",
        "banana NOT recipe",
        '"banana recipe"',
        '"banana recipe" AND spark',
        'spark OR "banana recipe"',
        'spark NOT "banana recipe"',
        "the banana",
        "zzz_absent",
        "banana",
    ]
    for mode in ("bm25", "tfidf"):
        batched = search_batch(spark_index, queries, k=10, mode=mode).collect()
        got = {}
        for r in batched:
            got.setdefault(r.query, []).append(
                (r.doc_id, round(r.score, 9))
            )
        # per-query rows must arrive rank-sorted after a per-query sort
        for q in queries:
            exp = [
                (r.doc_id, round(r.score, 9))
                for r in search(spark_index, q, k=10, mode=mode).collect()
            ]
            rows = sorted(got.get(q, []), key=lambda t: (-t[1], t[0]))
            assert rows == exp, (mode, q)


def _search_many_spied(index, queries):
    """Run search_many under a search_batch spy; check it made one
    search_batch call with the distinct queries in first-seen order and
    returned rows rank-sorted per query. Returns query -> rows."""
    from unittest.mock import patch

    from search_engine_spark.operators import query as qmod

    with patch.object(
        qmod, "search_batch", wraps=qmod.search_batch
    ) as spy:
        rows = qmod.search_many(index, queries, k=10).collect()
    assert spy.call_count == 1, queries
    assert spy.call_args[0][1] == list(dict.fromkeys(queries))
    keys = [(r.query, -r.score, r.doc_id) for r in rows]
    assert keys == sorted(keys), queries
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query, []).append((r.doc_id, round(r.score, 9)))
    return by_q


_DISPATCH_QUERIES = ["banana recipe", '"banana recipe"', "banana AND recipe"]


def test_search_many_dispatches_to_batch(spark_index):
    """search_many is a thin front for search_batch at every N: N=1 and
    N=3 each make exactly one search_batch call with the distinct
    queries, and rows come back rank-sorted per query."""
    one = _search_many_spied(spark_index, _DISPATCH_QUERIES[:1])
    three = _search_many_spied(spark_index, _DISPATCH_QUERIES)
    assert set(three) <= set(_DISPATCH_QUERIES)
    assert one["banana recipe"] == three["banana recipe"]


def test_search_many_duplicate_queries_still_dispatch(spark_index):
    """A duplicate-containing batch still takes the one search_batch
    call: duplicates are evaluated once and re-expanded per occurrence,
    every row of a twice-given query appearing twice in rank order."""
    three = _search_many_spied(spark_index, _DISPATCH_QUERIES)
    five = _search_many_spied(
        spark_index, _DISPATCH_QUERIES + _DISPATCH_QUERIES[:2]
    )
    for i, q in enumerate(_DISPATCH_QUERIES):
        n = 2 if i < 2 else 1
        assert five[q] == [x for x in three[q] for _ in range(n)], q


def test_search_batch_with_pagerank(spark_index, spark):
    from pyspark.sql import functions as F

    from search_engine_spark.operators.query import search, search_batch

    pr = spark_index.doc_stats.select(
        "doc_id",
        ((F.crc32(F.col("doc_id").cast("string")) % 997) / 997.0).alias(
            "page_rank"
        ),
    )
    queries = ["banana recipe", "banana AND recipe", '"banana recipe"']
    batched = search_batch(spark_index, queries, k=5, page_rank=pr).collect()
    got = {}
    for r in batched:
        got.setdefault(r.query, []).append((r.doc_id, round(r.score, 9)))
    for q in queries:
        exp = [
            (r.doc_id, round(r.score, 9))
            for r in search(spark_index, q, k=5, page_rank=pr).collect()
        ]
        rows = sorted(got.get(q, []), key=lambda t: (-t[1], t[0]))
        assert rows == exp, q


def test_search_batch_empty_inputs(spark_index, spark):
    from search_engine_spark.operators.query import search_batch

    assert search_batch(spark_index, [], k=5).count() == 0
    assert search_batch(spark_index, ["zzz_absent"], k=5).count() == 0


def test_idf_fast_path_matches_spark(spark, tmp_path):
    """On a save()d/load()ed index _idf_map reads term_stats with
    pyarrow (row-group-pruned, no Spark job); it must be value-identical
    to the Spark lookup, and search() must be rank-identical across a
    save/load roundtrip."""
    from search_engine_spark.operators.index_build import Index, build_index
    from search_engine_spark.operators.query import _idf_map, search
    from search_engine_spark.sources.corpus import generate_corpus

    idx = build_index(generate_corpus(spark, 150, seed=5).cache())
    stems = ["banana", "recip", "hash", "join", "zzz_absent"]
    assert idx.path is None
    via_spark = _idf_map(idx, stems)

    d = str(tmp_path / "idx")
    idx.save(d)
    assert idx.path == d
    assert _idf_map(idx, stems) == via_spark

    loaded = Index.load(spark, d)
    assert loaded.path == d
    assert _idf_map(loaded, stems) == via_spark

    want = [(r.doc_id, round(r.score, 9))
            for r in search(idx, "banana recipe", k=5).collect()]
    got = [(r.doc_id, round(r.score, 9))
           for r in search(loaded, "banana recipe", k=5).collect()]
    assert got == want


def test_local_df_arrow_fallback_semantics(spark):
    """local_df must type by the EXPLICIT schema (no pandas inference)
    and survive empty rows, None cells, Row inputs, and colon schemas."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from search_engine_spark.session import local_df

    df = local_df(
        spark, [("a", 1, None), ("b", None, 2.5)],
        "q string, c int, s double",
    )
    assert df.schema.simpleString() == "struct<q:string,c:int,s:double>"
    assert [tuple(r) for r in df.collect()] == [
        ("a", 1, None), ("b", None, 2.5),
    ]

    st = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ])
    assert local_df(spark, [], st).count() == 0
    rows = [Row(doc_id=1, score=0.5), Row(doc_id=2, score=None)]
    assert [tuple(r) for r in local_df(spark, rows, st).collect()] == [
        (1, 0.5), (2, None),
    ]
    got = local_df(spark, [(1, 0.25)], "doc_id: long, page_rank: double")
    assert got.columns == ["doc_id", "page_rank"]
