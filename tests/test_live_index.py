"""Streaming → LSM merge → publish loop (streaming/live_index.py):
N streamed waves must yield a published generation value-identical to
a one-shot build over the union; the serving tier must auto-refresh
across the generation swap mid-stream; a replayed micro-batch (crash
between publish and checkpoint commit) must be value-identical, not
double-counted."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query import search
from search_engine_spark.publish import load_latest_index, read_latest
from search_engine_spark.serving import ServingIndex
from search_engine_spark.sources.corpus import generate_corpus
from search_engine_spark.streaming.live_index import StreamingLiveIndex

CFG = EngineConfig(docs_per_shard=64, block_size=16)
QUERIES = ["banana recipe hash", "banana AND recipe", '"banana recipe"']


def _results(idx, q):
    return [
        (r["doc_id"], round(r["score"], 6))
        for r in search(idx, q, k=20).collect()
    ]


def _signature(idx):
    from search_engine_spark.operators.merge import flat_postings

    rows = sorted(
        (r.term, r.doc_id, round(r.tf, 6), r.doc_len)
        for r in flat_postings(idx).collect()
    )
    stats = sorted(
        (r.term, r.df, round(r.idf, 9)) for r in idx.term_stats.collect()
    )
    return idx.n_docs, round(idx.avgdl, 9), rows, stats


def test_stream_waves_equal_union_build_and_serving_refresh(
    spark, tmp_path
):
    corpus_dir = str(tmp_path / "corpus")
    root = str(tmp_path / "live_root")

    generate_corpus(spark, 150, seed=5).write.mode("append").parquet(
        corpus_dir
    )
    live = StreamingLiveIndex(spark, corpus_dir, root, cfg=CFG)
    gen1 = live.process_available()
    assert gen1 >= 0 and live.batches_published >= 1
    idx1 = load_latest_index(spark, root)
    assert idx1.n_docs == 150

    # serving tier arms on gen1, then auto-swaps after the next wave
    srv = ServingIndex.load_latest(root)
    assert srv.n_docs == 150
    assert srv.refresh() is False

    generate_corpus(spark, 300, seed=5).where(
        F.col("doc_id") >= 150
    ).write.mode("append").parquet(corpus_dir)
    gen2 = live.process_available()
    assert gen2 > gen1
    assert srv.refresh() is True
    assert srv.n_docs == 300

    merged = load_latest_index(spark, root)
    rebuilt = build_index(generate_corpus(spark, 300, seed=5), cfg=CFG)
    assert _signature(merged) == _signature(rebuilt)
    for q in QUERIES:
        exp = _results(rebuilt, q)
        assert _results(merged, q) == exp, q
        got = [
            (doc, round(score, 6))
            for doc, _rel, _pr, score in srv.search(q, k=20)
        ]
        assert [g[0] for g in got] == [e[0] for e in exp], q

    # draining with nothing new publishes nothing
    assert live.process_available() == gen2
    assert read_latest(root)["generation"] == gen2


def test_replayed_batch_is_value_identical(spark, tmp_path):
    """Crash contract: a micro-batch replayed after its publish (the
    checkpoint commit never landed) re-merges the SAME delta — the
    right-wins upsert makes that a no-op on values, so the replayed
    generation equals the pre-replay one."""
    corpus_dir = str(tmp_path / "corpus")
    root = str(tmp_path / "live_root")
    base = generate_corpus(spark, 200, seed=9).cache()
    base.where(F.col("doc_id") < 150).write.mode("append").parquet(
        corpus_dir
    )
    live = StreamingLiveIndex(spark, corpus_dir, root, cfg=CFG)
    live.process_available()

    delta = base.where(F.col("doc_id") >= 150)
    live._handle_batch(delta, 10_001)          # normal delivery
    sig_once = _signature(load_latest_index(spark, root))
    live._handle_batch(delta, 10_001)          # replay after crash
    sig_replay = _signature(load_latest_index(spark, root))
    assert sig_replay == sig_once
    rebuilt = build_index(base, cfg=CFG)
    assert sig_replay == _signature(rebuilt)


def test_cdc_tombstones_compact_deletions(spark, tmp_path, monkeypatch):
    """CDC stream: a micro-batch mixing upserts and deleted=true
    tombstones must publish a generation value-identical to a build
    over the surviving corpus (tombstoned ids compacted out, recrawled
    docs replaced right-wins, a same-batch upsert + tombstone of one id
    deleted) — in ONE incremental rebuild pass."""
    from search_engine_spark.operators import merge

    corpus_dir = str(tmp_path / "corpus")
    root = str(tmp_path / "live_root")
    base = generate_corpus(spark, 200, seed=3).cache()
    base.write.mode("append").parquet(corpus_dir)
    live = StreamingLiveIndex(spark, corpus_dir, root, cfg=CFG)
    live.process_available()
    assert live.batches_published >= 1

    # wave 2 (CDC): doc_ids % 10 == 0 and doc 13 tombstoned; 200..239
    # new arrivals; doc 7 recrawled with changed content; doc 13 also
    # recrawled in the same batch (the tombstone wins)
    full = generate_corpus(spark, 240, seed=3)
    dead = base.where(
        (F.col("doc_id") % 10 == 0) | (F.col("doc_id") == 13)
    ).withColumn("deleted", F.lit(True))
    recrawl = (
        full.where(F.col("doc_id").isin(7, 13))
        .withColumn(
            "content", F.concat(F.col("content"), F.lit(" zzzrecrawl"))
        )
        .withColumn("deleted", F.lit(False))
    )
    arrivals = full.where(F.col("doc_id") >= 200).withColumn(
        "deleted", F.lit(False)
    )
    real_rebuild, passes = merge._incremental_rebuild, []

    def counted(*args, **kwargs):
        passes.append(1)
        return real_rebuild(*args, **kwargs)

    monkeypatch.setattr(merge, "_incremental_rebuild", counted)
    # the handler hands the rebuild a Python id list, whose length the
    # driver already holds: no count() job for the broadcast gate
    frame_cls = type(dead)
    real_count, counts = frame_cls.count, []

    def count_spy(self):
        counts.append(1)
        return real_count(self)

    monkeypatch.setattr(frame_cls, "count", count_spy)
    live._handle_batch(dead.unionByName(recrawl).unionByName(arrivals),
                       777)
    monkeypatch.setattr(frame_cls, "count", real_count)
    assert len(passes) == 1
    assert counts == []

    # tombstones hit only base ids (< 200); %10==0 arrivals survive
    tombstoned = (
        (F.col("doc_id") % 10 == 0) | (F.col("doc_id") == 13)
    ) & (F.col("doc_id") < 200)
    survivors = (
        full.where(~tombstoned & (F.col("doc_id") != 7))
        .unionByName(
            full.where(F.col("doc_id") == 7).withColumn(
                "content",
                F.concat(F.col("content"), F.lit(" zzzrecrawl")),
            )
        )
    )
    merged = load_latest_index(spark, root)
    rebuilt = build_index(survivors, cfg=CFG)
    assert _signature(merged) == _signature(rebuilt)
    srv = ServingIndex.load_latest(root)
    assert srv.n_docs == 240 - 21
    assert 7 in {d for d, *_ in srv.search("zzzrecrawl", k=5)}


def test_refresh_pagerank_publishes_warm_started_ranks(spark, tmp_path):
    """Live loop + rank refresh: after a corpus-growing wave,
    ``refresh_pagerank`` publishes a generation whose docs carry ranks
    equal to a cold PageRank over the same graph (same fixpoint), the
    serving tier auto-arms them, and the warm start costs fewer
    iterations than the cold run."""
    from search_engine_spark.operators.pagerank import (
        pagerank,
        repo_link_graph,
    )

    corpus_dir = str(tmp_path / "corpus")
    root = str(tmp_path / "live_pr")

    corpus1 = generate_corpus(spark, 120, seed=9)
    corpus1.write.mode("append").parquet(corpus_dir)
    live = StreamingLiveIndex(spark, corpus_dir, root, cfg=CFG)
    live.process_available()

    stats1: dict = {}
    gen_a = live.refresh_pagerank(repo_link_graph(corpus1), stats=stats1)
    idx_a = load_latest_index(spark, root)
    assert "page_rank" in idx_a.docs.columns
    ranked_a = {
        r["doc_id"]: r["page_rank"]
        for r in idx_a.docs.select("doc_id", "page_rank").collect()
    }
    assert sum(1 for v in ranked_a.values() if v > 0) > 0

    # wave 2: corpus grows 120 -> 150; refresh warm-starts from gen_a
    corpus2 = generate_corpus(spark, 150, seed=9)
    corpus2.where(F.col("doc_id") >= 120).write.mode("append").parquet(
        corpus_dir
    )
    live.process_available()
    stats2: dict = {}
    gen_b = live.refresh_pagerank(repo_link_graph(corpus2), stats=stats2)
    assert gen_b > gen_a

    idx_b = load_latest_index(spark, root)
    got = {
        r["doc_id"]: r["page_rank"]
        for r in idx_b.docs.select("doc_id", "page_rank").collect()
    }
    cold = {
        r["doc_id"]: r["page_rank"]
        for r in pagerank(
            repo_link_graph(corpus2),
            corpus2.select("doc_id"),
            cfg=CFG,
        ).collect()
    }
    assert set(got) == set(cold)
    eps_bound = 2 * CFG.pagerank_epsilon * 0.85 / 0.15
    for d, v in cold.items():
        assert abs(got[d] - v) <= eps_bound, (d, v, got[d])
    # the warm start must not iterate MORE than the cold run did
    assert stats2["iterations"] <= stats1["iterations"]

    # serving auto-arms the published ranks from the docs artifact
    srv = ServingIndex.load_latest(root)
    assert srv._pr and not srv._pr_explicit
    for d, v in srv._pr.items():
        assert abs(got[d] - v) < 1e-12


def test_hygiene_transform_hook(spark, tmp_path):
    """A transform installed on the live loop must shape every
    generation: streamed-with-scrub == one-shot build over the
    scrubbed union."""
    from search_engine_spark.operators.quality import scrub_pii

    corpus_dir = str(tmp_path / "corpus")
    root = str(tmp_path / "live_root")

    base = generate_corpus(spark, 120, seed=9)
    planted = base.withColumn(
        "content",
        F.concat(
            "content",
            F.lit(" leaked contact alice"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    )
    planted.where(F.col("doc_id") < 60).write.mode("append").parquet(
        corpus_dir
    )
    live = StreamingLiveIndex(
        spark, corpus_dir, root, cfg=CFG,
        transform=lambda df: scrub_pii(df, text_col="content"),
    )
    live.process_available()
    planted.where(F.col("doc_id") >= 60).write.mode("append").parquet(
        corpus_dir
    )
    live.process_available()

    merged = load_latest_index(spark, root)
    rebuilt = build_index(scrub_pii(planted, text_col="content"), cfg=CFG)
    assert _signature(merged) == _signature(rebuilt)
    # the address never reached the index: no 'alice*' local-part term
    terms = {r["term"] for r in merged.term_stats.collect()}
    assert not any(t.startswith("alice") for t in terms)
    # the scrub token DID land (tokenizer sees 'EMAIL' -> stemmed form)
    from search_engine_spark.operators.parser import query_stems

    scrub_terms = query_stems("EMAIL")
    assert scrub_terms and all(t in terms for t in scrub_terms)


def test_live_vector_index_tracks_the_stream(spark, tmp_path):
    """vector_dim set: the loop maintains <root>/vector_index across
    waves (upserts replace, never duplicate) and CDC deletes; the
    exact dial equals a one-shot build over the live corpus (brute
    force ignores the quantizers, so identity holds even though they
    were trained on wave 1 only)."""
    from search_engine_spark.operators.embed import embed_text, hash_embed
    from search_engine_spark.operators.vector_index import VectorIndex
    from search_engine_spark.vector_serving import VectorServing

    corpus_dir = str(tmp_path / "corpus")
    root = str(tmp_path / "live_root")
    generate_corpus(spark, 80, seed=9).write.mode("append").parquet(
        corpus_dir
    )
    live = StreamingLiveIndex(
        spark, corpus_dir, root, cfg=CFG, vector_dim=32,
        vector_n_centroids=4,
    )
    live.process_available()
    assert VectorIndex.load(spark, live.vector_index_path).n_vectors == 80

    # wave 2: 40 new docs + 10 UPSERTS of existing ids (changed text)
    w2 = generate_corpus(spark, 120, seed=9).where(F.col("doc_id") >= 80)
    upd = generate_corpus(spark, 10, seed=77)  # ids 0..9, new text
    w2.unionByName(upd).write.mode("append").parquet(corpus_dir)
    live.process_available()
    vidx = VectorIndex.load(spark, live.vector_index_path)
    assert vidx.n_vectors == 120  # upserts replaced, not duplicated

    live_docs = generate_corpus(spark, 120, seed=9).where(
        F.col("doc_id") >= 10
    ).unionByName(generate_corpus(spark, 10, seed=77))
    q = embed_text("banana recipe", 32)
    want = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in VectorIndex.build(
            hash_embed(live_docs, dim=32, text_col="content")
            .withColumnRenamed("doc_id", "vec_id"),
            dim=32, n_centroids=4,
        ).topk(q, k=10, exact=True).collect()
    ]
    got = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in vidx.topk(q, k=10, exact=True).collect()
    ]
    assert got == want

    # wave 3 (CDC): tombstone ids 0..4 -> their vectors compact out
    dead = generate_corpus(spark, 5, seed=77).withColumn(
        "deleted", F.lit(True)
    )
    live._handle_batch(dead, 999)
    vidx = VectorIndex.load(spark, live.vector_index_path)
    assert vidx.n_vectors == 115
    remaining = {
        r["vec_id"] for r in vidx.vectors.select("vec_id").collect()
    }
    assert remaining.isdisjoint({0, 1, 2, 3, 4})

    # serving cell answers over the live artifact
    srv = VectorServing.load(live.vector_index_path)
    assert len(srv.topk(q, k=5, exact=True)) == 5


def test_combined_lifecycle_text_vector_pagerank(spark, tmp_path):
    """ONE loop exercising everything together — text upserts, CDC
    tombstones, live ANN maintenance, warm PageRank refresh — must
    leave all THREE published artifacts value-identical to one-shot
    builds over the surviving corpus (previously pinned pairwise)."""
    from search_engine_spark.operators.embed import embed_text, hash_embed
    from search_engine_spark.operators.pagerank import (
        pagerank,
        repo_link_graph,
    )
    from search_engine_spark.operators.vector_index import VectorIndex
    from search_engine_spark.vector_serving import VectorServing

    corpus_dir = str(tmp_path / "corpus")
    root = str(tmp_path / "live_root")
    base = generate_corpus(spark, 120, seed=11).cache()
    base.write.mode("append").parquet(corpus_dir)
    live = StreamingLiveIndex(
        spark, corpus_dir, root, cfg=CFG, vector_dim=16,
        vector_n_centroids=4,
    )
    live.process_available()
    stats1: dict = {}
    live.refresh_pagerank(repo_link_graph(base), stats=stats1)

    # wave 2 (CDC): ids %7==0 tombstoned; doc 3 recrawled with changed
    # content; 40 new arrivals 120..159 — one mixed micro-batch
    full = generate_corpus(spark, 160, seed=11).cache()
    dead = base.where(F.col("doc_id") % 7 == 0).withColumn(
        "deleted", F.lit(True)
    )
    recrawl = (
        full.where(F.col("doc_id") == 3)
        .withColumn(
            "content", F.concat(F.col("content"), F.lit(" zzzcombined"))
        )
        .withColumn("deleted", F.lit(False))
    )
    arrivals = full.where(F.col("doc_id") >= 120).withColumn(
        "deleted", F.lit(False)
    )
    live._handle_batch(
        dead.unionByName(recrawl).unionByName(arrivals), 4_242
    )

    tombstoned = (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 120)
    survivors = (
        full.where(~tombstoned & (F.col("doc_id") != 3))
        .unionByName(
            full.where(F.col("doc_id") == 3).withColumn(
                "content",
                F.concat(F.col("content"), F.lit(" zzzcombined")),
            )
        )
        .cache()
    )
    stats2: dict = {}
    live.refresh_pagerank(repo_link_graph(survivors), stats=stats2)

    # 1) TEXT artifact == one-shot build over the survivors
    merged = load_latest_index(spark, root)
    rebuilt = build_index(survivors, cfg=CFG)
    assert _signature(merged) == _signature(rebuilt)

    # 2) VECTOR artifact (exact dial) == one-shot build over survivors
    q = embed_text("banana recipe", 16)
    vidx = VectorIndex.load(spark, live.vector_index_path)
    n_surv = survivors.count()
    assert vidx.n_vectors == n_surv == 160 - 18
    want = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in VectorIndex.build(
            hash_embed(survivors, dim=16, text_col="content")
            .withColumnRenamed("doc_id", "vec_id"),
            dim=16, n_centroids=4,
        ).topk(q, k=10, exact=True).collect()
    ]
    got = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in vidx.topk(q, k=10, exact=True).collect()
    ]
    assert got == want

    # 3) PAGERANK in the published docs == cold fixpoint over the
    # survivor graph; the warm start must not iterate more than cold
    got_pr = {
        r["doc_id"]: r["page_rank"]
        for r in load_latest_index(spark, root)
        .docs.select("doc_id", "page_rank")
        .collect()
    }
    cold = {
        r["doc_id"]: r["page_rank"]
        for r in pagerank(
            repo_link_graph(survivors), survivors.select("doc_id"),
            cfg=CFG,
        ).collect()
    }
    assert set(got_pr) == set(cold)
    eps_bound = 2 * CFG.pagerank_epsilon * 0.85 / 0.15
    for d, v in cold.items():
        assert abs(got_pr[d] - v) <= eps_bound, (d, v, got_pr[d])
    assert stats2["iterations"] <= stats1["iterations"] + 2

    # all three serving tiers answer over the published generation
    srv = ServingIndex.load_latest(root)
    assert srv.n_docs == n_surv
    assert 3 in {d for d, *_ in srv.search("zzzcombined", k=5)}
    assert srv._pr  # ranks auto-armed from the docs artifact
    vsrv = VectorServing.load(live.vector_index_path)
    assert [x[0] for x in vsrv.topk(q, k=10, exact=True)] == [
        g[0] for g in got
    ]
    base.unpersist()
    full.unpersist()
    survivors.unpersist()


def test_live_vector_full_replay_and_total_tombstones(spark, tmp_path):
    """Replay edge cases of the live vector index: (1) the SOLE
    processed batch replayed after a crash (stale ids == the entire
    index — remove_ids would raise) must land value-identical via the
    rebuild-with-existing-quantizers path; (2) tombstones covering
    every remaining vector drop the artifact instead of raising, and
    the next upsert wave rebuilds it from scratch."""
    import os

    from search_engine_spark.operators.embed import embed_text
    from search_engine_spark.operators.vector_index import VectorIndex

    corpus_dir = str(tmp_path / "corpus")
    root = str(tmp_path / "live_root")
    base = generate_corpus(spark, 60, seed=4).cache()
    base.write.mode("append").parquet(corpus_dir)
    live = StreamingLiveIndex(
        spark, corpus_dir, root, cfg=CFG, vector_dim=16,
        vector_n_centroids=4,
    )
    live.process_available()
    vdir = live.vector_index_path
    q = embed_text("banana recipe", 16)

    def exact_topk():
        return [
            (r["vec_id"], round(r["cosine"], 9))
            for r in VectorIndex.load(spark, vdir)
            .topk(q, k=10, exact=True)
            .collect()
        ]

    want = exact_topk()
    assert VectorIndex.load(spark, vdir).n_vectors == 60

    # (1) full-overlap replay: every delta id is already in the index
    live._handle_batch(base, 10_001)
    assert VectorIndex.load(spark, vdir).n_vectors == 60
    assert exact_topk() == want

    # (2) tombstones cover EVERY vector -> artifact dropped, not raised
    live._update_vectors(
        base.where(F.lit(False)), dead_ids=list(range(60))
    )
    assert not os.path.exists(os.path.join(vdir, "meta"))

    # the next upsert wave rebuilds the artifact from scratch
    live._update_vectors(base.where(F.col("doc_id") < 20), dead_ids=[])
    assert VectorIndex.load(spark, vdir).n_vectors == 20
