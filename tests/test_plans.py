"""Physical-plan audits: the properties that make the engine scale are
asserted, not assumed. If a refactor breaks predicate pushdown, column
pruning, the broadcast strategy, or the top-k operator, these fail."""

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def saved_index(spark, corpus_df, tmp_path_factory):
    from search_engine_spark.operators.index_build import Index, build_index

    d = str(tmp_path_factory.mktemp("idx"))
    build_index(corpus_df).save(d)
    return Index.load(spark, d)


def test_search_plan_properties(saved_index):
    from search_engine_spark.operators.query import search

    plan = _plan(search(saved_index, "banana recipe", k=10))
    # top-k is TakeOrderedAndProject — never a global sort materialization
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")
    # query terms reach the parquet scan as pushed filters
    assert "PushedFilters: [" in plan and "In(term, [" in plan
    # column pruning: the codec binaries are NOT read for scoring
    assert "doc_ids_enc" not in plan
    # idf is a LITERAL map expression (reference's denormalized-IDF
    # design): a plain query plans with NO join of any kind
    assert "Join" not in plan
    # scoring path is pure JVM — no Python workers
    assert "Python" not in plan and "InPandas" not in plan


def test_phrase_plan_cogroups_on_shard(saved_index):
    """The phrase candidate+gap check is ONE FlatMapGroupsInPandas per
    shard over posting BLOCK rows gated by a broadcast shard whitelist —
    per-doc position arrays never shuffle through a collect_list. A
    single-stem phrase takes the same path (no whitelist to build), and
    the survivors are the broadcast side of their doc_stats join."""
    from search_engine_spark.operators.query import phrase_matches, search

    plan = _plan(search(saved_index, '"banana recipe"', k=10))
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the old shape's candidate groupBy shuffled every decoded posting
    # row's nested positions through collect_list — gone
    assert "collect_list" not in plan
    # block rows reach the scan with the stems pushed
    assert "In(term, [" in plan
    single = _plan(search(saved_index, '"banana"', k=10))
    assert "FlatMapGroupsInPandas" in single
    assert "collect_list" not in single
    # survivors ⋈ doc_stats is a broadcast join that builds on the
    # survivors (left) side, not on doc_stats
    for stems in (["banana", "recip"], ["banana"]):
        joins = [
            line.strip(" :+-")
            for line in _plan(phrase_matches(saved_index, stems)).splitlines()
            if "Join " in line and "LeftSemi" not in line
        ]
        assert len(joins) == 1, joins
        assert joins[0].startswith("BroadcastHashJoin"), joins
        assert "Inner, BuildLeft" in joins[0], joins
    from pyspark.sql import functions as F

    df = saved_index.postings.filter(F.col("term") == "banana").select(
        "term", "n_postings"
    )
    plan = _plan(df)
    assert "ReadSchema: struct<term:string,n_postings:bigint>" in plan
    assert "EqualTo(term,banana)" in plan


def test_snippets_and_urls_stay_jvm(spark, corpus_df, tmp_path_factory):
    from search_engine_spark.operators.snippets import make_snippets
    from search_engine_spark.operators.urls import extract_links

    # materialize the corpus first — the synthetic GENERATOR is
    # mapInPandas, which would otherwise show up in the plan
    d = str(tmp_path_factory.mktemp("docs"))
    corpus_df.write.mode("overwrite").parquet(d)
    docs = spark.read.parquet(d)
    p1 = _plan(make_snippets(docs, ["banana"], text_col="content"))
    p2 = _plan(extract_links(docs, text_col="content"))
    for p in (p1, p2):
        assert "Python" not in p and "InPandas" not in p


def test_build_has_single_wide_exchange_over_tokens(spark, corpus_df):
    """The index build shuffles token-scale data exactly once: the
    groupBy(term, shard) aggregate. (Small stats aggs land on already
    tiny data and AQE may add reads, so we count exchanges feeding the
    posting aggregate path in the analyzed plan string.)"""
    from search_engine_spark.operators.index_build import build_index

    idx = build_index(corpus_df)
    plan = _plan(idx.postings)
    # the token-level exchange exists...
    assert "hashpartitioning(term" in plan
    # ...and posting-array assembly is JVM-side: exactly two scalar Arrow
    # UDFs touch Python (tokenize + codec), never applyInPandas
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("ArrowEvalPython") == 2


def test_wand_plan_reads_codec_not_arrays(saved_index):
    """WAND must consume the codec binaries + block metadata and NEVER
    the decoded posting arrays — the property that makes it the
    store_arrays=False at-scale path."""
    from search_engine_spark.operators.wand import search_wand

    plan = _plan(search_wand(saved_index, "banana recipe", k=10))
    # pushed term filter reaches the scan
    assert "PushedFilters: [In(term" in plan
    # codec columns read, decoded arrays NOT read
    assert "doc_ids_enc" in plan and "bm25_tf_enc" in plan
    assert "postings:" not in plan.split("ReadSchema")[-1]
    # per-shard WAND is one applyInPandas group stage
    assert "FlatMapGroupsInPandas" in plan
    # global top-k never materializes a full sort
    assert "TakeOrderedAndProject" in plan


def test_wand_pr_plan_cogroups_on_shard(saved_index, spark, corpus_df):
    """The PageRank mix rides into shards via a shard-keyed cogroup —
    no doc-level join appears in the plan."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators.wand import search_wand

    pr = corpus_df.select(
        "doc_id", (F.col("doc_id") % 10 / 10.0).alias("page_rank")
    )
    plan = _plan(search_wand(saved_index, "banana recipe", k=10, page_rank=pr))
    assert "FlatMapCoGroupsInPandas" in plan
    # the only join allowed is the map-side shard-prune of the pr table
    # (broadcast LEFT-SEMI on the tiny touched-shard set); never a
    # doc-level or shuffle join
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert "LeftSemi" in plan


def test_boolean_probe_side_reads_ids_only(spark, corpus_df, tmp_path_factory):
    """AND/NOT probe sides must take the ids-only path (quirk Q4 keeps
    the left side's data anyway): on the codec profile the probe branch
    scan reads ONLY doc_ids_enc — tf/bm25/pos codecs stay unread."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import Index, build_index
    from search_engine_spark.operators.query import search

    d = str(tmp_path_factory.mktemp("idx_codec"))
    build_index(corpus_df, cfg=EngineConfig(store_arrays=False)).save(d)
    idx = Index.load(spark, d)

    plan = _plan(search(idx, "banana AND recipe", k=10))
    schemas = [
        seg.splitlines()[0] for seg in plan.split("ReadSchema: ")[1:]
    ]
    probe = [
        s for s in schemas if "doc_ids_enc" in s and s.count("_enc") == 1
    ]
    assert probe, f"no ids-only probe scan in: {schemas}"

    # arrays profile: the probe branch explodes postings.doc_id only —
    # nested-schema pruning keeps tf/positions out of its scan
    d2 = str(tmp_path_factory.mktemp("idx_arr"))
    build_index(corpus_df).save(d2)
    idx2 = Index.load(spark, d2)
    plan2 = _plan(search(idx2, "banana AND recipe", k=10))
    schemas2 = [
        seg.splitlines()[0] for seg in plan2.split("ReadSchema: ")[1:]
    ]
    probe2 = [
        s
        for s in schemas2
        if "postings:array<struct<doc_id:bigint>>" in s
    ]
    assert probe2, f"no pruned probe scan in: {schemas2}"


def test_merge_flat_decode_plans(spark, corpus_df, tmp_path_factory):
    """The merge decode paths keep their scale properties: arrays
    profile is a JOIN-FREE, Python-free narrow explode (doc_len comes
    from tf/tf_norm, not a doc_stats join); codec profile prunes
    bm25_tf_enc from the scan (it is recomputed, never read)."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import Index, build_index
    from search_engine_spark.operators.merge import flat_postings

    d = str(tmp_path_factory.mktemp("idx_m_arr"))
    build_index(corpus_df).save(d)
    plan = _plan(flat_postings(Index.load(spark, d)))
    assert "Join" not in plan
    assert "Python" not in plan and "InPandas" not in plan

    d2 = str(tmp_path_factory.mktemp("idx_m_codec"))
    build_index(corpus_df, cfg=EngineConfig(store_arrays=False)).save(d2)
    plan2 = _plan(flat_postings(Index.load(spark, d2)))
    assert "bm25_tf_enc" not in plan2
    assert "tf_enc" in plan2 and "pos_enc" in plan2


def test_merge_upsert_anti_join_broadcasts(spark, corpus_df, tmp_path_factory):
    """The upsert anti-join against a small delta's doc-id set — alone
    or unioned with same-pass tombstone ids — must be a broadcast
    (map-side filter of the main side), never a shuffle of the main
    index's token-scale rows on doc_id."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators.index_build import Index, build_index
    from search_engine_spark.operators.merge import merge_indexes

    da = str(tmp_path_factory.mktemp("idx_main"))
    db = str(tmp_path_factory.mktemp("idx_delta"))
    build_index(corpus_df.filter(F.col("doc_id") < 150)).save(da)
    build_index(corpus_df.filter(F.col("doc_id") >= 150)).save(db)
    main, delta = Index.load(spark, da), Index.load(spark, db)
    dead = corpus_df.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    for merged in (
        merge_indexes(main, delta),
        merge_indexes(main, delta, deleted=dead),
    ):
        plan = _plan(merged.postings)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan


def test_repo_link_graph_inter_repo_edges_distributed(spark, corpus_df):
    """The inter-repo head chain must not sort the one-row-per-repo
    frame in a single partition (VERDICT r02 #7): heads are
    range-partitioned with lead() per partition; the only
    single-partition exchange left feeds the boundary-stitch window
    over ONE ROW PER RANGE PARTITION (metadata-scale)."""
    from search_engine_spark.operators.pagerank import repo_link_graph

    g = repo_link_graph(corpus_df)
    plan = _plan(g)
    assert "rangepartitioning(repo" in plan
    # exactly one SinglePartition exchange, and it sits above the
    # per-partition (pid) aggregate, never above repo-level data
    assert plan.count("Exchange SinglePartition") == 1
    tiny = plan.split("Exchange SinglePartition")[1]
    assert "pid" in tiny.split("Exchange")[0]


def test_pq_screen_plan_properties(spark):
    """PQ ANN: the screen's TakeOrdered carries only (vec_id, _approx)
    — the embedding array must NOT ride through the heap — and the
    pool's vectors come back via a broadcast join."""
    import numpy as np

    from search_engine_spark.operators.similarity import (
        pq_attach,
        pq_topk,
        train_pq,
    )

    rng = np.random.default_rng(1)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16)])
        for i in range(64)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    cb = train_pq(emb, dim=16, ks=16, iters=2)
    enc = pq_attach(emb, cb)
    plan = _plan(pq_topk(enc, cb, rows[0][1], k=5))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the SCREEN TakeOrdered must order by _approx over a slim projection
    screen = [
        ln for ln in plan.splitlines()
        if "TakeOrderedAndProject" in ln and "_approx" in ln
    ]
    assert screen and all("embedding" not in ln for ln in screen)


def test_drop_near_duplicates_broadcasts_losers(spark):
    """The keep-canonical anti-join must broadcast the (tiny) loser
    set, never shuffle the corpus."""
    from search_engine_spark.operators.dedup import drop_near_duplicates

    docs = spark.createDataFrame(
        [(i, f"d {i}") for i in range(100)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_a long, id_b long"
    )
    plan = _plan(drop_near_duplicates(docs, pairs))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_media_feature_plans_are_single_pass(spark, tmp_path_factory):
    """Each codec feature op over a MATERIALIZED media table is one
    scan -> one MapInPandas -> no Exchange: decode parallelism is the
    file-split parallelism, and a 100 TB media corpus never shuffles
    binary payloads to get featurized."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators.multimodal import (
        attach_fake_avi,
        attach_fake_bmp,
        attach_fake_wav,
        audio_features,
        image_features,
        video_features,
    )

    docs = spark.range(0, 32).select(F.col("id").alias("doc_id"))
    for tag, attach, featurize in [
        ("bmp", attach_fake_bmp, image_features),
        ("wav", attach_fake_wav, audio_features),
        ("avi", attach_fake_avi, video_features),
    ]:
        d = str(tmp_path_factory.mktemp(f"media_{tag}"))
        attach(docs).write.mode("overwrite").parquet(d)
        plan = _plan(featurize(spark.read.parquet(d)))
        assert "Exchange" not in plan, (tag, plan)
        assert plan.count("MapInPandas") == 1, (tag, plan)
        # column-pruned scan: the feature pass reads id + payload only
        scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert scan and "mime" not in scan[0] and "width" not in scan[0], (
            tag, scan,
        )
