#!/usr/bin/env python
"""Benchmark harness: headline engine queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the headline as ONE compact JSON line, always the last line of
stdout:
  {"metric": "...", "value": <headline>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., ...extras}
The committed-study summaries (``scaling``, ``bands``) are long, so they
go to ``bench_extras.json`` next to this file instead; the headline names
that file under ``extras``.

Headline value = end-to-end index-build wall time (the north rule's
build-throughput metric is reported alongside as docs_per_sec).

Extra keys (ignored by the driver, used for BENCH/BASELINE.md):
  docs_per_sec, query_p50/p95 over the BM25 query set, cores.

Scaling-efficiency mode (two parallelism levels on the SAME input):
  python bench.py --scaling     # runs N=8 and 4N=32 cores, reports
                                # efficiency = (T_N / T_4N) / 4

The scaling run generates a deterministic synthetic source-code corpus
(BASELINE.json input_hint shape; sources/corpus.py, seed 42) sized so the
build is compute-bound — the sf0.1 documents table (5k docs, ~7 s build)
is scheduling-overhead-dominated and cannot evidence executor scaling.
The corpus parquet is written ONCE and both runs read the same files with
the same fixed partition count (128), so only executor-thread parallelism
varies between the two measurements — the local-mode stand-in for N vs 4N
executors.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _mk_spark(cores: int, shuffle_parts: int):
    from search_engine_spark.session import get_spark

    extra = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "16g"
        ),
    }
    # Shuffle/spill on tmpfs when available: this sandbox's virtio disk
    # shows pathological sys-time storms under 32 concurrent writers.
    # SPARK_GRAFT_DISK_SHUFFLE=1 opts back into the on-disk default (the
    # large-corpus scaling study uses it to exercise real spill I/O).
    if (
        os.path.isdir("/dev/shm")
        and os.environ.get("SPARK_GRAFT_DISK_SHUFFLE") != "1"
    ):
        d = "/dev/shm/spark-local"
        os.makedirs(d, exist_ok=True)
        extra["spark.local.dir"] = d
    return get_spark(
        app_name=f"bench-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_parts,
        extra_conf=extra,
    )


EXTRAS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_extras.json"
)

QUERY_SET = [
    "hash join window",
    "scan AND batch",
    "scan OR batch",
    "scan NOT batch",
    '"hash join"',
    "partition shuffle broadcast spark",
    "stream",
]


def run_bench(cores: int, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.query import search

    spark = _mk_spark(cores, shuffle_parts=max(2 * cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # repartition once so build parallelism tracks core count, not the
        # input file's layout (one small parquet file = one partition)
        docs = docs.repartition(max(2 * cores, 8)).persist()
        n_docs = docs.count()

        cfg = EngineConfig(stem=False, remove_stopwords=False)
        timings: dict[str, float] = {}

        t0 = time.perf_counter()
        idx = build_index(docs, text_col="text", doc_id_col="doc_id", cfg=cfg)
        # force full materialization of every artifact
        idx.postings = idx.postings.persist()
        idx.postings.count()
        idx.term_stats = idx.term_stats.persist()
        idx.term_stats.count()
        build_sec = time.perf_counter() - t0
        timings["index_build"] = round(build_sec, 4)

        # query the SAVED artifacts, not the in-build plans — the
        # production regime (build once, query many) and the reference's
        # own shape (its searcher reads the SQLite index it wrote).
        # Loading also arms the pyarrow idf fast path, so a single query
        # is one Spark job on the pruned parquet scan plus a ~1 ms
        # driver-side metadata read.
        import shutil
        import tempfile

        from search_engine_spark.operators.index_build import Index

        artifacts_dir = tempfile.mkdtemp(prefix="se_bench_idx_")
        t0 = time.perf_counter()
        idx.save(artifacts_dir)
        timings["index_save"] = round(time.perf_counter() - t0, 4)
        idx = Index.load(spark, artifacts_dir)

        q_times = []
        for i, q in enumerate(QUERY_SET):
            t0 = time.perf_counter()
            search(idx, q, k=10).collect()
            dt = time.perf_counter() - t0
            q_times.append(dt)
            timings[f"q{i + 1}"] = round(dt, 4)

        # batched evaluation of the reference query set: search_many, the
        # thin front for the one batch evaluator (search_batch)
        from search_engine_spark.operators.query import search_many

        t0 = time.perf_counter()
        search_many(idx, QUERY_SET, k=10).collect()
        batch_sec = time.perf_counter() - t0
        timings["query_batch"] = round(batch_sec, 4)

        # the same evaluator at N=100: deterministic two-term queries from
        # the corpus vocabulary — the offline-evaluation shape, results
        # counted executor-side instead of collected
        from search_engine_spark.operators.query import search_batch

        vocab = [
            r["term"]
            for r in idx.term_stats.orderBy(
                F.desc("df"), F.asc("term")
            ).limit(40).collect()
        ]
        nv = len(vocab)
        batch100 = [
            f"{vocab[i % nv]} {vocab[(i * 7 + 3 + i // nv) % nv]}"
            for i in range(100)
        ]
        t0 = time.perf_counter()
        search_batch(idx, batch100, k=10).count()
        batch100_sec = time.perf_counter() - t0
        timings["query_batch100_dist"] = round(batch100_sec, 4)

        # block-max WAND over the codec binaries — the store_arrays=False
        # at-scale read path (decoded posting arrays never touched)
        from search_engine_spark.operators.wand import search_wand

        t0 = time.perf_counter()
        search_wand(idx, QUERY_SET[0], k=10).collect()
        timings["q1_wand"] = round(time.perf_counter() - t0, 4)

        # driver-side serving tier: same saved artifacts, no Spark job
        # per query — the reference's warm/cached single-node regime
        from search_engine_spark.serving import ServingIndex

        try:
            srv = ServingIndex.load(artifacts_dir)
            for q in QUERY_SET:  # warm decode caches
                srv.cached_search(q, k=10)
            t0 = time.perf_counter()
            for q in QUERY_SET:
                srv.search(q, k=10)
            serving_warm_ms = (
                (time.perf_counter() - t0) * 1000 / len(QUERY_SET)
            )
            t0 = time.perf_counter()
            for q in QUERY_SET:
                srv.cached_search(q, k=10)
            serving_cached_ms = (
                (time.perf_counter() - t0) * 1000 / len(QUERY_SET)
            )
            timings["serving_warm_ms"] = round(serving_warm_ms, 3)
            timings["serving_cached_ms"] = round(serving_cached_ms, 4)

            # hybrid sparse+dense retrieval (round 4): BM25 pool over
            # the saved index + hashed-embedding cosine pool, fused by
            # reciprocal-rank fusion — must run before the artifacts
            # dir is cleaned up (the loaded index reads it lazily)
            from search_engine_spark.operators.hybrid import hybrid_topk

            t0 = time.perf_counter()
            hybrid_topk(idx, docs, "hash join partition pruning").count()
            timings["hybrid_topk"] = round(time.perf_counter() - t0, 4)

            # repeated-use amortization (round 5): 10 hybrid queries
            # reusing ONE persisted corpus embedding (emb=) vs 10
            # inline calls each paying its own full-corpus embed scan —
            # the seconds-per-query gap is the query-independent work
            from search_engine_spark.operators.embed import hash_embed

            hq = [
                f"{vocab[i % nv]} {vocab[(i * 7 + 3) % nv]}"
                for i in range(10)
            ]
            t0 = time.perf_counter()
            pre = hash_embed(docs, dim=64).persist()
            pre.count()
            for q in hq:
                hybrid_topk(idx, docs, q, emb=pre).count()
            timings["hybrid_batch10_precomputed"] = round(
                time.perf_counter() - t0, 4
            )
            pre.unpersist()
            t0 = time.perf_counter()
            for q in hq:
                hybrid_topk(idx, docs, q).count()
            timings["hybrid_batch10_inline"] = round(
                time.perf_counter() - t0, 4
            )
        finally:
            shutil.rmtree(artifacts_dir, ignore_errors=True)

        # dedup + similarity headliners
        from search_engine_spark.operators.dedup import (
            exact_dedup,
            minhash_lsh_pairs,
        )
        from search_engine_spark.operators.similarity import cosine_topk

        t0 = time.perf_counter()
        exact_dedup(docs).count()
        timings["dedup_exact"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        minhash_lsh_pairs(docs, num_hashes=4, threshold=0.8).count()
        timings["minhash_lsh"] = round(time.perf_counter() - t0, 4)

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        ]
        t0 = time.perf_counter()
        cosine_topk(emb, qvec, k=10, exclude_ids=[0]).collect()
        timings["ann_cosine"] = round(time.perf_counter() - t0, 4)

        # approximate ANN paths at the PRODUCT DEFAULTS (round-4):
        # adaptive probe widths + PQ-ADC screen + exact rerank. Recall
        # measured vs brute force AVERAGED over 5 query vectors
        # (single-query recall at k=10 is tail-luck-dominated). See
        # BENCH.md "ANN recall-vs-cost" for the full sweep and the
        # 480k-vector wall-time comparison.
        from search_engine_spark.operators.similarity import (
            ivf_assign,
            ivf_topk,
            kmeans_centroids,
            lsh_topk,
            pq_attach,
            pq_topk,
            train_pq,
        )

        dim = len(qvec)
        t0 = time.perf_counter()
        cb = train_pq(emb, dim=dim, ks=256, iters=8)
        enc = pq_attach(emb, cb).persist()
        enc.count()
        timings["pq_train"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        pq_topk(enc, cb, qvec, k=10, exclude_ids=[0]).collect()
        timings["pq_ann"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        lsh_topk(
            enc, qvec, dim=dim, k=10, n_planes=6, codebooks=cb,
            exclude_ids=[0],
        ).collect()
        timings["lsh_ann"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        cents = kmeans_centroids(emb, dim=dim, n_centroids=16, iters=2)
        assigned = pq_attach(ivf_assign(emb, cents), cb).persist()
        assigned.count()
        timings["ivf_train"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        ivf_topk(
            assigned, cents, qvec, k=10, codebooks=cb, exclude_ids=[0]
        ).collect()
        timings["ivf_ann"] = round(time.perf_counter() - t0, 4)

        # 8 query vectors: at 80 neighbor samples the recall estimate's
        # std is ~3-4%, so a run-to-run dip below the 0.8 bar is noise-
        # proof for the measured ~0.88-0.96 operating points
        recall_q = [
            (r["vec_id"], [float(x) for x in r["embedding"]])
            for r in emb.where(F.col("vec_id") < 8).collect()
        ]
        lsh_hits = ivf_hits = pq_hits = exact_n = 0
        for vid, qv in recall_q:
            ex = {
                r["vec_id"]
                for r in cosine_topk(
                    emb, qv, k=10, exclude_ids=[vid]
                ).collect()
            }
            lsh = {
                r["vec_id"]
                for r in lsh_topk(
                    enc, qv, dim=dim, k=10, n_planes=6, codebooks=cb,
                    exclude_ids=[vid],
                ).collect()
            }
            ivf = {
                r["vec_id"]
                for r in ivf_topk(
                    assigned, cents, qv, k=10, codebooks=cb,
                    exclude_ids=[vid],
                ).collect()
            }
            pq = {
                r["vec_id"]
                for r in pq_topk(
                    enc, cb, qv, k=10, exclude_ids=[vid]
                ).collect()
            }
            exact_n += len(ex)
            lsh_hits += len(lsh & ex)
            ivf_hits += len(ivf & ex)
            pq_hits += len(pq & ex)
        # vector serving tier (round 4): save the ANN artifact, answer
        # from pyarrow+numpy with no Spark on the query path
        from search_engine_spark.operators.vector_index import VectorIndex
        from search_engine_spark.vector_serving import VectorServing

        vdir = tempfile.mkdtemp(prefix="se_bench_vidx_")
        try:
            VectorIndex(assigned, cb, cents, dim).save(vdir)
            vsrv = VectorServing.load(vdir)
            vq = list(qvec)
            vsrv.topk(vq, k=10)  # load + warm the probed clusters
            t0 = time.perf_counter()
            for _ in range(50):
                vsrv.topk(vq, k=10)
            timings["vector_serving_warm_ms"] = round(
                (time.perf_counter() - t0) * 1000 / 50, 3
            )
        finally:
            shutil.rmtree(vdir, ignore_errors=True)

        assigned.unpersist()
        enc.unpersist()
        recall_lsh = lsh_hits / max(exact_n, 1)
        recall_ivf = ivf_hits / max(exact_n, 1)
        recall_pq = pq_hits / max(exact_n, 1)

        # training-pipeline ops (round 3): eval-set decontamination and
        # LM sequence packing over the documents table
        from search_engine_spark.operators.decontam import decontaminate
        from search_engine_spark.operators.textstats import pack_sequences

        ev = docs.where(F.col("doc_id") % 41 == 0)
        t0 = time.perf_counter()
        decontaminate(docs, ev, text_col="text", n=13).count()
        timings["decontam"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        pack_sequences(docs, budget=2048, text_col="text").count()
        timings["pack_sequences"] = round(time.perf_counter() - t0, 4)

        from search_engine_spark.operators.textstats import emit_sequences

        t0 = time.perf_counter()
        emit_sequences(docs, budget=2048, text_col="text").write.format(
            "noop"
        ).mode("overwrite").save()
        timings["emit_sequences"] = round(time.perf_counter() - t0, 4)

        # DSIR importance resampling (round 4): fit the two hashed-ngram
        # LMs (target = en slice), weight the corpus (narrow Arrow pass),
        # Gumbel-top-k select — fit + weight + select end-to-end
        from search_engine_spark.operators import dsir as _dsir

        t0 = time.perf_counter()
        _lam = _dsir.fit_log_ratios(docs, docs.where(F.col("lang") == "en"))
        _dsir.dsir_select(docs, _lam, k=max(1, n_docs // 10), seed=7).count()
        timings["dsir_select"] = round(time.perf_counter() - t0, 4)

        # BPE tokenizer (round 4): train on the corpus (bounded word-
        # frequency table -> driver merges), then the distributed
        # Arrow encode pass over every doc
        from search_engine_spark.operators import bpe as _bpe

        t0 = time.perf_counter()
        _tok = _bpe.train_bpe(docs, vocab_size=512)
        timings["bpe_train"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        _bpe.bpe_encode(docs, _tok).select(
            F.sum(F.size("token_ids"))
        ).collect()
        timings["bpe_encode"] = round(time.perf_counter() - t0, 4)

        # model-free semantic retrieval (round 4): feature-hashed
        # embeddings + free-text cosine top-10, end-to-end
        from search_engine_spark.operators import embed as _embed

        t0 = time.perf_counter()
        _embed.semantic_topk(docs, "hash join partition pruning").count()
        timings["semantic_topk"] = round(time.perf_counter() - t0, 4)

        # corpus-hygiene quality filters (round 4): per-doc repetition
        # signals and the Gopher rule set — narrow zero-shuffle scans;
        # noop sink so column pruning can't skip the array algebra
        from search_engine_spark.operators.quality import (
            gopher_filter,
            repetition_stats,
        )

        t0 = time.perf_counter()
        repetition_stats(docs, text_col="text").write.format(
            "noop"
        ).mode("overwrite").save()
        timings["repetition_stats"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        gopher_filter(docs, text_col="text").write.format("noop").mode(
            "overwrite"
        ).save()
        timings["gopher_filter"] = round(time.perf_counter() - t0, 4)

        from search_engine_spark.operators.quality import scrub_pii

        t0 = time.perf_counter()
        scrub_pii(docs, text_col="text").write.format("noop").mode(
            "overwrite"
        ).save()
        timings["pii_scrub"] = round(time.perf_counter() - t0, 4)

        # multimodal decode throughput (round 5): three of the four
        # REAL stdlib codecs end-to-end — synthesize genuine
        # BMP/WAV/AVI payloads and decode them back to exact-moment
        # features in one mapInPandas pass each (PNG shares the BMP
        # pixel path; its zlib cost is pinned separately in tests)
        from search_engine_spark.operators.multimodal import (
            attach_fake_avi,
            attach_fake_bmp,
            attach_fake_wav,
            audio_features,
            image_features,
            video_features,
        )

        t0 = time.perf_counter()
        image_features(attach_fake_bmp(docs)).write.format("noop").mode(
            "overwrite"
        ).save()
        audio_features(attach_fake_wav(docs)).write.format("noop").mode(
            "overwrite"
        ).save()
        video_features(attach_fake_avi(docs)).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["media_features_all"] = round(time.perf_counter() - t0, 4)

        # full hygiene pipeline (round 4): langid -> quality -> exact
        # dedup -> near-dup components -> decontam -> slice rows, one
        # composed run over the documents table
        from search_engine_spark.operators.pipeline import (
            prepare_training_data,
        )

        t0 = time.perf_counter()
        _clean, slices, _rep = prepare_training_data(
            docs,
            text_col="text",
            min_quality=0.1,
            eval_df=ev,
            decontam_ngram=13,
            pack_budget=2048,
        )
        slices.count()
        timings["pipeline_full"] = round(time.perf_counter() - t0, 4)

        qs = sorted(q_times)
        return {
            "cores": cores,
            "n_docs": n_docs,
            "build_sec": build_sec,
            "docs_per_sec": round(n_docs / build_sec, 2),
            "query_p50": round(statistics.median(q_times), 4),
            "query_p95": round(qs[max(0, int(len(qs) * 0.95) - 1)], 4),
            "query_batched_per_query": round(batch_sec / len(QUERY_SET), 4),
            "query_batch100_per_query": round(batch100_sec / 100, 4),
            "serving_warm_ms": round(serving_warm_ms, 3),
            "serving_cached_ms": round(serving_cached_ms, 4),
            "ann_recall_lsh": round(recall_lsh, 3),
            "ann_recall_ivf": round(recall_ivf, 3),
            "ann_recall_pq": round(recall_pq, 3),
            "timings": timings,
        }
    finally:
        spark.stop()


def run_micro(cores: int, sf_dir: str) -> dict:
    """ONLY the sub-10-second pipeline rows (dedup/ANN/decontam/pack),
    no index build — used by tools/micro_variance.py to quantify the
    VM's run-to-run noise with fresh-process repeats (the r03 verdict's
    unexplained +56% minhash_lsh drift ask). Keep the op set and params
    in lockstep with run_bench so the numbers are comparable."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
    )
    from search_engine_spark.operators.decontam import decontaminate
    from search_engine_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
        lsh_topk,
        pq_attach,
        pq_topk,
        train_pq,
    )
    from search_engine_spark.operators.textstats import pack_sequences

    spark = _mk_spark(cores, shuffle_parts=max(2 * cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs = docs.repartition(max(2 * cores, 8)).persist()
        docs.count()
        timings: dict[str, float] = {}

        t0 = time.perf_counter()
        exact_dedup(docs).count()
        timings["dedup_exact"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        minhash_lsh_pairs(docs, num_hashes=4, threshold=0.8).count()
        timings["minhash_lsh"] = round(time.perf_counter() - t0, 4)

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
        ]
        t0 = time.perf_counter()
        cosine_topk(emb, qvec, k=10, exclude_ids=[0]).collect()
        timings["ann_cosine"] = round(time.perf_counter() - t0, 4)

        dim = len(qvec)
        t0 = time.perf_counter()
        cb = train_pq(emb, dim=dim, ks=256, iters=8)
        enc = pq_attach(emb, cb).persist()
        enc.count()
        timings["pq_train"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        pq_topk(enc, cb, qvec, k=10, exclude_ids=[0]).collect()
        timings["pq_ann"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        lsh_topk(
            enc, qvec, dim=dim, k=10, n_planes=6, codebooks=cb,
            exclude_ids=[0],
        ).collect()
        timings["lsh_ann"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        cents = kmeans_centroids(emb, dim=dim, n_centroids=16, iters=2)
        assigned = pq_attach(ivf_assign(emb, cents), cb).persist()
        assigned.count()
        timings["ivf_train"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        ivf_topk(
            assigned, cents, qvec, k=10, codebooks=cb, exclude_ids=[0]
        ).collect()
        timings["ivf_ann"] = round(time.perf_counter() - t0, 4)

        ev = docs.where(F.col("doc_id") % 41 == 0)
        t0 = time.perf_counter()
        decontaminate(docs, ev, text_col="text", n=13).count()
        timings["decontam"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        pack_sequences(docs, budget=2048, text_col="text").count()
        timings["pack_sequences"] = round(time.perf_counter() - t0, 4)
        return {"cores": cores, "micro": timings}
    finally:
        spark.stop()


SCALING_PARTS = 128  # fixed partition count — identical physical input
                     # layout at both parallelism levels


def _scaling_corpus_path(n_docs: int) -> str:
    """Generate (once) the deterministic input_hint-shaped corpus used by
    the scaling benchmark; both parallelism levels read these same files."""
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"se_scaling_corpus_{n_docs}.parquet"
    )
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from search_engine_spark.sources.corpus import generate_corpus

    spark = _mk_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), 64)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        generate_corpus(
            spark, n_docs=n_docs, seed=42, num_partitions=SCALING_PARTS
        ).write.mode("overwrite").parquet(path)
    finally:
        spark.stop()
    return path


def run_scaling(cores: int, n_docs: int) -> dict:
    """One timed index build + query batch at the given core count.

    Shuffle partitions are fixed at SCALING_PARTS for both runs: the job
    (input, partitioning, plan) is byte-identical; only the number of
    executor threads differs — the sandbox stand-in for N vs 4N executors
    (BASELINE.json north rule)."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.query import search
    import time

    path = _scaling_corpus_path(n_docs)
    spark = _mk_spark(cores, shuffle_parts=SCALING_PARTS)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # Spark's file-packing would coalesce these small files into a
        # handful of input splits; repartition to the fixed layout so the
        # tokenize stage has the same SCALING_PARTS tasks at both levels.
        docs = spark.read.parquet(path).repartition(SCALING_PARTS).persist()
        n = docs.count()  # materialize outside the timed region

        cfg = EngineConfig()  # full reference analyzer: stem + stopwords

        # 1 warmup + SPARK_GRAFT_SCALING_REPS timed builds: the first run
        # pays one-time python-worker fork + JIT costs that are per-process,
        # not per-job — steady-state throughput is what a long-running
        # cluster build exhibits, and is the honest scaling signal.
        reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "2"))
        times = []
        idx = None
        for rep in range(reps + 1):
            if idx is not None:
                spark.catalog.clearCache()
                docs = (
                    spark.read.parquet(path)
                    .repartition(SCALING_PARTS)
                    .persist()
                )
                docs.count()
            t0 = time.perf_counter()
            idx = build_index(
                docs, text_col="content", doc_id_col="doc_id", cfg=cfg
            )
            idx.postings = idx.postings.persist()
            idx.postings.count()
            idx.term_stats = idx.term_stats.persist()
            idx.term_stats.count()
            if rep > 0:  # rep 0 = warmup
                times.append(time.perf_counter() - t0)
        build_sec = statistics.median(times)

        t0 = time.perf_counter()
        for q in QUERY_SET:
            search(idx, q, k=10).collect()
        query_sec = time.perf_counter() - t0
        return {
            "cores": cores,
            "n_docs": n,
            "build_sec": build_sec,
            "build_secs": [round(t, 2) for t in times],
            "docs_per_sec": round(n / build_sec, 2),
            "query_sec": round(query_sec, 4),
        }
    finally:
        spark.stop()


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    if "--micro" in sys.argv:
        # sub-10s rows only, fresh-process friendly (variance study)
        print(json.dumps(run_micro(cores, sf_dir)))
        return

    if "--scaling-one" in sys.argv:
        # single parallelism level in a fresh process (used by
        # tools/scaling_study.py to decorrelate levels from VM noise)
        one = int(sys.argv[sys.argv.index("--scaling-one") + 1])
        n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "120000"))
        print(json.dumps(run_scaling(one, n_docs)))
        return

    if "--scaling" in sys.argv:
        n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "120000"))
        n_lo = int(os.environ.get("SPARK_GRAFT_SCALING_N", max(cores // 4, 1)))
        lo = run_scaling(n_lo, n_docs)
        hi = run_scaling(min(4 * n_lo, cores), n_docs)
        eff = (lo["build_sec"] / hi["build_sec"]) / (
            hi["cores"] / lo["cores"]
        )
        out = {
            "metric": "scaling_efficiency_Nx4N",
            "value": round(eff, 4),
            "unit": "ratio",
            "n_docs": n_docs,
            "n_cores": lo["cores"],
            "n4_cores": hi["cores"],
            "throughput_n": lo["docs_per_sec"],
            "throughput_4n": hi["docs_per_sec"],
            "build_sec_n": round(lo["build_sec"], 4),
            "build_sec_4n": round(hi["build_sec"], 4),
            "query_sec_n": lo["query_sec"],
            "query_sec_4n": hi["query_sec"],
        }
        print(json.dumps(out))
        return

    r = run_bench(cores, sf_dir)
    out = {
        "metric": "index_build_plus_query_suite_sec",
        "value": round(
            r["build_sec"], 4
        ),
        "unit": "sec",
        "queries": r["timings"],
        "sf": sf,
        "cores": r["cores"],
        "n_docs": r["n_docs"],
        "docs_per_sec": r["docs_per_sec"],
        "query_p50_sec": r["query_p50"],
        "query_p95_sec": r["query_p95"],
        "query_batched_per_query_sec": r["query_batched_per_query"],
        "query_batch100_per_query_sec": r["query_batch100_per_query"],
        "serving_warm_ms": r["serving_warm_ms"],
        "serving_cached_ms": r["serving_cached_ms"],
        "ann_recall_lsh": r["ann_recall_lsh"],
        "ann_recall_ivf": r["ann_recall_ivf"],
        "ann_recall_pq": r["ann_recall_pq"],
    }
    extras = {"scaling": _scaling_summary(), "bands": _bands_summary()}
    extras = {k: v for k, v in extras.items() if v}
    if extras:
        with open(EXTRAS_PATH, "w") as fh:
            json.dump(extras, fh, indent=1)
        out["extras"] = os.path.basename(EXTRAS_PATH)
    print(json.dumps(out, separators=(",", ":")))


def _bands_summary() -> dict | None:
    """Best/median/worst fresh-process bands for every sub-10 s row,
    from the committed micro_variance.json (tools/micro_variance.py —
    N fresh JVMs back-to-back). Persisted NEXT TO the point values so
    a reader can tell drift from VM noise without cross-referencing:
    any single-run number inside its row's band is noise, not a
    regression."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "micro_variance.json"
    )
    if not os.path.exists(path):
        return None
    try:
        mv = json.load(open(path))
        return {
            "source": "micro_variance.json",
            "reps": mv.get("reps"),
            "rows": mv.get("rows"),
        }
    except (ValueError, OSError):
        return None


def _scaling_summary() -> dict | None:
    """Headline N-vs-4N numbers from the committed scaling studies
    (scaling_study*.json, produced by tools/scaling_study.py on a quiet
    machine — see BENCH.md for methodology and the hardware ceiling).
    Efficiencies are computed PER CORPUS SIZE — runs at different
    corpus sizes are different workloads and never compared."""
    import glob as _glob

    here = os.path.dirname(os.path.abspath(__file__))
    paths = sorted(_glob.glob(os.path.join(here, "scaling_study*.json")))
    if not paths:
        return None
    try:
        out: dict = {"studies": []}
        for path in paths:
            state = json.load(open(path))
            best: dict[tuple[int, int], float] = {}
            for r in state.get("runs", []):
                # skip legacy/malformed records explicitly instead of
                # letting a None timing or missing n_docs poison the
                # whole summary (the blanket except below would drop
                # EVERY study, and n_docs=0 buckets are meaningless)
                if "n_docs" not in r or "cores" not in r:
                    continue
                ts = r.get("build_secs") or (
                    [r["build_sec"]] if r.get("build_sec") is not None else []
                )
                key = (r["n_docs"], r["cores"])
                for t in ts:
                    if t is None:
                        continue
                    if key not in best or t < best[key]:
                        best[key] = t
            for nd in sorted({k[0] for k in best}):
                lv = {c: t for (d, c), t in best.items() if d == nd}
                entry = {
                    "n_docs": nd,
                    "hw_ceiling": state.get("hw_throughput"),
                }
                for n in sorted(lv):
                    if 4 * n in lv:
                        entry[f"efficiency_{n}_to_{4*n}"] = round(
                            lv[n] / lv[4 * n] / 4.0, 3
                        )
                out["studies"].append(entry)
        return out if out["studies"] else None
    except Exception:
        return None


if __name__ == "__main__":
    main()
