#!/usr/bin/env python
"""spark-submit entry: run top-k queries against a saved index.

    spark-submit --py-files "$ZIP" jobs/query_job.py \\
        --index /path/to/index --query "hash join window" \\
        [--k 10] [--wand] [--batch] [--mode bm25|tfidf]

Prints one JSON line per query: {"query": ..., "results": [[doc_id,
score], ...], "sec": ...}. --wand uses the block-max WAND path
(rank-identical for plain disjunctive queries; boolean/phrase queries
automatically use the exhaustive path). --batch evaluates ALL --query
flags in the one batch evaluator (``search_batch``: one plan and one
decoded posting scan for the whole set, duplicates evaluated once).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--wand", action="store_true")
    ap.add_argument("--batch", action="store_true")
    ap.add_argument("--mode", default="bm25", choices=["bm25", "tfidf"])
    ap.add_argument(
        "--out",
        help="with --batch: write (query, doc_id, rel, page_rank, score) "
        "parquet DISTRIBUTED via the one-plan batch evaluator — no "
        "driver collect, the 10k-query offline-evaluation shape",
    )
    # analyzer overrides are OPT-IN: by default the index's own
    # build-time config (persisted in its metadata) drives the query
    # analyzer, which is the only correct pairing
    ap.add_argument("--no-stem", action="store_true")
    ap.add_argument("--no-stopwords", action="store_true")
    ap.add_argument("--override-analyzer", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("se-query").getOrCreate()

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import Index
    from search_engine_spark.operators.parser import detect_operator, is_phrase
    from search_engine_spark.operators.query import search
    from search_engine_spark.operators.wand import search_wand

    cfg = None
    if args.override_analyzer:
        cfg = EngineConfig(
            stem=not args.no_stem, remove_stopwords=not args.no_stopwords
        )
    idx = Index.load(spark, args.index, cfg=cfg)
    idx.postings = idx.postings.persist()
    idx.term_stats = idx.term_stats.persist()

    if args.batch and args.out:
        # large-N path: results stay executor-side end to end
        from search_engine_spark.operators.query import search_batch

        distinct = list(dict.fromkeys(args.query))
        t0 = time.perf_counter()
        search_batch(
            idx, distinct, k=args.k, mode=args.mode
        ).write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {
                    "out": args.out,
                    "n_queries": len(distinct),
                    "sec": round(time.perf_counter() - t0, 4),
                    "path": "batch-distributed",
                }
            )
        )
        spark.stop()
        return

    if args.batch:
        from search_engine_spark.operators.query import search_many

        t0 = time.perf_counter()
        rows = search_many(idx, args.query, k=args.k, mode=args.mode).collect()
        sec = round(time.perf_counter() - t0, 4)
        by_q: dict[str, list] = {q: [] for q in args.query}
        for r in rows:
            by_q[r["query"]].append(
                [int(r["doc_id"]), round(float(r["score"]), 6)]
            )
        for q in args.query:
            print(
                json.dumps(
                    {
                        "query": q,
                        "results": by_q[q],
                        "sec": sec,
                        "path": "batch",
                    }
                )
            )
        spark.stop()
        return

    for q in args.query:
        t0 = time.perf_counter()
        op, _, _ = detect_operator(q)
        plain = op is None and not is_phrase(q.strip())
        if args.wand and plain:
            df = search_wand(idx, q, k=args.k)
        else:
            df = search(idx, q, k=args.k, mode=args.mode)
        rows = [
            [int(r["doc_id"]), round(float(r["score"]), 6)]
            for r in df.collect()
        ]
        print(
            json.dumps(
                {
                    "query": q,
                    "results": rows,
                    "sec": round(time.perf_counter() - t0, 4),
                    "path": "wand" if (args.wand and plain) else "exhaustive",
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
