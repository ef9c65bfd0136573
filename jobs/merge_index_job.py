#!/usr/bin/env python
"""spark-submit entry: incremental index maintenance (delta merge /
delete compaction) — the daily-update flow at 100 TB: tokenize ONLY the
new documents, merge the resulting delta into the published main index,
flip the generation pointer.

::

    ZIP=$(python -c 'import sys; sys.path.insert(0,"<repo>"); \\
          from search_engine_spark.session import package_zip; print(package_zip())')
    spark-submit --py-files "$ZIP" jobs/merge_index_job.py \\
        --main /idx/main_or_publish_root [--main-latest] \\
        (--delta /idx/delta | --delta-docs /parquet/new_docs) \\
        --output /idx/out [--publish] \\
        [--on-conflict right|error] [--delete-ids /parquet/of/doc_id]

``--delta-docs`` builds the delta index inside this job (only the delta
is tokenized); ``--delta`` consumes a pre-built one. ``--main-latest``
resolves ``--main`` as a publish root (publish.py LATEST pointer);
``--publish`` writes the merged result as the next immutable generation
of the ``--output`` root. ``--delete-ids`` removes those ids from the
main index and the delta in the same rebuild pass as the merge (a
deleted id beats its upsert), or compacts the main index when no delta
is given — exact df/idf/avgdl recompute. Prints a one-line JSON report.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--main", required=True)
    ap.add_argument("--main-latest", action="store_true")
    ap.add_argument("--delta")
    ap.add_argument("--delta-docs")
    ap.add_argument("--output", required=True)
    ap.add_argument("--publish", action="store_true")
    ap.add_argument("--on-conflict", default="right", choices=["right", "error"])
    ap.add_argument("--delete-ids")
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--doc-id-col", default="doc_id")
    args = ap.parse_args()
    if args.delta and args.delta_docs:
        ap.error("--delta and --delta-docs are mutually exclusive")
    if not args.delta and not args.delta_docs and not args.delete_ids:
        ap.error("nothing to do: need --delta, --delta-docs, or --delete-ids")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("se-merge-index").getOrCreate()

    from search_engine_spark.operators.index_build import Index, build_index
    from search_engine_spark.operators.merge import delete_docs, merge_indexes
    from search_engine_spark.publish import latest_index_path, publish_index

    main_path = (
        latest_index_path(args.main) if args.main_latest else args.main
    )
    idx = Index.load(spark, main_path)
    report: dict = {"main": main_path, "main_n_docs": idx.n_docs}

    t0 = time.perf_counter()
    ids = spark.read.parquet(args.delete_ids) if args.delete_ids else None
    if ids is not None:
        report["delete_ids"] = ids.count()
    if args.delta or args.delta_docs:
        if args.delta_docs:
            delta = build_index(
                spark.read.parquet(args.delta_docs),
                text_col=args.text_col,
                doc_id_col=args.doc_id_col,
                cfg=idx.cfg,
            )
        else:
            delta = Index.load(spark, args.delta)
        report["delta_n_docs"] = delta.n_docs
        idx = merge_indexes(
            idx, delta, on_conflict=args.on_conflict, deleted=ids
        )
    else:
        idx = delete_docs(idx, ids)

    if args.publish:
        report["generation"] = publish_index(idx, args.output)
    else:
        idx.save(args.output)
    wall = time.perf_counter() - t0
    report.update(
        n_docs=idx.n_docs,
        avgdl=round(idx.avgdl, 3),
        wall_sec=round(wall, 3),
    )
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
