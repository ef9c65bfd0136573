"""Continuous ingestion → delta build → LSM merge → published
generations: the full serve-while-indexing loop.

The reference's "incremental update" story is a full rebuild into the
SQLite file it also serves from (ref: Indexer/Indexer.java:42-45,
SE/BackendManager.java queries concurrently under SQLite's writer
lock). This module is the distributed version with real increments:

  file-source ``readStream`` over the corpus directory
      └─ per micro-batch (foreachBatch), ONE rebuild pass:
           1. ``build_index`` over ONLY the batch's live rows (the delta —
              tokenization runs once per document, ever)
           2. ``merge_indexes(published, delta, deleted=tombstones)`` —
              right-wins upsert + CDC tombstone compaction in one pass;
              only shards the change set touches are regrouped, clean
              shards are rescored in place (operators/merge.py)
           3. ``publish_index`` — the merged index becomes immutable
              generation K+1; the LATEST pointer flips atomically
      └─ serving tier (``ServingIndex.load_latest`` + ``refresh``)
         picks up each generation without ever racing the writer.

Exactly-once: Structured Streaming's checkpoint may REPLAY a batch
after a crash between the publish and the checkpoint commit. The loop
is replay-idempotent by construction — ``merge_indexes`` is a
right-wins upsert keyed on doc_id with exact global-stat recompute, so
re-merging the same delta into a generation that already contains it
is value-identical (pinned in tests/test_live_index.py). A replay
costs one redundant generation, never a wrong one.

Scale notes:
  * Per-batch cost is O(delta tokens) + O(dirty shards) regrouping plus
    a re-encode of every clean shard's bm25 binary (avgdl moved), and
    ``publish_index`` writes the whole index as the new generation
    (see tools/merge_bench.py for the measured crossover).
  * Generations accumulate until ``prune_generations`` — run it from
    the same control loop on whatever cadence retention policy says.
  * For very high arrival rates, raise ``maxFilesPerTrigger`` (bigger
    deltas amortize the fixed merge/publish cost) — the sustained
    docs/s row in BENCH.md quotes the measured trade-off.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from search_engine_spark.config import DEFAULT, EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.merge import merge_indexes
from search_engine_spark.publish import (
    load_latest_index,
    publish_index,
    read_latest,
)


class StreamingLiveIndex:
    """Corpus parquet dir → queryable published generations.

    Usage::

        live = StreamingLiveIndex(spark, corpus_dir, index_root)
        live.process_available()        # every arrived file → gen(s)
        srv = ServingIndex.load_latest(index_root)
        # ...more files land...
        live.process_available()        # delta build + merge + publish
        srv.refresh()                   # serving swaps to the new gen
    """

    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        root: str,
        cfg: EngineConfig = DEFAULT,
        text_col: str = "content",
        doc_id_col: str = "doc_id",
        schema=None,
        checkpoint: str | None = None,
        transform=None,
        vector_dim: int | None = None,
        vector_n_centroids: int = 8,
        vector_m: int | None = None,
    ):
        self.spark = spark
        self.input_path = input_path
        self.root = root
        self.cfg = cfg
        self.text_col = text_col
        self.doc_id_col = doc_id_col
        #: optional hygiene hook ``DataFrame -> DataFrame`` applied to
        #: each micro-batch's live rows BEFORE the delta build — e.g.
        #: ``lambda df: scrub_pii(gopher_keep(df, text_col="content"),
        #: text_col="content")``. Must keep text/doc-id columns and be
        #: DETERMINISTIC: a replayed batch must transform identically
        #: or replay-idempotence (right-wins re-merge == no-op) breaks.
        self.transform = transform
        #: with ``vector_dim`` set the loop ALSO maintains a live ANN
        #: artifact at <root>/vector_index: each batch's survivors are
        #: hash-embedded (operators/embed.py) and UPSERTED (existing
        #: copies of the delta's ids are compacted out, then the delta
        #: parquet-appends — so a replayed batch lands value-identical,
        #: same contract as the text merge); CDC tombstones compact out
        #: via remove_ids. The first non-empty batch trains the coarse/
        #: PQ quantizers; the exact dial stays brute-force-identical to
        #: a one-shot build forever (quantizers only shape recall).
        self.vector_dim = vector_dim
        self.vector_n_centroids = vector_n_centroids
        self.vector_m = vector_m
        self.schema = schema or spark.read.parquet(input_path).schema
        self.checkpoint = checkpoint or os.path.join(
            root, "_stream_checkpoint"
        )
        self.batches_published = 0

    #: optional CDC column: rows with ``deleted=true`` are TOMBSTONES —
    #: their doc_ids are compacted OUT of the published index (text
    #: content ignored); all other rows are upserts. Absent column =
    #: pure-append stream.
    deleted_col = "deleted"

    def _handle_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        docs_b = batch_df.persist()
        try:
            alive, dead_ids = docs_b, []
            if self.deleted_col in docs_b.columns:
                tomb = F.coalesce(F.col(self.deleted_col), F.lit(False))
                alive = docs_b.where(~tomb)
                # a tombstone with a null id names no document
                dead_ids = [
                    r[0]
                    for r in docs_b.where(tomb)
                    .select(self.doc_id_col)
                    .dropna()
                    .collect()
                ]
            if self.transform is not None:
                alive = self.transform(alive)
            # the one probe left: only Spark knows what the CDC filter
            # and the transform hook kept
            has_live = bool(alive.head(1))
            current = (
                load_latest_index(self.spark, self.root)
                if read_latest(self.root) is not None
                else None
            )
            if has_live:
                if current is None and dead_ids:
                    # first generation: tombstones can only hit this
                    # batch's own rows, so drop them before the build
                    alive = alive.where(
                        ~F.col(self.doc_id_col).isin(dead_ids)
                    )
                merged = build_index(
                    alive,
                    text_col=self.text_col,
                    doc_id_col=self.doc_id_col,
                    cfg=self.cfg,
                )
                if current is not None:
                    # one rebuild for the whole change set: upserts and
                    # tombstones in the same pass (a tombstone wins)
                    merged = merge_indexes(
                        current, merged, deleted=dead_ids or None
                    )
            elif dead_ids and current is not None:
                from search_engine_spark.operators.merge import delete_docs

                merged = delete_docs(current, dead_ids)
            else:
                return
            publish_index(merged, self.root)
            # the generation is durable on disk — unpersist every cache
            # the merge/delta chain pinned (one-to-two cached frames per
            # micro-batch otherwise accumulate in the SQL CacheManager
            # for the life of the stream)
            merged.release()
            if self.vector_dim:
                self._update_vectors(alive, dead_ids)
            self.batches_published += 1
        finally:
            docs_b.unpersist()

    @property
    def vector_index_path(self) -> str:
        return os.path.join(self.root, "vector_index")

    def _update_vectors(self, alive: DataFrame, dead_ids: list) -> None:
        from pyspark.sql import functions as F

        from search_engine_spark.operators.embed import hash_embed
        from search_engine_spark.operators.vector_index import VectorIndex

        vdir = self.vector_index_path
        emb = hash_embed(
            alive,
            dim=self.vector_dim,
            text_col=self.text_col,
            id_col=self.doc_id_col,
        ).withColumnRenamed(self.doc_id_col, "vec_id")
        exists = os.path.exists(os.path.join(vdir, "meta"))
        if not exists:
            if emb.head(1):
                VectorIndex.build(
                    emb,
                    dim=self.vector_dim,
                    n_centroids=self.vector_n_centroids,
                    m=self.vector_m,
                ).save(vdir)
            return
        if emb.head(1):
            cur = VectorIndex.load(self.spark, vdir)
            # upsert: a replayed batch (or a CDC re-insert) first
            # compacts out the delta ids it already holds
            stale = [
                int(r["vec_id"])
                for r in cur.vectors.join(
                    F.broadcast(emb.select("vec_id")), "vec_id",
                    "left_semi",
                )
                .select("vec_id")
                .collect()
            ]
            if stale and len(stale) >= cur.n_vectors:
                # the replayed batch covers the ENTIRE index (e.g. a
                # restart replaying the only processed batch after a
                # crash between publish and checkpoint commit):
                # remove_ids would empty the index and raise — rebuild
                # the artifact from the delta with the EXISTING
                # centroids/codebooks instead, which lands
                # value-identical by construction
                from search_engine_spark.operators.similarity import (
                    ivf_assign,
                    pq_attach,
                )

                # persist: save() evaluates the encode once for the
                # parquet write and once more for the n_vectors count
                # (mirrors VectorIndex.append_to's own cache)
                enc = pq_attach(
                    ivf_assign(emb, cur.cents), cur.codebooks
                ).persist()
                try:
                    VectorIndex(
                        enc, cur.codebooks, cur.cents, cur.dim,
                        idf=cur.idf,
                    ).save(vdir)
                finally:
                    enc.unpersist()
            else:
                if stale:
                    VectorIndex.remove_ids(self.spark, vdir, stale)
                VectorIndex.append_to(self.spark, vdir, emb)
        if dead_ids and os.path.exists(os.path.join(vdir, "meta")):
            try:
                # remove_ids tolerates unknown ids (no-op on a miss)
                VectorIndex.remove_ids(self.spark, vdir, dead_ids)
            except ValueError as e:
                if "delete EVERY vector" not in str(e):
                    raise
                # the tombstones covered every remaining vector: an
                # empty index is unreadable, so drop the artifact —
                # the next upsert batch rebuilds it from scratch
                import shutil

                shutil.rmtree(vdir)

    def refresh_pagerank(
        self,
        edges: DataFrame,
        stats: dict | None = None,
    ) -> int:
        """Nightly-rank-refresh step for the live loop: recompute
        PageRank over the CURRENT published corpus, warm-started from
        the previous generation's saved ranks
        (:func:`operators.pagerank.incremental_pagerank` — same
        fixpoint, ~log(δ0)/log(d) fewer edge-join rounds after a small
        delta), write the new ranks into the docs projection and
        publish it as the next generation. Serving tiers that
        ``refresh()`` pick up the new mix automatically (the docs
        artifact auto-arms PageRank).

        ``edges``: (src, dst) doc-id edges for the current corpus —
        the docs PROJECTION carries no link columns, so the graph
        comes from the caller (e.g. ``repo_link_graph`` over the
        corpus table, or the extracted-links job output). Returns the
        published generation number."""
        from pyspark.sql import functions as F

        from search_engine_spark.operators.pagerank import (
            incremental_pagerank,
            pagerank,
        )

        idx = load_latest_index(self.spark, self.root)
        if idx is None:
            raise ValueError(
                f"no published generation under {self.root!r}"
            )
        nodes = (
            idx.docs if idx.docs is not None else idx.doc_stats
        ).select("doc_id")
        prev = None
        if idx.docs is not None and "page_rank" in idx.docs.columns:
            prev = idx.docs.select("doc_id", "page_rank").where(
                F.coalesce(F.col("page_rank"), F.lit(0.0)) > 0.0
            )
            if not prev.head(1):
                prev = None
        pr = (
            incremental_pagerank(
                edges, nodes, prev, cfg=self.cfg, stats=stats
            )
            if prev is not None
            else pagerank(edges, nodes, cfg=self.cfg, stats=stats)
        )
        base_docs = idx.docs if idx.docs is not None else nodes
        new_docs = (
            base_docs.drop("page_rank")
            .join(pr, "doc_id", "left")
            .fillna(0.0, subset=["page_rank"])
        )
        import dataclasses

        publish_index(
            dataclasses.replace(idx, docs=new_docs, path=None),
            self.root,
        )
        self.batches_published += 1
        ptr = read_latest(self.root)
        return ptr["generation"] if ptr else -1

    def process_available(
        self, max_files_per_batch: int | None = None
    ) -> int:
        """Drain all currently-available input files
        (Trigger.AvailableNow), one published generation per non-empty
        micro-batch. Returns the currently-published generation number
        (or -1 if nothing has ever been published)."""
        reader = self.spark.readStream.schema(self.schema)
        if max_files_per_batch:
            reader = reader.option(
                "maxFilesPerTrigger", max_files_per_batch
            )
        stream = reader.parquet(self.input_path)
        q = (
            stream.writeStream.foreachBatch(self._handle_batch)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        ptr = read_latest(self.root)
        return ptr["generation"] if ptr else -1
