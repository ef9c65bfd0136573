"""Incremental index maintenance: LSM-style merge + delete compaction.

Web-scale indexes are never rebuilt from scratch on every crawl: the
reference engine re-runs its indexer over the crawled store
(SE/Indexer/Indexer.java drives batch re-index passes, upserting per
doc via SE/Indexer/DBManager.java); the at-scale equivalent is the
log-structured pattern every production engine uses — build a small
DELTA index from the new/updated documents, then merge it into the
main index without touching the raw text again:

    delta = build_index(new_docs)            # tokenizes only the delta
    main  = merge_indexes(main, delta, deleted=tombstone_ids)

``merge_indexes`` is an UPSERT (a doc_id present in both sides takes the
right/delta side's postings — a recrawled page replaces its old copy).
Its ``deleted`` ids are compacted out of both sides in the SAME pass,
so one change set (adds + removes, like a Delta Lake commit's action
set) costs one rebuild; a tombstone beats a same-set upsert.
``delete_docs`` is that pass with an empty delta.

Why a merge must re-SCORE everything (and why that is still cheap):
BM25 weights are denormalized into the posting lists (the reference
stores final per-term scores the same way — SURVEY.md §2.3), and
bm25_tf depends on the corpus-wide ``avgdl``/``N`` which change
whenever the corpus does. But re-scoring is NOT re-grouping: a posting
row's membership — which (term, shard) row a posting lives in, its
doc ids, tfs, positions — only changes in shards that actually gained
or lost documents. The doc-id-range sharding (``shard = doc_id //
docs_per_shard``) makes the touched-shard set directly computable from
the delta/delete doc ids, so the merge splits into:

  * **dirty shards** (contain added/replaced/deleted docs): decode to
    flat (doc_id, term, tf, positions) rows, drop replaced docs, union
    the delta's flat rows, and re-run the exact assembly stage of
    ``build_index`` (``merge_postings``: groupBy + JVM array build +
    codec). For a daily delta this is a few shards out of millions.
  * **clean shards** (everything else): bm25_tf is recomputed IN PLACE
    with the new ``avgdl``/``N`` — on the arrays profile a fully
    NARROW map (doc_len is recovered per-posting as round(tf/tf_norm);
    no shuffle, no explode, ids/tf/positions binaries byte-unchanged);
    on the codec profile a shard-aligned cogroup with doc_stats (the
    WAND pattern) that shuffles only the compressed binaries, never
    per-token rows.

What is never re-run is tokenization/stemming — the dominant cost of a
full rebuild — and the delta side's raw text is never read at all.
What IS rewritten: each clean shard's bm25 binary and WAND bounds, and
(once saved or published) every table — a generation is a full copy.
The result is value-identical to ``build_index`` over the merged
corpus (pinned by tests/test_merge.py on both storage profiles; on the
codec profile with a WEIGHTED sectioned analyzer, stored tf is already
float32 — same contract as the serving tier).

This complements ``index_checkpoint.finalize_from_raw``, which merges
RAW tokenized batches within one resumable build; ``merge_indexes``
operates on two already-FINALIZED indexes (e.g. yesterday's published
generation + today's delta — see jobs/merge_index_job.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.session import local_df
from search_engine_spark.operators.index_build import (
    PERSIST_FULL_MAX_DOCS,
    POSTINGS_SCHEMA,
    Index,
    merge_postings,
)

# cfg fields that change posting CONTENT — two indexes disagreeing on
# any of these cannot be merged (their tf/positions/scores live in
# different spaces). Layout-only knobs (store_arrays, shuffle sizing)
# may differ.
_CONTENT_CFG_FIELDS = (
    "min_word_len",
    "max_word_len",
    "stem",
    "remove_stopwords",
    "token_pattern",
    "bm25_k1",
    "bm25_b",
    "docs_per_shard",
    "block_size",
)

# past this many dirty shards the per-shard bookkeeping stops paying
# for itself — regroup everything (the pre-fast-path behavior)
_MAX_DIRTY_SHARDS = 100_000


def _check_compatible(a: EngineConfig, b: EngineConfig) -> None:
    bad = [
        f
        for f in _CONTENT_CFG_FIELDS
        if getattr(a, f) != getattr(b, f)
    ]
    if bad:
        raise ValueError(
            "cannot merge indexes built with different analyzer/scoring "
            f"configs; mismatched fields: {bad}"
        )


def _flat_rows(postings: DataFrame, store_arrays: bool, doc_stats: DataFrame):
    """Decode (a subset of) posting rows to flat (doc_id, term, tf,
    positions, doc_len) — the corpus-independent payload.

    Arrays profile: narrow explode, doc_len recovered from tf/tf_norm
    (no join). Codec profile: Arrow decode of the three needed binaries
    (bm25_tf_enc pruned — it is recomputed, never read) + one
    doc_stats join for doc_len."""
    if store_arrays:
        return (
            postings.select("term", F.explode("postings").alias("p"))
            .select(
                F.col("p.doc_id").alias("doc_id"),
                "term",
                F.col("p.tf").alias("tf"),
                F.col("p.positions").alias("positions"),
                # tf_norm was stored as tf/doc_len (build_index), so
                # tf/tf_norm == doc_len up to float64 ulps; round makes
                # the integer exact. tf_norm==0 encodes the sectioned
                # analyzer's re-validated doc_len==0 quirk (T6) — keep 0.
                F.when(
                    F.col("p.tf_norm") > 0,
                    F.round(F.col("p.tf") / F.col("p.tf_norm")).cast("long"),
                )
                .otherwise(F.lit(0).cast("long"))
                .alias("doc_len"),
            )
        )

    import numpy as np

    from search_engine_spark.operators import codec

    def decode(batches):
        # rows-level Python only; per-posting work is numpy — the
        # term_matches/wand decode pattern.
        for pdf in batches:
            ids_l, tfs_l, pos_l, n_l = [], [], [], []
            for r in pdf.itertuples():
                ids = codec.delta_decode_ids(r.doc_ids_enc)
                ids_l.append(ids)
                tfs_l.append(codec.decode_tfs(r.tf_enc))
                pos_l.append(codec.decode_positions(r.pos_enc, ids.size))
                n_l.append(ids.size)
            if not ids_l:
                yield pd.DataFrame(
                    {"doc_id": [], "term": [], "tf": [], "positions": []}
                )
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids_l),
                    "term": np.repeat(
                        pdf["term"].to_numpy(), np.asarray(n_l)
                    ),
                    "tf": np.concatenate(tfs_l).astype(np.float64),
                    "positions": [pl for pls in pos_l for pl in pls],
                }
            )

    decoded = postings.select(
        "term", "doc_ids_enc", "tf_enc", "pos_enc"
    ).mapInPandas(
        decode,
        schema="doc_id long, term string, tf double, "
        "positions array<int>",
    )
    return decoded.join(doc_stats.select("doc_id", "doc_len"), "doc_id")


def flat_postings(index: Index) -> DataFrame:
    """Decode a whole index back to flat (doc_id, term, tf, positions,
    doc_len) rows."""
    return _flat_rows(
        index.postings, index.cfg.store_arrays, index.doc_stats
    )


def _bm25_expr(tf, dl, k1: float, b: float, avgdl: float):
    """EXACTLY build_index's bm25 expression tree — same operation
    order, so rescored values are bit-identical to a rebuild's."""
    return (tf * (1.0 + k1)) / (
        tf + k1 * (1.0 - b + b * dl / F.lit(max(avgdl, 1e-12)))
    )


def _make_bm25_codec_udf(cfg: EngineConfig):
    """Arrow UDF: (bm25 float64 array) -> (bm25_tf_enc, block_max) with
    the float32-roundtripped block maxima (same hazard note as
    index_build._make_codec_udf)."""
    import numpy as np
    from pyspark.sql import types as T

    from search_engine_spark.operators import codec

    block = cfg.block_size
    schema = T.StructType(
        [
            T.StructField("bm25_tf_enc", T.BinaryType()),
            T.StructField("block_max", T.ArrayType(T.DoubleType())),
        ]
    )

    @F.pandas_udf(schema)
    def encode(bms: pd.Series) -> pd.DataFrame:
        enc_l, bmax_l = [], []
        for i in range(len(bms)):
            bm = np.asarray(bms.iloc[i], dtype=np.float64)
            enc = codec.encode_tfs(bm)
            enc_l.append(enc)
            bm32 = codec.decode_tfs(enc).astype(np.float64)
            nb = (bm.size + block - 1) // block
            bmax_l.append(
                [
                    float(bm32[j * block : (j + 1) * block].max())
                    for j in range(nb)
                ]
            )
        return pd.DataFrame({"bm25_tf_enc": enc_l, "block_max": bmax_l})

    return encode


def _rescore_clean_shards(
    postings: DataFrame,
    store_arrays: bool,
    doc_stats: DataFrame,
    cfg: EngineConfig,
    avgdl: float,
) -> DataFrame:
    """Recompute bm25_tf (+ its codec binary and WAND block bounds) in
    place for shards whose membership did not change. ids/tf/positions
    binaries pass through byte-unchanged."""
    k1, b = cfg.bm25_k1, cfg.bm25_b
    enc = _make_bm25_codec_udf(cfg)

    if store_arrays:
        # fully narrow: doc_len per posting from tf/tf_norm, bm25 via a
        # JVM transform (same expression tree as build_index), codec
        # re-encode from the extracted bm25 array. No shuffle.
        dl = lambda p: F.when(  # noqa: E731
            p["tf_norm"] > 0, F.round(p["tf"] / p["tf_norm"])
        ).otherwise(F.lit(0.0))
        rescored = postings.withColumn(
            "postings",
            F.transform(
                "postings",
                lambda p: F.struct(
                    p["doc_id"].alias("doc_id"),
                    p["tf"].alias("tf"),
                    p["tf_norm"].alias("tf_norm"),
                    _bm25_expr(p["tf"], dl(p), k1, b, avgdl).alias(
                        "bm25_tf"
                    ),
                    p["positions"].alias("positions"),
                ),
            ),
        )
        rescored = rescored.withColumn(
            "_enc", enc(F.col("postings.bm25_tf"))
        )
        return rescored.select(
            "term",
            "shard",
            "n_postings",
            "min_doc_id",
            "max_doc_id",
            F.array_max(F.col("_enc.block_max")).alias("max_bm25_tf"),
            "postings",
            "doc_ids_enc",
            "tf_enc",
            F.col("_enc.bm25_tf_enc").alias("bm25_tf_enc"),
            "pos_enc",
            F.col("_enc.block_max").alias("block_max"),
        )

    # codec profile: doc_len must come from doc_stats — cogroup on the
    # aligned shard key (the WAND pattern): shuffles only compressed
    # binaries + doc-scale stats, never per-token rows. The null
    # ``postings`` array column and the superseded bm25 binary/bounds
    # are NOT shipped through the cogroup (pyarrow segfaults converting
    # an all-null array<struct> column, and they are recomputed/
    # reattached anyway).
    import numpy as np
    from pyspark.sql import types as T

    from search_engine_spark.operators import codec as _codec

    block = cfg.block_size
    in_cols = [
        "shard",
        "term",
        "n_postings",
        "min_doc_id",
        "max_doc_id",
        "doc_ids_enc",
        "tf_enc",
        "pos_enc",
    ]
    out_schema = T.StructType(
        [postings.schema[c] for c in in_cols]
        + [
            T.StructField("max_bm25_tf", T.DoubleType()),
            T.StructField("bm25_tf_enc", T.BinaryType()),
            T.StructField("block_max", T.ArrayType(T.DoubleType())),
        ]
    )

    def rescore(key, pgroup, dgroup):
        if pgroup.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        d_ids = dgroup["doc_id"].to_numpy(dtype=np.int64)
        d_len = dgroup["doc_len"].to_numpy(dtype=np.float64)
        order = np.argsort(d_ids)
        d_ids, d_len = d_ids[order], d_len[order]
        enc_l, bmax_l, max_l = [], [], []
        for r in pgroup.itertuples():
            ids = _codec.delta_decode_ids(r.doc_ids_enc)
            tfs = _codec.decode_tfs(r.tf_enc).astype(np.float64)
            dl = d_len[np.searchsorted(d_ids, ids)]
            bm = (tfs * (1.0 + k1)) / (
                tfs + k1 * (1.0 - b + b * dl / max(avgdl, 1e-12))
            )
            e = _codec.encode_tfs(bm)
            enc_l.append(e)
            bm32 = _codec.decode_tfs(e).astype(np.float64)
            nb = (bm.size + block - 1) // block
            bmax = [
                float(bm32[j * block : (j + 1) * block].max())
                for j in range(nb)
            ]
            bmax_l.append(bmax)
            max_l.append(max(bmax))
        out = pgroup.copy()
        out["bm25_tf_enc"] = enc_l
        out["block_max"] = bmax_l
        out["max_bm25_tf"] = max_l
        return out

    ds = doc_stats.withColumn(
        "shard", (F.col("doc_id") / F.lit(cfg.docs_per_shard)).cast("long")
    ).select("shard", "doc_id", "doc_len")
    rescored = (
        postings.select(in_cols)
        .groupBy("shard")
        .cogroup(ds.groupBy("shard"))
        .applyInPandas(rescore, schema=out_schema)
    )
    return rescored.select(
        "term",
        "shard",
        "n_postings",
        "min_doc_id",
        "max_doc_id",
        "max_bm25_tf",
        F.lit(None)
        .cast(POSTINGS_SCHEMA["postings"].dataType)
        .alias("postings"),
        "doc_ids_enc",
        "tf_enc",
        "bm25_tf_enc",
        "pos_enc",
        "block_max",
    )


def _incremental_rebuild(
    a: Index,
    delta: Index | None,
    deleted,
    cfg: EngineConfig,
    force_regroup: bool = False,
) -> Index:
    """Apply one change set to ``a`` in ONE pass: upsert ``delta`` (right
    wins) and remove the ``deleted`` ids (a ``doc_id`` DataFrame or an
    id iterable) from both sides — a tombstone beats a same-set upsert.
    Then new globals, dirty/clean split, regroup/rescore, term_stats."""
    n_dead = None
    if deleted is not None and not isinstance(deleted, DataFrame):
        rows = [(int(i),) for i in deleted]
        n_dead = len(rows)
        deleted = local_df(a.postings.sparkSession, rows, "doc_id long")
    if deleted is not None:
        deleted = deleted.select("doc_id")
    drop_ids, small = deleted, False
    if delta is not None:
        drop_ids = delta.doc_stats.select("doc_id")
        if deleted is not None:
            drop_ids = drop_ids.unionByName(deleted)
        # the driver knows the delta's size and the length of an id list;
        # only a tombstone DataFrame (any size) costs a count job:
        # broadcast the anti-joins only for a small change set, so the
        # main side is filtered map-side (past ~2M ids Spark picks; AQE
        # may still broadcast)
        if n_dead is None:
            n_dead = deleted.count() if deleted is not None else 0
        small = delta.n_docs + n_dead <= 2_000_000

    def keep(df: DataFrame, ids: DataFrame | None) -> DataFrame:
        if ids is None:
            return df
        ids = F.broadcast(ids) if small else ids
        return df.join(ids, "doc_id", "left_anti")

    doc_stats = keep(a.doc_stats.select("doc_id", "doc_len"), drop_ids)
    docs = keep(a.docs, drop_ids) if a.docs is not None else None
    if delta is not None:
        doc_stats = doc_stats.unionByName(
            keep(delta.doc_stats.select("doc_id", "doc_len"), deleted)
        )
        # keep the UNION of columns: a delta built from raw docs lacks
        # page_rank (and may lack sha256) — those must survive the merge
        # with nulls on the delta rows (the query path fillna(0.0)s
        # page_rank), not be silently dropped by a column intersection
        docs = (
            docs.unionByName(
                keep(delta.docs, deleted), allowMissingColumns=True
            )
            if docs is not None and delta.docs is not None
            else None
        )
    agg = doc_stats.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(agg["n"]), float(agg["avgdl"] or 0.0)

    # dirty shard set: the shards of every dropped id — the delta's ids
    # are in drop_ids, so this covers deleted, replaced and added docs
    # (doc-id-range sharding makes it exact). Driver-side list, bounded
    # by _MAX_DIRTY_SHARDS.
    dirty = (
        []
        if force_regroup
        else [
            r.shard
            for r in drop_ids.select(
                (F.col("doc_id") / F.lit(cfg.docs_per_shard))
                .cast("long")
                .alias("shard")
            )
            .distinct()
            .limit(_MAX_DIRTY_SHARDS + 1)
            .collect()
        ]
    )

    if force_regroup or len(dirty) > _MAX_DIRTY_SHARDS:
        # massive churn: per-shard bookkeeping stops paying — regroup
        # the whole index (the exhaustive path)
        touched_rows = a.postings
        clean = None
    else:
        touched_rows = a.postings.filter(F.col("shard").isin(dirty))
        clean = _rescore_clean_shards(
            a.postings.filter(~F.col("shard").isin(dirty)),
            cfg.store_arrays,
            a.doc_stats,
            cfg,
            avgdl,
        )

    flat = keep(
        _flat_rows(touched_rows, a.cfg.store_arrays, a.doc_stats), drop_ids
    )
    if delta is not None:
        flat = flat.unionByName(keep(flat_postings(delta), deleted))

    k1, b = cfg.bm25_k1, cfg.bm25_b
    per_term = (
        flat.select(
            "doc_id",
            F.col("doc_len").cast("double").alias("doc_len"),
            "term",
            "tf",
            "positions",
        )
        .withColumn(
            "tf_norm",
            F.when(F.col("doc_len") > 0, F.col("tf") / F.col("doc_len"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "bm25_tf", _bm25_expr(F.col("tf"), F.col("doc_len"), k1, b, avgdl)
        )
        .withColumn(
            "shard",
            (F.col("doc_id") / F.lit(cfg.docs_per_shard)).cast("long"),
        )
    )
    regrouped = merge_postings(per_term, cfg)
    # Exactly ONE cache per merge, registered on the returned Index's
    # owned_caches so a per-micro-batch caller (streaming/live_index)
    # can release() each generation after publishing — Spark's SQL
    # CacheManager pins persisted frames until an explicit unpersist,
    # so un-released merge caches accumulate one per wave.
    if clean is None or n_docs <= PERSIST_FULL_MAX_DOCS:
        # Exhaustive-regroup path, or the small-corpus interactive
        # case: the merged frame feeds BOTH term_stats (groupBy below)
        # and whatever the caller materializes next (save/query), so
        # persist it — without the cache the rescore+regroup plan
        # re-executes per consumer (measured 3x the merge cost at
        # 500k docs). MEMORY_AND_DISK: spills, never recomputes.
        postings = (
            regrouped
            if clean is None
            else clean.unionByName(regrouped)
        ).persist()
        df_per_term = postings.groupBy("term").agg(
            F.sum("n_postings").alias("df")
        )
    else:
        # Large corpus: persist ONLY the O(delta) regrouped slice. The
        # clean side is an O(corpus) rescore — SQL-caching it holds the
        # entire index's columnar batches on the heap, which is the
        # cliff the 8M-doc soak hit (OOM at 96g materializing that
        # cache while parquet vectored reads ran; tools/soak.py).
        # term_stats never needs the rescored rows: rescoring changes
        # SCORES, never membership, so df over the clean shards comes
        # from a column-pruned (term, n_postings) scan of the BASE
        # postings — at 100 TB that is a 2-column parquet scan instead
        # of a full decode+re-encode pass.
        regrouped = regrouped.persist()
        postings = clean.unionByName(regrouped)
        clean_df = (
            a.postings.filter(~F.col("shard").isin(dirty))
            .groupBy("term")
            .agg(F.sum("n_postings").alias("df"))
        )
        df_per_term = (
            clean_df.unionByName(
                regrouped.groupBy("term").agg(
                    F.sum("n_postings").alias("df")
                )
            )
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )

    term_stats = df_per_term.withColumn(
        "idf", F.log10(F.lit(float(n_docs)) / F.col("df"))
    )
    return Index(
        postings=postings,
        term_stats=term_stats,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        cfg=cfg,
        docs=docs,
        # this merge's own cache, plus the caches of the chain that
        # produced its inputs (e.g. a fresh delta build's token cache) —
        # release() after publish frees the whole chain.
        owned_caches=(
            [postings if clean is None or n_docs <= PERSIST_FULL_MAX_DOCS
             else regrouped]
            + list(getattr(a, "owned_caches", []) or [])
            + list(getattr(delta, "owned_caches", []) or [])
        ),
    )


def merge_indexes(
    a: Index,
    b: Index,
    cfg: EngineConfig | None = None,
    on_conflict: str = "right",
    deleted=None,
) -> Index:
    """Upsert-merge two finalized indexes (right side wins on doc_id).

    ``on_conflict``: ``"right"`` (default — b's postings replace a's for
    shared doc_ids, the recrawl semantics) or ``"error"`` (raise if the
    doc-id sets overlap — the append-only delta case where an overlap
    means an id-allocation bug upstream).

    ``deleted``: optional ids removed from BOTH sides in the same pass
    (== ``delete_docs`` over the merge), in any form ``delete_docs``
    takes.

    Output layout follows ``cfg`` (default: ``a.cfg``); content-shaping
    config fields must agree between the two sides. NOTE: when the
    output profile keeps arrays/codec from a's CLEAN shards in place,
    a and the output share ``store_arrays`` via ``cfg`` — pass an
    explicit cfg only to flip layout, which forces the regroup path.
    """
    _check_compatible(a.cfg, b.cfg)
    if on_conflict not in ("right", "error"):
        raise ValueError(
            f"on_conflict must be 'right' or 'error': {on_conflict!r}"
        )
    cfg = cfg or a.cfg
    if on_conflict == "error":
        b_ids = b.doc_stats.select("doc_id")
        if b.n_docs <= 2_000_000:
            b_ids = F.broadcast(b_ids)
        n_overlap = a.doc_stats.join(b_ids, "doc_id", "left_semi").count()
        if n_overlap:
            raise ValueError(
                f"doc-id overlap ({n_overlap} docs) with on_conflict='error'"
            )
    return _incremental_rebuild(
        a,
        b,
        deleted,
        cfg,
        # layout flip (store_arrays differs): every row of a must be
        # rewritten anyway — take the exhaustive regroup path
        force_regroup=cfg.store_arrays != a.cfg.store_arrays,
    )


def delete_docs(index: Index, doc_ids) -> Index:
    """Compaction: a new index with ``doc_ids`` removed and ALL global
    statistics (N, avgdl, df/idf, bm25 weights) exactly recomputed —
    value-identical to rebuilding from the surviving corpus: the
    ``merge_indexes(deleted=...)`` pass with no delta. Only shards that
    contained deleted docs are regrouped; the rest are rescored in place.

    ``doc_ids``: a DataFrame with a ``doc_id`` column, or a Python
    iterable of ids."""
    return _incremental_rebuild(index, None, doc_ids, index.cfg)
