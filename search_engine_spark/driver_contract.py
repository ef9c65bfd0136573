"""Driver-contract query registry: paired (Spark callable, DuckDB oracle
SQL) per operator, consumed by ``__spark_entry__.py``.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame; the
oracle SQL computes the SAME result over DuckDB views named after the
parquet tables. Column names, types and rounding are aligned on both
sides (the driver's value-hash is order-insensitive but name/value
sensitive).

Index-backed queries run the REAL engine (build_index + search) with an
unstemmed/no-stopword analyzer (``SIMPLE_CFG``) so the semantics stay
expressible in ANSI SQL; Porter/stopword/quirk behavior is covered by the
pytest oracle instead (tests/test_query.py). Query terms used here are
Porter-fixed-points, so the same strings work under either analyzer.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.index_build import Index, build_index
from search_engine_spark.session import local_df

SIMPLE_CFG = EngineConfig(stem=False, remove_stopwords=False)

K1, B = SIMPLE_CFG.bm25_k1, SIMPLE_CFG.bm25_b
W_REL = SIMPLE_CFG.relevance_weight

_INDEX_CACHE: dict[str, Index] = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def get_index(spark: SparkSession, sf_dir: str) -> Index:
    idx = _INDEX_CACHE.get(sf_dir)
    if idx is None:
        idx = build_index(
            _docs(spark, sf_dir), text_col="text", doc_id_col="doc_id",
            cfg=SIMPLE_CFG,
        )
        idx.postings = idx.postings.persist()
        idx.term_stats = idx.term_stats.persist()
        idx.doc_stats = idx.doc_stats.persist()
        _INDEX_CACHE[sf_dir] = idx
    return idx


# ---------------------------------------------------------------------------
# shared DuckDB CTE prefix: tokenization with the engine's validity gate
# (len [2,45], ^[a-z]+$), positions over VALID tokens, tf / doc-len / idf
# ---------------------------------------------------------------------------

TOK_CTE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
raw AS (
  SELECT doc_id, l[i] AS term, i AS rp
  FROM toks, UNNEST(generate_series(1, len(l))) AS u(i)
),
valid AS (
  SELECT doc_id, term,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rp) - 1 AS pos
  FROM raw
  WHERE len(term) >= 2 AND len(term) <= 45
    AND regexp_matches(term, '^[a-z]+$')
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM valid GROUP BY doc_id, term
),
dl AS (
  SELECT d.doc_id, COALESCE(v.n, 0)::BIGINT AS doc_len
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS n FROM valid GROUP BY doc_id) v
    USING (doc_id)
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         (SELECT avg(doc_len) FROM dl) AS avgdl
),
ts AS (
  SELECT term, count(*)::BIGINT AS df,
         log10((SELECT n_docs FROM stats) / count(*)) AS idf
  FROM tf GROUP BY term
)
"""


def _bm25_expr(tf: str = "tf.tf", dl: str = "dl.doc_len") -> str:
    return (
        f"ts.idf * ({tf} * {1.0 + K1}) / "
        f"({tf} + {K1} * (1.0 - {B} + {B} * {dl} / (SELECT avgdl FROM stats)))"
    )


def _score_sql(terms: list[str], cand_filter: str = "") -> str:
    """Scored-docs SQL for a term set (+ optional candidate filter)."""
    inlist = ", ".join(f"'{t}'" for t in terms)
    return f"""{TOK_CTE},
scored AS (
  SELECT tf.doc_id, sum({_bm25_expr()}) AS rel
  FROM tf JOIN ts USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({inlist}) {cand_filter}
  GROUP BY tf.doc_id
)"""


def _spark_search(spark, sf_dir, query, k=100000) -> DataFrame:
    from search_engine_spark.operators.query import search

    idx = get_index(spark, sf_dir)
    return search(idx, query, k=k).select(
        "doc_id", F.round("score", 5).alias("score")
    )


# --- engine core -----------------------------------------------------------

def q_index_postings(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return idx.postings.select(
        "term", F.explode("postings").alias("p")
    ).select("p.doc_id", "term", "p.tf")


SQL_INDEX_POSTINGS = TOK_CTE + "SELECT doc_id, term, tf FROM tf"


def q_term_stats(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return idx.term_stats.select(
        "term", "df", F.round("idf", 6).alias("idf")
    )


SQL_TERM_STATS = TOK_CTE + "SELECT term, df, round(idf, 6) AS idf FROM ts"


def q_doc_lengths(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return idx.doc_stats.select("doc_id", "doc_len")


SQL_DOC_LENGTHS = TOK_CTE + "SELECT doc_id, doc_len FROM dl"


BM25_TERMS = ["hash", "join", "window"]


def q_bm25_topk(spark, sf_dir):
    return _spark_search(spark, sf_dir, " ".join(BM25_TERMS), k=10)


SQL_BM25_TOPK = _score_sql(BM25_TERMS) + f"""
SELECT doc_id, round({W_REL} * rel, 5) AS score
FROM scored ORDER BY rel DESC, doc_id ASC LIMIT 10
"""


def q_tfidf_topk(spark, sf_dir):
    """R2's OTHER scoring mode — the reference's original ranking
    formula (normalized weighted tf × log10 idf, Ranker.java) rather
    than BM25."""
    from search_engine_spark.operators.query import search

    idx = get_index(spark, sf_dir)
    return search(idx, " ".join(BM25_TERMS), k=10, mode="tfidf").select(
        "doc_id", F.round("score", 6).alias("score")
    )


SQL_TFIDF_TOPK = TOK_CTE + f""",
scored AS (
  SELECT tf.doc_id,
         sum((tf.tf / dl.doc_len) * ts.idf) AS rel
  FROM tf JOIN ts USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
    AND dl.doc_len > 0
  GROUP BY tf.doc_id
)
SELECT doc_id, round({W_REL} * rel, 6) AS score
FROM scored ORDER BY rel DESC, doc_id ASC LIMIT 10
"""


def q_wand_topk(spark, sf_dir):
    """Block-max WAND path: must be value-identical to bm25_topk (same
    oracle SQL) — the driver check doubles as the WAND exactness gate."""
    from search_engine_spark.operators.wand import search_wand

    idx = get_index(spark, sf_dir)
    return search_wand(idx, " ".join(BM25_TERMS), k=10).select(
        "doc_id", F.round("score", 5).alias("score")
    )


SQL_WAND_TOPK = SQL_BM25_TOPK


def q_bool_and(spark, sf_dir):
    return _spark_search(spark, sf_dir, "scan AND batch")


# quirk Q4: AND scores with the LEFT side's terms only
SQL_BOOL_AND = _score_sql(
    ["scan"],
    cand_filter=(
        "AND tf.doc_id IN (SELECT doc_id FROM tf WHERE term = 'batch')"
    ),
) + f"""
SELECT doc_id, round({W_REL} * rel, 5) AS score
FROM scored ORDER BY rel DESC, doc_id ASC LIMIT 100000
"""


def q_bool_or(spark, sf_dir):
    return _spark_search(spark, sf_dir, "scan OR batch")


SQL_BOOL_OR = _score_sql(["scan", "batch"]) + f"""
SELECT doc_id, round({W_REL} * rel, 5) AS score
FROM scored ORDER BY rel DESC, doc_id ASC LIMIT 100000
"""


def q_bool_not(spark, sf_dir):
    return _spark_search(spark, sf_dir, "scan NOT batch")


SQL_BOOL_NOT = _score_sql(
    ["scan"],
    cand_filter=(
        "AND tf.doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'batch')"
    ),
) + f"""
SELECT doc_id, round({W_REL} * rel, 5) AS score
FROM scored ORDER BY rel DESC, doc_id ASC LIMIT 100000
"""


def q_phrase(spark, sf_dir):
    return _spark_search(spark, sf_dir, '"hash join"')


# 2-word phrase, gap<=3 over valid-token positions: exists-pair is exactly
# the reference matcher's semantics for two words (QueryIndex.java:355-385)
SQL_PHRASE = _score_sql(
    ["hash", "join"],
    cand_filter="""AND tf.doc_id IN (
      SELECT DISTINCT a.doc_id FROM valid a JOIN valid b USING (doc_id)
      WHERE a.term = 'hash' AND b.term = 'join'
        AND b.pos > a.pos AND b.pos <= a.pos + 3)""",
) + f"""
SELECT doc_id, round({W_REL} * rel, 5) AS score
FROM scored ORDER BY rel DESC, doc_id ASC LIMIT 100000
"""


def q_bm25_codec_topk(spark, sf_dir):
    """Same BM25 top-k through the store_arrays=False storage profile:
    postings carry ONLY the delta+varint/float32 codec binaries, and the
    query path decodes them in the Arrow UDF (query.term_matches' numpy
    path) — the at-scale layout's read path, hash-checked against the
    same oracle as the array-backed plan."""
    from search_engine_spark.operators.query import search

    idx = _INDEX_CACHE.get(sf_dir + "#codec")
    if idx is None:
        cfg = EngineConfig(
            stem=False, remove_stopwords=False, store_arrays=False
        )
        idx = build_index(
            _docs(spark, sf_dir), text_col="text", doc_id_col="doc_id",
            cfg=cfg,
        )
        idx.postings = idx.postings.persist()
        idx.doc_stats = idx.doc_stats.persist()
        _INDEX_CACHE[sf_dir + "#codec"] = idx
    return search(idx, " ".join(BM25_TERMS), k=10).select(
        "doc_id", F.round("score", 5).alias("score")
    )


SQL_BM25_CODEC_TOPK = SQL_BM25_TOPK


_RESUMABLE_CACHE: dict[str, object] = {}


def _resumable_index(spark, sf_dir):
    """Build (once per sf_dir, memoized) an index via the RESUMABLE
    builder — batch manifests + finalize-from-raw compaction — run twice
    with a crash boundary (max_batches=1, then completion). The temp dir
    lives until process exit so the lazy postings scan stays valid and
    both the plain and WAND gate entries share one build."""
    import atexit
    import shutil
    import tempfile

    from search_engine_spark.operators.index_build import Index
    from search_engine_spark.operators.index_checkpoint import (
        ResumableIndexBuild,
    )

    hit = _RESUMABLE_CACHE.get(sf_dir)
    # cache is session-bound: a memoized Index holds DataFrames of the
    # SparkSession that built it — rebuild if the caller's differs
    # (review finding: a stopped/recreated session would otherwise fail)
    if hit is not None and hit.postings.sparkSession is spark:
        return hit
    work = tempfile.mkdtemp(prefix="se_resume_gate_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    cfg = EngineConfig(
        stem=False, remove_stopwords=False, docs_per_shard=128
    )
    docs = _docs(spark, sf_dir)
    b = ResumableIndexBuild(
        docs, work, cfg=cfg, text_col="text", shards_per_batch=2
    )
    b.run(max_batches=1)   # simulate a crash after one batch
    b.run()                # resume: remaining batches + finalize
    idx = Index.load(spark, work)
    idx.postings = idx.postings.persist()
    _RESUMABLE_CACHE[sf_dir] = idx
    return idx


def q_resumable_topk(spark, sf_dir):
    """BM25 top-k over the resumable-builder index: the driver
    hash-check pins checkpoint-resume == one-shot == SQL."""
    from search_engine_spark.operators.query import search

    idx = _resumable_index(spark, sf_dir)
    return search(idx, " ".join(BM25_TERMS), k=10).select(
        "doc_id", F.round("score", 5).alias("score")
    )


def q_resumable_wand_topk(spark, sf_dir):
    """Block-max WAND over the RESUMABLE-builder index: pins that the
    finalize_from_raw float32-roundtripped block_max/max_bm25_tf bounds
    (index_checkpoint.attach_bm25) keep WAND exact on a
    checkpoint-resumed index, same oracle as bm25_topk."""
    from search_engine_spark.operators.wand import search_wand

    idx = _resumable_index(spark, sf_dir)
    return search_wand(idx, " ".join(BM25_TERMS), k=10).select(
        "doc_id", F.round("score", 5).alias("score")
    )


SQL_RESUMABLE_TOPK = SQL_BM25_TOPK


_MERGED_CACHE: dict[str, Index] = {}


def _merged_index(spark, sf_dir):
    """Build the gate corpus via the FULL LSM lifecycle (memoized per
    sf_dir): base = fresh docs + STALE copies of the %5==0 docs (content
    mutated) + junk docs at shifted ids; delta = the true %5==0 docs.
    One ``merge_indexes`` pass must replace every stale copy (right
    wins) and excise the junk (``deleted``) with exact global-stat
    recompute — so the result is value-identical to a one-shot build
    over ``documents`` and SQL_BM25_TOPK answers it unchanged."""
    from search_engine_spark.operators.merge import merge_indexes

    hit = _MERGED_CACHE.get(sf_dir)
    if hit is not None and hit.postings.sparkSession is spark:
        return hit
    docs = _docs(spark, sf_dir)
    five = F.col("doc_id") % 5 == 0
    stale = docs.where(five).withColumn(
        "text", F.concat(F.col("text"), F.lit(" stalemarker"))
    )
    junk = docs.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    base_src = docs.where(~five).unionByName(stale).unionByName(junk)
    base = build_index(base_src, text_col="text", cfg=SIMPLE_CFG)
    delta = build_index(docs.where(five), text_col="text", cfg=SIMPLE_CFG)
    final = merge_indexes(base, delta, deleted=junk.select("doc_id"))
    final.postings = final.postings.persist()
    final.term_stats = final.term_stats.persist()
    final.doc_stats = final.doc_stats.persist()
    _MERGED_CACHE[sf_dir] = final
    return final


def q_merged_bm25_topk(spark, sf_dir):
    """BM25 top-k over a merge_indexes(deleted=...) lifecycle index:
    the driver hash-check pins upsert-merge + compaction ==
    one-shot build == SQL (operators/merge.py)."""
    from search_engine_spark.operators.query import search

    idx = _merged_index(spark, sf_dir)
    return search(idx, " ".join(BM25_TERMS), k=10).select(
        "doc_id", F.round("score", 5).alias("score")
    )


SQL_MERGED_TOPK = SQL_BM25_TOPK


def q_sectioned_postings(spark, sf_dir):
    """T5/T6 end-to-end over RAW HTML: synthesize an HTML page per doc
    (<title>guide N manual</title><div><p>text</p></div>), run the
    section SPLITTER (operators/html.py — the Jsoup-selector analogue)
    then the weighted analyzer through the full index build. The nested
    div>p makes quirk Q1 OBSERVABLE in the gate: every content token is
    extracted twice (once via its <p>, once via the enclosing <div>), so
    content tf doubles and the totalTokens denominator is 2·doc_len + 2.
    With the SIMPLE analyzer (no stem/stopwords) all of it is
    closed-form in SQL."""
    from search_engine_spark.operators.html import split_html_sections

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("<title>guide "), (F.col("doc_id") % 5).cast("string"),
            F.lit(" manual</title><div><p>"), F.col("text"),
            F.lit("</p></div>"),
        ).alias("html"),
    )
    split = split_html_sections(docs)
    sections = [("title", "title")] + [
        (f"h{i}", f"h{i}") for i in range(1, 7)
    ] + [("content", "content")]
    idx = build_index(split, cfg=SIMPLE_CFG, sections=sections)
    return idx.postings.select(
        "term", F.explode("postings").alias("p")
    ).select(
        "p.doc_id",
        "term",
        F.round("p.tf", 6).alias("tf"),
        F.round("p.tf_norm", 6).alias("tf_norm"),
    )


# title tokens: 'guide', str(doc_id%5) — digits FAIL the ^[a-z]+$ gate —
# and 'manual'; so per doc the title contributes tf 5.0 to 'guide' and
# 'manual' and 2 to the valid-token count. Content tokens are counted
# TWICE (quirk Q1: the <p> element and its enclosing <div> both yield
# the text), each at weight 1.0.
SQL_SECTIONED_POSTINGS = TOK_CTE + """
, title_tf AS (
  SELECT doc_id, t.term, 5.0 AS tf
  FROM documents, (VALUES ('guide'), ('manual')) AS t(term)
),
all_tf AS (
  SELECT doc_id, term, sum(tf) AS tf FROM (
    SELECT doc_id, term, 2.0 * tf AS tf FROM tf
    UNION ALL
    SELECT doc_id, term, tf FROM title_tf
  ) GROUP BY doc_id, term
),
dl2 AS (SELECT doc_id, 2 * doc_len + 2 AS doc_len FROM dl)
SELECT a.doc_id, a.term, round(a.tf, 6) AS tf,
       round(a.tf / d.doc_len, 6) AS tf_norm
FROM all_tf a JOIN dl2 d USING (doc_id)
"""


def q_suggest_prefix(spark, sf_dir):
    from search_engine_spark.operators.suggestions import prefix_suggest

    return prefix_suggest(get_index(spark, sf_dir), "s", k=5)


SQL_SUGGEST_PREFIX = TOK_CTE + """
SELECT term FROM ts WHERE term LIKE 's%'
ORDER BY (CASE WHEN term = 's' THEN 1
               WHEN term LIKE 's %' THEN 2 ELSE 3 END), term
LIMIT 5
"""


def q_suggest_trie(spark, sf_dir):
    """U2 trie top-k (ref Trie.java:15-72): per-node top-10 by frequency
    (here df), tie-break word ASC — materialized trie answer vs a SQL
    window over the same vocabulary."""
    from search_engine_spark.operators.suggestions import trie_from_terms

    idx = get_index(spark, sf_dir)
    words = trie_from_terms(idx.term_stats).suggest("s")
    return local_df(
        spark, [(w, i) for i, w in enumerate(words)], "term string, rank int"
    )


SQL_SUGGEST_TRIE = TOK_CTE + """
SELECT term,
       (row_number() OVER (ORDER BY df DESC, term) - 1)::INT AS rank
FROM ts WHERE term LIKE 's%'
ORDER BY df DESC, term LIMIT 10
"""


def q_top_terms(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    tot = (
        idx.postings.select("term", F.explode("postings").alias("p"))
        .groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.round(F.sum("p.tf"), 4).alias("total_tf"),
            F.sum("p.tf").alias("_o"),
        )
        .orderBy(F.desc("_o"), F.asc("term"))
        .limit(20)
        .drop("_o")
    )
    return tot


SQL_TOP_TERMS = TOK_CTE + """
SELECT term, count(*)::BIGINT AS df, round(sum(tf), 4) AS total_tf
FROM tf GROUP BY term ORDER BY sum(tf) DESC, term LIMIT 20
"""


def _closed_form_pr(spark, sf_dir) -> DataFrame:
    """Deterministic SQL-expressible page_rank assignment: the mix
    arithmetic (R2: 0.7·rel + 0.3·pr) gets oracle-checked without
    needing an iterative fixpoint in ANSI SQL."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        (((F.col("doc_id") * 37) % 100) / 100.0).alias("page_rank"),
    )


PR_SQL_EXPR = "((doc_id * 37) % 100) / 100.0"


def q_bm25_pr_topk(spark, sf_dir):
    """R2 mixed scoring through the exhaustive path."""
    from search_engine_spark.operators.query import search

    idx = get_index(spark, sf_dir)
    return search(
        idx,
        " ".join(BM25_TERMS),
        k=10,
        page_rank=_closed_form_pr(spark, sf_dir),
    ).select("doc_id", F.round("score", 5).alias("score"))


SQL_BM25_PR_TOPK = _score_sql(BM25_TERMS) + f"""
SELECT doc_id,
       round({W_REL} * rel + {1.0 - W_REL} * ({PR_SQL_EXPR}), 5) AS score
FROM scored
ORDER BY {W_REL} * rel + {1.0 - W_REL} * ({PR_SQL_EXPR}) DESC, doc_id ASC
LIMIT 10
"""


def q_wand_pr_topk(spark, sf_dir):
    """R2 mixed scoring through block-max WAND (per-shard max-pr upper
    bound) — shares the exhaustive path's SQL, so the driver hash-check
    doubles as the mixed-score WAND exactness gate."""
    from search_engine_spark.operators.wand import search_wand

    idx = get_index(spark, sf_dir)
    return search_wand(
        idx,
        " ".join(BM25_TERMS),
        k=10,
        page_rank=_closed_form_pr(spark, sf_dir),
    ).select("doc_id", F.round("score", 5).alias("score"))


SQL_WAND_PR_TOPK = SQL_BM25_PR_TOPK

BATCH_QUERIES = [" ".join(BM25_TERMS), "scan AND batch", "scan OR batch"]


def q_search_batched(spark, sf_dir):
    """Batched evaluation through ``search_many``, the thin front for
    the one batch evaluator ``search_batch`` — must be value-identical to
    the per-query results, so its oracle is the UNION ALL of the
    per-query SQL."""
    from search_engine_spark.operators.query import search_many

    idx = get_index(spark, sf_dir)
    return search_many(idx, BATCH_QUERIES, k=10).select(
        "query", "doc_id", F.round("score", 5).alias("score")
    )


def q_search_batch_dist(spark, sf_dir):
    """Distributed batch plan (queries-as-data: broadcast (query, term)
    rows joined to one shared decoded scan, per-query tournament top-k —
    ONE plan for any N, no per-query union branches, no driver collect)
    — must be value-identical to the per-query results, so it shares
    search_batched's UNION-ALL oracle."""
    from search_engine_spark.operators.query import search_batch

    idx = get_index(spark, sf_dir)
    return search_batch(idx, BATCH_QUERIES, k=10).select(
        "query", "doc_id", F.round("score", 5).alias("score")
    )


def _sql_search_batched() -> str:
    parts = []
    for q, sql in [
        (BATCH_QUERIES[0], _score_sql(BM25_TERMS)),
        (
            BATCH_QUERIES[1],
            _score_sql(
                ["scan"],
                cand_filter=(
                    "AND tf.doc_id IN "
                    "(SELECT doc_id FROM tf WHERE term = 'batch')"
                ),
            ),
        ),
        (BATCH_QUERIES[2], _score_sql(["scan", "batch"])),
    ]:
        parts.append(
            sql
            + f"""
SELECT '{q}' AS query, doc_id, round({W_REL} * rel, 5) AS score
FROM scored ORDER BY rel DESC, doc_id ASC LIMIT 10
"""
        )
    return "\nUNION ALL\n".join(f"({p})" for p in parts)


SQL_SEARCH_BATCHED = _sql_search_batched()


def q_bm25_paged(spark, sf_dir):
    """R5 pagination + Q13 total count (ref BackendManager.java:96-119,
    331-356): page 1 of size 5 over the full ranked candidate set —
    rows [5, 10) — with the reference's SearchResponse total (the
    ranked-candidate count) riding on every row. One gate entry covers
    both because the reference returns them in one response; the
    standalone ``total_count`` API (incl. boolean queries) is pinned by
    tests/test_urls_cache.py::test_total_count_and_metadata."""
    from search_engine_spark.operators.query import search_paged

    idx = get_index(spark, sf_dir)
    page_df, total = search_paged(idx, " ".join(BM25_TERMS), page=1, size=5)
    return page_df.select(
        "doc_id",
        F.round("score", 5).alias("score"),
        F.lit(total).cast("long").alias("total"),
    )


SQL_BM25_PAGED = _score_sql(BM25_TERMS) + f"""
SELECT doc_id, round({W_REL} * rel, 5) AS score,
       (SELECT count(*) FROM scored)::BIGINT AS total
FROM scored ORDER BY rel DESC, doc_id ASC LIMIT 5 OFFSET 5
"""


def q_doc_metadata(spark, sf_dir):
    """R6 (ref BackendManager.java:358-396): top-k results joined back to
    the document table for display columns, rank order preserved."""
    from search_engine_spark.operators.query import attach_doc_metadata, search

    idx = get_index(spark, sf_dir)
    res = search(idx, " ".join(BM25_TERMS), k=10)
    out = attach_doc_metadata(
        res, _docs(spark, sf_dir), cols=["source", "lang"]
    )
    return out.select(
        "doc_id", F.round("score", 5).alias("score"), "source", "lang"
    )


SQL_DOC_METADATA = _score_sql(BM25_TERMS) + f""",
topk AS (
  SELECT doc_id, round({W_REL} * rel, 5) AS score
  FROM scored ORDER BY rel DESC, doc_id ASC LIMIT 10
)
SELECT t.doc_id, t.score, d.source, d.lang
FROM topk t JOIN documents d USING (doc_id)
"""


def q_extract_links(spark, sf_dir):
    """T9 link extraction (ref Crawler.java:475-489) over text
    synthesized deterministically from doc_id: a repeated link (deduped
    by the HashSet quirk) plus a second link with a droppable param."""
    from search_engine_spark.operators.urls import extract_links

    i = F.col("doc_id").cast("string")
    n = (F.col("doc_id") % 7).cast("string")
    one = F.concat(F.lit("http://Example"), n, F.lit(".COM:80/p/"), i, F.lit("//"))
    two = F.concat(F.lit("https://Ref.org/x?ID="), i, F.lit("&utm=1"))
    text = F.concat(
        F.lit("see "), one, F.lit(" and "), one, F.lit(" plus "), two
    )
    docs = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return extract_links(docs, text_col="text")


SQL_EXTRACT_LINKS = """
SELECT doc_id,
       'http://example' || (doc_id % 7) || '.com/p/' || doc_id AS link
FROM documents
UNION ALL
SELECT doc_id, 'https://ref.org/x?ID=' || doc_id AS link
FROM documents
"""


# --- dedup / pipeline ------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    from search_engine_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, min(doc_id)::BIGINT AS keep_id,
       count(*)::BIGINT AS dup_count
FROM documents GROUP BY md5(text)
"""

SHINGLE_CTE = """
WITH t2 AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
  FROM t2, UNNEST(generate_series(1, len(l) - 2)) AS u(i)
  WHERE len(l) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""


def q_jaccard_pairs(spark, sf_dir):
    from search_engine_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.8
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


SQL_JACCARD_PAIRS = SHINGLE_CTE + """,
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(c * 1.0 / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.8
"""

N_MINHASH = 4


def q_minhash_pairs(spark, sf_dir):
    from search_engine_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=N_MINHASH, threshold=0.8
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _minhash_sig_exprs() -> str:
    # mirrors dedup._minhash_from_sets: one 32-bit md5 prefix per shingle,
    # K arithmetic permutations (a_i*h + b_i) mod MH_P — identical int64
    # arithmetic in Spark and DuckDB
    from search_engine_spark.operators.dedup import MH_A, MH_B, MH_P

    return ",\n".join(
        f"  min(({MH_A[i]} * hv + {MH_B[i]}) % {MH_P}) AS sig_{i}"
        for i in range(N_MINHASH)
    )


_MINHASH_HV_CTE = """
shh AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hv FROM sh
)"""


def _sql_minhash_pairs() -> str:
    sigs = _minhash_sig_exprs()
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {i} AS band, sig_{i} AS val FROM sig"
        for i in range(N_MINHASH)
    )
    return SHINGLE_CTE + f""",
{_MINHASH_HV_CTE},
sig AS (SELECT doc_id,\n{sigs}\nFROM shh GROUP BY doc_id),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
),
inter AS (
  SELECT doc_a, doc_b, count(*) AS c
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sb.shingle = sa.shingle
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       round(c * 1.0 / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.8
"""


SQL_MINHASH_PAIRS = _sql_minhash_pairs()


def q_minhash_signatures(spark, sf_dir):
    from search_engine_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir), num_hashes=N_MINHASH)


def _sql_minhash_signatures() -> str:
    sigs = _minhash_sig_exprs()
    return SHINGLE_CTE + f""",
{_MINHASH_HV_CTE}
SELECT doc_id,\n{sigs}\nFROM shh GROUP BY doc_id"""


SQL_MINHASH_SIGNATURES = _sql_minhash_signatures()


def q_simhash(spark, sf_dir):
    from search_engine_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def _sql_simhash() -> str:
    from search_engine_spark.operators.dedup import SIMHASH_BITS

    votes = ",\n".join(
        f"  sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH t AS (
  SELECT DISTINCT doc_id, u.term
  FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
  WHERE u.term <> ''
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(term), 1, 15))::BIGINT AS hv FROM t
),
v AS (SELECT doc_id,\n{votes}\nFROM h GROUP BY doc_id)
SELECT doc_id, ({fp}) AS simhash FROM v
"""


SQL_SIMHASH = _sql_simhash()


# --- similarity ------------------------------------------------------------

def q_ann_cosine(spark, sf_dir):
    from search_engine_spark.operators.similarity import cosine_topk

    emb = _table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return cosine_topk(emb, qvec, k=10, exclude_ids=[0]).select(
        "vec_id", F.round("cosine", 4).alias("cosine")
    )


SQL_ANN_COSINE = """
WITH e2 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT emb AS e FROM e2 WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(emb, (SELECT e FROM q)), 4) AS cosine
FROM e2 WHERE vec_id <> 0
ORDER BY list_cosine_similarity(emb, (SELECT e FROM q)) DESC, vec_id
LIMIT 10
"""


# --- text stats ------------------------------------------------------------

def q_langid(spark, sf_dir):
    from search_engine_spark.operators.textstats import langid

    return langid(_docs(spark, sf_dir))


def _sql_langid() -> str:
    from search_engine_spark.operators.textstats import LANG_MARKERS

    hit_cols = ",\n".join(
        "  len(list_filter(string_split(text, ' '), t -> t IN ({})))::BIGINT AS {}".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in sorted(LANG_MARKERS.items())
    )
    langs = sorted(LANG_MARKERS)
    cases = []
    for i, lang in enumerate(langs):
        conds = " AND ".join(
            f"{lang} >= {other}" for other in langs[i + 1 :]
        )
        cases.append(
            f"WHEN {conds} THEN '{lang}'" if conds else f"ELSE '{lang}'"
        )
    case_expr = "CASE " + " ".join(cases[:-1]) + " " + cases[-1] + " END"
    greatest = "greatest(" + ", ".join(langs) + ")"
    return f"""
WITH hits AS (SELECT doc_id,\n{hit_cols}\nFROM documents)
SELECT doc_id, {case_expr} AS pred_lang, {greatest} AS hits FROM hits
"""


SQL_LANGID = _sql_langid()


def _r6(c) -> F.Column:
    """HALF_UP-at-6-digits as explicit float ops (floor(x·1e6 + 0.5)):
    Spark's round() is HALF_UP, DuckDB's is half-even, and the quality
    score's decimal-friendly formula can land EXACTLY on a midpoint
    (0.5103125 did at sf0.1) — same float expression on both sides
    removes the rounding-mode dependence."""
    return F.floor(c * 1e6 + F.lit(0.5)) / 1e6


def q_quality(spark, sf_dir):
    from search_engine_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_tokens",
        _r6(F.col("uniq_ratio")).alias("uniq_ratio"),
        _r6(F.col("mean_token_len")).alias("mean_token_len"),
        _r6(F.col("score")).alias("score"),
    )


SQL_QUALITY = """
WITH q AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::DOUBLE AS n,
         len(list_distinct(list_filter(string_split(text, ' '), t -> t <> '')))::DOUBLE AS u,
         list_sum(list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                                 t -> len(t)))::DOUBLE AS total_len
  FROM documents
)
SELECT doc_id, n::BIGINT AS n_tokens,
       floor((CASE WHEN n > 0 THEN u / n ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS uniq_ratio,
       floor((CASE WHEN n > 0 THEN total_len / n ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS mean_token_len,
       floor((0.5 * least(n / 100.0, 1.0)
             + 0.3 * (CASE WHEN n > 0 THEN u / n ELSE 0.0 END)
             + 0.2 * least((CASE WHEN n > 0 THEN total_len / n ELSE 0.0 END) / 8.0, 1.0))
             * 1e6 + 0.5) / 1e6 AS score
FROM q
"""


def q_token_count(spark, sf_dir):
    from search_engine_spark.operators.textstats import token_count

    return token_count(_docs(spark, sf_dir))


SQL_TOKEN_COUNT = """
SELECT doc_id,
       len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS n_ws_tokens,
       len(list_filter(string_split(text, ' '),
                       t -> len(t) >= 2 AND regexp_matches(t, '^[a-z]+$')))::BIGINT AS n_alpha_tokens
FROM documents
"""


SAMPLE_FRACS = {"en": 0.5, "de": 0.25, "fr": 1.0}


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-bucket stratified sampling (training-data
    mixture control): per-language keep fractions, absent strata
    dropped; the md5-bucket arithmetic is reproduced verbatim in SQL."""
    from search_engine_spark.operators.textstats import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), SAMPLE_FRACS).select(
        "doc_id", "lang"
    )


def _sql_stratified_sample() -> str:
    arms = " OR ".join(
        f"(lang = '{s}' AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < {int(f * 10000)})"
        for s, f in sorted(SAMPLE_FRACS.items())
    )
    return f"SELECT doc_id, lang FROM documents WHERE {arms}"


SQL_STRATIFIED_SAMPLE = _sql_stratified_sample()


def q_fingerprint(spark, sf_dir):
    from search_engine_spark.operators.textstats import fingerprint_md5

    return fingerprint_md5(_docs(spark, sf_dir))


SQL_FINGERPRINT = "SELECT doc_id, md5(text) AS fp FROM documents"


# --- events / relational ---------------------------------------------------

def q_events_recent(spark, sf_dir):
    ev = _table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    return (
        ev.where(F.col("ts") > F.lit(max_ts) - F.expr("INTERVAL 12 HOURS"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


SQL_EVENTS_RECENT = """
SELECT event_type, count(*)::BIGINT AS cnt, round(sum(value), 4) AS sum_value
FROM events
WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 12 HOUR
GROUP BY event_type
"""


def q_pricing_summary(spark, sf_dir):
    li = _table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("cnt"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*)::BIGINT AS cnt
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- rows-only (non-SQL-expressible) ----------------------------------------

def q_pagerank_top(spark, sf_dir):
    """Iterative PageRank over a deterministic ring graph per `source`
    group — iterative fixpoint, not expressible in ANSI SQL (rows-only)."""
    from search_engine_spark.operators.pagerank import pagerank
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    edges = (
        docs.select("source", "doc_id")
        .withColumn("nxt", F.lead("doc_id").over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.col("doc_id").alias("src"), F.col("nxt").alias("dst"))
    )
    pr = pagerank(edges, docs.select("doc_id"))
    return pr.orderBy(F.desc("page_rank"), F.asc("doc_id")).limit(20).select(
        "doc_id", F.round("page_rank", 8).alias("page_rank")
    )


def _ring_edges(spark, sf_dir):
    """Deterministic chain graph per `source` group — shared by every
    pagerank gate entry."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select("source", "doc_id")
        .withColumn("nxt", F.lead("doc_id").over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.col("doc_id").alias("src"), F.col("nxt").alias("dst"))
    )


PR_FIXED_ITERS = 5


def _q_pagerank_fixed(spark, sf_dir, local_threshold=None):
    from search_engine_spark.operators.pagerank import pagerank

    kw = {"pagerank_epsilon": -1.0, "pagerank_max_iter": PR_FIXED_ITERS}
    if local_threshold is not None:
        kw["pagerank_local_threshold"] = local_threshold
    cfg = EngineConfig(**kw)
    pr = pagerank(
        _ring_edges(spark, sf_dir),
        _docs(spark, sf_dir).select("doc_id"),
        cfg=cfg,
    )
    return pr.select("doc_id", F.round("page_rank", 8).alias("page_rank"))


def q_pagerank_fixed(spark, sf_dir):
    """G2 with ε disabled → exactly PR_FIXED_ITERS power iterations, so
    the fixpoint becomes ANSI-SQL-expressible (unrolled-iteration CTEs in
    the oracle). Runs the numpy local path (n below the size switch)."""
    return _q_pagerank_fixed(spark, sf_dir)


def q_pagerank_fixed_dist(spark, sf_dir):
    """Same computation FORCED through the distributed iterative-join
    loop (local_threshold=0) — the loop that runs at 100 TB gets
    hash-checked against the same oracle as the numpy path."""
    return _q_pagerank_fixed(spark, sf_dir, local_threshold=0)


def _sql_pagerank_fixed(n_iter: int = PR_FIXED_ITERS) -> str:
    """Power iteration unrolled into one CTE per step: identical update
    rule to the engine (teleport + d·(in_sum + dangling/N)), no
    recursion needed."""
    d = 0.85
    n = "(SELECT n FROM params)"
    sql = """
WITH nodes AS (SELECT doc_id FROM documents),
params AS (SELECT count(*)::DOUBLE AS n FROM nodes),
edges AS (
  SELECT src, dst FROM (
    SELECT doc_id AS src,
           lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS dst
    FROM documents)
  WHERE dst IS NOT NULL
),
outdeg AS (SELECT src, count(*)::DOUBLE AS od FROM edges GROUP BY src),
pr0 AS (SELECT doc_id, 1.0 / (SELECT n FROM params) AS rank FROM nodes)
"""
    for k in range(n_iter):
        sql += f""",
dang{k} AS (
  SELECT COALESCE(sum(p.rank), 0) AS m
  FROM pr{k} p LEFT JOIN outdeg o ON o.src = p.doc_id
  WHERE o.src IS NULL
),
pr{k + 1} AS (
  SELECT n.doc_id,
         (1 - {d}) / {n}
         + {d} * (COALESCE(s.in_sum, 0) + (SELECT m FROM dang{k}) / {n})
         AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS doc_id, sum(p.rank / o.od) AS in_sum
    FROM edges e
    JOIN pr{k} p ON p.doc_id = e.src
    JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst) s ON s.doc_id = n.doc_id
)
"""
    sql += f"\nSELECT doc_id, round(rank, 8) AS page_rank FROM pr{n_iter}"
    return sql


SQL_PAGERANK_FIXED = _sql_pagerank_fixed()


def q_lsh_ann(spark, sf_dir):
    """Random-hyperplane LSH ANN at the PRODUCT defaults (adaptive
    multiprobe radius + PQ-ADC screen over the probed buckets, exact
    rerank); checked rows-only (recall vs brute force is a pytest
    assertion)."""
    from search_engine_spark.operators.similarity import (
        lsh_topk,
        pq_attach,
        train_pq,
    )

    emb = _table(spark, sf_dir, "embeddings")
    row = emb.where(F.col("vec_id") == 0).collect()[0]
    qvec = [float(x) for x in row["embedding"]]
    cb = train_pq(emb, dim=len(qvec), m=8, ks=64, iters=4)
    return lsh_topk(
        pq_attach(emb, cb), qvec, dim=len(qvec), k=10, n_planes=6,
        codebooks=cb,
    ).select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_lsh_ann_exact(spark, sf_dir):
    """Same LSH machinery with probe_radius == n_planes: every bucket is
    probed, so the result is value-identical to brute-force cosine —
    shares SQL_ANN_COSINE (the wand_topk trick: the driver hash-check
    doubles as the multiprobe-exactness gate)."""
    from search_engine_spark.operators.similarity import lsh_topk

    emb = _table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    return lsh_topk(
        emb, qvec, dim=len(qvec), k=10, n_planes=6, probe_radius=6,
        exclude_ids=[0],
    ).select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_ivf_ann_exact(spark, sf_dir):
    """IVF with n_probe == n_centroids: every cluster probed → identical
    to brute-force cosine; shares SQL_ANN_COSINE. Also pins the
    no-global-Window k-means init (the training runs inside the gate)."""
    from search_engine_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
    )

    emb = _table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    cents = kmeans_centroids(emb, dim=len(qvec), n_centroids=8, iters=2)
    assigned = ivf_assign(emb, cents)
    return ivf_topk(
        assigned, cents, qvec, k=10, n_probe=len(cents), exclude_ids=[0]
    ).select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_embed_dup_lsh_exact(spark, sf_dir):
    """Bucketed near-dup with n_planes=0 (single bucket): the bucket-keyed
    join degenerates to the full self-join, so the result equals the
    brute-force pair set — shares SQL_EMBED_DUP_PAIRS."""
    from search_engine_spark.operators.dedup import embedding_dup_pairs_lsh

    emb = _table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return embedding_dup_pairs_lsh(
        emb, dim=dim, threshold=0.4, n_planes=0
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_fingerprint_rolling(spark, sf_dir):
    """Arrow-UDF rolling-hash fingerprint. The polynomial hash
    (h·1000003 + codepoint mod 2^61−1) is reproduced independently in
    the oracle via HUGEINT list_reduce — hash-checked, not rows-only."""
    from search_engine_spark.operators.textstats import fingerprint_rolling

    return fingerprint_rolling(_docs(spark, sf_dir))


SQL_FINGERPRINT_ROLLING = """
SELECT doc_id,
  CAST(list_reduce(
    list_prepend(0::HUGEINT,
      list_transform(range(1, len(coalesce(text, '')) + 1),
                     i -> ord(substr(text, i, 1))::HUGEINT)),
    (h, c) -> (h * 1000003 + c) % 2305843009213693951
  ) AS BIGINT) AS fp
FROM documents
"""


def q_ivf_ann(spark, sf_dir):
    """IVF coarse-quantizer ANN (rows-only: deterministic k-means
    training is iterative, not SQL-expressible; recall vs brute force is
    pinned in pytest)."""
    from search_engine_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
    )

    emb = _table(spark, sf_dir, "embeddings")
    row = emb.where(F.col("vec_id") == 0).first()
    qvec = [float(x) for x in row["embedding"]]
    cents = kmeans_centroids(emb, dim=len(qvec), n_centroids=16, iters=2)
    from search_engine_spark.operators.similarity import (
        pq_attach,
        train_pq,
    )

    cb = train_pq(emb, dim=len(qvec), m=8, ks=64, iters=4)
    assigned = pq_attach(ivf_assign(emb, cents), cb)
    # product defaults: adaptive n_probe + IVF-PQ screen/rerank
    return ivf_topk(assigned, cents, qvec, k=10, codebooks=cb).select(
        "vec_id", F.round("cosine", 4).alias("cosine")
    )


def q_pq_ann_exact(spark, sf_dir):
    """Product-quantization ANN with pool >= n_rows: the exact-rerank
    set is the whole table, so the result is value-identical to
    brute-force cosine — shares SQL_ANN_COSINE (same trick as the
    lsh/ivf exactness dials). Pins train_pq + pq_attach + the ADC
    screen end-to-end under the DuckDB oracle."""
    from search_engine_spark.operators.similarity import (
        pq_attach,
        pq_topk,
        train_pq,
    )

    emb = _table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    cb = train_pq(emb, dim=len(qvec), m=8, ks=64, iters=4)
    return pq_topk(
        pq_attach(emb, cb), cb, qvec, k=10, pool=1_000_000_000,
        exclude_ids=[0],
    ).select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_pq_ann(spark, sf_dir):
    """PQ screen + exact rerank at the DEFAULT pool (rows-only: the
    screen is approximate; recall >= 0.8 vs brute force is a pytest
    assertion and a BENCH.md row)."""
    from search_engine_spark.operators.similarity import (
        pq_attach,
        pq_topk,
        train_pq,
    )

    emb = _table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    cb = train_pq(emb, dim=len(qvec), m=8, ks=64, iters=4)
    return pq_topk(
        pq_attach(emb, cb), cb, qvec, k=10, exclude_ids=[0]
    ).select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_vector_index_exact(spark, sf_dir):
    """Persisted ANN index — the FULL incremental lifecycle under the
    oracle (r04): build on a partial corpus → save → ``append_to`` the
    held-out delta PLUS junk vectors → ``remove_ids`` the junk → load →
    exact topk. The surviving set is exactly the embeddings table, so
    brute-force cosine (SQL_ANN_COSINE) answers it: any row the append
    dropped, the remove missed, or a partition rewrite corrupted would
    hash-mismatch."""
    import tempfile

    from search_engine_spark.operators.vector_index import VectorIndex

    emb = _table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    d = tempfile.mkdtemp(prefix="se_vidx_gate_")
    base = emb.where(F.col("vec_id") % 7 != 0)
    # junk ids must be DETERMINISTIC across uses: an unordered
    # limit(5) evaluated twice (append + removal list) could pick
    # different rows — collect once, build both sides from the rows
    junk_rows = (
        emb.orderBy("vec_id")
        .limit(5)
        .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
        .collect()
    )
    junk = spark.createDataFrame(junk_rows, emb.schema)
    delta = emb.where(F.col("vec_id") % 7 == 0).unionByName(junk)
    VectorIndex.build(base, dim=len(qvec), n_centroids=8, ks=64).save(d)
    VectorIndex.append_to(spark, d, delta)
    vidx = VectorIndex.remove_ids(
        spark, d, [int(r["vec_id"]) for r in junk_rows]
    )
    return vidx.topk(qvec, k=10, exact=True, exclude_ids=[0]).select(
        "vec_id", F.round("cosine", 4).alias("cosine")
    )


def q_dup_spans(spark, sf_dir):
    """Substring-level exact dedup (Lee et al. 2021 re-expressed
    relationally): maximal token spans covered by duplicated 8-gram
    runs, minus the per-gram (min doc, min pos) canonical occurrence.
    The DuckDB derivation is fully independent: window row_number for
    the keeper, gaps-and-islands for the merge."""
    from search_engine_spark.operators.dedup import duplicated_spans

    return duplicated_spans(_docs(spark, sf_dir), min_len=8)


def _sql_dup_spans(L: int = 8) -> str:
    parts = ", ".join(f"l[i+{j}]" for j in range(L))
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT doc_id, i - 1 AS pos, concat_ws(' ', {parts}) AS gram
  FROM t, UNNEST(generate_series(1, len(l) - {L - 1})) AS u(i)
  WHERE len(l) >= {L}
),
d AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY gram) AS occ,
         row_number() OVER (
           PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM sh
),
hits AS (
  SELECT doc_id, pos AS s, pos + {L} AS e FROM d WHERE occ > 1 AND rn > 1
),
pm AS (
  SELECT doc_id, s, e,
         coalesce(max(e) OVER (
           PARTITION BY doc_id ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           AS prev_max
  FROM hits
),
isl AS (
  SELECT doc_id, s, e,
         sum(CASE WHEN s > prev_max THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM pm
)
SELECT doc_id,
       min(s)::BIGINT AS span_start,
       max(e)::BIGINT AS span_end,
       count(*)::BIGINT AS n_grams
FROM isl GROUP BY doc_id, island
"""


SQL_DUP_SPANS = _sql_dup_spans()


def q_pack_slices(spark, sf_dir):
    """LM sequence packing MATERIALIZED (r03 verdict #7): the exploded
    (seq_id, doc_id, token_start, token_end, seq_pos) slice rows a
    trainer consumes. Pure integer algebra over the distributed prefix
    sum — fully SQL-expressible, so the DuckDB window cumsum is an
    independent derivation of the same rows."""
    from search_engine_spark.operators.textstats import (
        materialize_sequences,
    )

    return materialize_sequences(
        _docs(spark, sf_dir), budget=512, text_col="text"
    )


SQL_PACK_SLICES = """
WITH t AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) > 0
         THEN length(regexp_split_to_array(trim(text), '\\s+'))
         ELSE 0 END AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS start_offset
  FROM t
),
sl AS (
  SELECT c.doc_id, c.n_tokens, c.start_offset, u.seq_id
  FROM c, UNNEST(generate_series(
    (c.start_offset // 512)::BIGINT,
    ((c.start_offset + greatest(c.n_tokens - 1, 0)) // 512)::BIGINT
  )) AS u(seq_id)
)
SELECT seq_id::BIGINT AS seq_id, doc_id::BIGINT AS doc_id,
  greatest(0, seq_id * 512 - start_offset)::BIGINT AS token_start,
  least(n_tokens, (seq_id + 1) * 512 - start_offset)::BIGINT AS token_end,
  (start_offset + greatest(0, seq_id * 512 - start_offset)
   - seq_id * 512)::BIGINT AS seq_pos
FROM sl
WHERE least(n_tokens, (seq_id + 1) * 512 - start_offset)
      > greatest(0, seq_id * 512 - start_offset)
"""


def q_media_stats(spark, sf_dir):
    """Multimodal metadata scan over the synthetic binary media column.

    ``attach_fake_media`` builds the payload with pure column algebra
    (sha2/repeat/substring), so DuckDB can reproduce byte length and
    magic-sniffed kind exactly; sha256-of-payload parity is asserted in
    tests/test_multimodal.py (DuckDB's sha256 only takes VARCHAR)."""
    from search_engine_spark.operators.multimodal import (
        attach_fake_media,
        media_stats,
    )

    media = attach_fake_media(_docs(spark, sf_dir))
    return media_stats(media).select("doc_id", "n_bytes", "kind")


SQL_MEDIA_STATS = """
WITH m AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN '\\xFF\\xD8\\xFF\\xE0'::BLOB
         WHEN doc_id % 3 = 1 THEN '\\x89PNG\\x0D\\x0A'::BLOB
         ELSE 'RIFF\\x00\\x00'::BLOB END
      || encode(substr(repeat(sha256(CAST(doc_id AS VARCHAR)), 9), 1, 256))
      AS media
  FROM documents
)
SELECT doc_id, octet_length(media)::BIGINT AS n_bytes,
  CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg'
       WHEN doc_id % 3 = 1 THEN 'image/png' ELSE 'audio/wav' END AS kind
FROM m
"""


def q_sample_frames(spark, sf_dir):
    """Multimodal frame sampling over the synthetic binary payload —
    byte-exact oracle: frames emitted as hex so DuckDB (whose substr is
    VARCHAR-only) slices the hexed payload instead of the blob."""
    from search_engine_spark.operators.multimodal import (
        attach_fake_media,
        sample_frames,
    )

    media = attach_fake_media(_docs(spark, sf_dir))
    return sample_frames(media, n_frames=4).select(
        "doc_id", "frame_idx", F.hex("frame_bytes").alias("frame_hex")
    )


SQL_SAMPLE_FRAMES = """
WITH m AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN '\\xFF\\xD8\\xFF\\xE0'::BLOB
         WHEN doc_id % 3 = 1 THEN '\\x89PNG\\x0D\\x0A'::BLOB
         ELSE 'RIFF\\x00\\x00'::BLOB END
      || encode(substr(repeat(sha256(CAST(doc_id AS VARCHAR)), 9), 1, 256))
      AS media
  FROM documents
),
f AS (
  SELECT doc_id, hex(media) AS h, octet_length(media) // 4 AS step FROM m
)
SELECT doc_id, fi AS frame_idx,
       substr(h, fi * step * 2 + 1, step * 2) AS frame_hex
FROM f, (SELECT unnest(range(4)) AS fi)
"""


def q_snippets(spark, sf_dir):
    """Sentence-aligned result snippets (reference
    BackendManager.generateSnippet, java:160-271): normalize, first
    query word in list order, expand to ". " bounds within ±150,
    contains-fallback ±100, cleanup, <strong> highlight, ellipses —
    pure column algebra, byte-checked against the same arithmetic in
    DuckDB SQL."""
    from search_engine_spark.operators.snippets import make_snippets

    return make_snippets(
        _docs(spark, sf_dir), BM25_TERMS, width=150, mode="sentence"
    )


SQL_SNIPPETS = r"""
WITH norm AS (
  SELECT doc_id, trim(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
      '\s*[\r\n]+\s*', ' ', 'g'),
      '\s*[.,!?]+\s*', '. ', 'g'),
      '\.+', '.', 'g'),
      '\s+', ' ', 'g')
  ) AS t
  FROM documents
),
best AS (
  SELECT doc_id, t, length(t) AS n,
    coalesce(
      CASE WHEN strpos(lower(t), 'hash') > 0 THEN strpos(lower(t), 'hash') END,
      CASE WHEN strpos(lower(t), 'join') > 0 THEN strpos(lower(t), 'join') END,
      CASE WHEN strpos(lower(t), 'window') > 0 THEN strpos(lower(t), 'window') END
    ) AS best1
  FROM norm
),
bounds AS (
  SELECT doc_id, t, n, best1 - 1 AS bp0,
    CASE WHEN strpos(reverse(substr(t, 1, best1 - 1)), ' .') > 0
         THEN (best1 - 1) - strpos(reverse(substr(t, 1, best1 - 1)), ' .') - 1
    END AS q0,
    CASE WHEN strpos(substr(t, best1), '. ') > 0
         THEN strpos(substr(t, best1), '. ') - 1 + (best1 - 1)
    END AS e0
  FROM best WHERE best1 IS NOT NULL
),
se AS (
  SELECT doc_id, t, n, bp0,
    CASE WHEN q0 IS NOT NULL AND q0 + 2 > bp0 - 150
         THEN q0 ELSE greatest(0, bp0 - 150) END AS start0,
    CASE WHEN e0 IS NOT NULL AND e0 < bp0 + 150
         THEN e0 + 2 ELSE least(n, bp0 + 150) END AS end0
  FROM bounds
),
body1 AS (
  SELECT *, trim(substr(t, start0 + 1, end0 - start0)) AS b FROM se
),
body2 AS (
  SELECT doc_id, n, start0,
    CASE WHEN hw THEN b
         ELSE trim(substr(t, greatest(0, bp0 - 100) + 1,
                          least(n, bp0 + 100) - greatest(0, bp0 - 100)))
    END AS b,
    CASE WHEN hw THEN end0 ELSE least(n, bp0 + 100) END AS final_end
  FROM (
    SELECT *, (strpos(lower(b), 'hash') > 0 OR strpos(lower(b), 'join') > 0
               OR strpos(lower(b), 'window') > 0) AS hw
    FROM body1
  )
),
clean AS (
  SELECT doc_id, start0, final_end, n,
    regexp_replace(
    trim(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(b, '\s+', ' ', 'g'),
      '\s*[.,!?]+\s*', '. ', 'g'),
      '\.+', '.', 'g'),
      '^[^a-zA-Z0-9]+', ''),
      '[^a-zA-Z0-9]+$', '')
    ), '(?i)\b(hash|join|window)\b', '<strong>\1</strong>', 'g') AS b
  FROM body2
)
SELECT doc_id,
  (CASE WHEN start0 > 0 THEN '...' ELSE '' END) || b ||
  (CASE WHEN final_end < n THEN '...' ELSE '' END) AS snippet
FROM clean
UNION ALL
SELECT doc_id, 'No preview available for this result.' AS snippet
FROM best WHERE best1 IS NULL
"""


def q_embed_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs, brute-force baseline (oracle
    anchor); the LSH-bucketed scale path is checked for recall in
    pytest and registered rows-only as embed_dup_lsh."""
    from search_engine_spark.operators.dedup import embedding_dup_pairs

    emb = _table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(emb, threshold=0.4).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


SQL_EMBED_DUP_PAIRS = """
WITH e2 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.emb, b.emb), 4) AS cosine
FROM e2 a JOIN e2 b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
"""


def q_dedup_components(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the embedding
    near-dup pair graph (distributed min-label propagation) — the step
    between pair emitters and actually dropping duplicates. The oracle
    derives the same labels independently via a DuckDB RECURSIVE CTE
    (transitive closure + min-reachable)."""
    from search_engine_spark.operators.dedup import (
        connected_components,
        embedding_dup_pairs,
    )

    emb = _table(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(emb, threshold=0.4)
    return connected_components(pairs).select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


SQL_DEDUP_COMPONENTS = """
WITH RECURSIVE e2 AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e2 a JOIN e2 b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM prs
  UNION
  SELECT id_b, id_a FROM prs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u::BIGINT AS node,
       least(u, min(v))::BIGINT AS component
FROM reach GROUP BY u
"""


def q_embed_dup_lsh(spark, sf_dir):
    """Bucketed embedding near-dup (rows-only: LSH recall < 1)."""
    from search_engine_spark.operators.dedup import embedding_dup_pairs_lsh

    emb = _table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return embedding_dup_pairs_lsh(
        emb, dim=dim, threshold=0.4, n_planes=4
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_live_loop_topk(spark, sf_dir):
    """The FULL continuous-ingestion loop under the oracle: corpus
    files streamed in two waves through StreamingLiveIndex (delta
    build → merge_indexes → publish_index per micro-batch), then the
    standard BM25 top-k over the published generation — value-identical
    to a one-shot build, so SQL_BM25_TOPK answers it unchanged."""
    import os
    import shutil
    import tempfile

    from search_engine_spark.operators.query import search
    from search_engine_spark.publish import load_latest_index
    from search_engine_spark.streaming.live_index import StreamingLiveIndex

    work = tempfile.mkdtemp(prefix="se_live_gate_")
    try:
        src_dir = os.path.join(work, "corpus")
        os.makedirs(src_dir)
        docs = _docs(spark, sf_dir)
        half = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]

        def _land(df, name):
            # file-source streams watch a FLAT dir: write the wave to a
            # scratch dir, move its part files in under unique names
            tmp = os.path.join(work, f"_stage_{name}")
            df.write.parquet(tmp)
            for i, f in enumerate(sorted(os.listdir(tmp))):
                if f.endswith(".parquet"):
                    os.replace(
                        os.path.join(tmp, f),
                        os.path.join(src_dir, f"{name}_{i}.parquet"),
                    )
            shutil.rmtree(tmp, ignore_errors=True)

        _land(docs.where(F.col("doc_id") <= half), "wave0")
        live = StreamingLiveIndex(
            spark,
            src_dir,
            os.path.join(work, "root"),
            cfg=SIMPLE_CFG,
            text_col="text",
        )
        live.process_available()
        _land(docs.where(F.col("doc_id") > half), "wave1")
        live.process_available()
        idx = load_latest_index(spark, os.path.join(work, "root"))
        idx.postings = idx.postings.persist()
        out = search(idx, " ".join(BM25_TERMS), k=10).select(
            "doc_id", F.round("score", 5).alias("score")
        )
        return local_df(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_streaming_topk(spark, sf_dir):
    """Same BM25 top-k as bm25_topk, but the index is built by the
    Structured-Streaming incremental ingest (readStream → foreachBatch
    batches → finalize) instead of the one-shot batch builder — the
    oracle SQL is identical, so this pins stream-built == SQL-exact."""
    import shutil
    import tempfile

    from search_engine_spark.operators.index_build import Index
    from search_engine_spark.operators.query import search
    from search_engine_spark.streaming.incremental import (
        StreamingIndexIngest,
    )

    work = tempfile.mkdtemp(prefix="se_stream_gate_")
    try:
        src_dir = os.path.join(work, "corpus")
        os.makedirs(src_dir)
        shutil.copy(
            os.path.join(sf_dir, "documents.parquet"),
            os.path.join(src_dir, "documents.parquet"),
        )
        ingest = StreamingIndexIngest(
            spark,
            src_dir,
            os.path.join(work, "idx"),
            cfg=SIMPLE_CFG,
            text_col="text",
        )
        ingest.process_available()
        idx = ingest.finalize()
        idx.postings = idx.postings.persist()
        out = search(idx, " ".join(BM25_TERMS), k=10).select(
            "doc_id", F.round("score", 5).alias("score")
        )
        out = local_df(spark, out.collect(), out.schema)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_url_normalize(spark, sf_dir):
    """T8 URL normalization (ref Crawler.java:491-529) over URLs
    synthesized deterministically from doc_id. The oracle states the
    expected canonical form in closed form — an independent derivation
    of the same answer."""
    from search_engine_spark.operators.urls import normalize_url

    raw = F.concat(
        F.lit("HTTP://Example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:80"),
        # doc_id%5==0 exercises the empty-path -> "/" restore; otherwise
        # a double trailing slash exercises the /+$ strip
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(
            F.concat(
                F.lit("/Files/"), F.col("doc_id").cast("string"), F.lit("//")
            )
        ),
        # uppercase whitelist key (matched case-insensitively, original
        # text kept) + non-whitelisted key + exact-duplicate param (deduped)
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("?ID="),
                F.col("doc_id").cast("string"),
                F.lit("&utm_source=x&page=2&ID="),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", normalize_url(raw).alias("url_norm")
    )


SQL_URL_NORMALIZE = """
SELECT doc_id,
  'http://example' || (doc_id % 7) || '.com' ||
  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '/Files/' || doc_id END ||
  CASE WHEN doc_id % 3 = 0 THEN '?ID=' || doc_id || '&page=2' ELSE '' END
  AS url_norm
FROM documents
"""


def q_media_features(spark, sf_dir):
    """REAL image decode -> feature extraction, hash-checked end to
    end: every doc gets an actual 24-bit BMP (deterministic LCG pixel
    grid, ``attach_fake_bmp``), ``image_features`` decodes it with the
    stdlib codec (bottom-up rows, BGR, 4-byte padding) and emits 8
    exact-integer-moment dims (channel means/variances + dims). The
    DuckDB oracle REGENERATES the pixel grid from the formula and
    re-derives the same moments — so a decoder that misreads row
    order, channel order, or padding mismatches immediately. Every
    feature is one IEEE division of exact int64 moments: bit-identical
    across engines, no rounding needed. Exploded to scalar rows
    (array cells are unhashable in pandas — the round-1 red row)."""
    from search_engine_spark.operators.multimodal import (
        attach_fake_bmp,
        image_features,
    )

    media = attach_fake_bmp(_docs(spark, sf_dir))
    feats = image_features(media)
    return feats.select(
        "doc_id", F.posexplode("features").alias("dim_idx", "value")
    ).select("doc_id", F.col("dim_idx").cast("long").alias("dim_idx"),
             "value")


def q_png_features(spark, sf_dir):
    """REAL PNG decode (stdlib zlib inflate + all five scanline
    filters — attach_fake_png cycles the filter type i%5 corpus-wide)
    -> the SAME exact-moment features as the BMP path over the SAME
    LCG pixel grid and dims, so SQL_MEDIA_FEATURES applies verbatim:
    a decoder that misreads any filter's reconstruction, row order,
    or channel order mismatches immediately."""
    from search_engine_spark.operators.multimodal import (
        attach_fake_png,
        image_features,
    )

    media = attach_fake_png(_docs(spark, sf_dir))
    feats = image_features(media)
    return feats.select(
        "doc_id", F.posexplode("features").alias("dim_idx", "value")
    ).select("doc_id", F.col("dim_idx").cast("long").alias("dim_idx"),
             "value")


def q_audio_features(spark, sf_dir):
    """REAL audio decode -> feature extraction, hash-checked end to
    end: every doc gets an actual 16-bit PCM RIFF/WAVE payload
    (deterministic LCG sample stream, ``attach_fake_wav``),
    ``audio_features`` decodes it with the stdlib codec (chunk walk,
    little-endian int16) and emits 8 exact-integer-moment dims
    (mean / population variance / min / max / mean-abs in full-scale
    units, zero-crossing fraction, n, rate). The DuckDB oracle
    REGENERATES the sample stream from the formula and re-derives the
    same moments — a decoder that misreads chunk layout, byte order,
    or sample width mismatches immediately."""
    from search_engine_spark.operators.multimodal import (
        attach_fake_wav,
        audio_features,
    )

    media = attach_fake_wav(_docs(spark, sf_dir))
    feats = audio_features(media)
    return feats.select(
        "doc_id", F.posexplode("features").alias("dim_idx", "value")
    ).select("doc_id", F.col("dim_idx").cast("long").alias("dim_idx"),
             "value")


# the oracle never touches the WAV bytes: it rebuilds the PCM stream
# the generator encoded (multimodal.fake_wav_samples) and derives the
# moments relationally — decode errors cannot cancel out. Every dim
# is ONE IEEE division of exact int64 moments (numerators stay under
# 2^53 except dim 1's, whose int64->double rounding is the same
# round-to-nearest in both engines), so the doubles are bit-identical.
SQL_AUDIO_FEATURES = """
WITH d AS (
  SELECT doc_id::BIGINT AS i,
         (256 + (doc_id % 4) * 128)::BIGINT AS n,
         (8000 + (doc_id % 3) * 4000)::BIGINT AS sr
  FROM documents
),
s AS (
  SELECT d.i, d.sr, u.t,
         ((31*d.i + 9973*u.t + 7) % 65536 - 32768)::BIGINT AS v
  FROM d, UNNEST(generate_series(0, d.n - 1)) u(t)
),
z AS (
  SELECT i, v, lag(v) OVER (PARTITION BY i ORDER BY t) AS pv FROM s
),
agg AS (
  SELECT i, sr, count(*)::BIGINT AS cnt,
         sum(v)::BIGINT AS sv, sum(v*v)::BIGINT AS qv,
         min(v)::BIGINT AS mn, max(v)::BIGINT AS mx,
         sum(abs(v))::BIGINT AS sa
  FROM s GROUP BY i, sr
),
zc AS (
  SELECT i,
         sum(CASE WHEN (v < 0) <> (pv < 0) THEN 1 ELSE 0 END)::BIGINT AS c
  FROM z WHERE pv IS NOT NULL GROUP BY i
),
f AS (
  SELECT a.i AS doc_id, 8 AS nd, [
    a.sv::DOUBLE / (a.cnt * 32768),
    (a.cnt*a.qv - a.sv*a.sv)::DOUBLE / (a.cnt*a.cnt*32768*32768)::DOUBLE,
    a.mn::DOUBLE / 32768,
    a.mx::DOUBLE / 32768,
    a.sa::DOUBLE / (a.cnt * 32768),
    coalesce(zc.c, 0)::DOUBLE / (a.cnt - 1),
    a.cnt::DOUBLE / 65536,
    a.sr::DOUBLE / 65536
  ] AS fv
  FROM agg a LEFT JOIN zc ON zc.i = a.i
)
SELECT doc_id, (u.k - 1)::BIGINT AS dim_idx, fv[u.k] AS value
FROM f, UNNEST(generate_series(1, nd)) u(k)
"""


def q_video_features(spark, sf_dir):
    """REAL video decode -> feature extraction, hash-checked end to
    end: every doc gets an actual uncompressed 24-bit DIB RIFF AVI
    (2-4 deterministic LCG frames, ``attach_fake_avi``),
    ``video_features`` decodes the container with the stdlib codec
    (RIFF chunk walk, bottom-up BGR padded DIB rows) and emits 10
    exact-integer-moment dims (per-channel mean + population variance
    over ALL frames' pixels, then w/h/n_frames/fps scaled). The DuckDB
    oracle REGENERATES every frame's pixel grid from the formula and
    re-derives the same moments — a decoder that misreads chunk
    layout, frame order, row order or channel order mismatches
    immediately."""
    from search_engine_spark.operators.multimodal import (
        attach_fake_avi,
        video_features,
    )

    media = attach_fake_avi(_docs(spark, sf_dir))
    feats = video_features(media)
    return feats.select(
        "doc_id", F.posexplode("features").alias("dim_idx", "value")
    ).select("doc_id", F.col("dim_idx").cast("long").alias("dim_idx"),
             "value")


# the oracle never touches the AVI bytes: it rebuilds every frame's
# pixel grid the generator encoded (multimodal.fake_avi_pixels) and
# derives the moments relationally — decode errors cannot cancel out.
# Every dim is ONE IEEE division of exact int64 moments (n ≤ 4·40·32
# pixels, so all numerators stay far under 2^53), so the doubles are
# bit-identical across engines.
SQL_VIDEO_FEATURES = """
WITH d AS (
  SELECT doc_id::BIGINT AS i,
         (16 + (doc_id % 4) * 8)::BIGINT AS w,
         (16 + (doc_id % 3) * 8)::BIGINT AS h,
         (2 + (doc_id % 3))::BIGINT AS nf,
         (10 + (doc_id % 2) * 5)::BIGINT AS fps
  FROM documents
),
px AS (
  SELECT d.i, d.w, d.h, d.nf, d.fps,
    (7*d.i + 17*uf.f + 3*ux.x + 5*uy.y) % 256 AS r,
    (11*d.i + 23*uf.f + ux.x + 2*uy.y) % 256 AS g,
    (13*d.i + 29*uf.f + 4*ux.x + uy.y) % 256 AS b
  FROM d,
       UNNEST(generate_series(0, d.nf - 1)) uf(f),
       UNNEST(generate_series(0, d.w - 1)) ux(x),
       UNNEST(generate_series(0, d.h - 1)) uy(y)
),
agg AS (
  SELECT i, w, h, nf, fps, count(*)::BIGINT AS n,
    sum(r)::BIGINT AS sr, sum(g)::BIGINT AS sg, sum(b)::BIGINT AS sb,
    sum(r*r)::BIGINT AS qr, sum(g*g)::BIGINT AS qg, sum(b*b)::BIGINT AS qb
  FROM px GROUP BY i, w, h, nf, fps
),
f AS (
  SELECT i AS doc_id, 10 AS nd, [
    sr::DOUBLE / (n*255), sg::DOUBLE / (n*255), sb::DOUBLE / (n*255),
    (n*qr - sr*sr)::DOUBLE / (n*n*255*255),
    (n*qg - sg*sg)::DOUBLE / (n*n*255*255),
    (n*qb - sb*sb)::DOUBLE / (n*n*255*255),
    w::DOUBLE / 256, h::DOUBLE / 256, nf::DOUBLE / 256, fps::DOUBLE / 256
  ] AS fv FROM agg
)
SELECT doc_id, (u.k - 1)::BIGINT AS dim_idx, fv[u.k] AS value
FROM f, UNNEST(generate_series(1, nd)) u(k)
"""


# the oracle never touches the BMP bytes: it rebuilds the pixel grid
# the generator encoded (multimodal.fake_bmp_pixels) and derives the
# moments relationally — decode errors cannot cancel out
SQL_MEDIA_FEATURES = """
WITH d AS (
  SELECT doc_id::BIGINT AS i,
         (16 + (doc_id % 4) * 8)::BIGINT AS w,
         (16 + (doc_id % 3) * 8)::BIGINT AS h
  FROM documents
),
px AS (
  SELECT d.i, d.w, d.h,
    (7*d.i + 3*ux.x + 5*uy.y) % 256 AS r,
    (11*d.i + ux.x + 2*uy.y) % 256 AS g,
    (13*d.i + 4*ux.x + uy.y) % 256 AS b
  FROM d,
       UNNEST(generate_series(0, d.w - 1)) ux(x),
       UNNEST(generate_series(0, d.h - 1)) uy(y)
),
agg AS (
  SELECT i, w, h, count(*)::BIGINT AS n,
    sum(r)::BIGINT AS sr, sum(g)::BIGINT AS sg, sum(b)::BIGINT AS sb,
    sum(r*r)::BIGINT AS qr, sum(g*g)::BIGINT AS qg, sum(b*b)::BIGINT AS qb
  FROM px GROUP BY i, w, h
),
f AS (
  SELECT i AS doc_id, 8 AS nd, [
    sr::DOUBLE / (n*255), sg::DOUBLE / (n*255), sb::DOUBLE / (n*255),
    (n*qr - sr*sr)::DOUBLE / (n*n*255*255),
    (n*qg - sg*sg)::DOUBLE / (n*n*255*255),
    (n*qb - sb*sb)::DOUBLE / (n*n*255*255),
    w::DOUBLE / 256, h::DOUBLE / 256
  ] AS fv FROM agg
)
SELECT doc_id, (u.k - 1)::BIGINT AS dim_idx, fv[u.k] AS value
FROM f, UNNEST(generate_series(1, nd)) u(k)
"""


def q_decontam(spark, sf_dir):
    """Eval-set decontamination (training-data hygiene): split the
    documents table into a deterministic eval slice (doc_id % 29 == 0)
    and a training remainder, and report every training doc sharing a
    word 3-gram with the eval slice plus its distinct shared-shingle
    count. Broadcast-join shaped: the eval shingle set is tiny."""
    from search_engine_spark.operators.decontam import contamination_stats

    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 29 == 0)
    tr = docs.where(F.col("doc_id") % 29 != 0)
    return contamination_stats(tr, ev, n=3).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_shared").cast("long").alias("n_shared"),
    )


SQL_DECONTAM = """
WITH t2 AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
  FROM t2, UNNEST(generate_series(1, len(l) - 2)) AS u(i)
  WHERE len(l) >= 3
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0),
tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 <> 0)
SELECT tr.doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_shared
FROM tr JOIN ev USING (shingle)
GROUP BY tr.doc_id
"""


# --- corpus-hygiene quality filters (Gopher / C4 heuristics) ---------------
# The synthetic documents have no newlines, so the gate derives a
# lineified text column with ONE literal replace, identically on both
# sides; the operators' line/sentence semantics then exercise real
# multi-line structure. tests/test_quality.py pins the rule semantics
# on handcrafted documents.

_REP_LINEIFY = (" value ", "\n")     # frequent token -> line breaks
_C4_LINEIFY = (" table", ".\n")      # frequent token -> sentence ends


def _lineified_docs(spark, sf_dir, pair) -> DataFrame:
    sub, rep = pair
    return _docs(spark, sf_dir).select(
        "doc_id", F.replace(F.col("text"), F.lit(sub), F.lit(rep)).alias("text")
    )


_SQL_R6 = "floor(({x}) * 1e6 + 0.5) / 1e6"


def q_repetition(spark, sf_dir):
    from search_engine_spark.operators.quality import repetition_stats

    return repetition_stats(
        _lineified_docs(spark, sf_dir, _REP_LINEIFY)
    ).select(
        "doc_id",
        "n_lines",
        "n_tokens",
        _r6(F.col("dup_line_frac")).alias("dup_line_frac"),
        _r6(F.col("dup_line_char_frac")).alias("dup_line_char_frac"),
        _r6(F.col("top_2gram_frac")).alias("top_2gram_frac"),
        _r6(F.col("dup_3gram_frac")).alias("dup_3gram_frac"),
    )


SQL_REPETITION = f"""
WITH d AS (SELECT doc_id, replace(text, '{_REP_LINEIFY[0]}', chr(10)) AS text
           FROM documents),
tok AS (
  SELECT doc_id, l[i] AS term, i AS pos
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l
        FROM d),
       UNNEST(generate_series(1, len(l))) AS u(i)
),
g2 AS (
  SELECT doc_id,
         term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM tok
),
g2c AS (SELECT doc_id, g, count(*) AS c FROM g2 WHERE g IS NOT NULL
        GROUP BY doc_id, g),
g2s AS (SELECT doc_id, max(c)::DOUBLE AS mx, sum(c)::DOUBLE AS tot
        FROM g2c GROUP BY doc_id),
g3 AS (
  SELECT doc_id,
         term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w AS g
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g3c AS (SELECT doc_id, g, count(*) AS c FROM g3 WHERE g IS NOT NULL
        GROUP BY doc_id, g),
g3s AS (SELECT doc_id,
               sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE AS dup_occ,
               sum(c)::DOUBLE AS tot
        FROM g3c GROUP BY doc_id),
lin AS (
  SELECT doc_id, trim(l[i]) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM d),
       UNNEST(generate_series(1, len(l))) AS u(i)
  WHERE trim(l[i]) <> ''
),
ls AS (SELECT doc_id, count(*)::DOUBLE AS n, count(DISTINCT line)::DOUBLE AS nd,
              sum(len(line))::DOUBLE AS chars
       FROM lin GROUP BY doc_id),
ld AS (SELECT doc_id, sum(len(line))::DOUBLE AS dchars
       FROM (SELECT DISTINCT doc_id, line FROM lin) GROUP BY doc_id),
tokn AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM tok GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(ls.n, 0)::BIGINT AS n_lines,
  coalesce(tokn.n_tokens, 0) AS n_tokens,
  {_SQL_R6.format(x="CASE WHEN ls.n > 0 THEN (ls.n - ls.nd) / ls.n ELSE 0.0 END")} AS dup_line_frac,
  {_SQL_R6.format(x="CASE WHEN ls.chars > 0 THEN (ls.chars - ld.dchars) / ls.chars ELSE 0.0 END")} AS dup_line_char_frac,
  {_SQL_R6.format(x="CASE WHEN g2s.tot > 0 THEN g2s.mx / g2s.tot ELSE 0.0 END")} AS top_2gram_frac,
  {_SQL_R6.format(x="CASE WHEN g3s.tot > 0 THEN g3s.dup_occ / g3s.tot ELSE 0.0 END")} AS dup_3gram_frac
FROM d
LEFT JOIN ls USING (doc_id) LEFT JOIN ld USING (doc_id)
LEFT JOIN g2s USING (doc_id) LEFT JOIN g3s USING (doc_id)
LEFT JOIN tokn USING (doc_id)
"""


def q_gopher_filter(spark, sf_dir):
    from search_engine_spark.operators.quality import gopher_filter

    return gopher_filter(_lineified_docs(spark, sf_dir, _REP_LINEIFY)).select(
        "doc_id",
        "n_words",
        _r6(F.col("mean_word_len")).alias("mean_word_len"),
        _r6(F.col("symbol_ratio")).alias("symbol_ratio"),
        _r6(F.col("bullet_frac")).alias("bullet_frac"),
        _r6(F.col("ellipsis_frac")).alias("ellipsis_frac"),
        _r6(F.col("alpha_word_frac")).alias("alpha_word_frac"),
        "stop_hits",
        "keep",
    )


SQL_GOPHER_FILTER = f"""
WITH d AS (SELECT doc_id, replace(text, '{_REP_LINEIFY[0]}', chr(10)) AS text
           FROM documents),
w AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), t -> t <> '') AS words,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> l <> '') AS lines
  FROM d
),
s AS (
  SELECT doc_id,
    len(words)::BIGINT AS n_words,
    coalesce(list_sum(list_transform(words, t -> len(t))), 0)::DOUBLE AS wchars,
    len(lines)::BIGINT AS n_lines,
    len(list_filter(lines, l -> starts_with(l, '-') OR starts_with(l, '*')
                                OR starts_with(l, '•')))::BIGINT AS n_bullet,
    len(list_filter(lines, l -> ends_with(l, '...')
                                OR ends_with(l, '…')))::BIGINT AS n_ell,
    len(list_filter(words, t -> regexp_matches(t, '[a-zA-Z]')))::BIGINT AS n_alpha,
    ((len(text) - len(replace(text, '#', '')))
      + (len(text) - len(replace(text, '...', ''))) / 3
      + (len(text) - len(replace(text, '…', ''))))::BIGINT AS n_sym,
    len(list_filter(['the','be','to','of','and','that','have','with'],
                    sw -> list_contains(words, sw)))::BIGINT AS stop_hits
  FROM w
),
m AS (
  SELECT doc_id, n_words, n_bullet, n_ell, n_alpha, n_sym, n_lines, stop_hits,
    CASE WHEN n_words > 0 THEN wchars / n_words ELSE 0.0 END AS mean_len,
    CASE WHEN n_words > 0 THEN n_sym::DOUBLE / n_words ELSE 0.0 END AS sym_r,
    CASE WHEN n_lines > 0 THEN n_bullet::DOUBLE / n_lines ELSE 0.0 END AS bul_f,
    CASE WHEN n_lines > 0 THEN n_ell::DOUBLE / n_lines ELSE 0.0 END AS ell_f,
    CASE WHEN n_words > 0 THEN n_alpha::DOUBLE / n_words ELSE 0.0 END AS alp_f
  FROM s
)
SELECT doc_id, n_words,
  {_SQL_R6.format(x="mean_len")} AS mean_word_len,
  {_SQL_R6.format(x="sym_r")} AS symbol_ratio,
  {_SQL_R6.format(x="bul_f")} AS bullet_frac,
  {_SQL_R6.format(x="ell_f")} AS ellipsis_frac,
  {_SQL_R6.format(x="alp_f")} AS alpha_word_frac,
  stop_hits,
  (n_words >= 50 AND n_words <= 100000
   AND mean_len >= 3.0 AND mean_len <= 10.0
   AND sym_r <= 0.1 AND bul_f < 0.9 AND ell_f < 0.3
   AND alp_f >= 0.8 AND stop_hits >= 2) AS keep
FROM m
"""


def q_c4_clean(spark, sf_dir):
    from search_engine_spark.operators.quality import c4_clean

    return c4_clean(_lineified_docs(spark, sf_dir, _C4_LINEIFY))


SQL_C4_CLEAN = f"""
WITH d AS (SELECT doc_id, replace(text, '{_C4_LINEIFY[0]}', '.' || chr(10)) AS text
           FROM documents),
lin AS (
  SELECT doc_id, trim(l[i]) AS line, i
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM d),
       UNNEST(generate_series(1, len(l))) AS u(i)
  WHERE trim(l[i]) <> ''
),
kept AS (
  SELECT doc_id, line, i FROM lin
  WHERE (ends_with(line, '.') OR ends_with(line, '!')
         OR ends_with(line, '?') OR ends_with(line, '"'))
    AND NOT contains(lower(line), 'javascript')
),
agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text_clean,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(agg.text_clean, '') AS text_clean,
  coalesce(agg.n_kept, 0) AS n_lines_kept,
  (coalesce(agg.n_kept, 0) >= 3
   AND NOT contains(lower(d.text), 'lorem ipsum')
   AND NOT contains(d.text, '{{')) AS keep
FROM d LEFT JOIN agg USING (doc_id)
"""


FUZZY_Q = "bata"  # 1 edit from corpus term "data", 2 from "batch"


def q_suggest_fuzzy(spark, sf_dir):
    from search_engine_spark.operators.suggestions import fuzzy_suggest

    return fuzzy_suggest(get_index(spark, sf_dir), FUZZY_Q, k=10, max_dist=2)


SQL_SUGGEST_FUZZY = TOK_CTE + f"""
SELECT term, df, levenshtein(term, '{FUZZY_Q}')::INTEGER AS dist
FROM ts
WHERE abs(len(term) - {len(FUZZY_Q)}) <= 2
  AND levenshtein(term, '{FUZZY_Q}') <= 2
ORDER BY dist, df DESC, term
LIMIT 10
"""


def q_unigram_lm(spark, sf_dir):
    from search_engine_spark.operators.textstats import unigram_lm_score

    idx = get_index(spark, sf_dir)
    flat = idx.postings.select(
        "term", F.explode("postings").alias("p")
    ).select("p.doc_id", "term", "p.tf")
    return unigram_lm_score(flat, idx.doc_stats).select(
        "doc_id", "n_tokens", _r6(F.col("avg_logp")).alias("avg_logp")
    )


MIX_BUDGET = 200


def q_temp_mix(spark, sf_dir):
    """Temperature-rebalanced (T=0.5) mixture fractions over the lang
    strata for a 200-row target mix — the multilingual upsampling rule
    as a tiny driver-side table, r6-rounded on both sides."""
    import math

    from search_engine_spark.operators.textstats import (
        temperature_fractions,
    )
    from search_engine_spark.session import local_df

    fr = temperature_fractions(
        _docs(spark, sf_dir), MIX_BUDGET, strat_col="lang",
        temperature=0.5,
    )
    rows = [
        (s, math.floor(f * 1e6 + 0.5) / 1e6) for s, f in sorted(fr.items())
    ]
    return local_df(spark, rows, "stratum string, frac double")


SQL_TEMP_MIX = f"""
WITH c AS (
  SELECT lang AS stratum, count(*)::DOUBLE AS n
  FROM documents WHERE lang IS NOT NULL GROUP BY lang
),
z AS (SELECT sum(sqrt(n)) AS z FROM c)
SELECT stratum,
       floor(least(1.0, {MIX_BUDGET} * (sqrt(n) / z) / n) * 1e6 + 0.5)
         / 1e6 AS frac
FROM c, z
"""


def q_seq_tokens(spark, sf_dir):
    """Packed training sequences MATERIALIZED (seq_id -> token array):
    the trainer-facing end of the packing chain — slice rows joined
    back to doc token arrays, reassembled per sequence in stream
    order. The array is compared as the md5 of its space-joined tokens
    (the driver hashes scalar columns only)."""
    from search_engine_spark.operators.textstats import emit_sequences

    return emit_sequences(_docs(spark, sf_dir), budget=512).select(
        "seq_id", "n_docs", "n_tokens",
        F.md5(F.concat_ws(" ", "tokens")).alias("tokens_md5"),
    )


SQL_SEQ_TOKENS = """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')
           AS toks
  FROM documents
),
c AS (
  SELECT doc_id, len(toks) AS n_tokens,
    coalesce(sum(len(toks)) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS start_offset
  FROM tk
),
sl AS (
  SELECT c.doc_id, c.n_tokens, c.start_offset, u.seq_id
  FROM c, UNNEST(generate_series(
    (c.start_offset // 512)::BIGINT,
    ((c.start_offset + greatest(c.n_tokens - 1, 0)) // 512)::BIGINT
  )) AS u(seq_id)
),
pieces AS (
  SELECT sl.seq_id,
    (sl.start_offset + greatest(0, sl.seq_id * 512 - sl.start_offset)
     - sl.seq_id * 512) AS seq_pos,
    tk.toks[
      (greatest(0, sl.seq_id * 512 - sl.start_offset) + 1)::BIGINT
      : least(sl.n_tokens, (sl.seq_id + 1) * 512 - sl.start_offset)::BIGINT
    ] AS piece
  FROM sl JOIN tk USING (doc_id)
  WHERE least(sl.n_tokens, (sl.seq_id + 1) * 512 - sl.start_offset)
        > greatest(0, sl.seq_id * 512 - sl.start_offset)
)
SELECT seq_id::BIGINT AS seq_id,
       count(*)::BIGINT AS n_docs,
       len(flatten(list(piece ORDER BY seq_pos)))::BIGINT AS n_tokens,
       md5(array_to_string(flatten(list(piece ORDER BY seq_pos)), ' '))
         AS tokens_md5
FROM pieces
GROUP BY seq_id
"""


DSIR_SEED = 7
DSIR_K = 50


def _dsir_fit(spark, sf_dir):
    """Fit the DSIR hashed-ngram log-ratio vector with target = the
    English slice of the corpus, raw = the whole corpus (the standard
    'select crawl docs that look like the curated set' setup)."""
    from search_engine_spark.operators import dsir

    docs = _docs(spark, sf_dir)
    lam = dsir.fit_log_ratios(docs, docs.where(F.col("lang") == "en"))
    return docs, lam


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed uni+bigram
    LMs (target=en slice vs raw=corpus), per-doc log-likelihood-ratio
    weight via the narrow closure-captured Arrow pass; DuckDB re-derives
    the ENTIRE chain (tokens -> md5 buckets -> smoothed LMs -> weights)
    relationally. r6-rounded on both sides (float sum order differs)."""
    from search_engine_spark.operators import dsir

    docs, lam = _dsir_fit(spark, sf_dir)
    return dsir.dsir_weights(docs, lam).select(
        "doc_id", _r6(F.col("dsir_weight")).alias("dsir_weight")
    )


def q_dsir_select(spark, sf_dir):
    """Gumbel-top-k importance resampling over the DSIR weights —
    sampling k docs without replacement with P ∝ exp(w), deterministic
    (md5-derived Gumbel noise), reproduced draw-for-draw in SQL."""
    from search_engine_spark.operators import dsir

    docs, lam = _dsir_fit(spark, sf_dir)
    sel = dsir.dsir_select(docs, lam, k=DSIR_K, seed=DSIR_SEED)
    return sel.select(
        "doc_id",
        _r6(F.col("dsir_weight")).alias("dsir_weight"),
        _r6(F.col("gumbel_key")).alias("gumbel_key"),
    )


def q_bpe_roundtrip(spark, sf_dir):
    """BPE conservation law: train on the corpus (operators/bpe.py),
    encode every doc to token ids, decode the ids back — the result
    must equal whitespace-normalized text, which SQL states WITHOUT
    re-deriving the merges. Verifies vocab/id bijection, end-of-word
    handling, and that no corpus char fell out of the alphabet (any
    UNK would surface as U+FFFD and hash-mismatch)."""
    from search_engine_spark.operators import bpe

    docs = _docs(spark, sf_dir)
    tok = bpe.train_bpe(docs, vocab_size=300)
    return bpe.bpe_decode(bpe.bpe_encode(docs, tok), tok).select(
        "doc_id", F.col("text_decoded").alias("text_rt")
    )


# explicit ASCII class, NOT '\s': RE2 \s is ASCII but python
# str.split is unicode — the operator pre-tokenizes on exactly this
# class (bpe.split_words) so both engines agree on every input, not
# just the ASCII test corpus
SQL_BPE_ROUNDTRIP = r"""
SELECT doc_id,
       trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS text_rt
FROM documents
"""


EMBED_QUERY = "hash join partition pruning"
EMBED_K = 10


def q_hash_embed_topk(spark, sf_dir):
    """Model-free semantic retrieval (operators/embed.py): signed
    feature-hashed bag-of-words embeddings (Weinberger et al. 2009,
    dim=64) over the corpus + the same embedding of a free-text query,
    cosine top-10. DuckDB re-derives the whole chain SPARSELY (tokens
    -> md5 bucket/sign -> per-bucket sums -> norms -> dot), so the
    ranked answer itself is checked, not just the plumbing."""
    from search_engine_spark.operators import embed

    out = embed.semantic_topk(
        _docs(spark, sf_dir), EMBED_QUERY, k=EMBED_K
    )
    return out.select("doc_id", _r6(F.col("cosine")).alias("cosine"))


# sign = bit 16 of md5_32(token); bucket = md5_32 % 64 — mirrors
# embed.hashed_features bit-for-bit. The dot runs sparse (bucket join);
# Spark's dense unit-vector dot equals dot/(n_d*n_q) exactly in math,
# and r6 rounding absorbs the float-path difference.
def _embed_ctes(weighted: bool = False) -> str:
    """The sparse hashed-embedding derivation (tokens -> md5
    bucket/sign -> per-bucket sums -> norms -> dot -> cosine) as CTEs
    (no leading WITH, composable). ``weighted=True`` adds the
    bucket-IDF chain — w[b] = ln((N+1)/(df_b+1)), df_b = docs touching
    bucket b — mirroring embed.fit_bucket_idf; a query bucket no doc
    touched gets ln(N+1) (df 0), exactly the dense vector's value."""
    dval = "ds.val * bidf.w AS val" if weighted else "ds.val AS val"
    qval = (
        "qs.val * coalesce(bidf.w, ln((SELECT n1 FROM nb))) AS val"
        if weighted
        else "qs.val AS val"
    )
    bjoin = "JOIN bidf USING (bucket)" if weighted else ""
    qjoin = "LEFT JOIN bidf USING (bucket)" if weighted else ""
    idf_ctes = (
        """
nb AS (SELECT (SELECT count(*) FROM documents) + 1.0 AS n1),
bidf AS (
  SELECT bucket, ln((SELECT n1 FROM nb) / (count(*) + 1.0)) AS w
  FROM (SELECT DISTINCT doc_id, h % 64 AS bucket FROM dh)
  GROUP BY bucket
),"""
        if weighted
        else ""
    )
    return f"""
dt AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
dh AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM dt
),{idf_ctes}
ds0 AS (
  SELECT doc_id, h % 64 AS bucket,
         SUM(CASE WHEN (h // 65536) % 2 = 1
                  THEN 1.0 ELSE -1.0 END) AS val
  FROM dh GROUP BY 1, 2
),
ds AS (SELECT ds.doc_id, ds.bucket, {dval}
       FROM ds0 AS ds {bjoin}),
dn AS (SELECT doc_id, sqrt(sum(val * val)) AS n FROM ds GROUP BY 1),
qt AS (
  SELECT unnest(list_filter(regexp_split_to_array(
             lower('{EMBED_QUERY}'), '[^a-z0-9]+'),
             t -> t <> '')) AS tok
),
qh AS (SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM qt),
qs0 AS (
  SELECT h % 64 AS bucket,
         SUM(CASE WHEN (h // 65536) % 2 = 1
                  THEN 1.0 ELSE -1.0 END) AS val
  FROM qh GROUP BY 1
),
qs AS (SELECT qs.bucket, {qval} FROM qs0 AS qs {qjoin}),
qn AS (SELECT sqrt(sum(val * val)) AS n FROM qs),
dots AS (
  SELECT ds.doc_id, SUM(ds.val * qs.val) AS dot
  FROM ds JOIN qs USING (bucket) GROUP BY 1
),
cos AS (
  SELECT d.doc_id,
         CASE WHEN dn.n > 0 AND qn.n > 0
              THEN coalesce(dots.dot, 0.0) / (dn.n * qn.n)
              ELSE 0.0 END AS c
  FROM documents d
  LEFT JOIN dn USING (doc_id)
  LEFT JOIN dots USING (doc_id)
  CROSS JOIN qn
)
"""


_SQL_EMBED_CTES = _embed_ctes()

_SQL_EMBED_PREFIX = "WITH " + _SQL_EMBED_CTES

SQL_HASH_EMBED_TOPK = _SQL_EMBED_PREFIX + f"""
SELECT doc_id, floor(c * 1e6 + 0.5) / 1e6 AS cosine
FROM cos ORDER BY c DESC, doc_id LIMIT {EMBED_K}
"""


def q_hash_embed_idf_topk(spark, sf_dir):
    """IDF-weighted variant: the bucket-IDF vector (one groupBy whose
    output is bounded by dim, embed.fit_bucket_idf) downweights common
    tokens on BOTH sides of the cosine; DuckDB re-derives the df-per-
    bucket chain and the weighted ranking."""
    from search_engine_spark.operators import embed

    out = embed.semantic_topk(
        _docs(spark, sf_dir), EMBED_QUERY, k=EMBED_K, idf=True
    )
    return out.select("doc_id", _r6(F.col("cosine")).alias("cosine"))


SQL_HASH_EMBED_IDF_TOPK = "WITH " + _embed_ctes(weighted=True) + f"""
SELECT doc_id, floor(c * 1e6 + 0.5) / 1e6 AS cosine
FROM cos ORDER BY c DESC, doc_id LIMIT {EMBED_K}
"""


HYBRID_TERMS = ["hash", "join", "partition", "pruning"]
HYBRID_POOL = 100
HYBRID_RRF_K = 60


def q_hybrid_topk(spark, sf_dir):
    """Hybrid sparse+dense retrieval (operators/hybrid.py): BM25
    top-100 pool fused with hashed-embedding cosine top-100 pool by
    reciprocal-rank fusion, rrf_k=60 (Cormack et al. 2009). DuckDB
    re-derives BOTH pools (the BM25 chain and the sparse embedding
    chain) and the fused ranking — rank arithmetic 1/(60+r) is exact
    in both engines, so the fused ORDER itself is checked."""
    from search_engine_spark.operators.hybrid import hybrid_topk

    out = hybrid_topk(
        get_index(spark, sf_dir),
        _docs(spark, sf_dir),
        EMBED_QUERY,
        k=10,
        pool=HYBRID_POOL,
        rrf_k=HYBRID_RRF_K,
    )
    return out.select(
        "doc_id", _r6(F.col("rrf_score")).alias("rrf_score")
    )


SQL_HYBRID_TOPK = (
    _score_sql(HYBRID_TERMS)
    + ",\n"
    + _SQL_EMBED_CTES
    + f""",
lexr AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS r
  FROM scored QUALIFY r <= {HYBRID_POOL}
),
semr AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS r
  FROM cos QUALIFY r <= {HYBRID_POOL}
),
fused AS (
  SELECT doc_id,
         coalesce(1.0 / ({HYBRID_RRF_K} + lexr.r), 0.0)
       + coalesce(1.0 / ({HYBRID_RRF_K} + semr.r), 0.0) AS s
  FROM lexr FULL JOIN semr USING (doc_id)
)
SELECT doc_id, floor(s * 1e6 + 0.5) / 1e6 AS rrf_score
FROM fused ORDER BY s DESC, doc_id LIMIT 10
"""
)


# mirrors operators/dsir.py bucket-for-bucket: lower + split on
# [^a-z0-9]+, uni+bigrams, md5-32 % 10000, Laplace alpha=1 LMs
_SQL_DSIR_PREFIX = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, lang,
         unnest(t || list_transform(range(1, len(t)),
                                    i -> t[i] || ' ' || t[i+1])) AS g
  FROM toks
),
bg AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(g), 1, 8))::BIGINT % 10000 AS bucket
  FROM grams
),
tc AS (SELECT bucket, count(*)::DOUBLE AS c FROM bg
       WHERE lang = 'en' GROUP BY 1),
rc AS (SELECT bucket, count(*)::DOUBLE AS c FROM bg GROUP BY 1),
tot AS (SELECT (SELECT coalesce(sum(c), 0) FROM tc) AS tt,
               (SELECT coalesce(sum(c), 0) FROM rc) AS rt),
lr AS (
  SELECT rc.bucket,
         ln((coalesce(tc.c, 0) + 1.0) / (tot.tt + 10000.0))
       - ln((rc.c + 1.0) / (tot.rt + 10000.0)) AS lam
  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot
),
w AS (
  SELECT bg.doc_id, sum(lr.lam) AS w
  FROM bg JOIN lr USING (bucket) GROUP BY 1
),
dw AS (
  SELECT d.doc_id, coalesce(w.w, 0.0) AS w
  FROM documents d LEFT JOIN w USING (doc_id)
)
"""

SQL_DSIR_WEIGHTS = _SQL_DSIR_PREFIX + """
SELECT doc_id, floor(w * 1e6 + 0.5) / 1e6 AS dsir_weight FROM dw
"""

SQL_DSIR_SELECT = _SQL_DSIR_PREFIX + f"""
, keyed AS (
  SELECT doc_id, w,
         w + -ln(-ln(((('0x' || substr(md5('{DSIR_SEED}:'
                 || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)::DOUBLE
               + 0.5) / 4294967296.0)) AS key
  FROM dw
)
SELECT doc_id,
       floor(w * 1e6 + 0.5) / 1e6 AS dsir_weight,
       floor(key * 1e6 + 0.5) / 1e6 AS gumbel_key
FROM keyed ORDER BY key DESC, doc_id LIMIT {DSIR_K}
"""


# deterministic PII decoration (both engines build the identical text,
# so the regex machinery — not the corpus — is what the gate compares)
_PII_SUFFIX_SPARK = lambda: F.concat(  # noqa: E731
    F.col("text"),
    F.lit(" reach user"),
    F.col("doc_id").cast("string"),
    F.lit("@example.org ip 10.1."),
    (F.col("doc_id") % 200).cast("string"),
    F.lit(".9 call +12 3456 7890"),
)


def q_pii_scrub(spark, sf_dir):
    """PII scrub + per-kind counts over the decorated corpus: emails /
    IPv4 / phone runs replaced by typed tokens, counts from the
    pre-scrub text. Pure JVM regexp machinery vs DuckDB's RE2."""
    from search_engine_spark.operators.quality import pii_stats, scrub_pii

    dec = _docs(spark, sf_dir).withColumn("text", _PII_SUFFIX_SPARK())
    clean = scrub_pii(dec).select(
        "doc_id", F.col("text").alias("text_clean")
    )
    return clean.join(pii_stats(dec), "doc_id").select(
        "doc_id", "text_clean", "n_email", "n_ipv4", "n_phone", "n_pii"
    )


def _sql_pii_scrub() -> str:
    from search_engine_spark.operators.quality import PII_PATTERNS

    (email, _), (ipv4, _), (phone, _) = (
        PII_PATTERNS["email"], PII_PATTERNS["ipv4"], PII_PATTERNS["phone"],
    )
    scrub = "t"
    for pat, repl in PII_PATTERNS.values():
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"""
WITH d AS (
  SELECT doc_id,
         text || ' reach user' || doc_id || '@example.org ip 10.1.'
              || (doc_id % 200) || '.9 call +12 3456 7890' AS t
  FROM documents
)
SELECT doc_id,
       {scrub} AS text_clean,
       len(regexp_extract_all(t, '{email}'))::BIGINT AS n_email,
       len(regexp_extract_all(t, '{ipv4}'))::BIGINT AS n_ipv4,
       len(regexp_extract_all(t, '{phone}'))::BIGINT AS n_phone,
       (len(regexp_extract_all(t, '{email}'))
        + len(regexp_extract_all(t, '{ipv4}'))
        + len(regexp_extract_all(t, '{phone}')))::BIGINT AS n_pii
FROM d
"""


SQL_PII_SCRUB = _sql_pii_scrub()


GROUP_CAP = 10  # sf sources carry 25 docs each -> real capping


def q_cap_per_group(spark, sf_dir):
    """Per-source frequency capping, exact mode: at most GROUP_CAP
    survivors per source, chosen by (md5-bucket, doc_id) rank — the
    standard hot-domain cap in a web-corpus training mix."""
    from search_engine_spark.operators.textstats import cap_per_group

    return cap_per_group(
        _docs(spark, sf_dir), GROUP_CAP, group_col="source"
    ).select("doc_id", "source")


SQL_CAP_PER_GROUP = f"""
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000,
                    doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, source FROM r WHERE rn <= {GROUP_CAP}
"""


def q_cap_per_group_approx(spark, sf_dir):
    """Approximate (no-window) mode of the same cap: join to the group
    count and keep rows whose bucket clears cap/count of the bucket
    space — the hot-key shape, still fully deterministic."""
    from search_engine_spark.operators.textstats import cap_per_group

    return cap_per_group(
        _docs(spark, sf_dir), GROUP_CAP, group_col="source", exact=False
    ).select("doc_id", "source")


SQL_CAP_PER_GROUP_APPROX = f"""
WITH c AS (SELECT source, count(*) AS gn FROM documents GROUP BY source)
SELECT d.doc_id, d.source
FROM documents d JOIN c ON d.source = c.source
WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000)
      < least(10000.0, {GROUP_CAP} * 10000.0 / gn)
"""


SQL_UNIGRAM_LM = TOK_CTE + f""",
cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
tot AS (SELECT sum(doc_len)::DOUBLE AS total_tokens FROM dl),
sc AS (
  SELECT tf.doc_id,
         sum(tf.tf * log10(cf.cf / (SELECT total_tokens FROM tot))) AS s
  FROM tf JOIN cf USING (term) GROUP BY tf.doc_id
)
SELECT dl.doc_id, dl.doc_len AS n_tokens,
  {_SQL_R6.format(x="CASE WHEN dl.doc_len > 0 THEN coalesce(sc.s, 0.0) / dl.doc_len ELSE 0.0 END")} AS avg_logp
FROM dl LEFT JOIN sc USING (doc_id)
"""


# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "index_postings": q_index_postings,
    "term_stats": q_term_stats,
    "doc_lengths": q_doc_lengths,
    "bm25_topk": q_bm25_topk,
    "tfidf_topk": q_tfidf_topk,
    "bm25_codec_topk": q_bm25_codec_topk,
    "resumable_topk": q_resumable_topk,
    "merged_bm25_topk": q_merged_bm25_topk,
    "sectioned_postings": q_sectioned_postings,
    "wand_topk": q_wand_topk,
    "bool_and": q_bool_and,
    "bool_or": q_bool_or,
    "bool_not": q_bool_not,
    "phrase": q_phrase,
    "bm25_pr_topk": q_bm25_pr_topk,
    "search_batch_dist": q_search_batch_dist,
    "bm25_paged": q_bm25_paged,
    "doc_metadata": q_doc_metadata,
    "extract_links": q_extract_links,
    "suggest_prefix": q_suggest_prefix,
    "dedup_exact": q_dedup_exact,
    "jaccard_pairs": q_jaccard_pairs,
    "minhash_pairs": q_minhash_pairs,
    "simhash": q_simhash,
    "ann_cosine": q_ann_cosine,
    "langid": q_langid,
    "quality": q_quality,
    "token_count": q_token_count,
    "hash_embed_topk": q_hash_embed_topk,
    "hybrid_topk": q_hybrid_topk,
    "events_recent": q_events_recent,
    "pagerank_fixed_dist": q_pagerank_fixed_dist,
    "lsh_ann_exact": q_lsh_ann_exact,
    "embed_dup_lsh_exact": q_embed_dup_lsh_exact,
    "snippets": q_snippets,
    "url_normalize": q_url_normalize,
    "streaming_topk": q_streaming_topk,
    "decontam": q_decontam,
    # round-4 flagship lifecycles, inside the recorded window:
    "pq_ann_exact": q_pq_ann_exact,
    "pack_slices": q_pack_slices,
    "vector_index_exact": q_vector_index_exact,
    "dedup_components": q_dedup_components,
    "live_loop_topk": q_live_loop_topk,
    "dsir_select": q_dsir_select,
    "bpe_roundtrip": q_bpe_roundtrip,
    # round-5 rotation: three never-recorded oracles take the slots of
    # three in-window twins (resumable_wand_topk / wand_pr_topk /
    # search_batched — each the composition of entries that STAY:
    # resumable_topk+wand_topk, bm25_pr_topk+wand_topk,
    # search_batch_dist) so the driver's CORRECTNESS file finally
    # records the substring-dedup, real-image-codec, and
    # sequence-emission chains.
    "dup_spans": q_dup_spans,
    "media_features": q_media_features,
    "seq_tokens": q_seq_tokens,
    # round-5 late rotation: the REAL PNG and WAV decode chains take
    # the slots of two in-window twins (media_stats — the
    # metadata-only scan, superseded evidentially by the three decode
    # oracles; ivf_ann_exact — whose IVF-exact-probe chain stays
    # in-window end-to-end via the pinned vector_index_exact
    # lifecycle) so the driver's CORRECTNESS file records all three
    # stdlib codecs, each against an oracle that REGENERATES the
    # pixel/sample grid relationally.
    "png_features": q_png_features,
    "audio_features": q_audio_features,
    # --- entries past the driver gate's 50-record cap ---
    # (minhash_signatures / embed_dup_pairs demoted for the two slots
    # above: pairs are DERIVED from the signatures and minhash_pairs /
    # embed_dup_lsh_exact keep those chains in-window end-to-end)
    "minhash_signatures": q_minhash_signatures,
    "embed_dup_pairs": q_embed_dup_pairs,
    # round-5 demotions (rotation above) — still oracle-checked here:
    "resumable_wand_topk": q_resumable_wand_topk,
    "wand_pr_topk": q_wand_pr_topk,
    "search_batched": q_search_batched,
    # EVERY entry down to embed_dup_lsh is still oracle-checked in
    # tests/test_driver_contract.py (it runs the whole registry vs
    # DuckDB); the cap only bounds what CORRECTNESS_r{N}.json records.
    # suggest_trie / top_terms / pricing_summary / fingerprint_rolling /
    # sample_frames / pagerank_fixed ceded their recorded slots to the
    # round-4 lifecycle entries above — each is the less-load-bearing
    # twin of an entry that stayed (suggest_prefix, term_stats,
    # doc_lengths, fingerprint, media_stats, pagerank_fixed_dist).
    # pq_ann / lsh_ann / ivf_ann / embed_dup_lsh / pagerank_top are
    # rows-only (no oracle SQL) by design: each is the approximate
    # dial of an exact in-window twin.
    "repetition": q_repetition,
    "gopher_filter": q_gopher_filter,
    "c4_clean": q_c4_clean,
    "suggest_fuzzy": q_suggest_fuzzy,
    "unigram_lm": q_unigram_lm,
    "cap_per_group": q_cap_per_group,
    "cap_per_group_approx": q_cap_per_group_approx,
    "pii_scrub": q_pii_scrub,
    "temp_mix": q_temp_mix,
    "dsir_weights": q_dsir_weights,
    "hash_embed_idf_topk": q_hash_embed_idf_topk,
    # (fingerprint / stratified_sample demoted for the two slots
    # above — still oracle-checked by test_driver_contract, and the
    # textstats family keeps langid/quality/token_count in-window)
    "fingerprint": q_fingerprint,
    "stratified_sample": q_stratified_sample,
    "suggest_trie": q_suggest_trie,
    "top_terms": q_top_terms,
    "pricing_summary": q_pricing_summary,
    "fingerprint_rolling": q_fingerprint_rolling,
    "sample_frames": q_sample_frames,
    "pagerank_fixed": q_pagerank_fixed,
    "pq_ann": q_pq_ann,
    "pagerank_top": q_pagerank_top,
    "lsh_ann": q_lsh_ann,
    "ivf_ann": q_ivf_ann,
    "embed_dup_lsh": q_embed_dup_lsh,
    # round-5 late demotions (codec rotation above) — still
    # oracle-checked here and by tools/selfcheck.py:
    "media_stats": q_media_stats,
    "ivf_ann_exact": q_ivf_ann_exact,
    # REAL codec #4: uncompressed RIFF AVI decode -> exact-moment
    # video features (tail entry — oracle-checked by
    # tests/test_driver_contract.py + tools/selfcheck.py).
    "video_features": q_video_features,
}

ORACLE_SQL: dict[str, str] = {
    "index_postings": SQL_INDEX_POSTINGS,
    "term_stats": SQL_TERM_STATS,
    "doc_lengths": SQL_DOC_LENGTHS,
    "bm25_topk": SQL_BM25_TOPK,
    "tfidf_topk": SQL_TFIDF_TOPK,
    "bm25_codec_topk": SQL_BM25_CODEC_TOPK,
    "resumable_topk": SQL_RESUMABLE_TOPK,
    "resumable_wand_topk": SQL_RESUMABLE_TOPK,
    "merged_bm25_topk": SQL_MERGED_TOPK,
    "sectioned_postings": SQL_SECTIONED_POSTINGS,
    "wand_topk": SQL_WAND_TOPK,
    "bool_and": SQL_BOOL_AND,
    "bool_or": SQL_BOOL_OR,
    "bool_not": SQL_BOOL_NOT,
    "phrase": SQL_PHRASE,
    "bm25_pr_topk": SQL_BM25_PR_TOPK,
    "wand_pr_topk": SQL_WAND_PR_TOPK,
    "search_batched": SQL_SEARCH_BATCHED,
    "search_batch_dist": SQL_SEARCH_BATCHED,
    "bm25_paged": SQL_BM25_PAGED,
    "doc_metadata": SQL_DOC_METADATA,
    "extract_links": SQL_EXTRACT_LINKS,
    "suggest_prefix": SQL_SUGGEST_PREFIX,
    "suggest_trie": SQL_SUGGEST_TRIE,
    "top_terms": SQL_TOP_TERMS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "jaccard_pairs": SQL_JACCARD_PAIRS,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "minhash_pairs": SQL_MINHASH_PAIRS,
    "simhash": SQL_SIMHASH,
    "dup_spans": SQL_DUP_SPANS,
    "repetition": SQL_REPETITION,
    "gopher_filter": SQL_GOPHER_FILTER,
    "c4_clean": SQL_C4_CLEAN,
    "suggest_fuzzy": SQL_SUGGEST_FUZZY,
    "unigram_lm": SQL_UNIGRAM_LM,
    "cap_per_group": SQL_CAP_PER_GROUP,
    "cap_per_group_approx": SQL_CAP_PER_GROUP_APPROX,
    "pii_scrub": SQL_PII_SCRUB,
    "seq_tokens": SQL_SEQ_TOKENS,
    "temp_mix": SQL_TEMP_MIX,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "dsir_select": SQL_DSIR_SELECT,
    "bpe_roundtrip": SQL_BPE_ROUNDTRIP,
    "hash_embed_topk": SQL_HASH_EMBED_TOPK,
    "hash_embed_idf_topk": SQL_HASH_EMBED_IDF_TOPK,
    "hybrid_topk": SQL_HYBRID_TOPK,
    "pagerank_fixed": SQL_PAGERANK_FIXED,
    "pagerank_fixed_dist": SQL_PAGERANK_FIXED,
    "ann_cosine": SQL_ANN_COSINE,
    "lsh_ann_exact": SQL_ANN_COSINE,
    "ivf_ann_exact": SQL_ANN_COSINE,
    "embed_dup_lsh_exact": SQL_EMBED_DUP_PAIRS,
    "langid": SQL_LANGID,
    "quality": SQL_QUALITY,
    "token_count": SQL_TOKEN_COUNT,
    "fingerprint": SQL_FINGERPRINT,
    "fingerprint_rolling": SQL_FINGERPRINT_ROLLING,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "events_recent": SQL_EVENTS_RECENT,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "media_stats": SQL_MEDIA_STATS,
    "sample_frames": SQL_SAMPLE_FRAMES,
    "media_features": SQL_MEDIA_FEATURES,
    "snippets": SQL_SNIPPETS,
    "embed_dup_pairs": SQL_EMBED_DUP_PAIRS,
    "url_normalize": SQL_URL_NORMALIZE,
    "streaming_topk": SQL_BM25_TOPK,
    "decontam": SQL_DECONTAM,
    "pq_ann_exact": SQL_ANN_COSINE,
    "pack_slices": SQL_PACK_SLICES,
    "vector_index_exact": SQL_ANN_COSINE,
    "dedup_components": SQL_DEDUP_COMPONENTS,
    "live_loop_topk": SQL_BM25_TOPK,
    "png_features": SQL_MEDIA_FEATURES,
    "audio_features": SQL_AUDIO_FEATURES,
    "video_features": SQL_VIDEO_FEATURES,
}
