"""Local replica of the driver's correctness gate: run each
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet tables, compare row count, column names, and
order-insensitive values."""

import math
import os

import duckdb
import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'"
            )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # kill -0.0 and representation jitter beyond round-trip digits
        return f"{v + 0.0:.10g}"
    return str(v)


def _rowset(cols, rows):
    return sorted(tuple(_norm(v) for v in r) for r in rows), list(cols)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    # the driver's canonicalizer hashes scalar columns only
    nested = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, f"{name}: non-scalar output columns {nested}"
    got_rows = [tuple(r) for r in sdf.collect()]
    got, got_cols = _rowset(sdf.columns, got_rows)

    res = duck.sql(ORACLES[name])
    want, want_cols = _rowset(
        [d[0] for d in res.description], res.fetchall()
    )

    assert got_cols == want_cols, f"{name}: column mismatch"
    assert len(got) == len(want), (
        f"{name}: row count {len(got)} vs {len(want)}"
    )
    mismatches = [
        (g, w) for g, w in zip(got, want) if g != w
    ][:5]
    assert got == want, f"{name}: value mismatch, first diffs: {mismatches}"


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(ORACLES))
)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_stratified_sample_fractions(spark):
    """Observed per-stratum keep rates track the requested fractions and
    repeated runs are identical (hash-based, no RNG)."""
    from search_engine_spark.operators.textstats import stratified_sample

    rows = [(i, ["en", "de", "fr", "zh"][i % 4]) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id: long, lang: string")
    fr = {"en": 0.5, "de": 0.1, "fr": 1.0}
    out = stratified_sample(df, fr).groupBy("lang").count().collect()
    got = {r["lang"]: r["count"] for r in out}
    assert "zh" not in got                       # absent stratum dropped
    assert got["fr"] == 1000                     # fraction 1.0 keeps all
    assert abs(got["en"] / 1000 - 0.5) < 0.05    # ~hash-uniform
    assert abs(got["de"] / 1000 - 0.1) < 0.04
    again = {
        r["lang"]: r["count"]
        for r in stratified_sample(df, fr).groupBy("lang").count().collect()
    }
    assert again == got                          # deterministic


def test_gate_cap_discipline():
    """The driver's correctness gate records only the FIRST 50 registry
    entries: every one of those slots must carry an oracle (rows-only
    entries belong at the tail) — a reordering that pushes an
    oracle-checked entry past the cap or pulls a rows-only entry into
    it silently weakens the recorded evidence."""
    names = list(QUERIES)
    first50 = names[:50]
    assert all(n in ORACLES for n in first50), [
        n for n in first50 if n not in ORACLES
    ]
    # the round-4/5 lifecycle entries must sit inside the recorded
    # window (round 5 rotated in dup_spans / media_features /
    # seq_tokens for three in-window twins)
    for flagship in (
        "merged_bm25_topk",
        "vector_index_exact",
        "dedup_components",
        "live_loop_topk",
        "pack_slices",
        "pq_ann_exact",
        "decontam",
        "dsir_select",
        "bpe_roundtrip",
        "hash_embed_topk",
        "hybrid_topk",
        "dup_spans",
        "media_features",
        "seq_tokens",
        "png_features",
        "audio_features",
    ):
        assert flagship in first50, flagship
