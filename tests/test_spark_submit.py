"""North-rule deployment mode: the real `spark-submit --py-files` path,
exercised as subprocesses (separate JVMs, package shipped via the zip —
workers must never import from the repo checkout)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spark_submit = shutil.which("spark-submit")
pytestmark = pytest.mark.skipif(
    spark_submit is None, reason="spark-submit not on PATH"
)


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    from search_engine_spark.sources.corpus import generate_corpus

    p = str(tmp_path_factory.mktemp("ss") / "corpus.parquet")
    generate_corpus(spark, 120, seed=3).write.parquet(p)
    return p


def _submit(script: str, *args: str) -> str:
    from search_engine_spark.session import package_zip

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be sufficient
    env["PYSPARK_PYTHON"] = sys.executable
    r = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", package_zip(),
            os.path.join(REPO, "jobs", script),
            *args,
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/tmp",  # NOT the repo: imports must come from the zip
        env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return r.stdout


def test_build_then_query_via_spark_submit(corpus_path, tmp_path):
    out = str(tmp_path / "idx")
    stdout = _submit(
        "build_index_job.py",
        "--input", corpus_path,
        "--output", out,
        "--no-stem", "--no-stopwords",
    )
    report = json.loads(
        [l for l in stdout.splitlines() if l.startswith("{")][-1]
    )
    assert report["n_docs"] == 120
    assert report["mode"] == "oneshot"
    # the corpus carries sha256 -> the per-row invariant ran by default
    assert report["sha256_verified"] is True

    stdout = _submit(
        "query_job.py",
        "--index", out,
        "--query", "banana recipe",
        "--query", "hash join",
        "--k", "5",
        "--wand",
        "--no-stem", "--no-stopwords",
    )
    lines = [json.loads(l) for l in stdout.splitlines() if l.startswith("{")]
    assert len(lines) == 2
    for res in lines:
        assert res["path"] == "wand"
        assert len(res["results"]) > 0
        # scores sorted desc with doc_id tie-break
        scores = [s for _, s in res["results"]]
        assert scores == sorted(scores, reverse=True)

    # --batch: shared-scan evaluation, value-identical per query
    stdout = _submit(
        "query_job.py",
        "--index", out,
        "--query", "banana recipe",
        "--query", "hash join",
        "--k", "5",
        "--batch",
        "--no-stem", "--no-stopwords",
    )
    blines = [json.loads(l) for l in stdout.splitlines() if l.startswith("{")]
    assert len(blines) == 2
    assert all(res["path"] == "batch" for res in blines)
    wand_by_q = {res["query"]: res["results"] for res in lines}
    for res in blines:
        w = wand_by_q[res["query"]]
        assert [d for d, _ in res["results"]] == [d for d, _ in w]
        for (_, bs), (_, ws) in zip(res["results"], w):
            assert abs(bs - ws) < 1e-5  # float-sum-order jitter only

    # --batch --out: DISTRIBUTED parquet write (no driver collect),
    # value-identical rows
    import tempfile

    out_pq = tempfile.mkdtemp(prefix="se_q_out_") + "/res"
    stdout = _submit(
        "query_job.py",
        "--index", out,
        "--query", "banana recipe",
        "--query", "hash join",
        "--k", "5",
        "--batch",
        "--out", out_pq,
        "--no-stem", "--no-stopwords",
    )
    rep = json.loads(
        [l for l in stdout.splitlines() if l.startswith("{")][-1]
    )
    assert rep["path"] == "batch-distributed" and rep["n_queries"] == 2
    import duckdb

    rows = duckdb.sql(
        f"SELECT query, doc_id, round(score, 5) FROM '{out_pq}/*.parquet' "
        "ORDER BY query, score DESC, doc_id"
    ).fetchall()
    by_q: dict = {}
    for q, d, s in rows:
        by_q.setdefault(q, []).append((d, s))
    for res in blines:
        got = by_q[res["query"]]
        assert [d for d, _ in got] == [d for d, _ in res["results"]]


def test_stream_ingest_via_spark_submit(corpus_path, tmp_path):
    out = str(tmp_path / "sidx")
    stdout = _submit(
        "stream_ingest_job.py",
        "--input", corpus_path,
        "--output", out,
    )
    rep = json.loads(stdout.strip().splitlines()[-1])
    assert rep["batches_total"] >= 1
    assert rep["n_docs"] == 120
    # re-run with nothing new: no additional batches, same doc count
    stdout2 = _submit(
        "stream_ingest_job.py",
        "--input", corpus_path,
        "--output", out,
    )
    rep2 = json.loads(stdout2.strip().splitlines()[-1])
    assert rep2["batches_total"] == rep["batches_total"]
    assert rep2["n_docs"] == 120


def test_publish_flow_via_spark_submit(corpus_path, tmp_path):
    """--publish: two builds into the same root produce gen=0 then
    gen=1 with the LATEST pointer following, and the serving tier
    loads the published generation without Spark."""
    root = str(tmp_path / "pubroot")
    rep0 = json.loads(
        [
            l
            for l in _submit(
                "build_index_job.py",
                "--input", corpus_path,
                "--output", root,
                "--publish", "--no-stem", "--no-stopwords",
            ).splitlines()
            if l.startswith("{")
        ][-1]
    )
    assert rep0["generation"] == 0 and rep0["n_docs"] == 120

    from search_engine_spark.publish import read_latest
    from search_engine_spark.serving import ServingIndex

    assert read_latest(root)["generation"] == 0
    srv = ServingIndex.load_latest(root)
    assert srv.generation == 0
    assert srv.search("banana recipe", k=3)

    rep1 = json.loads(
        [
            l
            for l in _submit(
                "build_index_job.py",
                "--input", corpus_path,
                "--output", root,
                "--publish", "--no-stem", "--no-stopwords",
            ).splitlines()
            if l.startswith("{")
        ][-1]
    )
    assert rep1["generation"] == 1
    assert srv.refresh() is True and srv.generation == 1

    # resumable mode keeps its workspace at <root>/_build and publishes
    # the finalized layout as the next generation
    rep2 = json.loads(
        [
            l
            for l in _submit(
                "build_index_job.py",
                "--input", corpus_path,
                "--output", root,
                "--publish", "--resumable",
                "--shards-per-batch", "2",
                "--no-stem", "--no-stopwords",
            ).splitlines()
            if l.startswith("{")
        ][-1]
    )
    assert rep2["finalized"] and rep2["generation"] == 2
    assert srv.refresh() is True and srv.generation == 2
    assert srv.n_docs == 120


def test_merge_via_spark_submit(
    spark, corpus_path, tmp_path, monkeypatch, capsys
):
    """Delta-merge flow: build main over part of the corpus, merge a
    delta built in-job from the remaining docs' parquet, and verify the
    merged index answers queries identically to a from-scratch build
    over the full corpus. Then compact the delta back out with
    --delete-ids and check it equals the main build. Last, the job's
    delta + --delete-ids path runs in-process: one rebuild pass, the
    deletes winning over their upserts."""
    from pyspark.sql import functions as F

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import Index, build_index
    from search_engine_spark.operators.query import search

    cfg = EngineConfig(stem=False, remove_stopwords=False)
    docs = spark.read.parquet(corpus_path).cache()
    main_docs_p = str(tmp_path / "main_docs.parquet")
    delta_docs_p = str(tmp_path / "delta_docs.parquet")
    docs.where(F.col("doc_id") < 80).write.parquet(main_docs_p)
    docs.where(F.col("doc_id") >= 80).write.parquet(delta_docs_p)

    main_idx = str(tmp_path / "main_idx")
    _submit(
        "build_index_job.py",
        "--input", main_docs_p,
        "--output", main_idx,
        "--no-stem", "--no-stopwords",
    )
    merged_out = str(tmp_path / "merged_idx")
    rep = json.loads(
        [
            l
            for l in _submit(
                "merge_index_job.py",
                "--main", main_idx,
                "--delta-docs", delta_docs_p,
                "--output", merged_out,
            ).splitlines()
            if l.startswith("{")
        ][-1]
    )
    assert rep["main_n_docs"] == 80
    assert rep["delta_n_docs"] == 40
    assert rep["n_docs"] == 120

    merged = Index.load(spark, merged_out)
    rebuilt = build_index(docs, cfg=cfg)
    for q in ("banana recipe", "banana AND recipe"):
        assert [
            (r.doc_id, round(r.score, 9))
            for r in search(merged, q, k=10).collect()
        ] == [
            (r.doc_id, round(r.score, 9))
            for r in search(rebuilt, q, k=10).collect()
        ], q

    # compaction: delete the delta ids again == the main build
    del_ids_p = str(tmp_path / "del_ids.parquet")
    docs.where(F.col("doc_id") >= 80).select("doc_id").write.parquet(
        del_ids_p
    )
    compacted_out = str(tmp_path / "compacted_idx")
    rep2 = json.loads(
        [
            l
            for l in _submit(
                "merge_index_job.py",
                "--main", merged_out,
                "--delete-ids", del_ids_p,
                "--output", compacted_out,
            ).splitlines()
            if l.startswith("{")
        ][-1]
    )
    assert rep2["n_docs"] == 80 and rep2["delete_ids"] == 40
    main_only = Index.load(spark, main_idx)
    q = "banana recipe"
    want = [
        (r.doc_id, round(r.score, 9))
        for r in search(main_only, q, k=10).collect()
    ]
    assert [
        (r.doc_id, round(r.score, 9))
        for r in search(Index.load(spark, compacted_out), q, k=10).collect()
    ] == want

    # delta + deletes of every delta id in ONE job run, in-process so the
    # rebuild passes can be counted (the job's closing stop() would end
    # this test's session)
    import importlib.util

    from pyspark.sql import SparkSession

    from search_engine_spark.operators import merge

    spec = importlib.util.spec_from_file_location(
        "merge_index_job", os.path.join(REPO, "jobs", "merge_index_job.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    real_rebuild, passes = merge._incremental_rebuild, []

    def counted(*args, **kwargs):
        passes.append(1)
        return real_rebuild(*args, **kwargs)

    monkeypatch.setattr(merge, "_incremental_rebuild", counted)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    one_pass_out = str(tmp_path / "one_pass_idx")
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "merge_index_job.py",
            "--main", main_idx,
            "--delta-docs", delta_docs_p,
            "--delete-ids", del_ids_p,
            "--output", one_pass_out,
        ],
    )
    capsys.readouterr()
    job.main()
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(passes) == 1
    assert rep3["n_docs"] == 80 and rep3["delta_n_docs"] == 40
    assert [
        (r.doc_id, round(r.score, 9))
        for r in search(Index.load(spark, one_pass_out), q, k=10).collect()
    ] == want


def test_decontam_via_spark_submit(spark, corpus_path, tmp_path):
    """Filter mode drops exactly the docs the in-process operator
    flags at the same (n, min_hits)."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators.decontam import decontaminate

    ev_path = str(tmp_path / "eval.parquet")
    docs = spark.read.parquet(corpus_path)
    docs.where(F.col("doc_id") % 13 == 0).write.parquet(ev_path)
    out = str(tmp_path / "clean.parquet")
    rep = json.loads(
        [
            l
            for l in _submit(
                "decontam_job.py",
                "--train", corpus_path,
                "--eval", ev_path,
                "--output", out,
                "--n", "3",
            ).splitlines()
            if l.startswith("{")
        ][-1]
    )
    assert rep["train_docs"] == 120
    assert rep["kept_docs"] + rep["dropped_docs"] == 120
    exp = {
        r["doc_id"]
        for r in decontaminate(
            docs, spark.read.parquet(ev_path), text_col="content", n=3
        ).collect()
    }
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == exp


def test_build_job_rejects_sha256_mismatch(spark, corpus_path, tmp_path):
    """input_hint contract: a corrupted content row fails the build
    BEFORE any index work, with a machine-readable error."""
    from pyspark.sql import functions as F
    from search_engine_spark.session import package_zip

    bad = str(tmp_path / "bad_corpus.parquet")
    (
        spark.read.parquet(corpus_path)
        .withColumn(
            "content",
            F.when(F.col("doc_id") == 7, F.lit("tampered")).otherwise(
                F.col("content")
            ),
        )
        .write.parquet(bad)
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    r = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", package_zip(),
            os.path.join(REPO, "jobs", "build_index_job.py"),
            "--input", bad,
            "--output", str(tmp_path / "idx"),
        ],
        capture_output=True, text=True, timeout=600, cwd="/tmp", env=env,
    )
    assert r.returncode == 2, (r.returncode, r.stderr[-1500:])
    err = json.loads(
        [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert err == {"error": "sha256_mismatch", "mismatching_rows": 1}


def test_live_index_via_spark_submit(corpus_path, tmp_path):
    """Continuous-ingestion CLI: drain -> merged generation published;
    re-run with nothing new publishes nothing; served doc count grows
    only with arrivals."""
    root = str(tmp_path / "live_root")
    stdout = _submit(
        "live_index_job.py",
        "--input", corpus_path,
        "--root", root,
        "--no-stem", "--no-stopwords",
    )
    rep = json.loads(stdout.strip().splitlines()[-1])
    assert rep["n_docs"] == 120 and rep["batches_this_run"] >= 1
    gen = rep["generation"]

    stdout2 = _submit(
        "live_index_job.py",
        "--input", corpus_path,
        "--root", root,
        "--no-stem", "--no-stopwords",
        "--refresh-pagerank",
    )
    rep2 = json.loads(stdout2.strip().splitlines()[-1])
    # nothing new -> no merge publish; gen unchanged means the rank
    # refresh (which publishes) was correctly skipped on gen == -1...
    # here gen >= 0, so the refresh DID publish a ranked generation
    assert rep2["generation"] == gen + 1
    assert rep2["batches_this_run"] == 1
    assert rep2["pagerank_iterations"] >= 1

    from search_engine_spark.serving import ServingIndex

    srv = ServingIndex.load_latest(root)
    assert srv.n_docs == 120
    assert srv.search("banana", k=5)


def test_prepare_training_data_via_spark_submit(corpus_path, tmp_path):
    """Full hygiene pipeline CLI: runs end to end, writes docs + slice
    parquet, per-stage counts are monotone non-increasing."""
    out = str(tmp_path / "prep")
    stdout = _submit(
        "prepare_training_data_job.py",
        "--input", corpus_path,
        "--output", out,
        "--min-quality", "0.1",
        "--pack-budget", "512",
    )
    rep = json.loads(
        [l for l in stdout.splitlines() if l.startswith("{")][-1]
    )
    c = rep["counts"]
    assert c["input"] == 120
    stage_order = [k for k in
                   ("input", "langid", "quality", "exact_dedup",
                    "near_dup") if k in c]
    vals = [c[k] for k in stage_order]
    assert vals == sorted(vals, reverse=True)
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{out}/docs/*.parquet'"
    ).fetchone()[0]
    assert n_docs == vals[-1]
    n_slices = duckdb.sql(
        f"SELECT count(*) FROM '{out}/slices/*.parquet'"
    ).fetchone()[0]
    assert n_slices == c["slices"] > 0


def test_build_vector_index_via_spark_submit(corpus_path, tmp_path):
    """documents --hash-embed -> saved VectorIndex; the artifact then
    answers a free-text query through the serving cell."""
    out = str(tmp_path / "vidx")
    stdout = _submit(
        "build_vector_index_job.py",
        "--input", corpus_path,
        "--output", out,
        "--hash-embed", "--id-col", "doc_id",
        "--n-centroids", "4", "--m", "8",
    )
    line = [l for l in stdout.splitlines() if l.startswith("{")][-1]
    rep = json.loads(line)
    assert rep["n_vectors"] == 120 and rep["dim"] == 64
    assert rep["hash_embed"] is True

    from search_engine_spark.vector_serving import VectorServing

    srv = VectorServing.load(out)
    got = srv.topk_text("banana recipe", k=5, exact=True)
    assert len(got) == 5 and got[0][1] > 0
