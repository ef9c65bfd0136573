"""The benchmark's workloads: ``query_mix`` and ``live_ingest``.

Each workload times calls into the engine's public functions from the
outside. ``run`` returns the result object (end-to-end metrics untraced,
per-layer metrics traced) and an info dict describing the run.
"""

from __future__ import annotations

import collections
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
import stats
from spans import EventLog, Tracer, wrap_module_function

# Input sizes. "full" is what BENCHMARK.json runs; "tiny" only proves the
# plumbing (smoke test). The oracle check needs the query_mix corpus to
# be at most ORACLE_MAX_FILES files. ``serve_queries`` is the query list
# every serving pass sends (p99 needs at least 10^4 of them).
SIZES = {
    "full": dict(qm_files=2000, warmup_files=400, serve_queries=10_000,
                 li_base=600, li_wave=300, li_waves=1, spark_timed=20,
                 batch=200, oracle_queries=24),
    "tiny": dict(qm_files=200, warmup_files=40, serve_queries=300,
                 li_base=150, li_wave=40, li_waves=2, spark_timed=5,
                 batch=12, oracle_queries=6),
}
ORACLE_MAX_FILES = 2000
# Serving passes per traced run: one per SECONDS_PER_PASS of --seconds,
# at least MIN_PASSES. A fixed count for a given --seconds, so a faster
# host does not serve a warmer mix. Serving latency is reported per
# layer, not gated: on a shared host a neighbour's sustained load slowed
# the same passes by up to 1.8x within 15 minutes, which no in-run
# repetition filters out. An untraced run serves one pass: its only
# serving metric, serve_rss_mb, is read after the first.
SECONDS_PER_PASS = 6.0
MIN_PASSES = 2
K = 10

END_TO_END = {
    "setup_s": "s",
    "index_bytes_per_input_byte": "ratio",
    "serve_rss_mb": "MiB",
}
SPARK_KINDS = ("term", "and", "or", "not", "phrase")
PER_LAYER = {
    "index_build.files_per_s": "1/s",
    "index_build.tokenize_s": "s",
    "index_build.postings_s": "s",
    "index_build.shuffle_write_bytes": "bytes",
    "index_build.executor_cpu_s": "s",
    "index_build.save_s": "s",
    "index_build.saved_bytes": "bytes",
    "pagerank.busy_s": "s",
    "pagerank.iterations": "count",
    "serving.load_s": "s",
    "serving.refresh_s": "s",
    "serving.qps": "1/s",
    "serving.p50_ms": "ms",
    "serving.p99_ms": "ms",
    **{f"serving.{k}_p50_ms": "ms" for k in gen.QUERY_KINDS},
    **{f"serving.{k}_busy_s": "s" for k in gen.QUERY_KINDS},
    "serving.first_touch_p50_ms": "ms",
    "serving.warm_p50_ms": "ms",
    "serving.cache_hit_ratio": "ratio",
    "serving.ingest_p50_ms": "ms",
    "serving.ingest_p99_ms": "ms",
    **{f"query.{k}_p50_s": "s" for k in SPARK_KINDS},
    "query.search_p50_s": "s",
    "query.jobs_per_query": "count",
    "query.batch_s": "s",
    "query.batch_qps": "1/s",
    "query.batch_shuffle_bytes": "bytes",
    "live_index.files_per_s": "1/s",
    "live_index.wave_s": "s",
    "live_index.fresh_lag_p50_s": "s",
    "index_build.delta_s": "s",
    "merge.busy_s": "s",
    "publish.busy_s": "s",
    "live_index.unattributed_s": "s",
    "publish.bytes_written_per_input_byte": "ratio",
    "spark.failed_tasks": "count",
    "trace.overhead_pct": "%",
}


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    work: str
    scale: str = "full"
    # smoke test: flip one checked answer to prove the checks bite
    corrupt: bool = False
    spark: object = None
    tracer: Tracer = field(default_factory=Tracer)
    attempted: int = 0
    failures: list = field(default_factory=list)

    @property
    def size(self) -> dict:
        return SIZES[self.scale]

    def check(self, messages: list[str], n: int = 1) -> None:
        """Count ``n`` attempted checks and each message as a failure."""
        self.attempted += n
        self.failures.extend(messages)


# -- host and filesystem ---------------------------------------------------


def host_probe() -> float:
    """Seconds for a fixed pure-Python + numpy loop. Recorded before and
    after each run so machine drift can be told from a regression; no
    metric is divided by it."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    a = np.arange(250 * 250, dtype=np.float64).reshape(250, 250) / 1e4
    for _ in range(20):
        a = np.tanh(a @ a.T / 250.0)
    return time.perf_counter() - t


def filesystem_of(path: str) -> dict:
    best = ("", "?", "?")
    with open("/proc/mounts") as fh:
        for line in fh:
            dev, mnt, fstype = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best[0]):
                best = (mnt, fstype, dev)
    return {"mount": best[0], "fstype": best[1], "device": best[2]}


def dir_bytes(path: str) -> int:
    """Bytes of data files under ``path`` (Hadoop's hidden .crc
    checksums and _SUCCESS markers excluded)."""
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            if not fn.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dp, fn))
    return total


# -- Spark -----------------------------------------------------------------


def start_spark(ctx: Context):
    from search_engine_spark.session import get_spark

    cores = min(4, os.cpu_count() or 1)
    jtmp = os.path.join(ctx.work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
    }
    if ctx.trace:
        ev = os.path.join(ctx.work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=2 * cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(ctx: Context) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it started (Python workers) have exited."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = _descendants(proc.pid) if proc is not None else []
    ctx.spark.stop()
    ctx.spark = None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


# -- shared phases -----------------------------------------------------------


def engine_cfg():
    from search_engine_spark.config import EngineConfig

    # codec-only posting layout: the profile a serving tier ships, and
    # the one on which serving and Spark search score identical values
    return EngineConfig(store_arrays=False)


def build_phase(ctx: Context, corpus_dir: str, with_pagerank: bool,
                tr: Tracer | None = None):
    """build_index -> postings materialized -> (pagerank) — timed spans
    into ``tr`` (default: the run's tracer). Returns the Index with its
    postings persisted (caller saves and then calls ``finish_build``)."""
    from pyspark import StorageLevel

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.pagerank import (
        pagerank,
        repo_link_graph,
    )

    tr = tr or ctx.tracer
    spark = ctx.spark
    docs = spark.read.parquet(corpus_dir)
    with tr.span("index_build.build_index"):
        idx = build_index(docs, cfg=engine_cfg())
    with tr.span("index_build.postings"):
        idx.postings = idx.postings.persist(StorageLevel.MEMORY_AND_DISK)
        idx.postings.count()
    if with_pagerank:
        st: dict = {}
        with tr.span("pagerank.pagerank") as sp:
            pr = pagerank(repo_link_graph(docs), docs.select("doc_id"),
                          cfg=idx.cfg, stats=st)
            idx.docs = idx.docs.join(pr, "doc_id", "left").fillna(
                0.0, subset=["page_rank"]
            )
        sp.attrs.update(st)
    return docs, idx


def finish_build(idx) -> None:
    idx.postings.unpersist()
    idx.release()


def warm_up(ctx: Context, corpus_dir: str, with_pagerank: bool) -> float:
    """Untimed build and save of ``corpus_dir``, its spans discarded: a
    session's first jobs pay JIT compilation and Python worker start,
    which would otherwise be most of the timed build. Returns its wall
    time."""
    ctx.attempted += 1
    t = time.perf_counter()
    _docs, idx = build_phase(ctx, corpus_dir, with_pagerank, tr=Tracer())
    idx.save(os.path.join(ctx.work, "warmup-index"))
    finish_build(idx)
    return time.perf_counter() - t


def spark_topk(index, q: str, k: int = K) -> list:
    from search_engine_spark.operators.query import search

    return [(int(r["doc_id"]), float(r["score"]))
            for r in search(index, q, k=k).collect()]


def serving_topk(srv, q: str, k: int = K) -> list:
    return [(d, s) for d, _rel, _pr, s in srv.search(q, k=k)]


def check_sample(srv, queries, kinds, per_kind: int, limit: int = 5000):
    """First ``per_kind`` queries of each kind with a non-empty answer."""
    want = {k: per_kind for k in gen.QUERY_KINDS}
    out = []
    seen = set()
    for q, kd in zip(queries[:limit], kinds[:limit]):
        if want[kd] and q not in seen and srv.search(q, k=1):
            out.append((q, kd))
            seen.add(q)
            want[kd] -= 1
    return out


def corrupted(ctx: Context, res: dict) -> dict:
    """Smoke test only: shift the first answer's doc ids by one."""
    if ctx.corrupt and res:
        q0 = next(iter(res))
        res[q0] = [(d + 1, sc) for d, sc in res[q0]] or [(0, 1.0)]
    return res


def serve_passes(ctx: Context) -> int:
    if not ctx.trace:
        return 1
    return max(MIN_PASSES, round(ctx.seconds / SECONDS_PER_PASS))


def span_total(tr: Tracer, name: str) -> float:
    return sum(s.dur for s in tr.named(name))


def span_median(tr: Tracer, name: str) -> float:
    d = [s.dur for s in tr.named(name)]
    return statistics.median(d) if d else 0.0


# -- query_mix ---------------------------------------------------------------


def query_mix(ctx: Context) -> tuple[dict, dict, dict]:
    from search_engine_spark.operators.index_build import Index, verify_sha256
    from search_engine_spark.oracle import oracle_build, oracle_search
    from search_engine_spark.serving import ServingIndex

    sz = ctx.size
    n_files = sz["qm_files"]
    if n_files > ORACLE_MAX_FILES:
        raise ValueError("query_mix corpus exceeds the oracle slice size")
    p = gen.GenParams()
    vocab = gen.vocabulary(p)
    cdf = gen.zipf_cdf(p)
    corpus_dir = os.path.join(ctx.work, "corpus")
    index_dir = os.path.join(ctx.work, "index")
    warm_dir = os.path.join(ctx.work, "warmup")
    cols = gen.corpus_rows(p, vocab, cdf, ctx.seed, 0, n_files)
    in_bytes = gen.write_parquet(cols, corpus_dir)
    gen.write_parquet(gen.corpus_rows(p, vocab, cdf, ctx.seed, 0,
                                      sz["warmup_files"], stream="warmup"),
                      warm_dir)
    queries, kinds = gen.query_stream(p, vocab, cdf, ctx.seed,
                                      sz["serve_queries"])
    spark = start_spark(ctx)
    tr = ctx.tracer

    warmup_s = warm_up(ctx, warm_dir, with_pagerank=True)

    # set-up, first part: build, PageRank, save
    t = time.perf_counter()
    ctx.attempted += 1
    docs, idx = build_phase(ctx, corpus_dir, with_pagerank=True)
    with tr.span("index_build.save"):
        idx.save(index_dir)
    finish_build(idx)
    build_wall = time.perf_counter() - t
    saved = dir_bytes(index_dir)

    # Spark-side checks and Spark query timings, then stop the JVM: the
    # client below is single-threaded Python, and a JVM still compiling
    # and collecting after the build took a share of the cores it runs on
    sidx = Index.load(spark, index_dir)
    sample = check_sample(ServingIndex.load(index_dir), queries, kinds,
                          per_kind=1)
    spark_res = {}
    for q, _kind in sample:
        with tr.span("query.search", query=q):
            spark_res[q] = spark_topk(sidx, q)
    ctx.check([] if verify_sha256(docs, docs) == 0 else
              ["verify_sha256 found mismatching rows"])
    layers = {}
    if ctx.trace:
        layers = query_mix_layers(ctx, sidx, queries, kinds)
    stop_spark(ctx)

    # set-up, second part (each pass): load the index the client queries;
    # measured: one closed-loop client through the LRU result cache
    passes, load_walls, rss = [], [], []
    for _ in range(serve_passes(ctx)):
        srv = None  # drop the previous pass's index before loading
        rss0 = stats.rss_mb()
        t = time.perf_counter()
        with tr.span("serving.load"):
            srv = ServingIndex.load(index_dir)
        load_walls.append(time.perf_counter() - t)
        with tr.span("serving.closed_loop"):
            passes.append(stats.timed_pass(srv.cached_search, queries))
        rss.append(stats.rss_mb() - rss0)
    ctx.attempted += len(queries) * len(passes)
    load_wall = statistics.median(load_walls)
    lat = stats.best_of(passes)

    e2e = {
        "setup_s": build_wall + load_wall,
        "index_bytes_per_input_byte": saved / in_bytes,
        "serve_rss_mb": rss[0],
    }

    # correctness of the measured instance, outside the timed phases
    ctx.check(checks.serving_vs_spark(
        corrupted(ctx, {q: serving_topk(srv, q) for q in spark_res}),
        spark_res,
    ), len(spark_res))
    import pyarrow.parquet as pq

    dt = pq.read_table(os.path.join(index_dir, "docs"),
                       columns=["doc_id", "page_rank"])
    pr = dict(zip(dt.column("doc_id").to_pylist(),
                  dt.column("page_rank").to_pylist()))
    oracle = oracle_build(list(zip(cols["doc_id"].tolist(), cols["content"])),
                          cfg=srv.cfg, page_rank=pr)
    o_sample = [q for q, _ in check_sample(
        srv, queries, kinds, per_kind=max(1, sz["oracle_queries"] // 6))]
    ctx.check(checks.serving_vs_oracle(
        {q: serving_topk(srv, q) for q in o_sample},
        {q: oracle_search(oracle, q, k=K) for q in o_sample},
    ), len(o_sample))

    if ctx.trace:
        layers.update(stats.layers(lat, queries, kinds))
        layers["serving.cache_hit_ratio"] = srv.cache_hits / max(
            1, srv.cache_hits + srv.cache_misses)
        layers["serving.load_s"] = load_wall
        layers["index_build.saved_bytes"] = saved
        layers["index_build.files_per_s"] = n_files / build_wall
    info = {
        "corpus_files": n_files,
        "corpus_content_bytes": in_bytes,
        "queries_served": len(queries) * len(passes),
        "cache_hits": srv.cache_hits,
        "cache_misses": srv.cache_misses,
        "index_bytes": saved,
        "serve_rss_mb": rss,
        "spark_check_queries": len(spark_res),
        "oracle_queries": len(o_sample),
        "warmup_build_s": warmup_s,
        "build_s": build_wall,
        "serving_load_s": load_walls,
        **stats.info(lat, passes, kinds),
    }
    return e2e, layers, info


def query_mix_layers(ctx, sidx, queries, kinds) -> dict:
    """Traced-only phase: timed Spark ``search`` per query kind (job count
    per query from the status tracker) and one ``search_batch``."""
    from search_engine_spark.operators.query import search_batch

    sc = ctx.spark.sparkContext
    tr = ctx.tracer
    per_kind = max(1, ctx.size["spark_timed"] // len(SPARK_KINDS))
    want = {k: per_kind for k in SPARK_KINDS}
    walls: dict[str, list] = collections.defaultdict(list)
    jobs = []
    for q, kd in zip(queries, kinds):
        if not want.get(kd):
            continue
        want[kd] -= 1
        group = f"perfbench-q{len(jobs)}"
        sc.setJobGroup(group, q)
        t = time.perf_counter()
        with tr.span("query.search", query=q):
            spark_topk(sidx, q)
        walls[kd].append(time.perf_counter() - t)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        if not any(want.values()):
            break
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    out = {f"query.{k}_p50_s": statistics.median(walls[k]) if walls[k]
           else 0.0 for k in SPARK_KINDS}
    allw = [w for v in walls.values() for w in v]
    out["query.search_p50_s"] = statistics.median(allw)
    out["query.jobs_per_query"] = statistics.mean(jobs)
    batch = list(dict.fromkeys(queries))[: ctx.size["batch"]]
    with tr.span("query.search_batch") as sp:
        search_batch(sidx, batch, k=K).collect()
    out["query.batch_s"] = sp.dur
    out["query.batch_qps"] = len(batch) / sp.dur
    return out


# -- live_ingest -----------------------------------------------------------


LIVE_SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, doc_id long, sha256 string, deleted boolean"
)


def _recv(conn, what: str, timeout: float = 120.0):
    if not conn.poll(timeout):
        raise RuntimeError(f"reader process sent no {what!r} reply")
    msg = conn.recv()
    if msg[0] != what:
        raise RuntimeError(f"reader process replied {msg[0]!r}, not {what!r}")
    return msg


def live_ingest(ctx: Context) -> tuple[dict, dict, dict]:
    from multiprocessing.connection import Pipe

    import pyarrow as pa
    import pyarrow.parquet as pq

    import reader
    from search_engine_spark.publish import latest_index_path, publish_index
    from search_engine_spark.streaming import live_index as live_mod
    from search_engine_spark.streaming.live_index import StreamingLiveIndex

    sz = ctx.size
    p = gen.GenParams()
    base_dir = os.path.join(ctx.work, "base")
    incoming = os.path.join(ctx.work, "incoming")
    staging = os.path.join(ctx.work, "staging")
    root = os.path.join(ctx.work, "root")
    vocab = gen.vocabulary(p)
    cdf = gen.zipf_cdf(p)
    cols = gen.corpus_rows(p, vocab, cdf, ctx.seed, 0, sz["li_base"])
    gen.write_parquet(cols, base_dir)
    alive = np.asarray(cols["doc_id"])
    nxt = sz["li_base"]
    waves = []
    for w in range(sz["li_waves"]):
        wv = gen.make_wave(p, vocab, cdf, ctx.seed, w, nxt, alive,
                           sz["li_wave"])
        nxt += len(wv.new_ids)
        alive = np.setdiff1d(np.union1d(alive, wv.new_ids), wv.delete_ids)
        waves.append(wv)
    # the reader cycles through this list while waves are ingested and
    # sends all of it in each measured pass after the swap
    queries, kinds = gen.query_stream(p, vocab, cdf, ctx.seed,
                                      sz["serve_queries"])
    spark = start_spark(ctx)
    tr = ctx.tracer
    content_bytes = {int(i): len(c.encode())
                     for i, c in zip(cols["doc_id"], cols["content"])}

    warmup_s = warm_up(ctx, base_dir, with_pagerank=False)
    # set-up: base index published as generation 0, reader process loads it
    t_setup = time.perf_counter()
    ctx.attempted += 1
    _docs, idx = build_phase(ctx, base_dir, with_pagerank=False)
    with tr.span("index_build.save"):
        publish_index(idx, root)
    finish_build(idx)
    # a plain child process: multiprocessing's spawn would also start a
    # resource-tracker process that outlives the run
    conn, child_conn = Pipe()
    proc = subprocess.Popen(
        [sys.executable, reader.__file__, str(child_conn.fileno())],
        pass_fds=(child_conn.fileno(),),
        env=dict(os.environ, PYTHONPATH=os.pathsep.join(
            [os.getcwd(), *filter(None, [os.environ.get("PYTHONPATH")])])),
    )
    restore = []
    try:
        child_conn.close()
        conn.send((root, queries))
        _, load_s = _recv(conn, "ready")
        setup_wall = time.perf_counter() - t_setup
        live = StreamingLiveIndex(spark, incoming, root, cfg=engine_cfg(),
                                  schema=LIVE_SCHEMA)
        os.makedirs(incoming)
        os.makedirs(staging)

        if ctx.trace:
            for attr, name in (
                    ("build_index", "index_build.delta"),
                    ("merge_indexes", "merge.merge_indexes"),
                    ("publish_index", "publish.publish_index"),
                    ("load_latest_index", "live_index.load_current")):
                restore.append(
                    wrap_module_function(tr, live_mod, attr, name))
            from search_engine_spark.operators import merge as merge_mod

            restore.append(wrap_module_function(
                tr, merge_mod, "delete_docs", "merge.delete_docs"))

        # measured: waves land and are drained while the reader queries
        ingest_s = 0.0
        rows = 0
        wave_in_bytes = 0
        published_bytes = 0
        refresh_s, lag_s = [], []
        planted: dict[int, tuple[str, set]] = {}
        for wv in waves:
            ctx.attempted += 1
            name = f"wave-{wv.index:04d}.parquet"
            pq.write_table(pa.table(wv.cols), os.path.join(staging, name))
            os.replace(os.path.join(staging, name),
                       os.path.join(incoming, name))
            t_land = time.time()
            with tr.span("live_index.wave", wave=wv.index) as sp:
                tr.root_parent = sp.id
                t = time.perf_counter()
                live.process_available()
                pa_s = time.perf_counter() - t
                tr.root_parent = None
            want = sorted(set(wv.new_ids) | set(wv.upsert_ids))
            conn.send(("refresh", wv.index, wv.plant, want, wv.delete_ids,
                       t_land))
            _, r_s, lag = _recv(conn, "refreshed")
            refresh_s.append(r_s)
            lag_s.append(lag)
            ingest_s += pa_s + r_s
            rows += len(wv.cols["doc_id"])
            wave_in_bytes += gen.content_bytes(wv.cols)
            published_bytes += dir_bytes(latest_index_path(root))
            # what each earlier planted token should still return
            for _plant, ids in planted.values():
                ids.difference_update(wv.upsert_ids)
                ids.difference_update(wv.delete_ids)
            planted[wv.index] = (wv.plant, set(want))
            for i in wv.delete_ids:
                content_bytes.pop(i, None)
            for i, c, dead in zip(wv.cols["doc_id"], wv.cols["content"],
                                  wv.cols["deleted"]):
                if not dead:
                    content_bytes[int(i)] = len(c.encode())
        # measured, second part: serving right after the generation swap,
        # on a quiet host (JVM stopped, as in query_mix)
        stop_spark(ctx)
        conn.send(("measure", serve_passes(ctx),
                   {w: (pl, sorted(ids)) for w, (pl, ids) in planted.items()}))
        _, rep = _recv(conn, "done", timeout=600)
        proc.wait(timeout=60)
    finally:
        for r in restore:
            r()
        conn.close()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"reader process exit code {proc.returncode}")
    lat = stats.best_of(rep["passes"])
    # each query and each planted-token check is one operation
    ctx.attempted += rep["queries"] + len(planted) + rep["final_checks"]
    ctx.failures.extend(rep["errors"])

    e2e = {
        "setup_s": setup_wall,
        "index_bytes_per_input_byte":
            dir_bytes(latest_index_path(root)) / sum(content_bytes.values()),
        "serve_rss_mb": rep["rss_mb"],
    }
    layers = {}
    if ctx.trace:
        layers = live_layers(tr)
        layers.update(stats.layers(lat, queries, kinds))
        layers["serving.ingest_p50_ms"] = stats.pct(rep["during"], 50) * 1e3
        layers["serving.ingest_p99_ms"] = stats.pct(rep["during"], 99) * 1e3
        layers["serving.cache_hit_ratio"] = rep["cache_hits"] / max(
            1, rep["cache_hits"] + rep["cache_misses"])
        layers["serving.load_s"] = load_s
        layers["serving.refresh_s"] = statistics.median(refresh_s)
        layers["live_index.fresh_lag_p50_s"] = statistics.median(lag_s)
        layers["live_index.files_per_s"] = rows / ingest_s
        layers["publish.bytes_written_per_input_byte"] = (
            published_bytes / wave_in_bytes)
        layers["index_build.saved_bytes"] = dir_bytes(
            os.path.join(root, "gen=0"))
    info = {
        "base_files": sz["li_base"],
        "wave_rows": sz["li_wave"],
        "waves": len(planted),
        "delta_rows": rows,
        "ingest_s": ingest_s,
        "queries_served": rep["queries"],
        "queries_during_ingest": len(rep["during"]),
        "cache_hits": rep["cache_hits"],
        "cache_misses": rep["cache_misses"],
        "refresh_s": refresh_s,
        "fresh_lag_s": lag_s,
        "generation": rep["generation"],
        "serving_load_s": load_s,
        "warmup_build_s": warmup_s,
        **stats.info(lat, rep["passes"], kinds),
    }
    return e2e, layers, info


def live_layers(tr: Tracer) -> dict:
    """Per-wave medians of the spans the wrapped live-loop steps left."""
    waves = tr.named("live_index.wave")
    unattributed = [w.dur - sum(c.dur for c in tr.children(w)) for w in waves]
    n_waves = max(1, len(waves))
    return {
        "live_index.wave_s": span_median(tr, "live_index.wave"),
        "index_build.delta_s": span_total(tr, "index_build.delta") / n_waves,
        "merge.busy_s": (span_total(tr, "merge.merge_indexes")
                         + span_total(tr, "merge.delete_docs")) / n_waves,
        "publish.busy_s": span_total(tr, "publish.publish_index") / n_waves,
        "live_index.unattributed_s": statistics.median(unattributed),
    }


# -- running one workload ---------------------------------------------------


WORKLOADS = {"query_mix": query_mix, "live_ingest": live_ingest}


def event_log_layers(ctx: Context) -> dict:
    """Per-layer numbers Spark's own event log gives (traced runs)."""
    log = EventLog(os.path.join(ctx.work, "eventlog"))
    tr = ctx.tracer
    out = {"spark.failed_tasks": log.failed_tasks()}
    build = tr.named("index_build.build_index") + tr.named("index_build.postings")
    out["index_build.executor_cpu_s"] = sum(
        log.cpu_s(s.start, s.end) for s in build)
    out["index_build.shuffle_write_bytes"] = sum(
        log.shuffle_write(s.start, s.end) for s in build)
    batch = tr.named("query.search_batch")
    out["query.batch_shuffle_bytes"] = sum(
        log.shuffle_write(s.start, s.end) for s in batch)
    return out


def _untraced_path(work_root: str, workload: str, ctx: Context) -> str:
    # keyed by everything that sets the amount of work, not by seed
    return os.path.join(
        work_root, f"untraced-{workload}-{ctx.scale}-{ctx.seconds:g}s.json")


def remember_untraced(work_root: str, workload: str, ctx: Context,
                      result: dict) -> None:
    """Keep the last untraced end-to-end numbers so a traced run can
    report its overhead against them."""
    if result.get("correct"):
        with open(_untraced_path(work_root, workload, ctx), "w") as fh:
            json.dump(result["metrics"], fh)


def trace_overhead_pct(work_root: str, workload: str, ctx: Context,
                       e2e: dict) -> tuple[float, str]:
    """Percent by which tracing slowed the set-up, against the last
    untraced run of the same workload and size in this checkout."""
    path = _untraced_path(work_root, workload, ctx)
    if not os.path.exists(path):
        return 0.0, "no untraced run recorded yet"
    with open(path) as fh:
        ref = json.load(fh)
    base = ref["setup_s"]["value"]
    return 100.0 * (e2e["setup_s"] / base - 1.0), path


def run(workload: str, ctx: Context, work_root: str) -> tuple[dict, dict]:
    probe_before = host_probe()
    t_run = time.perf_counter()
    e2e, layers, info = WORKLOADS[workload](ctx)
    tr = ctx.tracer
    if ctx.trace:
        stop_spark(ctx)  # flushes and closes the event log
        layers.update(event_log_layers(ctx))
        layers["index_build.tokenize_s"] = span_total(tr, "index_build.build_index")
        layers["index_build.postings_s"] = span_total(tr, "index_build.postings")
        layers["index_build.save_s"] = span_total(tr, "index_build.save")
        pr = tr.named("pagerank.pagerank")
        layers["pagerank.busy_s"] = sum(s.dur for s in pr)
        layers["pagerank.iterations"] = sum(
            s.attrs.get("iterations", 0) for s in pr)
        overhead, ref = trace_overhead_pct(work_root, workload, ctx, e2e)
        layers["trace.overhead_pct"] = overhead
        info["trace_overhead_reference"] = ref
        info["traced_end_to_end"] = e2e
    tr.dump(os.path.join(ctx.work, "spans.json"))
    names = PER_LAYER if ctx.trace else END_TO_END
    values = layers if ctx.trace else e2e
    metrics = {
        n: {"value": float(values.get(n, 0.0)), "unit": unit}
        for n, unit in names.items()
    }
    info.update({
        "workload": workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": ctx.trace,
        "scale": ctx.scale,
        "cores": min(4, os.cpu_count() or 1),
        "host_cpus": os.cpu_count(),
        "filesystem": filesystem_of(ctx.work),
        "gen_params": gen.GenParams().as_dict(),
        "sizes": ctx.size,
        "run_wall_s": time.perf_counter() - t_run,
        "host_probe_before_s": probe_before,
        "host_probe_after_s": host_probe(),
        "failures": ctx.failures[:20],
    })
    result = {
        "correct": not ctx.failures,
        "attempted": max(1, ctx.attempted),
        "failed": len(ctx.failures),
        "metrics": metrics,
    }
    return result, info
