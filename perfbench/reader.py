"""The live_ingest serving client, run in its own process.

It holds a ``ServingIndex`` over the published generations. While waves
are ingested it sends queries in a closed loop with a fixed think time;
between two queries it reads control messages from the writer over a
pipe:

* ``("refresh", wave, plant, want_ids, dead_ids, t_land)``: swap to the
  newest generation (``refresh`` runs here, on the serving loop's own
  thread), check that the wave's planted token returns exactly
  ``want_ids``, and reply ``("refreshed", refresh_s, lag_s)``.
* ``("measure", passes, planted)``: the writer is done and Spark has
  stopped. ``passes`` times, load the newest generation afresh (decode
  memo and result cache empty, as right after a swap) and send it the
  whole query list think-free; then check every planted token against
  its expected ids one last time, reply ``("done", report)`` and exit.
  The report holds the passes' latencies and the growth of the
  process's resident memory since before its first load.

Every answer is also checked for ids tombstoned by a generation the
reader has already swapped to.

Run as ``python3 reader.py <fd>``, where ``<fd>`` is the child end of a
``multiprocessing.connection.Pipe``; the first message on it is
``(root, queries)``.
"""

from __future__ import annotations

import sys
import time

import checks
import stats

K = 10
# Pause between a reply and the next query while waves are ingested. A
# think-free client keeps one of the host's cores busy and, on 4 cores,
# stretched each wave from ~17 s to ~28 s; with 3 ms the reader takes
# about a tenth of a core.
THINK_S = 0.003


def serve(conn, root: str, queries: list) -> None:
    from search_engine_spark.serving import ServingIndex

    rss0 = stats.rss_mb()
    t = time.perf_counter()
    srv = ServingIndex.load_latest(root)
    conn.send(("ready", time.perf_counter() - t))
    during: list[float] = []
    dead: set[int] = set()
    errors: list[str] = []
    n = 0

    def check(q: str, res: list) -> None:
        if dead and any(r[0] in dead for r in res):
            errors.append(f"tombstoned id returned for {q!r}")

    while True:
        if conn.poll():
            msg = conn.recv()
            if msg[0] == "measure":
                break
            _, wave, plant, want, dead_ids, t_land = msg
            a = time.perf_counter()
            changed = srv.refresh()
            refresh_s = time.perf_counter() - a
            got = {d for d, *_ in srv.search(plant, k=len(want) + K)}
            lag = time.time() - t_land
            if not changed:
                errors.append(f"wave {wave}: no new generation")
            errors.extend(
                checks.exact_ids(f"wave {wave} planted", got, set(want)))
            dead.update(dead_ids)
            conn.send(("refreshed", refresh_s, lag))
            continue
        q = queries[n % len(queries)]
        a = time.perf_counter()
        res = srv.cached_search(q)
        during.append(time.perf_counter() - a)
        check(q, res)
        n += 1
        time.sleep(THINK_S)

    _, n_passes, planted = msg
    passes = []
    for _ in range(n_passes):
        srv = None  # drop the previous instance before loading
        srv = ServingIndex.load_latest(root)
        passes.append(stats.timed_pass(srv.cached_search, queries, check))
    for wave, (plant, want) in planted.items():
        got = {d for d, *_ in srv.search(plant, k=len(want) + K)}
        errors.extend(checks.exact_ids(f"wave {wave} final", got, set(want)))
    conn.send(("done", {
        "during": during,
        "passes": passes,
        "queries": n + len(queries) * n_passes,
        "errors": errors,
        # memory the serving state holds: after the measured passes, over
        # the process before it loaded its first generation
        "rss_mb": stats.rss_mb() - rss0,
        "final_checks": len(planted),
        "cache_hits": srv.cache_hits,
        "cache_misses": srv.cache_misses,
        "generation": srv.generation,
    }))
    conn.close()


if __name__ == "__main__":
    from multiprocessing.connection import Connection

    conn = Connection(int(sys.argv[1]))
    serve(conn, *conn.recv())
