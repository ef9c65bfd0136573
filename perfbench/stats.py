"""Latency and memory bookkeeping for a closed-loop serving client.

Serving is measured as identical passes: the same query list sent, one
query at a time, to a freshly loaded index, so query *i* meets the same
result cache and decode memo in every pass. A query's latency is the
fastest of its passes. On a shared host other tenants take the CPU in
bursts of milliseconds: on a shared 4-vCPU VM, over 5 s windows, the
median time of a fixed 2 ms loop moved by up to 44% while its minimum
stayed within 5%. The fastest of several passes keeps what the engine
costs and drops most of what the neighbours cost.
"""

from __future__ import annotations

import ctypes
import gc
import time

import numpy as np

from gen import QUERY_KINDS


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def tail_percentile(n: int) -> float:
    """Highest percentile with at least ten samples beyond it."""
    return max(0.0, 100.0 * (1.0 - 10.0 / n)) if n else 0.0


def query_words(q: str) -> list[str]:
    for op in (" AND ", " OR ", " NOT "):
        q = q.replace(op, " ")
    return q.replace('"', " ").split()


def timed_pass(search, queries: list, check=None) -> np.ndarray:
    """Send ``queries`` to ``search`` one after another (closed loop);
    return each call's wall time in seconds. ``check(q, answer)`` runs
    outside the timed call."""
    lat = np.empty(len(queries))
    for i, q in enumerate(queries):
        a = time.perf_counter()
        res = search(q)
        lat[i] = time.perf_counter() - a
        if check is not None:
            check(q, res)
    return lat


def rss_mb() -> float:
    """This process's resident set size (VmRSS) in MiB, read after a
    garbage collection and, on glibc, after freed heap pages went back
    to the system, so a difference of two readings counts what is live
    rather than what the allocator happened to keep."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):
        pass
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def best_of(passes: list) -> np.ndarray:
    """Per-query fastest latency over identical passes."""
    return np.vstack(passes).min(axis=0)


def first_touch(queries: list) -> np.ndarray:
    """Mask of the queries holding a term not sent before them."""
    seen: set[str] = set()
    out = np.zeros(len(queries), dtype=bool)
    for i, q in enumerate(queries):
        words = query_words(q)
        if any(w not in seen for w in words):
            out[i] = True
            seen.update(words)
    return out


def layers(lat: np.ndarray, queries: list, kinds: list) -> dict:
    out = {
        "serving.qps": len(lat) / float(lat.sum()),
        "serving.p50_ms": pct(lat, 50) * 1e3,
        "serving.p99_ms": pct(lat, 99) * 1e3,
    }
    kinds = np.asarray(kinds)
    for k in QUERY_KINDS:
        v = lat[kinds == k]
        out[f"serving.{k}_p50_ms"] = pct(v, 50) * 1e3 if len(v) else 0.0
        out[f"serving.{k}_busy_s"] = float(v.sum())
    ft = first_touch(queries)
    out["serving.first_touch_p50_ms"] = pct(lat[ft], 50) * 1e3 if ft.any() else 0.0
    out["serving.warm_p50_ms"] = pct(lat[~ft], 50) * 1e3 if (~ft).any() else 0.0
    return out


def info(lat: np.ndarray, passes: list, kinds: list) -> dict:
    n = len(lat)
    tp = tail_percentile(n)
    return {
        "serve_samples": n,
        "serve_passes": len(passes),
        "serve_tail_percentile": round(tp, 3),
        "serve_tail_ms": pct(lat, tp) * 1e3 if n else None,
        "serve_by_kind": {k: int(np.sum(np.asarray(kinds) == k))
                          for k in QUERY_KINDS},
        # each pass's own rate, fastest-per-query not applied: shows how
        # much the host moved during the run
        "serve_pass_qps": [round(len(p) / float(p.sum()), 1) for p in passes],
    }
