"""Correctness checks, run outside the timed phases. Every check returns
a list of failure messages; the caller counts each as a failed operation.
"""

from __future__ import annotations

import math


def same_topk(got: list, want: list, rel: float) -> str | None:
    """Compare two ranked [(doc_id, score)] lists. Scores must agree
    within ``rel``; doc ids must match position by position, except that
    docs whose scores tie within ``rel`` may come in either order (and a
    tie straddling the k-th place may admit different docs). Returns a
    message on mismatch, None when equal."""
    if len(got) != len(want):
        return f"length {len(got)} != {len(want)}"
    for i, ((_, gs), (_, ws)) in enumerate(zip(got, want)):
        if not math.isclose(gs, ws, rel_tol=rel, abs_tol=1e-12):
            return f"score at rank {i}: {gs!r} != {ws!r}"
    # runs of tied scores: ids must match as sets within each run; the
    # last run may be cut by k, so only its in-list part must agree on
    # count, which the length check already covers
    i = 0
    n = len(want)
    while i < n:
        j = i + 1
        while j < n and math.isclose(
            want[j][1], want[i][1], rel_tol=rel, abs_tol=1e-12
        ):
            j += 1
        if j < n and {d for d, _ in got[i:j]} != {d for d, _ in want[i:j]}:
            return f"ids at ranks {i}..{j - 1}: {got[i:j]} != {want[i:j]}"
        i = j
    return None


def serving_vs_spark(serving_res: dict, spark_res: dict) -> list[str]:
    """ServingIndex top-k against Spark ``search`` top-k on the same
    queries: same doc ids in the same order, scores within 1e-9 (both
    score the same float32-decoded codec values)."""
    out = []
    for q, want in spark_res.items():
        got = serving_res[q]
        if [d for d, _ in got] != [d for d, _ in want]:
            out.append(f"serving vs spark ids for {q!r}: {got} != {want}")
            continue
        msg = same_topk(got, want, 1e-9)
        if msg:
            out.append(f"serving vs spark for {q!r}: {msg}")
    return out


def serving_vs_oracle(serving_res: dict, oracle_res: dict) -> list[str]:
    """Engine top-k against the pure-Python oracle. The engine scores
    float32-decoded BM25 weights and the oracle float64 ones, so scores
    agree to float32 rounding (rel 1e-6) and exact ties may reorder."""
    out = []
    for q, want in oracle_res.items():
        msg = same_topk(serving_res[q], want, 1e-6)
        if msg:
            out.append(f"serving vs oracle for {q!r}: {msg}")
    return out


def exact_ids(label: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    return [
        f"{label}: {len(got - want)} unexpected ids "
        f"{sorted(got - want)[:5]}, {len(want - got)} missing "
        f"{sorted(want - got)[:5]}"
    ]
