#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. Every input is generated from ``--seed``
under ``.perfbench_work/`` in the current directory; the engine gets only
parquet files and query strings. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
records the run's context (seed, sizes, cores, filesystem, sample
counts, host-drift probe before and after). See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test only")
    ap.add_argument("--corrupt", action="store_true",
                    help="smoke test only: corrupt one checked answer")
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the Spark
    # JVM and the live_ingest reader process and wait for them
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, HERE)
    import workloads  # noqa: E402  (needs HERE on sys.path)

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # the engine package lives at the checkout root; without it there is
    # nothing to measure
    sys.path.insert(0, ROOT)
    try:
        import search_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(
        WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temp file (the shipped package zip, JVM and Python
    # worker scratch) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]

    ctx = workloads.Context(
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        work=work, scale=args.scale, corrupt=args.corrupt,
    )
    try:
        result, info = workloads.run(args.workload, ctx, WORK_ROOT)
    finally:
        workloads.stop_spark(ctx)
        keep = os.path.join(WORK_ROOT, "runs")
        os.makedirs(keep, exist_ok=True)
        stem = os.path.basename(work)
        if os.path.exists(os.path.join(work, "spans.json")):
            shutil.move(os.path.join(work, "spans.json"),
                        os.path.join(keep, stem + ".spans.json"))
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(keep, stem + ".json"), "w") as fh:
        json.dump({"info": info, "result": result}, fh, indent=1)
    if not args.trace:
        workloads.remember_untraced(WORK_ROOT, args.workload, ctx, result)
    print(json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
