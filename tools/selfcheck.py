#!/usr/bin/env python
"""Mirror the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet tables at
sf0.01, compare row-count + schema-names + order-insensitive value hash.
An oracle-checked entry must return scalar columns only (the gate's
canonicalizer hashes scalars): an array/map/struct column fails it.

Usage: python tools/selfcheck.py [sf_dir] [only_query ...]
       SELFCHECK_JSON=SELFCHECK_r05.json python tools/selfcheck.py

With SELFCHECK_JSON set, also writes a CORRECTNESS-style JSON artifact
covering EVERY registry entry (the driver's own file records only the
first 50) — committed per round so the tail oracles leave an auditable
record."""
from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows, cols):
    cols_sorted = sorted(cols)
    lines = []
    for r in rows:
        d = dict(zip(cols, r))
        lines.append(
            "|".join(_norm(d[c]) for c in cols_sorted)
        )
    lines.sort()
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from pyspark.sql.types import ArrayType, MapType, StructType

    from search_engine_spark.session import get_spark

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    spark = get_spark(app_name="selfcheck", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = 0
    report = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        import time
        t0 = time.perf_counter()
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        dt = time.perf_counter() - t0
        if name not in oracles:
            # a rows-only entry that returns ZERO rows is a regression
            # (every registered rows-only query returns >=1 row on the
            # sf corpora by design) — `>= 0` would make PASS vacuous
            status = "PASS" if len(srows) > 0 else "FAIL"
            if status == "FAIL":
                n_fail += 1
            print(
                f"{name:24s} ROWS-ONLY {status} rows={len(srows)} "
                f"({dt:.1f}s)"
            )
            report[name] = {"mode": "rows_only", "rows": len(srows),
                            "status": status,
                            "secs": round(dt, 2)}
            continue
        nested = [
            f.name
            for f in sdf.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        ores = con.execute(oracles[name])
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
        ok_cols = sorted(scols) == sorted(ocols) and not nested
        ok_rows = len(srows) == len(orows)
        sh = value_hash(srows, scols)
        oh = value_hash(orows, ocols)
        ok_hash = sh == oh
        status = "PASS" if (ok_cols and ok_rows and ok_hash) else "FAIL"
        if status == "PASS":
            n_pass += 1
        else:
            n_fail += 1
        if nested:
            cols_msg = f"non-scalar {nested}"
        else:
            cols_msg = "ok" if ok_cols else f"{scols} vs {ocols}"
        print(
            f"{name:24s} {status} rows={len(srows)}/{len(orows)} "
            f"cols={cols_msg} "
            f"hash={'ok' if ok_hash else 'MISMATCH'} ({dt:.1f}s)"
        )
        report[name] = {"mode": "oracle", "status": status,
                        "rows": len(srows), "rows_oracle": len(orows),
                        "cols_match": ok_cols, "hash_match": ok_hash,
                        "non_scalar_cols": nested,
                        "secs": round(dt, 2)}
        if status == "FAIL" and not ok_hash and ok_cols and ok_rows:
            # print a few diffs
            sset = set(srows)
            oset = set(orows)
            print("  spark-only:", list(sset - oset)[:3])
            print("  oracle-only:", list(oset - sset)[:3])
    print(f"\n{n_pass} pass, {n_fail} fail")
    out_json = os.environ.get("SELFCHECK_JSON")
    if out_json:
        import json

        with open(out_json, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "entries": len(report),
                 "oracle_pass": n_pass, "oracle_fail": n_fail,
                 "results": report},
                fh, indent=1,
            )
        print(f"wrote {out_json}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
