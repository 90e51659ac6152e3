"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given sf dir, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet tables, and
compares row count, sorted column names, and an order-insensitive value
hash (columns sorted by name, rows sorted, values canonically stringified).

Usage: python tools/check_contract.py [sf_dir] [query_name ...]

An unknown query name is an error (exit 2) before anything runs;
``checked`` in the summary line counts the entries that actually ran.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (dt.datetime,)):
        return v.isoformat()
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def frame_hash(pdf) -> tuple[int, list[str], str]:
    import pandas as pd  # noqa

    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = ["\x1f".join(_canon(v) for v in rec) for rec in pdf.itertuples(index=False)]
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(pdf), cols, h


def dtype_kinds(pdf) -> dict[str, str]:
    """pandas dtype *kind* per column -- the driver's canonicalizer hashes
    raw pandas values, so an int64-vs-float64 divergence (e.g. DuckDB
    HUGEINT widening) fails there even when _canon normalizes it away here.
    Compare kinds explicitly so the local gate is at least as strict."""
    return {c: pdf[c].dtype.kind for c in pdf.columns}


def kinds_compatible(ks: dict[str, str], ko: dict[str, str]) -> list[str]:
    groups = {"i": "num_i", "u": "num_i", "f": "num_f", "b": "bool",
              "M": "ts", "O": "obj", "S": "obj", "U": "obj"}
    bad = []
    for c in ks:
        a, b = groups.get(ks[c], ks[c]), groups.get(ko.get(c, "?"), "?")
        if a != b:
            bad.append(f"{c}: spark={ks[c]} oracle={ko.get(c)}")
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry_mod
    from textchunking_and_knowledgegraph_spark.session import build_session

    qs = entry_mod.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query name(s): {', '.join(unknown)}", file=sys.stderr)
        return 2

    spark = build_session(app_name="contract-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = entry_mod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        n_s, cols_s, h_s = frame_hash(spdf)
        if name not in oracles:
            status = "ROWS-ONLY"
            print(f"{status:9s} {name}: rows={n_s} ({time.time()-t0:.1f}s)")
            continue
        try:
            opdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        n_o, cols_o, h_o = frame_hash(opdf)
        kind_mismatch = kinds_compatible(dtype_kinds(spdf), dtype_kinds(opdf))
        if kind_mismatch:
            failures.append(name)
            print(f"FAIL  {name}: dtype-kind mismatch (driver-fatal): {kind_mismatch}")
            continue
        ok = (n_s == n_o) and (cols_s == cols_o) and (h_s == h_o)
        if ok:
            print(f"OK        {name}: rows={n_s} hash={h_s} ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
            print(
                f"FAIL  {name}: spark(rows={n_s},cols={cols_s},h={h_s}) "
                f"oracle(rows={n_o},cols={cols_o},h={h_o})"
            )
            # show a diff sample
            if cols_s == cols_o and n_s and n_o:
                sp = set(
                    "\x1f".join(_canon(v) for v in r)
                    for r in spdf[sorted(spdf.columns)].itertuples(index=False)
                )
                op = set(
                    "\x1f".join(_canon(v) for v in r)
                    for r in opdf[sorted(opdf.columns)].itertuples(index=False)
                )
                print("    spark-only:", list(sp - op)[:3])
                print("    oracle-only:", list(op - sp)[:3])
    print(json.dumps({"failures": failures, "checked": checked}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
