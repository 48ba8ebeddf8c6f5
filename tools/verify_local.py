"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and, where an oracle exists,
the oracle SQL on DuckDB over the same parquet tables; compares row
count, column names, and an order-insensitive value hash (values
normalized to strings, rows sorted). PASS and rows-only lines carry
the entry's value hash and a mismatch FAIL carries both, so results
can be compared across commits from the output alone. Approximations
of the real driver, conservative on purpose.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

from graphdbetl_spark.session import get_spark
from graphdbetl_spark.sources.catalog import TABLES


def normalize(value) -> str:
    import datetime
    import math

    if value is None:
        return "NULL"
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return repr(round(value, 9))
    if isinstance(value, datetime.datetime):
        return value.isoformat(sep=" ", timespec="microseconds")
    if isinstance(value, bool):
        return str(value).lower()
    return str(value)


def table_hash(rows, columns) -> tuple[int, str]:
    import hashlib

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(normalize(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entrymod

    spark = get_spark("verify_local")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            n_rows_only += 1
            sn, sh = table_hash(srows, scols)
            print(f"rows  {name}: {sn} rows {sh} ({time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        sn, sh = table_hash(srows, scols)
        on, oh = table_hash(orows, ocols)
        ok_cols = sorted(scols) == sorted(ocols)
        if sn == on and sh == oh and ok_cols:
            n_pass += 1
            print(f"PASS  {name}: {sn} rows {sh} ({time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            failures.append(name)
            print(
                f"FAIL  {name}: spark({sn} rows, cols={sorted(scols)}, {sh}) "
                f"vs oracle({on} rows, cols={sorted(ocols)}, {oh})"
            )
            # show a small diff sample
            sset = {"|".join(normalize(v) for v in r) for r in [tuple(r[i] for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows]}
            oset = {"|".join(normalize(v) for v in r) for r in [tuple(r[i] for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows]}
            for label, diff in (("spark-only", sset - oset), ("oracle-only", oset - sset)):
                for row in list(diff)[:3]:
                    print(f"        {label}: {row}")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
