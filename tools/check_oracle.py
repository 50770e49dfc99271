"""Local stand-in for the driver's correctness gate: run every
queries() entry in Spark and its oracle_sql() in DuckDB on the same
sf dir, compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("documents",)  # every gate entry reads only this table


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(_norm_cell(vals[i]) for i in order))
    return sorted(out)


def main() -> int:
    import duckdb

    from meme_search_engine_spark.session import get_spark
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(app_name="check-oracle", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    failures = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = qs[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spark_s = time.time() - t0
        if name not in osql:
            print(f"  {name:32s} rows={len(srows):6d} (no oracle — rows-only) {spark_s:5.1f}s")
            continue
        t0 = time.time()
        res = con.execute(osql[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        duck_s = time.time() - t0
        ok_schema = sorted(scols) == sorted(ocols)
        a, b = _norm_rows(scols, srows), _norm_rows(ocols, orows)
        ok_vals = a == b
        status = "OK " if (ok_schema and ok_vals) else "FAIL"
        print(
            f"  {name:32s} {status} rows={len(srows)}/{len(orows)} "
            f"schema={'ok' if ok_schema else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"spark={spark_s:.1f}s duck={duck_s:.1f}s"
        )
        if not (ok_schema and ok_vals):
            failures.append(name)
            diff_a = [r for r in a if r not in set(b)][:3]
            diff_b = [r for r in b if r not in set(a)][:3]
            print(f"    spark-only: {diff_a}")
            print(f"    duck-only:  {diff_b}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all gate queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
