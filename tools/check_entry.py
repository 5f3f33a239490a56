"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query at a given sf dir, compare against its DuckDB oracle
(row count + sorted-column-name schema + order-insensitive value multiset).

Usage: python tools/check_entry.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from kgre.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_val(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, int):
        return int(v)
    return v


def df_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_val(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spark = get_spark("check-entry", master="local[8]")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        msgs = []
        if sorted(s_cols) != sorted(d_cols):
            ok = False
            msgs.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            ok = False
            msgs.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if ok:
            ms, md = df_multiset(s_cols, s_rows), df_multiset(d_cols, d_rows)
            if ms != md:
                ok = False
                only_s = list((ms - md).items())[:3]
                only_d = list((md - ms).items())[:3]
                msgs.append(f"values spark-only={only_s} duck-only={only_d}")
        if ok:
            print(f"PASS  {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL  {name}: " + "; ".join(msgs))
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
