"""Driver-simulation: run every queries() entry on Spark and its oracle_sql()
on DuckDB at a given sf dir; compare row count, column names, and an
order-insensitive value hash (mirrors the t2 correctness gate).

Usage: python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from geo_epic_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.sha256()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            col = col.round(9)
        h.update(pd.util.hash_pandas_object(col, index=False).values.tobytes())
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(os.cpu_count(), "oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_ok = n_bad = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "err": str(e)[:300]}
            n_bad += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (rows-only check) [{t_spark:.1f}s]")
            n_ok += 1
            continue
        t0 = time.time()
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            n_bad += 1
            continue
        t_duck = time.time() - t0
        ok_rows = len(got) == len(want)
        ok_cols = sorted(got.columns) == sorted(want.columns)
        g, w = norm(got), norm(want)
        ok_hash = ok_rows and ok_cols and value_hash(g) == value_hash(w)
        results[name] = {
            "rows_match": ok_rows, "schema_match": ok_cols, "hash_match": ok_hash,
            "spark_rows": len(got), "oracle_rows": len(want), "err": None,
            "spark_sec": round(t_spark, 2),
        }
        status = "OK   " if (ok_rows and ok_cols and ok_hash) else "FAIL "
        print(f"{status}{name}: rows {len(got)}/{len(want)} cols={ok_cols} hash={ok_hash} "
              f"[spark {t_spark:.1f}s, duck {t_duck:.1f}s]")
        if not (ok_rows and ok_cols and ok_hash):
            n_bad += 1
            if ok_rows and ok_cols:
                diff = (g != w) & ~(g.isna() & w.isna())
                bad_cols = [c for c in g.columns if diff[c].any()]
                print(f"      mismatching cols: {bad_cols}")
                for c in bad_cols[:3]:
                    i = diff[c].idxmax()
                    print(f"      {c}[{i}]: spark={g[c][i]!r} duck={w[c][i]!r}")
            else:
                print(f"      spark cols: {sorted(got.columns)}")
                print(f"      duck  cols: {sorted(want.columns)}")
        else:
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    json_out = os.environ.get("CHECK_ORACLES_JSON")
    if json_out and not only:
        import json

        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {json_out} ({len(results)} rows)")
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
