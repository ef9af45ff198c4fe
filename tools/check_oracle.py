"""Self-check harness mirroring the driver's correctness gate: run each
__spark_entry__.queries()[k] on Spark and oracle_sql()[k] on DuckDB at
sf0.01, compare row counts + sorted-by-name columns + sorted value tuples.

Usage: python tools/check_oracle.py [key ...]   (all keys if none given)
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry  # noqa: E402

SF_DIR = os.environ.get("GSK_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def run():
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    keys = sys.argv[1:] or sorted(qs)
    failures = 0
    for k in keys:
        try:
            sdf = qs[k](spark, SF_DIR)
            scols = sorted(sdf.columns)
            srows = sorted((tuple(norm(r[c]) for c in scols) for r in sdf.collect()),
                           key=repr)
            if k not in oracles:
                print(f"{k}: rows-only (no oracle) -> {len(srows)} rows")
                continue
            res = con.execute(oracles[k])
            ocols_raw = [d[0] for d in res.description]
            orows_raw = res.fetchall()
            ocols = sorted(ocols_raw)
            idx = [ocols_raw.index(c) for c in ocols]
            orows = sorted((tuple(norm(r[i]) for i in idx) for r in orows_raw),
                           key=repr)
            if scols != ocols:
                print(f"{k}: FAIL columns spark={scols} oracle={ocols}")
                failures += 1
            elif len(srows) != len(orows):
                print(f"{k}: FAIL rowcount spark={len(srows)} oracle={len(orows)}")
                only_s = [r for r in srows if r not in set(orows)][:3]
                only_o = [r for r in orows if r not in set(srows)][:3]
                print("  only-spark:", only_s)
                print("  only-oracle:", only_o)
                failures += 1
            elif srows != orows:
                diff = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
                print(f"{k}: FAIL values ({len(srows)} rows); first diffs: {diff}")
                failures += 1
            else:
                print(f"{k}: OK ({len(srows)} rows, cols={scols})")
        except Exception as e:  # noqa: BLE001
            print(f"{k}: ERROR {type(e).__name__}: {e}")
            failures += 1
    print("RESULT:", "PASS" if failures == 0 else f"{failures} FAILURES")
    return failures


if __name__ == "__main__":
    sys.exit(1 if run() else 0)
