"""Local stand-in for the driver's correctness harness: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count +
column names + order-insensitive values.  Usage: python scripts/check_contract.py [names...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from list_extractor_spark.engine.session import get_spark  # noqa: E402
from list_extractor_spark.sources.loaders import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def duck_views(sf_dir):
    """A DuckDB connection with one view per driver table present in sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main():
    only = set(sys.argv[1:])
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR  # keep oracles on the same sf
    spark = get_spark("contract-check", master="local[8]", shuffle_partitions=8)
    con = duck_views(SF_DIR)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows={len(rows)} (rows-only) {dt:.1f}s")
            if len(rows) == 0 and not name.startswith("kg_canonical"):
                print(f"     WARNING {name}: empty result")
            continue
        try:
            ores = con.execute(oracles[name]).fetchall()
            ocols = [d[0] for d in con.description]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e}")
            failures.append(name)
            continue
        a, b = normalize(rows, cols), normalize(ores, ocols)
        if sorted(cols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(cols)} vs {sorted(ocols)}")
            failures.append(name)
        elif a != b:
            diff_a = [r for r in a if r not in set(b)][:3]
            diff_b = [r for r in b if r not in set(a)][:3]
            print(
                f"FAIL {name}: values differ rows {len(a)} vs {len(b)}\n"
                f"     spark-only: {diff_a}\n     duck-only:  {diff_b}"
            )
            failures.append(name)
        else:
            print(f"ok   {name}: rows={len(rows)} MATCH {dt:.1f}s")
    print("\nFAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
