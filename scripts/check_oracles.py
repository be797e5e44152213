"""Local pre-flight for the correctness gate: run every queries() entry on
Spark at sf0.01 and compare against oracle_sql() in DuckDB (row count +
column names + order-insensitive values).

    python scripts/check_oracles.py [query ...]

CHECK_ORACLES_SF_DIR picks the data directory; the session's core count
comes from SPARK_GRAFT_CPUS (see session.get_spark).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from s2geography_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("CHECK_ORACLES_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def main():
    spark = get_spark("check_oracles", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    only = sys.argv[1:] or list(qs)
    for name in only:
        fn = qs[name]
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {e}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duckdb] {name}: {e}")
            continue
        sc, sr = norm_rows(scols, [tuple(r) for r in srows])
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            failures.append((name, f"columns differ: spark={sc} duckdb={oc}"))
            print(f"[FAIL-cols] {name}: spark={sc} duckdb={oc}")
            continue
        if len(sr) != len(orr):
            failures.append((name, f"row count: spark={len(sr)} duckdb={len(orr)}"))
            print(f"[FAIL-rows] {name}: spark={len(sr)} duckdb={len(orr)}")
            continue
        bad = [i for i, (x, y) in enumerate(zip(sr, orr)) if x != y]
        if bad:
            i = bad[0]
            failures.append((name, f"{len(bad)} mismatched rows"))
            print(f"[FAIL-vals] {name}: {len(bad)}/{len(sr)} rows differ; "
                  f"first: spark={sr[i]} duckdb={orr[i]}")
            continue
        print(f"[OK] {name}: {len(sr)} rows match")

    print(f"\n{len(failures)} failures" if failures else "\nALL MATCH")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
