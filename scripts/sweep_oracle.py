#!/usr/bin/env python
"""Full oracle sweep: every oracle-bearing registered query, Spark vs
DuckDB, driver-style compare (sort columns by name, sort rows, exact
string compare). The strongest end-to-end receipt the repo can produce:

    python scripts/sweep_oracle.py [sf_dir]    # default sf0.01

Exit 0 iff every query is value-exact. The session comes from
``session.get_spark()``: ``local[$SPARK_GRAFT_CPUS]`` with as many
shuffle partitions, session timezone UTC (DuckDB is TZ-naive).
At sf0.01 on a 4-core host (SPARK_GRAFT_CPUS=4) the sweep of 256
queries takes about 10 min (604 s measured).
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as e  # noqa: E402
from data_warehouse_product_mix_clustering_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")
qs, osql = e.queries(), e.oracle_sql()
con = duckdb.connect()
for t in [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

t0 = time.time()
fails: list[tuple[str, str]] = []
for i, (name, sql) in enumerate(osql.items(), 1):
    try:
        got = qs[name](spark, SF_DIR).toPandas()
        want = con.sql(sql).df()
        cols = sorted(got.columns)
        if sorted(want.columns) != cols:
            fails.append((name, "schema mismatch"))
            continue
        g = got[cols].sort_values(cols).reset_index(drop=True)
        w = want[cols].sort_values(cols).reset_index(drop=True)
        if not (
            g.shape == w.shape
            and (g.astype(str).values == w.astype(str).values).all()
        ):
            fails.append((name, f"values {g.shape} vs {w.shape}"))
    except Exception as ex:  # noqa: BLE001 - report, don't abort the sweep
        fails.append((name, f"ERROR {str(ex)[:150]}"))
    if i % 25 == 0:
        print(f"...{i}/{len(osql)} ({time.time()-t0:.0f}s)", flush=True)

print(
    f"SWEEP {SF_DIR}: {len(osql)} oracle-bearing queries, "
    f"{len(osql)-len(fails)} exact, {len(fails)} failing, "
    f"{time.time()-t0:.0f}s"
)
for name, why in fails:
    print("  FAIL", name, why)
sys.exit(1 if fails else 0)
