#!/usr/bin/env python
"""Print a fingerprint of registered queries' physical plans, so a
refactor can show it compiles to the same plans:

    python scripts/plan_fingerprint.py --sf SF_DIR [--full] NAME [NAME ...]

Each query is built (not executed) in one fresh local session and its
pre-execution ``executedPlan().toString()`` is normalized by stripping
the ``#<n>`` expression ids, which depend on how many plans the session
built before. One line per query: name, sha256 prefix, plan line count;
``--full`` also prints the normalized plans. Run it in two checkouts and
``diff`` the outputs.
"""
from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from data_warehouse_product_mix_clustering_spark.plans.registry import all_queries  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", required=True, help="testdata scale-factor directory")
    ap.add_argument("--full", action="store_true")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    try:
        for name in args.names:
            df = queries[name].fn(spark, args.sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan = re.sub(r"#\d+", "", plan)
            digest = hashlib.sha256(plan.encode()).hexdigest()[:16]
            print(f"{name} {digest} {len(plan.splitlines())} lines")
            if args.full:
                print(plan)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
