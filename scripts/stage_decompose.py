#!/usr/bin/env python
"""Per-stage wall-clock decomposition of headline queries (VERDICT r16
"What's wrong" #1: a third consecutive slower official bench artifact
must be adjudicated with stage timings, not another end-to-end
re-measurement).

Runs each named query bench-style (shared relations pre-materialized,
one warm-up pass, then ONE timed pass forced with a noop write) inside
its own job group, with the Spark event log enabled; then parses the
event log and prints, per query, every stage's (name, submission →
completion wall ms, task count, shuffle read/write bytes). Where the
end-to-end number moved, this names WHICH exchange or scan moved.

Members of bench.py::COMPOSITIONS get NO warm pass (VERDICT r17 brief
#1: the bench runs compositions cold after the headline loop, and
several memoize driver-side state per session — a warm pass would
decompose the partially-cached second run, not the number the budget
gate pins), so their timed pass is methodology-identical to bench.py's
first composition run.

    python scripts/stage_decompose.py [query ...]   # default: top-3 set

Output: one human-readable table per query plus a JSON line
(stage_decomposition) for the PERF_NOTES ledger.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_warehouse_product_mix_clustering_spark.plans.registry import all_queries  # noqa: E402
from data_warehouse_product_mix_clustering_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT = ["dedup_ngram_jaccard", "dedup_minhash_lsh", "asof_union_monthly_quotes"]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parse_events(f, stage_to_group: dict[int, str], stages: dict[int, dict]) -> None:
    """Fold one event-log file's JSON lines into the shared stage maps."""
    for line in f:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            for si in ev.get("Stage Infos", []):
                stage_to_group[si["Stage ID"]] = grp
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub, comp = si.get("Submission Time"), si.get("Completion Time")
            if sub is None or comp is None:
                continue
            # merge, don't replace: TaskEnd events for this stage have
            # already accumulated cpu/shuffle totals into the dict
            st = stages.setdefault(sid, {})
            st["name"] = si.get("Stage Name", "?").split("\n")[0]
            st["wall_ms"] = comp - sub
            st["tasks"] = si.get("Number of Tasks")
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            st = stages.setdefault(sid, {})
            sr = (m.get("Shuffle Read Metrics") or {})
            sw = (m.get("Shuffle Write Metrics") or {})
            st["shuffle_read"] = st.get("shuffle_read", 0) + sr.get(
                "Remote Bytes Read", 0
            ) + sr.get("Local Bytes Read", 0)
            st["shuffle_write"] = st.get("shuffle_write", 0) + sw.get(
                "Shuffle Bytes Written", 0
            )
            # Run Time = task wall (incl. I/O + fetch wait + GC), ms;
            # CPU Time = on-CPU only, NANOseconds. Report both — their
            # gap is what separates compute-bound from blocked stages.
            st["run_ms"] = st.get("run_ms", 0) + m.get("Executor Run Time", 0)
            st["cpu_ms"] = st.get("cpu_ms", 0) + m.get(
                "Executor CPU Time", 0
            ) // 1_000_000


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    qs = all_queries()
    evdir = tempfile.mkdtemp(prefix="spark_graft_eventlog_")
    spark = get_spark(
        app_name="data_warehouse_product_mix_clustering_spark-stagedecomp",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            # single plain-JSON file, greppable without a zstd codec
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    # bench-identical preconditioning: warm-up + shared relations
    _force(qs["pricing_summary"].fn(spark, SF_DIR))
    from data_warehouse_product_mix_clustering_spark import state
    from data_warehouse_product_mix_clustering_spark.plans.dedup import (
        shared_pos_shingles,
        shared_shingles,
    )

    state.invalidate(SF_DIR, kind="shingles")
    sc.setJobGroup("relations", "shared relations")
    _force(shared_shingles(spark, SF_DIR))
    _force(shared_pos_shingles(spark, SF_DIR))

    from bench import COMPOSITIONS  # noqa: E402  (repo root already on path)

    walls: dict[str, float] = {}
    for name in names:
        if name not in COMPOSITIONS:
            # warm pass under its OWN group — otherwise its stages would
            # be attributed to the PREVIOUS query's timed table.
            # Compositions run COLD (see module docstring).
            sc.setJobGroup(f"warm:{name}", f"warm {name}")
            _force(qs[name].fn(spark, SF_DIR))  # per-query warm pass (untimed)
        sc.setJobGroup(f"q:{name}", name)
        t0 = time.perf_counter()
        _force(qs[name].fn(spark, SF_DIR))
        walls[name] = round(time.perf_counter() - t0, 3)
    sc.setJobGroup("tail", "tail")
    app_id = sc.applicationId
    spark.stop()

    # -- parse the event log (single-file layout or a rolling dir) --
    evfile = os.path.join(evdir, app_id)
    if not os.path.isfile(evfile):
        roll = os.path.join(evdir, f"eventlog_v2_{app_id}")
        cands = [
            os.path.join(roll, f)
            for f in sorted(os.listdir(roll))
            if f.startswith("events_") and not f.endswith(".zstd")
        ]
        if not cands:
            raise SystemExit(
                f"no plain-JSON event file under {roll} — "
                "is spark.eventLog.compress off?"
            )
        # ALL rolled files, in order (ADVICE r17 #3: taking cands[0]
        # silently dropped stages that rolled into later events_ files,
        # under-reporting long runs with no signal)
        evfiles = cands
    else:
        evfiles = [evfile]
    stage_to_group: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for path in evfiles:
        with open(path, encoding="utf-8") as f:
            _parse_events(f, stage_to_group, stages)

    result: dict[str, dict] = {}
    for name in names:
        rows = [
            (sid, st)
            for sid, st in sorted(stages.items())
            if stage_to_group.get(sid) == f"q:{name}" and "wall_ms" in st
        ]
        print(f"\n== {name}: end-to-end {walls[name]} s ==")
        print(f"{'stage':>5} {'wall ms':>8} {'run ms':>8} {'cpu ms':>8} "
              f"{'tasks':>5} {'shuf R MB':>9} {'shuf W MB':>9}  name")
        qstages = []
        for sid, st in rows:
            print(
                f"{sid:>5} {st['wall_ms']:>8} {st.get('run_ms', 0):>8} "
                f"{st.get('cpu_ms', 0):>8} {st.get('tasks', 0):>5} "
                f"{st.get('shuffle_read', 0) / 1e6:>9.1f} "
                f"{st.get('shuffle_write', 0) / 1e6:>9.1f}  {st['name']}"
            )
            qstages.append(
                {
                    "stage": sid,
                    "wall_ms": st["wall_ms"],
                    "run_ms": st.get("run_ms", 0),
                    "cpu_ms": st.get("cpu_ms", 0),
                    "tasks": st.get("tasks", 0),
                    "shuffle_read_mb": round(st.get("shuffle_read", 0) / 1e6, 1),
                    "shuffle_write_mb": round(st.get("shuffle_write", 0) / 1e6, 1),
                    "name": st["name"],
                }
            )
        result[name] = {"wall_sec": walls[name], "stages": qstages}
    print()
    print(json.dumps({"metric": "stage_decomposition", "sf_dir": SF_DIR,
                      "queries": result}))


if __name__ == "__main__":
    main()
