#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <warehouse_batch|dashboard> \
        --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout, in ONE process with ONE client thread on
``local[nproc]``. Set-up (session start, seeded input generation and the
untimed warm operations) is timed as ``setup_s``; the DuckDB output oracles
are computed during set-up but timed apart, as they are not the program's
work. Then a fixed number of operations, sized to take about ``--seconds``
on a 4-core host, run back to back, each one checked after its timing
ends. A wrong answer or an error counts as a failed operation.

``--trace 0`` prints the end-to-end metrics named in ``BENCHMARK.json``;
``--trace 1`` runs every operation untraced and traced and prints the
per-layer metrics (mean per traced operation) with the tracing overhead.
The last stdout line is the JSON result; spans are written to
``.perfbench_work/traces/`` when the run ends. Exits non-zero without a
result when the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_warehouse_product_mix_clustering_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
CAP = 3


def load_spec() -> dict:
    """Metric names and units, from the checkout's ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("warehouse_batch", "dashboard"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local"), os.path.join(WORK, "traces")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # No hsperfdata files in the system temp directory, from either JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def host_ref_s() -> float:
    """Seconds a fixed single-threaded Python loop takes: the host's speed
    at this moment, so that a run's times can be read against it."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x + i * i) % 1_000_003
    return time.perf_counter() - t0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(spark) -> float:
    """Driver JVM ``VmHWM`` plus this process's ``ru_maxrss``."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def timed_op(w, tracer, d, i: int, traced: bool, log: list) -> tuple:
    """Run and check one operation: ``(seconds, root span, errors)``."""
    tracer.enabled = traced
    errs: list[str] = []
    with tracer.trace(i), tracer.span(w.name, "op") as root:
        t0 = time.perf_counter()
        try:
            w.op(d)
        except Exception as ex:  # a failed operation is counted, not fatal
            errs.append(f"{type(ex).__name__}: {ex}")
            log.append(traceback.format_exc())
        dt = time.perf_counter() - t0
    tracer.harvest()
    if not errs:
        try:
            errs = w.after(d)
        except Exception as ex:
            errs.append(f"check raised {type(ex).__name__}: {ex}")
            log.append(traceback.format_exc())
    return dt, root, errs


def op_count(w, seconds: float, trace: bool) -> int:
    """Operations per run: whole blocks of the workload's stream, as many as
    ``seconds`` holds at the workload's ``nominal_s`` per operation. The
    count does not depend on how fast this run goes, so every run of the
    same arguments does the same work, and a percentile keeps its rank."""
    per_block = w.nominal_s * w.block * (2 if trace else 1)
    return w.block * max(1, round(seconds / per_block))


def run_ops(w, tracer, seconds: float, trace: bool, log: list) -> tuple[list, list]:
    """``op_count`` operations back to back: ``(untraced, traced)``. On a
    host so slow that they pass ``CAP * seconds``, the run stops at the end
    of the current block, so that it still ends in time.

    Traced, every operation runs twice, once untraced and once traced, in
    alternating order so that neither side gets the warmer JIT."""
    plain: list = []
    traced: list = []
    cap = time.perf_counter() + CAP * seconds
    for i, d in zip(range(op_count(w, seconds, trace)), w.ops()):
        if i and i % w.block == 0 and time.perf_counter() >= cap:
            break
        modes = ((False, True) if i % 2 == 0 else (True, False)) if trace else (False,)
        for tr in modes:
            (traced if tr else plain).append(timed_op(w, tracer, d, i, tr, log) + (w.kind(d),))
    return plain, traced


def layer_report(tracer, ops) -> tuple[dict, dict]:
    """Mean per operation of every per-layer metric, and the same per
    top-level step (children of each operation's root span)."""
    from spans import layer_metrics

    per_op = [layer_metrics(tracer.spans, root) for _, root, _, _ in ops]
    mean = {k: sum(m[k] for m in per_op) / len(per_op) for k in per_op[0]}
    steps: dict[str, list] = {}
    roots = {root.sid for _, root, _, _ in ops}
    for sp in tracer.spans:
        if sp.parent in roots:
            steps.setdefault(sp.name, []).append(layer_metrics(tracer.spans, sp))
    step_mean = {
        name: {k: sum(m[k] for m in ms) / len(ms) for k in ms[0]} | {"count": len(ms)}
        for name, ms in steps.items()
    }
    return mean, step_mean


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    # A terminated run still stops its JVM (the ``finally`` below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    t_setup = time.perf_counter()
    shutil.rmtree(WORK, ignore_errors=True)
    prepare_environment()

    from data_warehouse_product_mix_clustering_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t_setup
    log: list[str] = []
    try:
        from gen import write_inputs
        from spans import Tracer, failed_share, quantile
        from workloads import WORKLOADS

        data_dir = os.path.join(WORK, "data")
        rows = write_inputs(data_dir, args.seed)
        tracer = Tracer(spark, enabled=False)
        t_oracle = time.perf_counter()
        w = WORKLOADS[args.workload](spark, data_dir, WORK, args.seed, tracer)
        t_warm = time.perf_counter()
        oracle_s = t_warm - t_oracle
        warm_errs = w.warm()
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup - oracle_s

        ref0 = host_ref_s()
        steal0, total0 = cpu_jiffies()
        plain, traced = run_ops(w, tracer, args.seconds, bool(args.trace), log)
        steal1, total1 = cpu_jiffies()
        ref1 = host_ref_s()
        ops = plain + traced
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    for entry in log:
        print(entry, file=sys.stderr)
    failures = [e for _, _, errs, _ in ops for e in errs] + warm_errs
    attempted = len(ops) + 1  # + the warm-up, as one operation
    failed = sum(1 for _, _, errs, _ in ops if errs) + bool(warm_errs)
    for e in failures[:20]:
        print(f"perfbench: FAILED {e}")
    times = [dt for dt, _, _, _ in plain]
    by_kind: dict[str, list] = {}
    for dt, _, _, kind in plain:
        by_kind.setdefault(kind, []).append(dt)
    summary = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc(),
        "input_rows": rows, "ops": len(ops), "failed_share": failed_share(attempted, failed),
        "oracle_s": oracle_s,
        "peak_rss_mb": rss,
        "op_s": [round(t, 3) for t in times],
        "kind_p50_s": {k: quantile(v, 0.5) for k, v in sorted(by_kind.items())},
        # CPU time the hypervisor gave to other guests while operations ran.
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        # The reference loop's time just before and after the operations.
        "host_ref_s": [ref0, ref1],
    }
    if args.trace:
        overhead = (sum(op[0] for op in traced) - sum(op[0] for op in plain)) / len(traced)
        mean, steps = layer_report(tracer, traced)
        mean.update({"session.start_s": session_start_s, "session.warmup_s": warmup_s,
                     "trace.overhead_s": overhead, "driver.peak_rss_mb": rss})
        summary["traced_ops"] = len(traced)
        # Layer self times add up to each step's wall time except the
        # step's own self time: driver time outside every traced call.
        summary["max_unattributed_s"] = max(m["self.step_s"] for m in steps.values())
        for name, m in sorted(steps.items()):
            nonzero = {k: round(v, 6) for k, v in sorted(m.items()) if v}
            print(json.dumps({"perfbench_step": name} | nonzero))
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": [vars(s) for s in tracer.spans]}, f)
        metrics = mean
    else:
        metrics = {
            "setup_s": setup_s,
            "op_mean_s": statistics.fmean(times),
            "op_p90_s": quantile(times, 0.9),
        }
    print(json.dumps({"perfbench_summary": summary}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in spec["per_layer" if args.trace else "end_to_end"]
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
