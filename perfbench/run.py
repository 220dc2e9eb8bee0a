"""Benchmark entry point.

    python3 perfbench/run.py --workload powerlaw-analytics --seed 1 --seconds 15 --trace 0

Run from the repository root.  Starts one Spark session on ``local[4]``,
builds the workload's inputs from ``--seed`` under ``.perfbench_work/``,
warms up with one untimed cycle, runs timed cycles for about
``--seconds`` seconds, checks every timed output against an oracle and
prints one summary line per metric followed by the result as one JSON
line.  ``--trace 1`` also attributes Spark jobs, tasks and shuffle bytes
to each span, prints the per-layer metrics instead of the end-to-end
ones and writes the spans to ``.perfbench_out/trace-<workload>-seed<N>.json``.
Every file it writes stays inside the repository root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SETUP_REPEATS = 3
SETTLE_S = 1.0

#: end-to-end metrics every workload reports: name -> unit
END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "pagerank_solve_s": "s",
    "pagerank_edges_per_s": "edges/s",
    "cc_s": "s",
    "peak_rss_mb": "MB",
}

#: workload-specific end-to-end metrics, printed but not in the JSON line
EXTRA = {
    "pagerank_shuffle_edges_per_s": "edges/s",
    "lpa_s": "s",
    "triangles_s": "s",
    "update_p50_s": "s",
    "ingest_docs_per_s": "docs/s",
    "compact_s": "s",
    "checkpointed_solve_s": "s",
    "resume_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, trace: bool):
    """Spark session whose scratch files all live under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    from sparkgatha.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        # fixed heap and young generation: a steady peak RSS; the parallel
        # collector runs no GC threads beside the task threads
        "spark.driver.extraJavaOptions": (
            "-Xms1g -Xmn256m -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark("perfbench", master=f"local[{CORES}]",
                     shuffle_partitions=CORES, extra_conf=conf)


def cpu_steal_jiffies() -> int:
    """Time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def jvm_peak_rss_mb(proc) -> float:
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop the context, then close the gateway JVM's stdin (it exits on
    EOF) and wait for it, so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def summarize(name: str, unit: str, xs: list[float]) -> str:
    if len(xs) >= 2:
        q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    else:
        q1 = med = q3 = xs[0]
    return f"{name:<30} {med:>14.6g} {unit:<8} q1={q1:.6g} q3={q3:.6g} n={len(xs)}"


def run(args) -> int:
    t_start = time.perf_counter()
    steal0 = cpu_steal_jiffies()
    sys.path.insert(0, ROOT)
    try:
        import sparkgatha  # noqa: F401  (the program under test)
    except ImportError:
        print("perfbench: no sparkgatha package next to perfbench/", file=sys.stderr)
        return 2
    from perfbench.tracing import Tracer
    from perfbench.workloads import LAYER_METRICS, WORKLOADS, OpFailed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    try:
        spark = start_session(work, trace)
        session_s = time.perf_counter() - t_start
        tracer = Tracer(spark, run_id, spark_counts=trace)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, CORES)

        # set-up: input build repeated, median taken; then load + warm-up
        builds = []
        for k in range(SETUP_REPEATS):
            d = os.path.join(work, f"inputs{k}")
            t = time.perf_counter()
            wl.build_inputs(d)
            builds.append(time.perf_counter() - t)
        for k in range(SETUP_REPEATS - 1):
            shutil.rmtree(os.path.join(work, f"inputs{k}"))
        t = time.perf_counter()
        wl.load(os.path.join(work, f"inputs{SETUP_REPEATS - 1}"))
        t1 = time.perf_counter()
        wl.warm_up()
        t2 = time.perf_counter()
        # let background JIT compiles and the heap settle before timing
        spark.sparkContext._jvm.System.gc()
        time.sleep(SETTLE_S)
        setup_s = session_s + statistics.median(builds) + time.perf_counter() - t
        print(f"# setup: session={session_s:.2f} build={statistics.median(builds):.2f} "
              f"load={t1 - t:.2f} warmup={t2 - t1:.2f}")

        # timed window: whole cycles while the next one is expected to fit
        wl.timed = True
        tracer.bookkeeping_s = 0.0
        t0 = time.perf_counter()
        cycles = 0
        while True:
            try:
                wl.run_cycle()
            except OpFailed:
                break
            cycles += 1
            spent = time.perf_counter() - t0
            if spent + spent / cycles > args.seconds:
                break
        window_s = time.perf_counter() - t0
        failures = wl.run_checks()
        peak = jvm_peak_rss_mb(spark.sparkContext._gateway.proc)
        tracer.add_shuffle_bytes()
        layers = wl.layer_metrics()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    samples = dict(wl.samples)
    samples["setup_s"] = [setup_s]
    samples["peak_rss_mb"] = [peak]
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    wall = time.perf_counter() - t_start
    steal = (cpu_steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK") / CORES / wall
    print(f"# {args.workload} seed={args.seed} wall={wall:.1f}s window={window_s:.1f}s "
          f"cycles={len(samples['cycle_s'])} attempted={wl.attempted} failed={wl.failed} "
          f"cpu_steal={steal:.1%}")
    print(f"{'ops_failed_ratio':<30} {wl.failed / max(wl.attempted, 1):>14.6g} ratio")
    units = {**END_TO_END, **EXTRA}
    for name, unit in units.items():
        if samples.get(name):
            print(summarize(name, unit, samples[name]))
    if trace:
        for name, value in layers.items():
            print(f"{name:<40} {value:>14.6g} {LAYER_METRICS[name]}")
    missing = [k for k in END_TO_END if not samples.get(k)]
    if missing:
        # an op failed before the first timed cycle produced these
        print(f"perfbench: no samples for {missing}", file=sys.stderr)
        return 1
    e2e = {k: statistics.median(samples[k]) for k in END_TO_END}
    metrics = (
        {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in layers.items()}
        if trace else {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    )
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
    stem = f"{args.workload}-seed{args.seed}"
    with open(os.path.join(out_dir, f"result-{stem}-trace{args.trace}.json"), "w") as f:
        json.dump({"end_to_end": e2e, "per_layer": layers,
                   "samples": samples, **result}, f, indent=1)
    if trace:
        untraced = []
        for p in glob.glob(os.path.join(out_dir, f"result-{args.workload}-seed*-trace0.json")):
            with open(p) as f:
                untraced.append(json.load(f)["end_to_end"]["cycle_s"])
        overhead = {
            "bookkeeping_s_per_cycle": layers["trace.bookkeeping_s"],
            "traced_cycle_s": e2e["cycle_s"],
            "untraced_cycle_s": statistics.median(untraced) if untraced else None,
            "untraced_runs": len(untraced),
        }
        if untraced:
            overhead["overhead_ratio"] = e2e["cycle_s"] / overhead["untraced_cycle_s"] - 1.0
        print(f"# trace overhead: {json.dumps(overhead)}")
        tracer.dump(os.path.join(out_dir, f"trace-{stem}.json"),
                    {"workload": args.workload, "seed": args.seed,
                     "overhead": overhead, "per_layer": layers})
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(run(parse_args(sys.argv[1:])))
