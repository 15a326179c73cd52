"""Benchmark runner: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 6 --trace 0

Run from the repository root. Builds the Spark session through the public
``get_session`` on ``local[<cores>]``, runs the workload's warm-up (counted
in ``setup_s``), measures for ``--seconds``, checks every output, and prints
one JSON object as the last line of stdout:

* ``--trace 0``: every end-to-end metric named in BENCHMARK.json;
* ``--trace 1``: the section in three parts, untraced, traced and
  untraced (its overhead is traced minus the mean untraced); prints every
  per-layer metric named in BENCHMARK.json (0 for a layer the workload
  never calls) and writes all spans to ``.perfbench/traces/``.

A run whose output check fails, or in which an operation raises, prints
no result and exits 1. ``--size tiny`` shrinks every input for the smoke
test.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")


def process_age_s() -> float:
    """Seconds since this process started (the ``setup_s`` clock)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(workdir: str, ncpu: int) -> None:
    """Everything Spark and its workers need before the JVM starts:
    the package on the workers' path from any working directory, the
    core count, and every scratch/temp directory inside the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    # A fixed 3g heap instead of the engine's 16g default: these inputs
    # need far less, a 16g ceiling lets the heap grow over most of a 16 GB
    # machine's RAM before collecting, and a fixed value (not a default the
    # caller's environment can override) keeps every run's GC setup equal.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # one BLAS thread per Spark task slot: ncpu Python workers already fill the cores
    os.environ["OMP_NUM_THREADS"] = os.environ["OPENBLAS_NUM_THREADS"] = "1"
    # -XX:-UsePerfData: no JVM perf-counter file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}"),
        # keep every job of a run in the status tracker the trace reads
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])


def latency_stats(lat: list[float]) -> dict:
    """Median and tail. The tail is the highest percentile, at least p90,
    with 10 samples above it; a run with fewer than 100 samples has no
    such percentile and reports its maximum."""
    xs = sorted(lat)
    n = len(xs)
    idx = n - 11 if n >= 100 else n - 1
    return {"p50": statistics.median(xs), "tail": xs[idx], "tail_pct": 100.0 * (idx + 1) / n, "n": n}


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "scalecast_spark")) or not os.path.isfile(spec_path):
        print(f"perfbench: no scalecast_spark package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, CheckFailed, reset_dir

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    ncpu = len(os.sched_getaffinity(0))
    workdir = os.path.join(SCRATCH, f"{args.workload}-{os.getpid()}")
    reset_dir(workdir)
    configure_env(workdir, ncpu)

    from pyspark import SparkContext

    from scalecast_spark import get_session
    from spans import Tracer

    spark = get_session("perfbench")
    try:
        tracer = Tracer(spark, SparkContext._gateway.proc.pid)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, args.size, workdir)
        wl.warmup(bool(args.trace))
        setup_s = process_age_s()
        if args.trace:
            # untraced, traced, untraced: warm-up drift cancels in the overhead
            before = wl.timed(args.seconds / 3)
            tracer.start()
            traced = wl.timed(args.seconds / 3)
            proc = tracer.stop()
            after = wl.timed(args.seconds / 3)
            runs = [before, traced, after]
        else:
            runs = [wl.timed(args.seconds)]
        try:
            wl.check()
            print(f"checks passed {wl.checks_passed}")
            correct = True
        except CheckFailed as exc:
            print(f"perfbench: output check failed: {exc}", file=sys.stderr)
            correct = False
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    print(f"error_rate {failed / max(attempted, 1):.6f} ({failed} failed of {attempted} attempted)")
    if not correct or failed:
        # a run whose outputs are wrong or missing reports no timing
        return 1
    if args.trace:
        layers = tracer.layer_metrics(ncpu)
        layers["process.peak_rss_mb"] = proc["peak_rss_mb"]
        layers["process.cpu_s"] = proc["cpu_s"]
        layers["process.cpu_util"] = proc["cpu_s"] / (proc["wall_s"] * ncpu)
        layers["process.spans"] = len(tracer.spans)
        layers["process.trace_overhead_s"] = traced.cost_s - (before.cost_s + after.cost_s) / 2
        os.makedirs(os.path.join(SCRATCH, "traces"), exist_ok=True)
        tracer.dump(os.path.join(SCRATCH, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        (t,) = runs
        lat = latency_stats(t.latencies)
        print(f"latency_tail_s is p{lat['tail_pct']:.1f} of {lat['n']} samples; items are {t.item_unit}")
        print("latencies_s " + " ".join(f"{x:.3f}" for x in t.latencies))
        values = {
            "setup_s": setup_s,
            "items_per_s": t.items / t.busy_s,
            "latency_p50_s": lat["p50"],
            "latency_tail_s": lat["tail"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
