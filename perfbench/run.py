"""Stock-ETL benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds every input from ``--seed``, starts
Spark on ``local[nproc]``, sets the workload up (timed as ``setup_s``),
runs its closed loop for ``--seconds``, checks every output, and prints
one JSON object as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs the
tracer and reports the per-layer metrics instead (plus self time per
layer and the tracer's own overhead), and writes every span to
``.benchwork/traces/``. All scratch files live under ``.benchwork/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "stock_data_etl_pipeline_spark"
# fixed, not read from the environment, so every caller measures the same
# heap; small, so runs stay light on a machine shared with other work
DRIVER_MEM = "1g"


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every live
    descendant (the JVM and its Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
        todo.extend(_children(pid))
    return total / tick


def peak_rss_mb() -> float:
    """Peak resident set of this driver process plus its JVM."""
    kb = _vm_hwm_kb(os.getpid())
    todo = _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm == "java":
            kb += _vm_hwm_kb(pid)
        else:
            todo.extend(_children(pid))
    return kb / 1024.0


def configure_env(work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # the program's other settings keep their defaults whatever the caller's
    # environment holds
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
        # executors' Python workers import the program and the benchmark
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
    })
    time.tzset()
    return cpus


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a hung JVM is killed
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench_dir = os.path.join(ROOT, ".benchwork")
    work = os.path.join(bench_dir, f"{args.workload}-s{args.seed}-{os.getpid()}")
    cpus = configure_env(work)

    from perfbench import report
    from stock_data_etl_pipeline_spark.session import HAS_DELTA, get_spark

    wl = WORKLOADS[args.workload](args.seed, work, traced=bool(args.trace))
    load_before = os.getloadavg()
    t0 = time.perf_counter()
    # temp files stay in the run's directory; no hsperfdata file in /tmp
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"})
    tracer = None
    try:
        if args.trace and wl.trace_setup:
            tracer = report.install_tracer(spark)
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        if args.trace:
            tracer = tracer or report.install_tracer(spark)
            wl.tracer = tracer
        cpu0 = tree_cpu_s()
        wl.measure(args.seconds)
        window_cpu_s = tree_cpu_s() - cpu0
        if tracer is not None:
            tracer.uninstall()
            wl.tracer = None
        rss = peak_rss_mb()
        wl.check()
        if tracer is not None:
            metrics = report.layer_metrics(wl, tracer)
            os.makedirs(os.path.join(bench_dir, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                bench_dir, "traces", f"{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = report.e2e_metrics(wl, setup_s, rss, window_cpu_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = wl.ops
    for e in ops.errors:
        print(f"perfbench: failed: {e}", file=sys.stderr)
    print(json.dumps({"perfbench_env": {
        "nproc": cpus, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "HAS_DELTA": HAS_DELTA, "loadavg_before": load_before,
        "loadavg_after": os.getloadavg()}}), file=sys.stderr)
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
