"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 10 --trace 0

The workloads are in workloads.py, the metrics are explained in
METRICS.md. The engine runs in this process on `local[<cores>]` with a
driver heap sized to the machine's memory (passed through
SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM). Inputs are generated from
--seed into a scratch directory inside the checkout, which also holds
SPARK_LOCAL_DIRS and TMPDIR and is removed when the run ends.

A run sets up once (session start, warm-up job, the workload's cold
first operation), warms the workload up untimed, then runs whole cycles
of the workload while they fit in --seconds (at least one), checking
every output. It prints each metric with its unit and sample count,
then one JSON line with the end-to-end metrics; with --trace 1 the
cycles are traced, the line carries the per-layer metrics (layers.py)
and the spans are written to .perfbench_out/. The exit code is 1 when
any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _driver_mem() -> str:
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    mb = min(4096, max(1024, total_kb // 1024 // 5))
    return f"{mb}m"


def _environment(work: str) -> int:
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=_driver_mem(),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
    )
    return cores


def _stop(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _measure(wl, spark, tr, s, seconds: float) -> None:
    """Run whole cycles while another one of median length still fits in
    `seconds` (at least one), so a run's cycle count does not flip with
    noise when a cycle takes about as long as the window."""
    start = time.perf_counter()
    walls: list[float] = []
    while not walls or (
        time.perf_counter() - start + statistics.median(walls) <= seconds
    ):
        t0 = time.perf_counter()
        with tr.span("cycle"):
            wl.cycle(spark, tr, s)
        walls.append(time.perf_counter() - t0)


def _steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def end_to_end(s, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s", 1),
        "op_gmean_s": (statistics.geometric_mean(s.ops), "s", len(s.ops)),
        "refresh_s": (statistics.median(s.refresh), "s", len(s.refresh)),
    }


def diagnostics(s, rss_mb: float, steal: float) -> dict:
    """Figures printed beside the metrics but left out of the JSON line:
    memory and the failure ratio do not repeat run to run or are already
    in it, the share of CPU time the hypervisor took from this machine
    explains a slow run, a run holds one cycle, whose time is a sum that
    a burst of host contention in any of its calls moves, and the median
    of a mix of different queries is whichever query ranks in the middle,
    which changes with small shifts between them."""
    out = {
        "op_p50_s": (statistics.median(s.ops) if s.ops else 0.0, "s", len(s.ops)),
        "cycle_s": (statistics.median(s.cycles) if s.cycles else 0.0,
                    "s", len(s.cycles)),
        "failed_ops_ratio": (s.failed / max(1, s.attempted), "ratio", s.attempted),
        "peak_rss_mb": (rss_mb, "MB", 1),
        "host_steal_share": (steal, "ratio", 1),
    }
    n = len(s.ops)
    if n >= 20:  # the highest percentile with ten samples beyond it
        out[f"op_p{100 * (n - 10) // n}_s"] = (sorted(s.ops)[n - 11], "s", n)
    if s.op_rows:
        out["ingest_rows_per_s"] = (sum(s.op_rows) / sum(s.ops), "1/s", len(s.ops))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))  # check_oracle
    sys.path.insert(0, HERE)
    try:
        import core_telecoms_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import layers
    from spans import Tracer, cpu_seconds, install, peak_rss_mb, process_tree
    from workloads import WORKLOADS, Samples

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    steal0 = _steal_ticks()
    try:
        cores = _environment(work)
        os.chdir(work)
        wl = WORKLOADS[args.workload]()
        wl.prepare(work, args.seed)
        from core_telecoms_etl_spark import get_spark

        s = Samples()
        tr = Tracer()
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        get_spark_s = time.perf_counter() - t0
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        wl.cold_op(spark, tr, s)
        setup_s = time.perf_counter() - t0
        wl.warm_up(spark, tr, s)

        if args.trace:
            tr = Tracer(spark)
            install(tr)
        pids = process_tree(os.getpid())
        cpu0, w0 = cpu_seconds(pids), time.perf_counter()
        _measure(wl, spark, tr, s, args.seconds)
        busy = (cpu_seconds(process_tree(os.getpid())) - cpu0) / (
            (time.perf_counter() - w0) * cores)
        stolen, ticks = (b - a for a, b in zip(steal0, _steal_ticks()))
        jvm = spark.sparkContext._jvm.ProcessHandle.current().pid()
        report = diagnostics(s, peak_rss_mb([os.getpid(), jvm]), stolen / ticks)
        if args.trace:
            metrics = layers.per_layer(
                tr.spans, s, get_spark_s=get_spark_s, cpu_busy=busy)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"{args.workload}-seed{args.seed}-spans.json")
            with open(path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "metrics": {k: v[0] for k, v in metrics.items()},
                           "spans": tr.spans}, f)
            print(f"spans: {path}")
        elif s.cycles:
            metrics = end_to_end(s, setup_s)
        else:
            metrics = {}  # every cycle failed: nothing was measured
        report = {**metrics, **report}
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    for err in s.errors:
        print(f"WRONG {err}")
    print(f"{'metric':40} {'value':>14} {'unit':>6}  samples")
    for name, (value, unit, n) in report.items():
        print(f"{name:40} {value:14.6g} {unit:>6}  {n}")
    print(json.dumps({
        "correct": s.failed == 0,
        "attempted": s.attempted,
        "failed": s.failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if s.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
