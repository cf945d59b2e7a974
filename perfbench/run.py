#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload daily_update --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a JSON ``report`` with the workload's named metrics, digests,
check failures, noise stamps and the pinned resources. Spans of a
traced run go to ``.perfbench_work/spans/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _pin_resources(work: str) -> dict:
    """Size Spark to the machine it runs on and keep every file it
    writes inside ``work``; must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # the data is small; a quarter of the machine, at most 2 GB, leaves
    # room for the Python worker and other tenants
    driver_gb = max(1, min(2, int(mem_gb // 4)))
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "config"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "WEATHERDB_SPARK_MAIN_CONFIG_DIR": os.path.join(work, "config"),
        "TMPDIR": tmp,
        # no hsperfdata files in the system temp dir from the launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    return {"cpus": cpus, "mem_gb": round(mem_gb, 1), "driver_memory": f"{driver_gb}g",
            "extra_conf": {
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            }}


def _control_s(spark, cpus: int) -> float:
    """Fastest of three runs of a fixed small Spark job (about 0.1 s on
    4 cores): the noise probe. The minimum drops one-off stalls, so an
    inflated value means the machine was slower throughout."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, numPartitions=cpus).selectExpr(
            "sum(id * 7 % 13)").collect()
        times.append(time.perf_counter() - t0)
    return min(times)


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    total = 0
    for pid in (spark.sparkContext._gateway.proc.pid, "self"):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(root) for f in files)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured time, as an op count: seconds over the "
                         "workload's nominal op time")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test shape")
    ap.add_argument("--stations", type=int, default=None,
                    help="daily_update station count (default: the shape's)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "weatherdb_spark", "session.py")):
        print(f"perfbench: no weatherdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    load_start = os.getloadavg()
    pinned = _pin_resources(work)

    from perfbench.checks import Checks
    from perfbench.trace import Tracer
    from perfbench.workloads import CALLS, WORKLOADS, Ctx, n_ops

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    tracer = Tracer(run_id, enabled=bool(args.trace))

    t_setup = time.perf_counter()
    t_wall = time.time()
    from weatherdb_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=pinned["extra_conf"])
    session_s = time.perf_counter() - t_setup
    tracer.note("session.get_spark", t_wall, t_wall + session_s)
    ctx = Ctx(spark=spark, tracer=tracer, work=work, seed=args.seed, size=args.size,
              stations=args.stations)
    attempted = failed = 0
    errors: list[str] = []
    checked = Checks()
    digests, rows = {}, 0
    try:
        with tracer.span("setup"):
            wl.setup(ctx)
        setup_s = time.perf_counter() - t_setup
        control_before = _control_s(spark, pinned["cpus"])

        for i in range(n_ops(wl, args.seconds)):
            attempted += 1
            try:
                with tracer.span("op", index=i):
                    if not wl.op(ctx, i):
                        break
            except Exception as e:  # noqa: BLE001 - counted, then stop
                traceback.print_exc()
                failed += 1
                errors.append(f"op {i}: {type(e).__name__}: {e}")
                break

        control_after = _control_s(spark, pinned["cpus"])
        if not failed:
            wl.check(ctx, checked)
            digests, rows = wl.digests(ctx)
        peak_rss = _peak_rss_mb(spark)
        stored = _dir_bytes(ctx.wh)
        resources = {k: pinned[k] for k in ("cpus", "mem_gb", "driver_memory")}
        resources.update(spark=spark.version, python=sys.version.split()[0])
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = ctx.timings.get("op_s", [])
    named = {"setup_s": (setup_s, "s"), "session_s": (session_s, "s"),
             "peak_rss_mb": (peak_rss, "MB"),
             "stored_bytes_per_row": (stored / max(1, rows), "B"),
             "ops_failed_share": ((failed + len(checked.failures))
                                  / (attempted + checked.n), "1")}
    for k, vals in ctx.timings.items():
        ms = k.startswith("read_")
        base, unit, scale = (k[:-2] + "_ms", "ms", 1000) if ms else (k, "s", 1)
        named[f"{base}_p50"] = (statistics.median(vals) * scale, unit)
        named[f"{base}_max"] = (max(vals) * scale, unit)
        named[f"{base}_n"] = (len(vals), "count")
    inflation = control_after / control_before
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "run_id": run_id,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "errors": errors, "checks": checked.n, "check_failures": checked.failures,
        "digests": digests, "resources": resources, "timings": ctx.timings,
        "noise": {"load_start": load_start, "load_end": os.getloadavg(),
                  "control_before_s": control_before, "control_after_s": control_after,
                  "control_inflation": inflation, "noisy": inflation > 1.5},
    }
    if args.trace:
        spans = os.path.join(WORK_ROOT, "spans", f"{run_id}.jsonl")
        tracer.dump(spans)
        report["spans"] = os.path.relpath(spans, ROOT)
        metrics = tracer.leaf_metrics(CALLS, len(ops))
    else:
        # peak_rss_mb stays in the report: a JVM's peak RSS follows when
        # G1 grows the heap, and spread too widely between runs to bound
        metrics = {k: {"value": named[k][0], "unit": named[k][1]}
                   for k in ("op_cpu_s_p50", "setup_s", "stored_bytes_per_row")
                   } if ops else {}
    failed_total = failed + len(checked.failures)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed_total == 0 and bool(metrics),
        "attempted": attempted + checked.n,
        "failed": failed_total,
        "metrics": metrics,
    }))
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
