#!/usr/bin/env python3
"""Workload benchmark for the vault ingest, vault read and corpus dedup
paths of ``pyspark_playground_spark``.

Run from the repository root::

    python3 perfbench/run.py --workload vault --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``, measured with no
tracing; with ``--trace 1`` they are the per-layer metrics of a separate
traced run. The line before it is a detail record (per-op samples, sample
counts, set-up time, memory, load average, ``dirty_box``); the same record,
plus every span of a traced run, is written to ``perfbench/out/``. See
``perfbench/README.md`` for the workloads and the metric map.
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
PACKAGE = "pyspark_playground_spark"

#: operations a traced run performs: a fixed count, so that two traced runs
#: of one commit and seed execute the same work and their load-insensitive
#: counters can be compared exactly
TRACE_OPS = 1


def _box_env(workdir: str) -> None:
    """Pin parallelism to the box, size the driver heap under physical RAM
    and keep every scratch file of Spark and the JVM inside ``workdir``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(2048, mem_mb // 4)}m"
    for sub in ("local", "tmp", "derby"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}/tmp"
    os.environ["TZ"] = "UTC"
    time.tzset()


def _start_spark(workdir: str):
    from pyspark_playground_spark.session import get_spark

    java_opts = " ".join([
        f"-Djava.io.tmpdir={workdir}/tmp",
        f"-Dderby.system.home={workdir}/derby",
        "-XX:-UsePerfData",
    ])
    retain = "1000000"
    return get_spark(
        app_name="perfbench",
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        warehouse_dir=os.path.join(workdir, "warehouse"),
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution of the run in the
            # status store (same settings traced or not)
            "spark.ui.retainedJobs": retain,
            "spark.ui.retainedStages": retain,
            "spark.sql.ui.retainedExecutions": retain,
        },
    )


def _stop_spark(spark) -> None:
    """Stop the context and wait for the JVM child process to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _jvm_live_mb(spark) -> tuple[float, float]:
    """Driver JVM memory in use after a full collection: (live heap,
    non-heap: metaspace and code cache), in MB. Spark's context cleaner
    frees shuffle, broadcast and checkpoint blocks only after a collection
    found their owners dead, so collect, let it run, and collect again."""
    jvm = spark.sparkContext._gateway.jvm
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mb = 1024.0 * 1024.0
    return mx.getHeapMemoryUsage().getUsed() / mb, mx.getNonHeapMemoryUsage().getUsed() / mb


def _quantile(samples: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    s = sorted(samples)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def run_loop(workload, seconds: float, n_ops: int | None):
    """Closed loop: the next op starts when the previous one returned.
    Runs for ``seconds`` (the op in flight finishes), or exactly ``n_ops``
    ops when given. Returns (op seconds, rows, failures, wall_s)."""
    times: list[float] = []
    rows, failures = 0, []
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        try:
            with workload.span("op"):
                rows += workload.op()
        except Exception as e:  # a failed op is counted, the loop goes on
            failures.append(f"{type(e).__name__}: {e}"[:500])
        now = time.perf_counter()
        times.append(now - t0)
        if len(times) == n_ops or (n_ops is None and now - start >= seconds):
            return times, rows, failures, now - start


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    workdir = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(workdir)
    _box_env(workdir)
    load_before = os.getloadavg()[0]
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(workdir)
        session_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wl = workloads.WORKLOADS[args.workload](spark, workdir, args.seed)
        setup = wl.setup()
        tracer = None
        if args.trace:
            import layers

            tracer = layers.install(spark, wl)
        times, rows, failures, wall = run_loop(
            wl, args.seconds, TRACE_OPS if args.trace else None
        )
        if tracer is not None:
            tracer.restore()
        made, mismatches = wl.check()
        heap_mb, nonheap_mb = _jvm_live_mb(spark)
        live_mb = heap_mb + nonheap_mb
        rss_mb = _vm_hwm_mb(jvm_pid)
        if tracer is not None:
            metrics, spans = layers.report(spark, wl, tracer, times)
            metrics["jvm.peak_rss_mb"] = (rss_mb, "MB")
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "ops": len(times),
            "op_samples_s": times,
            "op_p90_s": _quantile(times, 0.9),
            "kinds": wl.detail(),
            "jvm_peak_rss_mb": rss_mb,
            "jvm_live_mb": live_mb,
            "jvm_heap_live_mb": heap_mb,
            "jvm_nonheap_mb": nonheap_mb,
            "setup_s": setup,
            "session_start_s": session_s,
            "checks": made,
            "mismatches": mismatches,
            "op_failures": failures,
            "error_rate": (len(failures) + len(mismatches)) / (len(times) + made),
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg()[0],
            "dirty_box": load_before > 1.5,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        }
        if not args.trace:
            metrics = {
                "op_p50_s": (statistics.median(times), "s"),
                "ops_per_s": (len(times) / wall, "1/s"),
                "rows_per_s": (rows / wall, "rows/s"),
                "jvm_live_mb": (live_mb, "MB"),
                "setup_s": (setup, "s"),
            }
            spans = None
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump({**detail, "spans": spans}, f)
        print(json.dumps(detail))
        failed = len(failures) + len(mismatches)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(times) + made,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
