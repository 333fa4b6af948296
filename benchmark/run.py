"""Benchmark driver: one workload, one process, one closed-loop client.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones.  The line before it is a JSON ``meta`` record (host,
versions, seed, per-operation samples).  ``--tiny`` shrinks every input
for the self-test.  Exits non-zero without a result when the program
cannot be imported or a run cannot complete.

End-to-end metrics, times less the hypervisor's steal (see
``workloads``):

- ``pass_s``: median time of one measured pass of the workload;
- ``pass_cpu_s``: median CPU time of the Python driver, the driver JVM
  and its Python workers over one measured pass;
- ``setup_s``: median of the set-ups (session start plus loading the
  inputs into the program; the first also starts the JVM);
- ``peak_rss_mb``: high-water resident set of the Python driver plus
  the driver JVM.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
sys.path[:0] = [HERE, ROOT]

#: session set-ups per run; ``setup_s`` is their median (the first
#: also starts the JVM, so the median is the slower of the other two)
SETUP_REPS = 3

#: driver heap, fixed and pre-touched: the JVM's resident set then no
#: longer depends on when G1 grows the heap, which otherwise moved the
#: peak RSS by 10-40% between identical runs; what is left to move it
#: is off-heap and Python memory
HEAP_MB = 2048


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def configure_env(host: dict, rows: int) -> None:
    """Fit the engine's session to this host through its own
    environment variables: every core, a heap well under physical
    memory, scratch space inside the checkout, and ~250k rows per
    shuffle task (never fewer tasks than cores)."""
    cpus = host["nproc"]
    heap_mb = min(HEAP_MB, host["mem_total_mb"] // 4)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_GRAFT_SHUFFLE=str(max(cpus, -(-rows // 250_000))),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        # spark-submit's launcher JVM, which builds the driver command
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        # the Python workers the JVM forks import the program too
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    )


def spark_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident set of this process plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may be gone already
                pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="shrink inputs (self-test)")
    args = ap.parse_args(argv)

    # every scratch file (ours, DuckDB's, Spark's, the JVM's) stays in WORK
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")

    try:
        import graphdb_testing_spark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"benchmark: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"benchmark: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    started = time.time()
    host = host_facts()
    wl = workloads.WORKLOADS[args.workload](args.seed, args.tiny)
    configure_env(host, wl.rows)

    from graphdb_testing_spark.session import get_spark
    from spans import Tracer, clock

    def generate() -> float:
        wl.generate()  # cached
        return time.time() - started

    # inputs and their expected outputs are made while the JVM starts;
    # set-up timers leave out any wait for them
    pool = concurrent.futures.ThreadPoolExecutor(1)
    generating = pool.submit(generate)
    pool.shutdown(wait=False)

    # set up several times; only the last set-up's calls are traced,
    # and its session is the one used
    setup_times: list[tuple[float, float]] = []  # (wall, steal)
    tracer = Tracer(enabled=False)
    spark = None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            tracer.spark = None
            tracer.enabled = bool(args.trace) and rep == SETUP_REPS - 1
            start = clock()
            spark, rec = tracer.call("session.get_spark", get_spark,
                                     app_name="graph-bench", extra_conf=spark_conf())
            rec.traced = tracer.enabled
            tracer.spark = spark
            waited = clock()
            generate_s = generating.result()
            waited = [b - a for a, b in zip(waited, clock())]
            wl.setup(spark, tracer)
            wall, steal, _ = (b - a - w for a, b, w in zip(start, clock(), waited))
            setup_times.append((wall, steal))
        jvm = spark.sparkContext._jvm
        result = wl.run(spark, tracer, args.seconds, bool(args.trace))
        failures = wl.failures
        meta = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "tiny": args.tiny,
            **host,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "spark": spark.version,
            "generate_s": generate_s,
            "setup_wall_steal_s": setup_times,
            **wl.meta,
            "failures": failures[:20],
        }
        rss = peak_rss_mb(int(jvm.java.lang.ProcessHandle.current().pid()))
    finally:
        if spark is not None:
            stop_spark(spark)
    meta["run_s"] = time.time() - started

    if args.trace:
        metrics = {k: {"value": v, "unit": workloads.layer_unit(k)} for k, v in result.items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(w - s for w, s in setup_times), "unit": "s"},
            "pass_s": {"value": result["pass_s"], "unit": "s"},
            "pass_cpu_s": {"value": result["pass_cpu_s"], "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    print(json.dumps({"meta": meta}, default=str))
    print(json.dumps({
        "correct": not failures,
        "attempted": wl.attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
