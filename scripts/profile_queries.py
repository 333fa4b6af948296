"""Time individual driver-contract queries at a given sf directory.

Usage::

    python scripts/profile_queries.py [--json OUT] [sf_dir] query [query ...]

Prints one line per query: name, wall seconds, row count, and the
Spark jobs and tasks the query ran (build plus a final ``count()``).
Each query runs under its own job group; its jobs come from the status
tracker, its tasks are the completed tasks of its stages, each stage
counted once (a stage an earlier query ran shows up again as skipped).
Spark keeps a bounded number of job and stage infos; one it has
already evicted is skipped, and the line and the record count them
(``evicted``).
Used to profile the heavier analytics (betweenness, community, core
numbers) that bench.py does not time per-round, and — with ``--json``
— to record the quiet-host serial times of the sweep's heaviest
queries (``SWEEP_TIMES_r{N}.json``), the trustworthy companion to the
contention-noisy parallel sweep logs.  Run it on a QUIET host; each
record carries the load average at measurement time so a reader can
tell.

To count the distributed side of the guarded kernels, patch the guard
constants before the script runs (the same snippet as the forced
oracle sweeps; the guards read them at call time)::

    import runpy, sys; sys.path.insert(0, ".")
    from graphdb_testing_spark.operators import util
    util.LOCAL_NE_MAX = 0  # and/or util.BROADCAST_STATE_MAX_ROWS = 0
    sys.argv = ["scripts/profile_queries.py", "<sf dir>", *queries]
    runpy.run_path("scripts/profile_queries.py", run_name="__main__")
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from graphdb_testing_spark.session import get_spark  # noqa: E402


def main() -> int:
    import json

    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    names = argv[1:]
    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark(
        app_name="graphdb-testing-spark-profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    counted: set[int] = set()
    records = []
    for name in names:
        sc.setJobGroup(f"profile-{name}", name)
        t0 = time.time()
        n = qs[name](spark, sf_dir).count()
        dt = time.time() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(f"profile-{name}")
        job_infos = [tracker.getJobInfo(j) for j in jobs]
        stages = {s for info in job_infos if info is not None for s in info.stageIds} - counted
        counted |= stages
        stage_infos = [tracker.getStageInfo(s) for s in stages]
        tasks = sum(info.numCompletedTasks for info in stage_infos if info is not None)
        evicted = job_infos.count(None) + stage_infos.count(None)
        records.append(
            {
                "query": name,
                "spark_s": round(dt, 2),
                "rows": n,
                "jobs": len(jobs),
                "tasks": tasks,
                "evicted": evicted,
                "load1": round(os.getloadavg()[0], 1),
            }
        )
        print(
            f"{name}: {dt:.2f}s rows={n} jobs={len(jobs)} tasks={tasks} evicted={evicted}",
            flush=True,
        )
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    "note": (
                        "serial quiet-host re-times of the sweep's heaviest "
                        "queries; sharded sweep-log row times are contention "
                        "noise (see check_oracles.py docstring)"
                    ),
                    "sf_dir": sf_dir,
                    "mode": "serial",
                    "times": records,
                },
                f,
                indent=1,
            )
            f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
