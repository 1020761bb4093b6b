"""Same-session min-of-N query timings, plan dumps and build-only timing.

Cross-bench totals swing ±15-17% between host epochs (SCALE.md), so
per-change evidence comes from ONE JVM timing the queries under test back
to back (min-of-N each), not from comparing two full bench runs. Each
timed run also reports its Spark job count (the ``nextJobId()`` range it
spans) and its task count (the task attempts run by the stages those jobs
created, read from the status tracker); neither drifts with host load, and
tasks show a query's fan-out (a scan of a 32-partition cached frame is 32
tasks). ``leaked`` is how many more persistent RDDs (persisted frames and
local checkpoints) the JVM holds after the query's closing
``release_scratch()`` than before it started: anything above 0 is scratch
that bypassed the registry.
``--build-only`` times DataFrame construction alone (no action): the
driver-side Catalyst/py4j cost of building a query, tracked separately
from execution.

Usage:
  python tools/probe.py q1 q2 ...                  # min-of-4 timings
  python tools/probe.py --runs 6 q1 q2
  python tools/probe.py --explain plans/new q1 q2  # dump plans/new/<q>_<tag>.txt
  python tools/probe.py --tag before --explain plans/new q1
  python tools/probe.py --build-only q1            # construction time only

Timings, job and task counts and ``leaked`` go to stdout as one JSON line
per query (and a plain table on stderr). The noop sink forces every column of
every row, same methodology as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from checkatron_spark.session import get_spark, release_scratch  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _next_stage(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextStageId())


def _tasks_since(spark, stage0: int) -> int:
    """Task attempts run by the stages created since ``stage0``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    infos = (tracker.getStageInfo(s) for s in range(stage0, _next_stage(spark)))
    return sum(i.numCompletedTasks + i.numFailedTasks for i in infos if i)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--explain", metavar="DIR",
                    help="dump each query's formatted plan into DIR")
    ap.add_argument("--build-only", action="store_true")
    ap.add_argument("--tag", default="probe")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod._queries_unordered()
    missing = [q for q in args.queries if q not in qs]
    if missing:
        sys.exit(f"unknown queries: {missing}")

    if not args.no_warm:
        for warm in ("q6_forecast_revenue", "diff_orders"):
            if warm in qs:
                _force(qs[warm](spark, SF_DIR))

    for name in args.queries:
        release_scratch()
        held = _n_persistent(spark)
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = qs[name](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(args.explain, f"{name}_{args.tag}.txt")
            with open(out, "w") as fh:
                fh.write(txt)
            print(f"[probe] plan -> {out}", file=sys.stderr)
            release_scratch()
        spark.sparkContext.setJobDescription(f"probe:{name}")
        runs = []
        for _ in range(args.runs):
            if args.build_only:
                release_scratch()
            job0, stage0 = _next_job(spark), _next_stage(spark)
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            build = round(time.perf_counter() - t0, 3)
            if not args.build_only:
                _force(df)
            total = round(time.perf_counter() - t0, 3)
            runs.append(
                (total, build, _next_job(spark) - job0, _tasks_since(spark, stage0))
            )
        spark.sparkContext.setJobDescription(None)
        release_scratch()
        leaked = _n_persistent(spark) - held
        if not runs:
            continue  # --runs 0: plan dump only
        totals = [r[0] for r in runs]
        builds = [r[1] for r in runs]
        jobs = [r[2] for r in runs]
        tasks = [r[3] for r in runs]
        rec = {
            "q": name,
            "min": min(totals),
            "median": statistics.median(totals),
            "runs": totals,
            "jobs": jobs,
            "tasks": tasks,
            "leaked": leaked,
            "build_min": min(builds),
            "builds": builds,
            "postwarm_min": min(totals[1:]) if len(totals) > 1 else totals[0],
        }
        print(json.dumps(rec))
        print(
            f"[probe] {name}: min={rec['min']} median={rec['median']}"
            f" build_min={rec['build_min']} runs={totals} jobs={jobs}"
            f" tasks={tasks}"
            f" leaked={leaked}",
            file=sys.stderr,
        )

    spark.stop()


if __name__ == "__main__":
    main()
