"""Benchmark runner for the checkatron_spark engine.

    python3 perfbench/run.py --workload diff_tpch --seed 1 --seconds 5 --trace 0

Runs one workload in one process against the engine in the checkout this
file sits in: Spark at ``local[<cores>]``, one client sending one op at a
time (closed loop). It sets up several times (session start, seeded
input generation, model-cache fill) and keeps the last set-up, times the
first op, then runs whole passes over the workload's op list until
``--seconds`` have elapsed. Every op's output is checked against the
answer the generator planted.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Details (per-op times, sample
counts, spans) go to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3


def _percentile(values, p):
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values):
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it;
    p75 when there are fewer than 40 samples."""
    n = len(values)
    for p in (0.99, 0.95, 0.9, 0.75):
        if n * (1 - p) >= 10:
            return p, _percentile(values, p)
    return 0.75, _percentile(values, 0.75)


def _pin_environment(work: Path, trace: bool) -> None:
    """Keep every file the run writes inside ``work`` and pin the engine's
    environment knobs, so the caller's environment cannot change what is
    measured."""
    for d in ("tmp", "spark-local", "cache", "stream", "events", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.chmod(work / "cache", 0o700)
    env = os.environ
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "PYSPARK_SUBMIT_ARGS"):
        env.pop(k, None)
    env["SPARK_DRIVER_MEMORY"] = "2g"
    env["SPARK_GRAFT_SCRATCH"] = str(work / "cache")
    env["SPARK_GRAFT_STREAM_SCRATCH"] = str(work / "stream")
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["TMPDIR"] = str(work / "tmp")
    env["PYTHONPATH"] = os.pathsep.join([str(ROOT), str(HERE)] + (
        [env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work / 'events'}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf '{c}'" for c in confs) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = str(work / "tmp")


def run(wl, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    import collect
    from workloads import Ctx

    from checkatron_spark.session import get_spark, release_scratch

    cpus = len(os.sched_getaffinity(0))
    setup_s, start_s = [], []
    for rep in range(SETUP_REPS):
        # the first get_spark launches the JVM; later ones reuse the session
        shutil.rmtree(work / "cache", ignore_errors=True)
        (work / "cache").mkdir(mode=0o700)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        start_s.append(time.perf_counter() - t0)
        shutil.rmtree(work / f"data{rep - 1}", ignore_errors=True)
        data = work / f"data{rep}"
        data.mkdir()
        files, answer = wl.generate(seed, str(data))
        ctx = Ctx(spark, collect.NullTracer(), files, answer, str(work / "stream"))
        wl.fill(ctx)
        release_scratch()
        setup_s.append(time.perf_counter() - t0)

    tracer = collect.Tracer(spark) if trace else collect.NullTracer()
    ops = wl.ops()
    attempted = failed = 0
    errors: list[str] = []

    def run_op(name, fn, tr):
        nonlocal attempted, failed
        ctx.tracer = tr
        attempted += 1
        t = time.perf_counter()
        try:
            with tr.op(name):
                fn(ctx)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            failed += 1
            errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        return time.perf_counter() - t

    threads0 = threading.active_count()
    first_op_s = run_op(ops[0][0], ops[0][1], tracer)
    passes, op_times = [], []
    t_loop = time.perf_counter()
    while True:
        # traced runs alternate untraced and traced passes (at least three,
        # so untraced passes bracket a traced one): the difference of their
        # medians is the tracing overhead
        traced = trace and len(passes) % 2 == 1
        tr = tracer if traced else collect.NullTracer()
        n_spans, hook0 = (len(tracer.spans), tracer.hook_s) if traced else (0, 0.0)
        t = time.perf_counter()
        times = [run_op(name, fn, tr) for name, fn in ops]
        passes.append({"wall_s": time.perf_counter() - t, "traced": traced,
                       "ops": times, "span0": n_spans,
                       "span1": len(tracer.spans) if traced else 0,
                       "hook_s": tracer.hook_s - hook0 if traced else 0.0})
        op_times += times
        if time.perf_counter() - t_loop >= seconds and (not trace or len(passes) >= 3):
            break

    release_scratch()
    threads_leaked = max(threading.active_count() - threads0, 0)
    cached_leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
    peak_rss_mb = collect.rss_tree_mb()
    app_id = spark.sparkContext.applicationId
    if trace:
        tracer.close()
    t = time.perf_counter()
    spark.stop()
    stop_s = time.perf_counter() - t

    rows = wl.rows_per_pass(answer)
    walls = [p["wall_s"] for p in passes if not p["traced"]]
    tail_p, tail_v = tail(op_times)
    detail = {
        "workload": wl.name, "seed": seed, "seconds": seconds, "cpus": cpus,
        "setup_s": setup_s, "session_start_s": start_s, "first_op_s": first_op_s,
        "passes": passes, "op_names": [n for n, _ in ops], "rows_per_pass": rows,
        "op_samples": len(op_times), "tail_percentile": tail_p,
        "failed_frac": failed / attempted, "errors": errors, "stop_s": stop_s,
        "peak_rss_mb": peak_rss_mb,
    }
    metrics = {}
    if not trace:
        metrics = {
            "setup_s": (statistics.median(setup_s), "s"),
            "wall_s": (statistics.median(walls), "s"),
            "rows_per_s": (statistics.median(rows / w for w in walls), "1/s"),
            "op_p50_s": (statistics.median(op_times), "s"),
            "op_tail_s": (tail_v, "s"),
            "first_op_s": (first_op_s, "s"),
        }
    else:
        ev = collect.EventLog(collect.find_event_log(str(work / "events"), app_id))
        per_pass = []
        for p in passes:
            if p["traced"]:
                spans = tracer.spans[p["span0"]:p["span1"]]
                per_pass.append(collect.pass_layer_metrics(
                    spans, ev, feed_b=answer.get("stream", {}).get("feed_b", 0)))
        layer = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
        layer["session.start_s"] = start_s[0]  # the one get_spark that launches
        layer["session.release_s"] = layer.pop("session.self_s")
        layer["session.cached_rdds_leaked"] = cached_leaked
        layer["session.threads_leaked"] = threads_leaked
        layer["model_cache.disk_b"] = sum(
            f.stat().st_size for f in (work / "cache").rglob("*") if f.is_file())
        traced_w = [p["wall_s"] for p in passes if p["traced"]]
        # the untraced passes bracket the traced ones, but JVM warm-up still
        # biases this difference low; trace.hook_s is the probes' own time
        layer["trace.overhead_s"] = statistics.median(traced_w) - statistics.median(walls)
        layer["trace.hook_s"] = statistics.median(p["hook_s"] for p in passes if p["traced"])
        layer["trace.spans"] = len(tracer.spans)
        metrics = {k: (v, layer_unit(k)) for k, v in layer.items()}
        detail["layer_per_pass"] = per_pass
        tracer.dump(str(HERE / "results" / f"{wl.name}-seed{seed}-spans.json"))
    for e in errors:
        print(f"perfbench: failed op {e}", file=sys.stderr)
    detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
    out = HERE / "results" / f"{wl.name}-seed{seed}-trace{int(trace)}.json"
    out.write_text(json.dumps(detail, indent=1))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_b") or "bytes" in name:
        return "B"
    if name.endswith(("_frac", "_amp", "_per_input")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "checkatron_spark" / "__init__.py").is_file():
        print(f"perfbench: no checkatron_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    (HERE / "results").mkdir(exist_ok=True)
    _pin_environment(work, bool(args.trace))
    try:
        res = run(WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace), work)
    finally:
        _stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench {args.workload} seed={args.seed}: "
          + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
    print(json.dumps(res))
    return 0


def _stop_gateway() -> None:
    """Shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already down
        pass
    if proc is not None:
        proc.stdin.close() if proc.stdin else None
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
