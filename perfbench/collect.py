"""Outside-in instrumentation: spans, py4j counting, job attribution, and
the per-layer metrics derived from Spark's event log.

Nothing here touches the engine's code. Spans wrap the benchmark's own
calls into each layer's public functions; py4j commands are counted by
wrapping the gateway client's ``send_command``; Spark jobs are attributed
to spans by job-id range (``DAGScheduler.nextJobId`` read at span start
and end), which also catches jobs an operator runs inside its constructor
and jobs submitted from streaming or pool threads. Task, shuffle, spill,
Python-worker and streaming-progress figures are read after the run from
the event log, which Spark writes only when tracing is on.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# span layers, named after the engine's modules; "op" is the benchmark's
# own glue around one operation and "check" its output check
LAYERS = ("op", "session", "sources", "plans", "operators", "exec", "check")


class _NullSpan:
    def plan(self, df):
        pass

    def note(self, **kw):
        pass


_NULL_SPAN = _NullSpan()


class NullTracer:
    """Tracing off: every hook is a no-op."""

    @contextmanager
    def span(self, layer, name):
        yield _NULL_SPAN

    @contextmanager
    def op(self, name):
        yield _NULL_SPAN


class Span:
    __slots__ = ("tracer", "rec")

    def __init__(self, tracer, rec):
        self.tracer, self.rec = tracer, rec

    def plan(self, df):
        """Record Catalyst phase times and physical-plan shape of an
        executed DataFrame (py4j traffic here is not counted)."""
        with self.tracer.paused():
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                if opt.isDefined():
                    key = f"{ph}_ms"
                    self.rec["attrs"][key] = self.rec["attrs"].get(key, 0) + opt.get().durationMs()
            plan = qe.executedPlan().toString()
        lines = [ln for ln in plan.splitlines() if ln.strip() and "==" not in ln]
        a = self.rec["attrs"]
        a["plan_nodes"] = a.get("plan_nodes", 0) + len(lines)
        a["exchanges"] = a.get("exchanges", 0) + sum(
            1 for ln in lines if "Exchange " in ln and "Reused" not in ln)

    def note(self, **kw):
        for k, v in kw.items():
            self.rec["attrs"][k] = self.rec["attrs"].get(k, 0) + v


class Tracer:
    """Tracing on: spans kept in memory, written once when the run ends.

    Each span records wall time, the py4j command count and the Spark
    job-id range it covered. Spans of one op share ``op`` (its id); a
    span's parent is the innermost span open on the main thread."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op_id = 0
        self._paused = threading.local()
        self.py4j = 0
        self.hook_s = 0.0  # time spent in the tracer's own probes
        self.codegen = _codegen_histogram(spark)
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def counting_send(command, *a, **kw):
            # "m\nd\n" releases a Python-collected JavaObject: sent when
            # Python's GC runs, so counting it would make the count vary
            if not getattr(self._paused, "on", False) and not command.startswith("m\nd\n"):
                self.py4j += 1
            return inner(command, *a, **kw)

        client.send_command = counting_send
        self._unwrap = lambda: setattr(client, "send_command", inner)

    def close(self):
        self._unwrap()

    @contextmanager
    def paused(self):
        """The tracer's own py4j probes: not counted, and timed as hook_s."""
        self._paused.on = True
        t = time.perf_counter()
        try:
            yield
        finally:
            self.hook_s += time.perf_counter() - t
            self._paused.on = False

    def _next_job(self) -> int:
        with self.paused():
            return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def span(self, layer, name):
        rec = {
            "id": len(self.spans), "op": self._op_id, "layer": layer,
            "name": name, "parent": self._stack[-1]["id"] if self._stack else None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["job0"] = self._next_job()
        rec["py4j0"] = self.py4j
        rec["epoch0"] = time.time()
        rec["t0"] = time.perf_counter()
        try:
            yield Span(self, rec)
        finally:
            rec["t1"] = time.perf_counter()
            rec["epoch1"] = time.time()
            rec["py4j"] = self.py4j - rec.pop("py4j0")
            rec["job1"] = self._next_job()
            self._stack.pop()

    @contextmanager
    def op(self, name):
        self._op_id += 1
        with self.paused():
            cg0 = _codegen_reading(self.codegen)
        with self.span("op", name) as sp:
            yield sp
        with self.paused():
            cg1 = _codegen_reading(self.codegen)
        sp.rec["attrs"]["codegen_compiles"] = cg1[0] - cg0[0]
        sp.rec["attrs"]["codegen_ms"] = cg1[1] - cg0[1]

    def dump(self, path):
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _codegen_histogram(spark):
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()


def _codegen_reading(hist) -> tuple[int, int]:
    """(compile count, summed compile ms). The sum is exact while the
    histogram's reservoir (1028 samples) has not wrapped."""
    return int(hist.getCount()), int(sum(hist.getSnapshot().getValues()))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover
    (children run sequentially inside their parent)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["t1"] - s["t0"])
    return {s["id"]: (s["t1"] - s["t0"]) - child.get(s["id"], 0.0) for s in spans}


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_PY_NODE = ("Python", "Pandas", "Arrow")
_PY_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


def _walk_plan(info, out):
    python_node = any(t in info.get("nodeName", "") for t in _PY_NODE)
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"], python_node)
    for c in info.get("children", []):
        _walk_plan(c, out)


class EventLog:
    """Jobs, per-stage task sums, Python-node SQL metrics and streaming
    progress parsed from one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.progress: list[dict] = []
        accums: dict[int, tuple] = {}
        tasks = []
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"], "stages": e["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    self.jobs.setdefault(e["Job ID"], {"stages": []})["end"] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _walk_plan(e.get("sparkPlanInfo", {}), accums)
                elif kind.endswith("QueryProgressEvent"):
                    self.progress.append(e["progress"])
        for e in tasks:
            st = self.stages.setdefault(e["Stage ID"], _zero_stage())
            m = e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["failed_tasks"] += e.get("Task End Reason", {}).get("Reason") != "Success"
            st["task_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            st["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics", {})
            st["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_write_b"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st["input_b"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            st["output_b"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in e.get("Task Info", {}).get("Accumulables", []):
                name, mtype, python_node = accums.get(a.get("ID"), (a.get("Name"), "", False))
                upd = a.get("Update")
                if not isinstance(upd, (int, float, str)) or not python_node:
                    continue
                upd = float(upd)
                if mtype == "nsTiming":
                    upd /= 1e6
                if name in _PY_METRICS:
                    st[_PY_METRICS[name]] += upd
                elif name == "number of output rows":
                    st["python_rows"] += upd

    def job_totals(self, job_ids) -> dict:
        tot = _zero_stage()
        tot["jobs"] = 0
        tot["stages"] = 0
        for j in job_ids:
            job = self.jobs.get(j)
            if job is None:
                continue
            tot["jobs"] += 1
            for s in job["stages"]:
                st = self.stages.get(s)
                if st is None:
                    continue  # skipped stage: its shuffle output was reused
                tot["stages"] += 1
                for k, v in st.items():
                    tot[k] += v
        return tot

    def job_wall_s(self, job_ids) -> float:
        """Wall time covered by the union of the jobs' run intervals."""
        iv = sorted((self.jobs[j]["submit"], self.jobs[j]["end"]) for j in job_ids
                    if j in self.jobs and "submit" in self.jobs[j] and "end" in self.jobs[j])
        total, cur0, cur1 = 0, None, None
        for a, b in iv:
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    total += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            total += cur1 - cur0
        return total / 1000.0


def _zero_stage():
    return dict.fromkeys(
        ["tasks", "failed_tasks", "task_ms", "cpu_ms", "gc_ms", "shuffle_read_b",
         "shuffle_write_b", "input_b", "output_b", "spill_b", "python_rows",
         *_PY_METRICS.values()], 0)


def find_event_log(events_dir: str, app_id: str) -> str:
    paths = [p for p in glob.glob(os.path.join(events_dir, f"{app_id}*"))
             if not p.endswith(".inprogress")]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {events_dir}")
    return paths[0]


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def pass_layer_metrics(spans: list[dict], ev: EventLog, *, feed_b: int) -> dict:
    """Per-layer metrics of one pass, from its spans and the event log."""
    selfs = self_times(spans)
    by = {layer: [s for s in spans if s["layer"] == layer] for layer in LAYERS}
    dur = lambda ss: sum(s["t1"] - s["t0"] for s in ss)  # noqa: E731

    def jobs_of(ss):
        return sorted({j for s in ss for j in range(s["job0"], s["job1"])})

    op_jobs = jobs_of(by["op"])
    ex = ev.job_totals(op_jobs)
    exec_jobs = jobs_of(by["exec"])
    attrs = lambda ss, k: sum(s["attrs"].get(k, 0) for s in ss)  # noqa: E731
    out = {}
    for layer in LAYERS:
        out[f"{layer}.self_s"] = sum(selfs[s["id"]] for s in by[layer])
    out["sources.load_s"] = dur([s for s in by["sources"] if s["name"] == "load"])
    out["sources.schema_csv_s"] = dur([s for s in by["sources"] if s["name"] == "schema_csv"])
    out["sources.input_b"] = attrs(by["sources"], "input_b")
    out["sources.input_rows"] = attrs(by["sources"], "input_rows")
    out["plans.render_s"] = dur(by["plans"])
    out["plans.sql_chars"] = attrs(by["plans"], "sql_chars")
    # eager operators (iterative dedup, the streaming replay) run jobs
    # inside their call: that job wall is execution, not build
    eager = jobs_of(by["operators"])
    out["operators.eager_s"] = ev.job_wall_s(eager)
    out["operators.build_s"] = max(dur(by["operators"]) - out["operators.eager_s"], 0.0)
    out["operators.py4j_calls"] = sum(s["py4j"] for s in by["operators"])
    out["operators.eager_jobs"] = len(eager)
    for k in ("analysis_ms", "optimization_ms", "planning_ms", "plan_nodes", "exchanges"):
        out[f"catalyst.{k}"] = attrs(by["exec"], k)
    out["catalyst.codegen_compiles"] = attrs(by["op"], "codegen_compiles")
    out["catalyst.codegen_ms"] = attrs(by["op"], "codegen_ms")
    action_s = dur(by["exec"])
    out["exec.action_s"] = action_s
    out["exec.driver_s"] = max(action_s - ev.job_wall_s(exec_jobs), 0.0)
    for k in ("jobs", "stages", "tasks", "task_ms", "cpu_ms", "gc_ms", "shuffle_read_b",
              "shuffle_write_b", "spill_b", "failed_tasks"):
        out[f"exec.{k}"] = ex[k]
    out["exec.cpu_frac"] = ex["cpu_ms"] / ex["task_ms"] if ex["task_ms"] else 0.0
    out["exec.shuffle_per_input"] = (
        (ex["shuffle_read_b"] + ex["shuffle_write_b"]) / ex["input_b"] if ex["input_b"] else 0.0)
    for k in ("python_run_ms", "python_start_ms", "python_init_ms", "python_rows",
              "python_bytes_sent", "python_bytes_returned"):
        out[f"kernel.{k}"] = ex[k]
    out["model_cache.fit_calls"] = attrs(by["operators"], "fit_calls")
    loads = attrs(by["operators"], "cache_loads")
    out["model_cache.hit_frac"] = attrs(by["operators"], "cache_hits") / loads if loads else 0.0
    # streaming progress events that fall inside this pass's stream ops
    stream_ops = [s for s in by["operators"] if s["name"] == "apply_delta_stream"]
    prog = [p for p in ev.progress
            if any(s["epoch0"] <= _iso_epoch(p["timestamp"]) <= s["epoch1"] for s in stream_ops)
            and sum(src.get("numInputRows", 0) for src in p.get("sources", [])) > 0]
    out["stream.batches"] = len(prog)
    out["stream.batch_p50_ms"] = (
        statistics.median(p["durationMs"].get("triggerExecution", 0) for p in prog) if prog else 0.0)
    out["stream.wal_commit_ms"] = sum(
        p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0) for p in prog)
    comp = attrs(stream_ops, "compactions")
    out["stream.compactions"] = comp
    out["stream.files_read_per_compaction"] = attrs(stream_ops, "files_read") / comp if comp else 0.0
    written = ev.job_totals(jobs_of(stream_ops))["output_b"] if stream_ops else 0
    out["stream.bytes_written"] = written
    out["stream.write_amp"] = written / (feed_b * len(stream_ops)) if stream_ops and feed_b else 0.0
    return out


def rss_tree_mb() -> float:
    """Summed peak RSS (VmHWM) of this process and its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0
