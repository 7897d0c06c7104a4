"""Traced runs: spans around the public calls into each layer, with
Spark's own counters attached.

Spans are recorded in memory (name, start, end, parent span, run id)
and written out when the run ends. Each span gets its own Spark job
group, so status-store jobs and stages attach to the innermost open
span; a streaming query's micro-batch jobs run under the query's
`runId` group and attach to the span that started it.

Counters come from three places, all public to the driver:
- the status store (jobs and stages, by job group);
- streaming progress events (`StreamingQuery.recentProgress`);
- executed-plan SQL metrics (the SQL status store's plan graphs and
  metric values; sizes and times there are display strings with three
  significant digits, counts are exact).

The wrappers replace module attributes for the duration of the run.
That reaches every call the registry queries make, because they call
`dedup.*` through the module object and import
`streaming.*` inside the function body.
"""

from __future__ import annotations

import functools
import importlib
import json
import math
import time
from collections import defaultdict
from contextlib import contextmanager

from workloads import ALL_QUERIES

# (module, function) pairs wrapped in a `<package>.<module>.<fn>` span
OPERATORS = (
    ("examples_scala_spark.operators.dedup", "ngram_jaccard_pairs"),
    ("examples_scala_spark.streaming.stateful",
     "temperature_delta_alerts_traced"),
)
# spans whose time and jobs are reported as per-layer metrics; the
# rest are kept in the span file only
REPORTED_OPERATORS = ("dedup.ngram_jaccard_pairs",)
QUERY_METRICS = ("build_s", "action_s", "jobs", "task_cpu_s",
                 "shuffle_write_bytes")
_SUMMED = ("stages", "tasks", "task_run_s", "gc_s", "shuffle_read_bytes",
           "spill_bytes")
QUERY_TOTALS = ("jobs_per_query",) + _SUMMED + ("busy_ratio",)
STREAMING = ("batches", "input_rows", "add_batch_ms", "planning_ms",
             "offset_ms", "commit_ms", "state_rows_peak",
             "state_mem_bytes_peak", "state_commit_ms", "state_update_ms",
             "dropped_by_watermark", "rows_per_s",
             "batch_ms.p50", "batch_ms.p90")


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_ms", ".p50", ".p90")):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    names = ["session.launch_s", "session.start_s", "session.warmup_s",
             "sources.scan_ms", "sources.files_read", "sources.bytes_read",
             "sources.rows_read", "sources.stage_s",
             "sources.tmp_bytes_left"]
    names += [f"queries.{q}.{m}" for q in ALL_QUERIES for m in QUERY_METRICS]
    names += [f"queries.{m}" for m in QUERY_TOTALS]
    names += [f"operators.{op}.{m}" for op in REPORTED_OPERATORS
              for m in ("s", "jobs")]
    names += ["operators.python_rows", "operators.python_bytes_sent",
              "operators.python_bytes_received",
              "operators.python_workers_rss_mb"]
    names += [f"streaming.{m}" for m in STREAMING]
    names += ["trace.overhead_s"]
    return {n: _unit(n) for n in names}


class Tracer:
    """In-memory span recorder that tags Spark jobs with the innermost
    open span. Spans are opened from the driver's main thread only."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.begin_pass()

    def begin_pass(self) -> None:
        """Start collecting the streams of a new pass."""
        self.first_span = len(self.spans)
        self.streams: list[tuple[object, int | None]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{self.run_id}-{sid}",
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def subtree(self, sid: int) -> list[dict]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s["id"])
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(kids[i])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextmanager
def installed(tracer: Tracer):
    """Replace the operator entry points and the streaming writer's
    `start` with span-recording wrappers; restore the originals on
    exit."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter
    saved = []

    def patch(owner, attr, wrapper):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    for modname, fn in OPERATORS:
        span_name = f"{modname.removeprefix('examples_scala_spark.')}.{fn}"

        def wrap(orig, name=span_name):
            def call(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)
            return call
        patch(importlib.import_module(modname), fn, wrap)

    def wrap_start(orig):
        def start(self, *a, **kw):
            q = orig(self, *a, **kw)
            tracer.streams.append(
                (q, tracer._stack[-1] if tracer._stack else None))
            return q
        return start
    patch(DataStreamWriter, "start", wrap_start)

    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


class Counters:
    """Reads the status stores once, as JSON, and answers per-group
    questions from that snapshot."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._mapper = mapper
        store = sc._jsc.sc().statusStore()
        jobs = self._json(store.jobsList(None))
        self.jobs_by_group = defaultdict(list)
        for j in jobs:
            self.jobs_by_group[j.get("jobGroup")].append(j)
        stages = self._json(store.stageList(
            None, *(getattr(store, f"stageList$default${i}")()
                    for i in range(2, 6))))
        self.stages = {}
        for s in sorted(stages, key=lambda s: s["attemptId"]):
            self.stages[s["stageId"]] = s  # last attempt wins
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._execs = self._json(self._sql.executionsList())

    def _json(self, jobj):
        return json.loads(self._mapper.writeValueAsString(jobj))

    def job_stats(self, groups) -> dict:
        jobs = [j for g in groups for j in self.jobs_by_group.get(g, ())]
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        run = [self.stages[s] for s in stage_ids
               if s in self.stages and self.stages[s]["status"] != "SKIPPED"]
        return {
            "jobs": len(jobs),
            "job_ids": {j["jobId"] for j in jobs},
            "stages": len(run),
            "tasks": sum(s["numCompleteTasks"] for s in run),
            "task_run_s": sum(s["executorRunTime"] for s in run) / 1e3,
            "task_cpu_s": sum(s["executorCpuTime"] for s in run) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in run) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in run),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in run),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in run),
        }

    def plan_metrics(self, job_ids: set) -> dict:
        """Scan and Python-boundary SQL metrics of every execution that
        ran one of `job_ids`, each accumulator counted once."""
        scan, py, values = set(), set(), {}
        for e in self._execs:
            if not job_ids.intersection(int(k) for k in e.get("jobs", {})):
                continue
            values.update(e.get("metricValues") or {})
            nodes = self._json(
                self._sql.planGraph(e["executionId"]).allNodes())
            for node in nodes:
                ms = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
                if "number of files read" in ms:
                    scan.update((str(i), n) for n, i in ms.items())
                if "data sent to Python workers" in ms:
                    py.update((str(i), n) for n, i in ms.items())

        def total(pairs, name):
            return sum(metric_value(values.get(i, "0"))
                       for i, n in pairs if n == name)
        return {
            "sources.scan_ms": total(scan, "scan time"),
            "sources.files_read": total(scan, "number of files read"),
            "sources.bytes_read": total(scan, "size of files read"),
            "sources.rows_read": total(scan, "number of output rows"),
            "operators.python_rows": total(py, "number of output rows"),
            "operators.python_bytes_sent":
                total(py, "data sent to Python workers"),
            "operators.python_bytes_received":
                total(py, "data returned from Python workers"),
        }


_SCALE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def metric_value(text: str) -> float:
    """Parse a SQL metric display string: `1,234`, `9 ms`, or the
    multi-task form `total (min, med, max ...)\n11.2 MiB (...)`, whose
    first figure is the total. Sizes come out in bytes, times in ms."""
    head = text.strip().splitlines()[-1].split(" (")[0].split()
    if not head:
        return 0.0
    return float(head[0].replace(",", "")) * (
        _SCALE[head[1]] if len(head) > 1 else 1)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; 0 for no samples."""
    if not values:
        return 0.0
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


def stream_metrics(progress: list[dict]) -> dict:
    """Per-workload totals over the micro-batches' progress events."""
    out = dict.fromkeys(f"streaming.{m}" for m in STREAMING)
    d = [p.get("durationMs", {}) for p in progress]
    trig = [x.get("triggerExecution", 0) for x in d]
    rows = sum(p.get("numInputRows", 0) for p in progress)

    def ops(p, k):
        return sum(o.get(k, 0) for o in p.get("stateOperators", ()))
    out.update({
        "streaming.batches": len(progress),
        "streaming.input_rows": rows,
        "streaming.add_batch_ms": sum(x.get("addBatch", 0) for x in d),
        "streaming.planning_ms": sum(x.get("queryPlanning", 0) for x in d),
        "streaming.offset_ms": sum(x.get("latestOffset", 0)
                                   + x.get("getBatch", 0) for x in d),
        "streaming.commit_ms": sum(x.get("walCommit", 0)
                                   + x.get("commitOffsets", 0) for x in d),
        "streaming.state_rows_peak":
            max((ops(p, "numRowsTotal") for p in progress), default=0),
        "streaming.state_mem_bytes_peak":
            max((ops(p, "memoryUsedBytes") for p in progress), default=0),
        "streaming.state_commit_ms":
            sum(ops(p, "commitTimeMs") for p in progress),
        "streaming.state_update_ms":
            sum(ops(p, "allUpdatesTimeMs") for p in progress),
        "streaming.dropped_by_watermark":
            sum(ops(p, "numRowsDroppedByWatermark") for p in progress),
        "streaming.rows_per_s": rows / (sum(trig) / 1e3) if sum(trig) else 0,
        "streaming.batch_ms.p50": percentile(trig, 0.5),
        "streaming.batch_ms.p90": percentile(trig, 0.9),
    })
    return out


def per_layer(spark, tracer: Tracer, passes, setups, nproc: int) -> dict:
    """Per-layer metrics of a traced run. Counts come from the last
    traced pass (they repeat exactly across passes); times are medians
    over the traced passes. `passes` are the timed passes, traced and
    untraced."""
    from statistics import median
    out = dict.fromkeys(per_layer_units(), 0)
    out["session.launch_s"] = sum(setups[0])  # the set-up that starts the JVM
    out["session.start_s"] = median(s for s, _ in setups)
    out["session.warmup_s"] = median(w for _, w in setups)
    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced]
    out["trace.overhead_s"] = (median(p.wall for p in traced)
                               - median(p.wall for p in untraced))
    last = traced[-1]
    counters = Counters(spark)
    totals = defaultdict(float)
    job_ids: set = set()
    progress: list[dict] = []
    for q, sid in last.spans.items():
        sub = {s["id"] for s in tracer.subtree(sid)}
        streams = [sq for sq, at in tracer.streams if at in sub]
        st = counters.job_stats([tracer.spans[i]["group"] for i in sub]
                                + [str(sq.runId) for sq in streams])
        times = [p.times[q] for p in traced if q in p.times]
        if not times:
            continue
        out[f"queries.{q}.build_s"] = median(t[0] for t in times)
        out[f"queries.{q}.action_s"] = median(t[1] for t in times)
        for m in ("jobs", "task_cpu_s", "shuffle_write_bytes"):
            out[f"queries.{q}.{m}"] = st[m]
        for m in ("jobs",) + _SUMMED:
            totals[m] += st[m]
        job_ids |= st["job_ids"]
        prog = [json.loads(p.json) for sq in streams
                for p in sq.recentProgress]
        progress += prog
        if streams:  # staging and start-up: build time outside batches
            out["sources.stage_s"] += last.times[q][0] - sum(
                p.get("durationMs", {}).get("triggerExecution", 0)
                for p in prog) / 1e3
    for m in _SUMMED:
        out[f"queries.{m}"] = totals[m]
    out["queries.jobs_per_query"] = totals["jobs"] / len(last.spans)
    out["queries.busy_ratio"] = totals["task_run_s"] / (last.wall * nproc)
    for s in tracer.spans[tracer.first_span:]:
        op = s["name"].removeprefix("operators.")
        if op in REPORTED_OPERATORS:
            out[f"operators.{op}.s"] += s["end"] - s["start"]
            out[f"operators.{op}.jobs"] += counters.job_stats(
                [i["group"] for i in tracer.subtree(s["id"])])["jobs"]
    out.update(counters.plan_metrics(job_ids))
    out.update(stream_metrics(progress))
    return out
