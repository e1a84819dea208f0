"""Spans around the benchmark's calls into each layer, plus the engine
numbers Spark's own monitoring surfaces give for them.

A span has a name, a layer, a start, an end, a parent and a job id.
Spans stay in memory and are written out once, when the run ends.  A
disabled tracer hands out a no-op context, so the untraced runs
execute the same job code at no measurable cost.

Engine numbers, collected only when tracing:

- py4j calls: a counting wrapper around the gateway client's
  ``send_command`` (every driver-to-JVM round trip goes through it);
- Catalyst phases: a fresh ``QueryExecution`` of a probed DataFrame's
  plan, each phase timed;
- Janino compiles: the count of ``CodegenMetrics.METRIC_COMPILATION_TIME``
  and the ``CodeGenerator.compileTime`` accumulator;
- jobs, tasks, executor run time and shuffle bytes: the jobs of the
  span's job group, read from the UI REST API after the run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
import urllib.parse
import urllib.request

#: layer of a span that is one whole job of a workload
JOB = "job"
#: layer of a span around a Spark action (collect, write) in a job.
#: Spark is lazy, so the action runs the whole plan: the scan, the
#: parse and the write together.  Those layers' own costs come from
#: the layer probes, not from their self time in a job.
ENGINE = "engine"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list = []
        self._stack: list = []
        self._ids = itertools.count(1)
        self.py4j_calls = 0
        self._orig_send = None

    # -- engine hooks --------------------------------------------------
    def attach(self, spark) -> None:
        """Start counting py4j round trips on ``spark``'s gateway."""
        self.spark = spark
        if not self.enabled or self._orig_send is not None:
            return
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return orig(*args, **kwargs)

        client.send_command = counted
        self._orig_send = (client, orig)

    def detach(self) -> None:
        if self._orig_send is not None:
            client, orig = self._orig_send
            client.send_command = orig
            self._orig_send = None

    def _codegen(self) -> tuple:
        """(Janino compiles, compile ms) so far in this JVM: the compile
        count histogram, and the exact compile-time accumulator."""
        jvm = self.spark.sparkContext._jvm
        count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return int(count), nanos / 1e6

    # -- spans -----------------------------------------------------------
    def span(self, name: str, layer: str, job=None, engine: bool = False):
        """Context manager timing one call into ``layer``.

        ``engine=True`` marks a span that runs Spark jobs: they are put
        in a job group of their own so their stages can be found later,
        and codegen counts are read around it."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, layer, job, engine)

    @contextlib.contextmanager
    def _span(self, name, layer, job, engine):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "job": job if job is not None else (parent["job"] if parent else None),
        }
        if engine:
            rec["group"] = f"perfbench-{rec['id']}"
            rec["codegen0"] = self._codegen()
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", rec["group"])
        self._stack.append(rec)
        py4j0 = self.py4j_calls
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j_calls - py4j0
            self._stack.pop()
            if engine:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                c1, ms1 = self._codegen()
                c0, ms0 = rec.pop("codegen0")
                rec["codegen_compiles"] = c1 - c0
                rec["codegen_compile_ms"] = ms1 - ms0
            self.spans.append(rec)

    def catalyst_ms(self, df) -> dict:
        """Analysis, optimization and planning time (ms) of ``df``'s plan:
        a fresh ``QueryExecution`` of its logical plan, each lazy phase
        forced and timed in turn.  (The query tracker's own phase
        summaries count whole milliseconds only.)"""
        jvm = self.spark.sparkContext._jvm
        state = self.spark._jsparkSession.sessionState()
        logical = df._jdf.queryExecution().logical()
        t0 = time.perf_counter()
        qe = state.executePlan(logical, jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL())
        qe.analyzed()
        t1 = time.perf_counter()
        qe.optimizedPlan()
        t2 = time.perf_counter()
        qe.executedPlan()
        t3 = time.perf_counter()
        return {"analysis": (t1 - t0) * 1e3, "optimization": (t2 - t1) * 1e3,
                "planning": (t3 - t2) * 1e3}

    # -- after the run -------------------------------------------------
    def collect_stage_metrics(self, timeout: float = 20.0) -> None:
        """Fill jobs/tasks/executor time/shuffle bytes of every engine
        span from the UI REST API.  The status store is updated
        asynchronously, so poll until every job of a span has ended."""
        groups = {r["group"]: r for r in self.spans if "group" in r}
        if not groups:
            return
        sc = self.spark.sparkContext
        url = urllib.parse.urlsplit(sc.uiWebUrl)
        base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"
        deadline = time.monotonic() + timeout
        while True:
            jobs = _get_json(base + "/jobs")
            pending = [
                j for j in jobs
                if j.get("jobGroup") in groups and j["status"] == "RUNNING"
            ]
            if not pending or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for s in _get_json(base + "/stages"):
            if s["status"] in ("COMPLETE", "FAILED"):
                stages.setdefault(s["stageId"], []).append(s)
        for r in groups.values():
            r.update(jobs=0, tasks=0, executor_run_ms=0, shuffle_read_bytes=0,
                     shuffle_write_bytes=0)
        for j in jobs:
            r = groups.get(j.get("jobGroup"))
            if r is None:
                continue
            r["jobs"] += 1
            for sid in j.get("stageIds", ()):
                for s in stages.get(sid, ()):
                    r["tasks"] += s["numCompleteTasks"]
                    r["executor_run_ms"] += s["executorRunTime"]
                    r["shuffle_read_bytes"] += s["shuffleReadBytes"]
                    r["shuffle_write_bytes"] += s["shuffleWriteBytes"]

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        spans = []
        for r in self.spans:
            r = dict(r)
            r["start"] -= t0
            r["end"] -= t0
            spans.append(r)
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, sort_keys=True)


def self_times(spans) -> dict:
    """Span id -> the span's duration minus the time its child spans
    cover (children of one span run one after another)."""
    child_time: dict = {}
    for r in spans:
        if r["parent"] is not None:
            child_time[r["parent"]] = child_time.get(r["parent"], 0.0) + r["end"] - r["start"]
    return {r["id"]: r["end"] - r["start"] - child_time.get(r["id"], 0.0) for r in spans}


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)
