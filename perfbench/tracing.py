"""Span tracing around the package's public functions, plus a reader for
Spark's own status stores.

Spans are set from the benchmark's files only: ``Tracer.wrap`` swaps a
module attribute or class method for a timing wrapper and
``Tracer.restore`` puts the original back. Nothing inside the package
changes. A span records its name, parent, wall-clock interval and the range
of Spark job ids submitted while it was open (the DAG scheduler hands out
job ids in submission order), so jobs launched *during* a call are
attributed to it even when the call only builds a plan.

After the traced operations, ``StatusStoreReader`` pulls every job, stage
and SQL execution from ``AppStatusStore`` / ``SQLAppStatusStore`` in one
JSON round trip each, and ``attribute`` folds them onto the spans:
inclusive and self counters per span, self time (span wall minus the part
its children cover) and driver idle time (span wall that no running job
covers).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ms", "gc_ms",
    "input_bytes", "output_bytes", "output_records", "shuffle_read_bytes",
    "shuffle_write_bytes", "shuffle_write_records", "spill_bytes",
    "sql_executions", "sql_plan_ms",
)


class Tracer:
    """In-memory span recorder; spans are plain dicts."""

    def __init__(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    def _next_job_id(self) -> int:
        return self._dag.numTotalJobs()

    @contextmanager
    def span(self, name: str):
        o0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "job0": self._next_job_id(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["t0"] = time.time()
        self.overhead_s += time.perf_counter() - o0
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            o1 = time.perf_counter()
            rec["job1"] = self._next_job_id()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - o1

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside
        ``span(name)``. ``before(args, kwargs)``
        may return state handed to ``after(state, rec)`` once the call
        returned; both run inside the span and count as tracing overhead."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                state = None
                if before is not None:
                    o0 = time.perf_counter()
                    state = before(args, kwargs)
                    self.overhead_s += time.perf_counter() - o0
                out = original(*args, **kwargs)
                if after is not None:
                    o0 = time.perf_counter()
                    after(state, rec)
                    self.overhead_s += time.perf_counter() - o0
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


class StatusStoreReader:
    """Reads jobs, stages and SQL executions from Spark's status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._gateway.jvm
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)

    def _json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self) -> tuple[dict, dict, list]:
        jsc = self.sc._jsc.sc()
        # the status listeners run on the listener bus thread; drain it so
        # every finished job and stage is in the store
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = {j["jobId"]: j for j in self._json(store.jobsList(None))}
        no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        stages: dict[int, list] = defaultdict(list)
        for s in self._json(store.stageList(None, False, False, no_quantiles, None)):
            stages[s["stageId"]].append(s)
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        executions = [
            {
                "id": e["executionId"],
                "submitted": e["submissionTime"],
                "jobs": sorted(int(j) for j in (e.get("jobs") or {})),
            }
            for e in self._json(sql_store.executionsList())
        ]
        return jobs, stages, executions


def _span_of(spans: list[dict], job_id: int) -> dict | None:
    """Innermost span whose job range holds ``job_id``: spans holding the
    same job are nested, and a child is recorded after its parent."""
    holding = [s for s in spans if s["job0"] <= job_id < s["job1"]]
    return max(holding, key=lambda s: s["id"]) if holding else None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(spans: list[dict], jobs: dict, stages: dict, executions: list) -> None:
    """Fold Spark's job, stage and execution records onto ``spans`` in
    place: ``self`` and ``incl`` counter dicts, ``wall_ms``, ``self_ms``
    and ``idle_ms`` (wall no running job covers)."""
    for s in spans:
        s["self"] = dict.fromkeys(COUNTERS, 0)
    # a stage belongs to the first job that lists it; later jobs list it
    # again as skipped
    stage_owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stageIds"]:
            stage_owner.setdefault(sid, jid)
    job_span = {jid: _span_of(spans, jid) for jid in jobs}
    for jid, s in job_span.items():
        if s is not None:
            s["self"]["jobs"] += 1
    for sid, attempts in stages.items():
        s = job_span.get(stage_owner.get(sid))
        if s is None:
            continue
        for a in attempts:
            if a["status"] == "SKIPPED":
                continue
            c = s["self"]
            c["stages"] += 1
            c["tasks"] += a["numCompleteTasks"] + a["numFailedTasks"]
            c["exec_run_ms"] += a["executorRunTime"]
            c["exec_cpu_ms"] += a["executorCpuTime"] / 1e6
            c["gc_ms"] += a["jvmGcTime"]
            c["input_bytes"] += a["inputBytes"]
            c["output_bytes"] += a["outputBytes"]
            c["output_records"] += a["outputRecords"]
            c["shuffle_read_bytes"] += a["shuffleReadBytes"]
            c["shuffle_write_bytes"] += a["shuffleWriteBytes"]
            c["shuffle_write_records"] += a["shuffleWriteRecords"]
            c["spill_bytes"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
    for e in executions:
        if e["jobs"]:
            s = job_span.get(e["jobs"][0])
            first = jobs.get(e["jobs"][0])
            if s is not None and first is not None:
                s["self"]["sql_plan_ms"] += max(0, first["submissionTime"] - e["submitted"])
        else:
            # an execution without jobs (DDL, catalog commands): the
            # innermost span open at its submission time
            t = e["submitted"] / 1000.0
            open_ = [x for x in spans if x["t0"] <= t <= x["t1"]]
            s = max(open_, key=lambda x: x["id"]) if open_ else None
        if s is not None:
            s["self"]["sql_executions"] += 1

    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    job_intervals = [
        (j["submissionTime"] / 1000.0, (j.get("completionTime") or j["submissionTime"]) / 1000.0)
        for j in jobs.values()
    ]

    def incl(s: dict) -> dict:
        if "incl" not in s:
            tot = dict(s["self"])
            for ch in children[s["id"]]:
                for k, v in incl(ch).items():
                    tot[k] += v
            s["incl"] = tot
        return s["incl"]

    for s in spans:
        incl(s)
        wall = s["t1"] - s["t0"]
        s["wall_ms"] = wall * 1000.0
        s["self_ms"] = (
            wall - _covered([(c["t0"], c["t1"]) for c in children[s["id"]]], s["t0"], s["t1"])
        ) * 1000.0
        s["idle_ms"] = (wall - _covered(job_intervals, s["t0"], s["t1"])) * 1000.0
