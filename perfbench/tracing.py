"""Spans around the calls into the engine's layers, and the per-job reads of
Spark's status store that give each layer its counts.

Spans live in memory and are written out when the run ends. Each job is one
trace; its id (``workload/round/job``) is also the Spark job group, so the
status store can be asked for exactly that job's Spark jobs. Status-store
reads happen right after each job finishes, because the store keeps only
the last 1000 jobs and executions.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

# Per-layer metrics that each traced job contributes to and ``aggregate``
# sums over a round; the prefix names the repo module or Spark layer the
# number comes from. Units are listed in BENCHMARK.json.
PER_JOB = (
    "sources.read_s", "sources.scan_ms", "core.job.plan_s",
    "core.partitioning.partitions", "core.adapters.python_tasks",
    "core.adapters.worker_start_ms", "core.adapters.worker_init_ms",
    "core.adapters.map_run_ms", "core.adapters.arrow_bytes_out",
    "core.adapters.arrow_bytes_in", "core.adapters.reduce_run_ms",
    "sinks.write_s", "sinks.commit_ms", "sinks.files_written",
    "sinks.bytes_written", "plans.build_s", "plans.eager_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
    "exec.gc_ms", "exec.spill_bytes", "exec.peak_execution_memory",
    "exchange.bytes_written", "exchange.records_written", "exchange.write_ms",
    "exchange.fetch_wait_ms",
)

# A DataFrame action tags all its Spark jobs with its root SQL execution.
# Untagged jobs come from RDD actions, except the ones adaptive execution
# submits to materialize a query stage, which carry this call site.
_EXECUTION_TAG = "-execution-root-id-"
_STAGE_JOB_SITE = "withThreadLocalCaptured"


def _action_of(job: dict) -> str | None:
    for tag in job["tags"]:
        if _EXECUTION_TAG in tag:
            return tag
    return None if _STAGE_JOB_SITE in job["name"] else f"job-{job['id']}"


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    trace: str
    name: str
    parent: int | None
    start: float
    wall_start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records nested spans for one trace at a time on one thread."""

    clock: object = time.perf_counter
    wall: object = time.time
    spans: list[Span] = field(default_factory=list)
    trace: str = ""
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(self.trace, name, parent, self.clock(), self.wall())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = self.clock()

    def trace_spans(self, trace: str) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.trace == trace]


def span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def self_times(spans: list[tuple[int, Span]]) -> dict[str, float]:
    """Self time per span name: a span's duration minus the part of its
    interval that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for _, s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.name] = out.get(s.name, 0.0) + s.duration - covered
    return out


# --- wrappers the job API calls through --------------------------------------


class TracedInput:
    """Input whose ``read`` is a ``sources.read`` span."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def read(self, spark):
        with self.tracer.span("sources.read"):
            return self.inner.read(spark)


class TracedOutput:
    """Output that forces physical planning in a ``catalyst`` span, then
    writes in a ``sinks.write`` span."""

    def __init__(self, inner, tracer: Tracer, catalyst: dict):
        self.inner, self.tracer, self.catalyst = inner, tracer, catalyst

    def write(self, df, job_name: str = ""):
        force_plan(df, self.tracer, self.catalyst)
        with self.tracer.span("sinks.write"):
            return self.inner.write(df, job_name)


def force_plan(df, tracer: Tracer, catalyst: dict) -> None:
    """Run analysis, optimization and planning ahead of the action, in a
    ``catalyst`` span, and keep Catalyst's own phase times."""
    with tracer.span("catalyst"):
        qe = df._jdf.queryExecution()
        qe.executedPlan()
    phases = qe.tracker().phases().iterator()
    while phases.hasNext():
        phase = phases.next()
        key = f"catalyst.{phase._1()}_ms"
        catalyst[key] = catalyst.get(key, 0) + phase._2().durationMs()


# --- status store ------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-6, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}
_MAX_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_metric(text: str) -> tuple[float, int | None]:
    """Total of a formatted SQL metric (bytes and times in B and ms) and, for
    per-task metrics, the stage of the task with the largest value."""
    line = text.strip().split("\n")[-1]
    head = line.split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    if len(head) > 1:
        value *= _UNITS[head[1]]
    stage = _MAX_STAGE.search(line)
    return value, int(stage.group(1)) if stage else None


class StatusReader:
    """Reads one job group's Spark jobs, stages, tasks and SQL executions
    from the status store, right after the group finished."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        # A Jackson mapper in the driver JVM: one py4j call turns a
        # status-store object into JSON.
        jvm = self.sc._jvm
        self.om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.om.registerModule(scala_module.__getattr__("MODULE$"))
        self.next_execution = 0
        self.mark()

    def mark(self) -> None:
        """Start the next read after the last SQL execution recorded so far,
        so that executions of untraced jobs are not scanned."""
        n = self.sql_store.executionsCount()
        if n:
            self.next_execution = self.sql_store.executionsList(n - 1, 1).apply(0).executionId() + 1

    def _json(self, obj):
        return json.loads(self.om.writeValueAsString(obj))

    def read(self, group: str) -> dict:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        jobs, stage_ids = [], set()
        for job_id in sorted(job_ids):
            jd = self._json(self.app_store.job(job_id))
            jobs.append({"id": job_id, "name": jd["name"], "tags": jd["jobTags"],
                         "submitted_ms": jd["submissionTime"]})
            stage_ids.update(jd["stageIds"])
        stages = {}
        for sid in sorted(stage_ids):
            sd = self._json(self.app_store.lastStageAttempt(sid))
            stages[sid] = {k: sd[k] for k in (
                "status", "attemptId", "numCompleteTasks", "executorRunTime",
                "executorCpuTime", "jvmGcTime", "memoryBytesSpilled",
                "diskBytesSpilled", "peakExecutionMemory", "shuffleWriteBytes",
                "shuffleWriteRecords", "shuffleWriteTime", "shuffleFetchWaitTime")}
        return {"jobs": jobs, "stages": stages, "skew": self._skew(stages),
                "executions": self.executions(job_ids)}

    def _skew(self, stages: dict) -> float | None:
        ran = {sid: s for sid, s in stages.items() if s["status"] == "COMPLETE"}
        if not ran:
            return None
        sid = max(ran, key=lambda k: (ran[k]["numCompleteTasks"], k))
        tasks = self._json(self.app_store.taskList(sid, ran[sid]["attemptId"], 100_000))
        times = [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")]
        med = statistics.median(times) if times else 0
        return max(times) / med if med > 0 else 1.0

    def executions(self, job_ids: set[int]) -> list[dict]:
        """The plan nodes and metric values of the SQL executions recorded
        since the last read that ran one of ``job_ids``. Executions of other
        jobs (an untraced round, or work outside the group) are skipped."""
        out = []
        while True:
            eid = self.next_execution
            found = self.sql_store.execution(eid)
            if not found.isDefined():
                return out
            self.next_execution += 1
            if not {int(j) for j in self._json(found.get().jobs())} & job_ids:
                continue
            values = self._json(self.sql_store.executionMetrics(eid))
            nodes = []
            for node in self._json(self.sql_store.planGraph(eid).allNodes()):
                metrics = {m["name"]: values[str(m["accumulatorId"])]
                           for m in node["metrics"] if str(m["accumulatorId"]) in values}
                if metrics:
                    nodes.append({"name": node["name"], "metrics": metrics})
            out.append({"id": eid, "nodes": nodes})


# --- per-layer aggregation ---------------------------------------------------

_PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas")
_WORKER_METRICS = {
    "time to start Python workers": "core.adapters.worker_start_ms",
    "time to initialize Python workers": "core.adapters.worker_init_ms",
    "data sent to Python workers": "core.adapters.arrow_bytes_out",
    "data returned from Python workers": "core.adapters.arrow_bytes_in",
}
_WRITE_METRICS = {
    "task commit time": "sinks.commit_ms",
    "job commit time": "sinks.commit_ms",
    "number of written files": "sinks.files_written",
    "written output": "sinks.bytes_written",
}


def job_layers(record: dict) -> dict[str, float]:
    """Layer sums for one traced job. ``record`` holds the job's spans
    (name, duration, wall start), self times, status-store read, Catalyst
    phases, engine counters and the job's fixed input facts."""
    m: dict[str, float] = dict.fromkeys(PER_JOB, 0.0)
    spans = record["spans"]
    for s in spans:
        if s["name"] == "sources.read":
            m["sources.read_s"] += s["duration"]
        elif s["name"] == "sinks.write":
            m["sinks.write_s"] += s["duration"]
        elif s["name"] == "plans.build":
            m["plans.build_s"] += s["duration"]
    m["core.job.plan_s"] = record["self_times"].get("core.job", 0.0)
    for k, v in record["catalyst"].items():
        if k in m:  # a query built from SQL text also has a parsing phase
            m[k] += v

    def opened_in(job: dict, name: str) -> bool:
        """Whether the Spark job was submitted while a ``name`` span was open
        (submission times are whole milliseconds)."""
        t = job["submitted_ms"]
        return any(s["wall_start"] * 1000 - 1 <= t <= (s["wall_start"] + s["duration"]) * 1000 + 1
                   for s in spans if s["name"] == name)

    writes = sum(1 for s in spans if s["name"] == "sinks.write")
    actions: set[str] = set()
    status = record["status"]
    for job in status["jobs"]:
        if opened_in(job, "plans.build"):
            m["plans.eager_jobs"] += 1
        if opened_in(job, "sinks.write") and _action_of(job) is not None:
            actions.add(_action_of(job))
    m["exec.jobs"] = len(status["jobs"])

    for st in status["stages"].values():
        if st["status"] != "COMPLETE":
            continue
        m["exec.stages"] += 1
        m["exec.tasks"] += st["numCompleteTasks"]
        m["exec.run_ms"] += st["executorRunTime"]
        m["exec.cpu_ms"] += st["executorCpuTime"] / 1e6
        m["exec.gc_ms"] += st["jvmGcTime"]
        m["exec.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        m["exec.peak_execution_memory"] = max(m["exec.peak_execution_memory"],
                                              st["peakExecutionMemory"])
        m["exchange.bytes_written"] += st["shuffleWriteBytes"]
        m["exchange.records_written"] += st["shuffleWriteRecords"]
        m["exchange.write_ms"] += st["shuffleWriteTime"] / 1e6
        m["exchange.fetch_wait_ms"] += st["shuffleFetchWaitTime"]

    python_tasks: dict[int, int] = {}
    for ex in status["executions"]:
        for node in ex["nodes"]:
            name, metrics = node["name"], node["metrics"]
            if name in _PYTHON_NODES:
                for metric, text in metrics.items():
                    value, stage = parse_metric(text)
                    if metric in _WORKER_METRICS:
                        m[_WORKER_METRICS[metric]] += value
                    elif metric == "time to run Python workers":
                        run_key = ("core.adapters.map_run_ms" if name == "MapInPandas"
                                   else "core.adapters.reduce_run_ms")
                        m[run_key] += value
                        # A per-task metric names the stage; a single value
                        # means the node ran in one task.
                        if stage in status["stages"]:
                            python_tasks[stage] = status["stages"][stage]["numCompleteTasks"]
                        else:
                            python_tasks[-1 - len(python_tasks)] = 1
            elif name.startswith("Scan ") and "scan time" in metrics:
                m["sources.scan_ms"] += parse_metric(metrics["scan time"])[0]
            elif name.startswith("Execute InsertInto"):
                for metric, key in _WRITE_METRICS.items():
                    if metric in metrics:
                        m[key] += parse_metric(metrics[metric])[0]
    m["core.adapters.python_tasks"] = sum(python_tasks.values())
    m["_writes"], m["_actions"] = writes, len(actions)
    m["_skew"] = status["skew"]
    counters = record.get("counters", {})
    m["_mapper_calls"] = counters.get("mapper-calls", 0)
    m["_reducer_calls"] = counters.get("reducer-calls", 0)
    m["_records"] = record["nominal_records"]
    m["_mapper_records"] = record["nominal_records"] if "mapper-calls" in counters else 0
    m["_keys"] = record.get("distinct_keys", 0)
    m["core.partitioning.partitions"] = record.get("partitions", 0)
    return m


def aggregate(records: list[dict], rounds: int, session_start_s: float,
              overhead_s: float) -> dict[str, float]:
    """Every per-layer metric over the traced rounds: sums are per round
    (total over ``rounds``); ratios are taken over all traced jobs."""
    per_job = [job_layers(r) for r in records]
    total = {k: sum(j[k] for j in per_job) for k in per_job[0] if k != "_skew"} if per_job else {}
    out = {k: total.get(k, 0.0) / max(rounds, 1) for k in PER_JOB}

    def ratio(a: str, b: str) -> float:
        return total[a] / total[b] if total.get(b) else 0.0

    out["core.adapters.reduce_ms_per_group"] = ratio("core.adapters.reduce_run_ms", "_reducer_calls")
    out["core.counters.mapper_calls_per_record"] = ratio("_mapper_calls", "_mapper_records")
    out["core.counters.reducer_calls_per_key"] = ratio("_reducer_calls", "_keys")
    out["sinks.actions_per_write"] = ratio("_actions", "_writes")
    out["exchange.bytes_per_input_record"] = ratio("exchange.bytes_written", "_records")
    out["exec.peak_execution_memory"] = max((j["exec.peak_execution_memory"] for j in per_job), default=0)
    skews = [j["_skew"] for j in per_job if j["_skew"] is not None]
    out["exec.task_skew"] = statistics.median(skews) if skews else 0.0
    out["session.start_s"] = session_start_s
    out["trace.overhead_s"] = overhead_s
    return out
