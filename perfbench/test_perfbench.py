"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import generate_inputs, compute_references, references_from_rows  # noqa: E402
from run import load_environment, metric_units  # noqa: E402
from tracing import StatusReader, Tracer, aggregate, parse_metric, self_times  # noqa: E402

# Every per-layer metric the benchmark promises, by name.
NAMED_METRICS = """
session.start_s sources.read_s sources.scan_ms core.job.plan_s
core.partitioning.partitions core.adapters.python_tasks
core.adapters.worker_start_ms core.adapters.worker_init_ms
core.adapters.map_run_ms core.adapters.arrow_bytes_out
core.adapters.arrow_bytes_in core.adapters.reduce_run_ms
core.adapters.reduce_ms_per_group core.counters.mapper_calls_per_record
core.counters.reducer_calls_per_key sinks.write_s sinks.actions_per_write
sinks.commit_ms sinks.files_written sinks.bytes_written plans.build_s
plans.eager_jobs catalyst.analysis_ms catalyst.optimization_ms
catalyst.planning_ms exec.jobs exec.stages exec.tasks exec.run_ms exec.cpu_ms
exec.gc_ms exec.task_skew exec.spill_bytes exec.peak_execution_memory
exchange.bytes_written exchange.records_written exchange.write_ms
exchange.fetch_wait_ms exchange.bytes_per_input_record trace.overhead_s
""".split()
END_TO_END = ["setup_s", "round_s", "records_per_s", "peak_rss_mb"]


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now

    def advance(self, dt):
        self.now += dt


def _traced_job(tracer: Tracer, clock: FakeClock, trace: str) -> None:
    tracer.trace = trace
    with tracer.span("job"):
        clock.advance(0.01)
        with tracer.span("core.job"):
            clock.advance(0.3)
            with tracer.span("sources.read"):
                clock.advance(0.2)
            clock.advance(0.05)
            with tracer.span("catalyst"):
                clock.advance(0.1)
            with tracer.span("sinks.write"):
                clock.advance(1.5)
        clock.advance(0.02)


def test_child_self_times_sum_to_job_wall_time():
    clock = FakeClock()
    tracer = Tracer(clock=clock, wall=clock)
    _traced_job(tracer, clock, "w/1/a")
    _traced_job(tracer, clock, "w/1/b")
    spans = tracer.trace_spans("w/1/b")
    root = next(s for _, s in spans if s.parent is None)
    selfs = self_times(spans)
    assert abs(sum(selfs.values()) - root.duration) < 1e-9
    assert abs(root.duration - 2.18) < 1e-9
    assert abs(selfs["core.job"] - 0.35) < 1e-9
    assert abs(selfs["job"] - 0.03) < 1e-9


def test_every_named_metric_is_emitted_with_a_unit():
    record = {
        "spans": [{"name": "job", "parent": None, "duration": 1.0, "wall_start": 0.0}],
        "self_times": {"job": 1.0},
        "catalyst": {},
        "status": {"jobs": [], "stages": {}, "skew": None, "executions": []},
        "counters": {},
        "nominal_records": 10,
    }
    metrics = aggregate([record], 1, session_start_s=1.0, overhead_s=0.1)
    assert sorted(metrics) == sorted(NAMED_METRICS)

    per_layer, end_to_end = metric_units("per_layer"), metric_units("end_to_end")
    assert sorted(per_layer) == sorted(NAMED_METRICS)
    assert sorted(end_to_end) == sorted(END_TO_END)
    assert all(per_layer.values()) and all(end_to_end.values())

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        listed = {w["name"] for w in json.load(fh)["workloads"]}
    assert listed == set(load_environment()["workloads"])


class FakeOption:
    def __init__(self, value):
        self.value = value

    def isDefined(self):
        return self.value is not None

    def get(self):
        return self.value


class FakeExecution:
    def __init__(self, eid, job_ids, nodes):
        self.eid, self.job_ids, self.nodes = eid, job_ids, nodes

    def executionId(self):
        return self.eid

    def jobs(self):
        return {str(j): "SUCCEEDED" for j in self.job_ids}

    def allNodes(self):
        return self.nodes


class FakeSeq(list):
    def apply(self, i):
        return self[i]


class FakeSqlStore:
    """The calls ``StatusReader`` makes on Spark's SQL status store. Each
    execution has one scan node whose scan time is its metric value."""

    def __init__(self):
        self.executions: list[FakeExecution] = []
        self.values: dict[str, str] = {}

    def run(self, job_ids, scan_ms="5 ms"):
        eid = len(self.executions)
        node = {"name": "Scan parquet", "metrics": [{"name": "scan time", "accumulatorId": eid}]}
        self.executions.append(FakeExecution(eid, job_ids, [node]))
        self.values[str(eid)] = scan_ms

    def executionsCount(self):
        return len(self.executions)

    def executionsList(self, offset, length):
        return FakeSeq(self.executions[offset:offset + length])

    def execution(self, eid):
        return FakeOption(self.executions[eid] if eid < len(self.executions) else None)

    def executionMetrics(self, eid):
        return self.values

    def planGraph(self, eid):
        return self.executions[eid]


def test_a_traced_job_reads_only_its_own_executions():
    store = FakeSqlStore()
    store.run([0, 1])  # warm-up, before tracing starts
    reader = StatusReader.__new__(StatusReader)
    reader.sql_store, reader._json = store, lambda obj: obj
    reader.next_execution = 0
    reader.mark()

    store.run([2], scan_ms="7 ms")  # traced round 1
    assert [e["id"] for e in reader.executions({2})] == [1]
    store.run([3], scan_ms="1 s")  # untraced round 2
    store.run([4, 5], scan_ms="11 ms")  # traced round 3, without a mark
    store.run([6], scan_ms="13 ms")
    got = reader.executions({4, 5, 6})
    assert [e["id"] for e in got] == [3, 4]
    assert [n["metrics"]["scan time"] for e in got for n in e["nodes"]] == ["11 ms", "13 ms"]

    store.run([7])  # untraced round 4
    reader.mark()
    store.run([8])  # traced round 5
    assert [e["id"] for e in reader.executions({8})] == [6]


def test_references_agree_with_a_hand_computed_case():
    refs = references_from_rows(
        ["a b a", "b c"],
        [(0, 7, "purchase", 5), (1, 7, "view", 3), (2, 9, "purchase", 1), (3, 8, "click", 2)],
    )
    assert refs.word_counts == Counter({"a": 2, "b": 2, "c": 1})
    assert refs.user_totals == {7: 8, 9: 1, 8: 2}
    assert refs.purchases == [(0, 7, 5), (2, 9, 1)]


def test_inputs_are_a_function_of_the_seed(tmp_path):
    params = {"docs": 20, "words_per_doc": 5, "vocabulary": 50, "word_zipf": 1.1,
              "events": 100, "users": 10, "user_zipf": 0.0}
    a = compute_references(generate_inputs(params, 3, str(tmp_path / "a")))
    b = compute_references(generate_inputs(params, 3, str(tmp_path / "b")))
    c = compute_references(generate_inputs(params, 4, str(tmp_path / "c")))
    assert a == b
    assert a != c
    assert sum(a.word_counts.values()) == 100


def test_parse_metric_reads_totals_in_base_units():
    assert parse_metric("33,464") == (33464.0, None)
    assert parse_metric("292.6 KiB") == (292.6 * 1024, None)
    assert parse_metric("0 ms") == (0.0, None)
    total, stage = parse_metric(
        "total (min, med, max (stageId: taskId))\n1.3 s (266 ms, 346 ms, 397 ms (stage 111.0: task 105))")
    assert (total, stage) == (1300.0, 111)
