#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, one workload per process.

    python3 perfbench/run.py --workload mr_many_keys --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client drives one long-lived
``local[N]`` SparkSession in a closed loop: the next job is submitted only
after the previous one finished, and every job's output is checked. A round
is the workload's fixed job list; rounds repeat until ``--seconds`` have
passed.

Set-up (``setup_s``) runs from loading the engine to the end of one warm-up
pass; the benchmark's own input generation and reference answers come before
it. Untimed rounds follow for the workload's ``warm_up_s``, then the memory
high-water marks are reset, so ``peak_rss_mb`` covers the measured rounds.

With ``--trace 0`` the end-to-end metrics are printed; with ``--trace 1``
traced and untraced rounds alternate, and the per-layer metrics of the
traced rounds are printed together with the tracing overhead. The last line
of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Workload parameters and the
pinned environment are in ``environment.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_environment() -> dict:
    with open(os.path.join(HERE, "environment.json")) as fh:
        return json.load(fh)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics, as
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args(argv=None) -> argparse.Namespace:
    workloads = load_environment()["workloads"]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    args.spec = workloads[args.workload]
    return args


def configure(work: str) -> dict[str, str]:
    """Set the environment variables ``environment.json`` pins before the
    JVM starts; returns its Spark settings. ``{nproc}``, ``{work}`` and
    ``{checkout}`` in a value stand for the cores this process may use, the
    workload's scratch directory and the root of the checkout."""
    env = load_environment()
    fill = {"nproc": len(os.sched_getaffinity(0)), "work": work, "checkout": ROOT}
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({k: v["value"].format(**fill) for k, v in env["environment"].items()})
    return {k: v["value"].format(**fill) for k, v in env["spark_conf"].items()}


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def cpu_steal() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks. On a virtual machine, time the
    hypervisor gave this machine's CPUs to others shows as steal; it slows
    every round without any change to the program."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def reset_peak_rss(pids) -> None:
    """Start a new VmHWM high-water mark for each process."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Client:
    """Runs jobs one at a time, checks each output, and counts failures."""

    def __init__(self, spark, workload, label: str):
        self.spark, self.workload, self.label = spark, workload, label
        self.attempted = self.failed = 0
        self.pending: list[tuple[str, object]] = []
        self.job_seconds: dict[str, list[float]] = {n: [] for n in workload.names}
        self.records: list[dict] = []
        self.reader = None
        self.tracer = None

    def run_round(self, order, round_no: int, traced: bool = False, defer: bool = False) -> float:
        """Run every job of the round; returns the time spent in the jobs
        (checks excluded)."""
        spent = 0.0
        for name in order:
            trace_id = f"{self.label}/{round_no}/{name}"
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    output, record = self._traced(name, trace_id)
                else:
                    output, _ = self.workload.run(self.spark, name)
                    record = None
            except Exception:
                spent += time.perf_counter() - t0
                self.failed += 1
                print(f"# job {trace_id} raised:\n{traceback.format_exc()}", file=sys.stderr)
                continue
            dt = time.perf_counter() - t0
            spent += dt
            self.job_seconds[name].append(dt)
            if record is not None:
                self.records.append(record)
            if defer:
                self.pending.append((name, output))
            else:
                self._check(name, output, trace_id)
        return spent

    def check_pending(self) -> None:
        for name, output in self.pending:
            self._check(name, output, f"{self.label}/warm-up/{name}")
        self.pending = []

    def _check(self, name: str, output, trace_id: str) -> None:
        problem = self.workload.check(name, output)
        if problem is not None:
            self.failed += 1
            print(f"# job {trace_id} wrong output: {problem}", file=sys.stderr)

    def _traced(self, name: str, trace_id: str):
        from tracing import self_times

        self.reader.mark()
        self.spark.sparkContext.setJobGroup(trace_id, trace_id)
        self.tracer.trace = trace_id
        catalyst: dict = {}
        with self.tracer.span("job"):
            output, counters = self.workload.run(self.spark, name, self.tracer, catalyst)
        spans = self.tracer.trace_spans(trace_id)
        record = {
            "trace": trace_id, "job": name,
            "spans": [{"name": s.name, "parent": s.parent, "duration": s.duration,
                       "wall_start": s.wall_start} for _, s in spans],
            "self_times": self_times(spans),
            "catalyst": catalyst,
            "status": self.reader.read(trace_id),
            "counters": counters,
            "nominal_records": self.workload.nominal_records[name],
            "distinct_keys": self.workload.distinct_keys[name],
        }
        return output, record


def summarize(values: list[float]) -> str:
    if not values:
        return "no samples"
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return (f"median {statistics.median(values):.4f} (p25 {q[0]:.4f}, p75 {q[2]:.4f}, "
            f"min {min(values):.4f}, max {max(values):.4f}, n={len(values)})")


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = args.spec
    if not os.path.isdir(os.path.join(ROOT, "appengine_mapreduce_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark_conf = configure(work)
    sys.path.insert(0, ROOT)

    # Inputs and their expected results are the benchmark's own work, done
    # before the program is loaded.
    if spec["kind"] == "mapreduce":
        from inputs import compute_references, generate_inputs

        paths = generate_inputs(spec["inputs"], args.seed, os.path.join(work, "in"))
        refs = compute_references(paths)

    # --- set-up: load the program, start the session, one warm-up pass.
    t_setup = time.perf_counter()
    from appengine_mapreduce_spark.session import get_spark

    if spec["kind"] == "mapreduce":
        from mrjobs import MapReduceWorkload

        workload = MapReduceWorkload(paths, refs, os.path.join(work, "out"))
    else:
        from querymix import QueryMixWorkload, oracle_answers

        workload = QueryMixWorkload(spec["queries"], os.path.join(ROOT, spec["fixture"]))
    t_session = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf)
    session_s = time.perf_counter() - t_session
    try:
        rng = random.Random(args.seed)

        def order() -> list[str]:
            names = list(workload.names)
            if spec["kind"] == "queries":
                rng.shuffle(names)
            return names

        client = Client(spark, workload, args.workload)
        client.run_round(order(), 0, defer=True)
        setup_s = time.perf_counter() - t_setup
        if spec["kind"] == "queries":
            workload.expected = oracle_answers(list(workload.names), workload.fixture)
        client.check_pending()
        t_warm = time.perf_counter()
        while time.perf_counter() - t_warm < spec["warm_up_s"]:
            client.run_round(order(), 0)
        client.job_seconds = {n: [] for n in workload.names}
        processes = ["self"] + ([jvm_pid()] if jvm_pid() else [])
        reset_peak_rss(processes)

        # --- measurement
        if args.trace:
            from tracing import StatusReader, Tracer

            client.tracer, client.reader = Tracer(), StatusReader(spark)
        rounds: dict[bool, list[float]] = {False: [], True: []}
        steal_start = cpu_steal()
        t_measure = time.perf_counter()
        round_no = 1
        while (time.perf_counter() - t_measure < args.seconds
               or (args.trace and not (rounds[True] and rounds[False]))):
            traced = bool(args.trace) and round_no % 2 == 1
            rounds[traced].append(client.run_round(order(), round_no, traced=traced))
            round_no += 1
        peak_kb = sum(vm_hwm_kb(pid) for pid in processes)
        steal_end = cpu_steal()
        partitions = workload.partitions(spark) if args.trace and spec["kind"] == "mapreduce" else {}
    finally:
        stop_session(spark)

    untraced = rounds[False]
    per_round = sum(workload.nominal_records.values())
    metrics: dict[str, float]
    if args.trace:
        from tracing import aggregate

        for record in client.records:
            record["partitions"] = partitions.get(record["job"], 0)
        overhead = statistics.median(rounds[True]) - statistics.median(untraced)
        metrics = aggregate(client.records, len(rounds[True]), session_s, overhead)
        units = metric_units("per_layer")
        trace_path = os.path.join(work, f"trace-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "traced_round_s": rounds[True], "untraced_round_s": untraced,
                       "per_layer": metrics, "traces": client.records}, fh, indent=1)
        for name in workload.names:
            runs = [r for r in client.records if r["job"] == name]
            mine = aggregate(runs, len(runs), session_s, 0.0)
            print(f"# {name}: " + ", ".join(f"{k} {mine[k]:.3f}" for k in (
                "core.counters.mapper_calls_per_record", "core.counters.reducer_calls_per_key",
                "sinks.actions_per_write", "plans.eager_jobs")))
        print(f"# traced rounds: {summarize(rounds[True])}")
        print(f"# untraced rounds: {summarize(untraced)}")
        print(f"# spans and status-store reads: {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics = {
            "setup_s": setup_s,
            "round_s": statistics.median(untraced),
            "records_per_s": per_round * len(untraced) / sum(untraced),
            "peak_rss_mb": peak_kb / 1024,
        }
        units = metric_units("end_to_end")
        print(f"# setup_s: {setup_s:.4f} s (session {session_s:.4f} s, n=1)")
        print(f"# round_s: {summarize(untraced)} s")
        print(f"# rounds: {[round(r, 4) for r in untraced]}")
        print(f"# records_per_s: {metrics['records_per_s']:.1f} 1/s "
              f"({per_round} nominal records per round, {len(untraced)} rounds)")
        print(f"# peak_rss_mb: {metrics['peak_rss_mb']:.1f} MB "
              "(VmHWM of driver Python + JVM over the measured rounds)")
    for name, secs in client.job_seconds.items():
        print(f"# job {name}: {summarize(secs)} s")
    stolen, total = (b - a for a, b in zip(steal_start, steal_end))
    print(f"# cpu steal during the measured rounds: {stolen / max(total, 1):.1%} of all CPU time")
    print(f"# error_rate: {client.failed / client.attempted:.4f} "
          f"({client.failed} of {client.attempted} jobs)")
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
