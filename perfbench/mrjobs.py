"""The ``mr_*`` workloads: three jobs through the engine's public job API
(``MapReduceJob.run`` / ``run_map``), with user code written the way a user
of the API writes it, and exact checks against the plain-Python references
of ``inputs.py``.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.parquet as pq
from pyspark.accumulators import AccumulatorParam

from appengine_mapreduce_spark.core.job import (
    MapReduceJob,
    MapReduceSpecification,
    MapSpecification,
    ParquetInput,
)
from appengine_mapreduce_spark.core.partitioning import ensure_parallelism
from appengine_mapreduce_spark.core.worker import Combiner, Mapper, Reducer
from appengine_mapreduce_spark.sinks.files import FileOutput
from appengine_mapreduce_spark.sinks.inmemory import InMemoryOutput
from appengine_mapreduce_spark.sinks.mutation import MutationPoolOutput

from inputs import PURCHASE, References, footer_rows
from tracing import TracedInput, TracedOutput, Tracer, span


class WordMapper(Mapper):
    def __call__(self, ctx, row):
        for word in row.text.split():
            yield word, 1


class SumCombiner(Combiner):
    def __call__(self, ctx, key, values):
        yield sum(values)


class SumReducer(Reducer):
    def __call__(self, ctx, key, values):
        yield key, sum(values)


class UserAmountMapper(Mapper):
    def __call__(self, ctx, row):
        yield row.user_id, row.amount


class PurchaseFilterMapper(Mapper):
    def __call__(self, ctx, row):
        if row.kind == PURCHASE:
            yield row.event_id, row.user_id, row.amount


class DictSum(AccumulatorParam):
    """Sums dicts key by key. The engine's own counter parameter is private,
    and the benchmark leans only on the engine's public API, so that engine
    changes never have to edit the benchmark."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


class CountingApplier:
    """Mutation-pool client that records every applied (user, total) in an
    accumulator, so the driver sees the multiset of side effects."""

    def __init__(self, acc):
        self.acc = acc

    def __call__(self, batch):
        applied: dict = {}
        for m in batch:
            key = (int(m.row[0]), int(m.row[1]))
            applied[key] = applied.get(key, 0) + 1
        self.acc.add(applied)


class MapReduceWorkload:
    """One round is the three jobs, in this order, over one set of inputs."""

    names = ("wordcount_combine", "per_user_totals", "filter_to_files")

    def __init__(self, paths: dict[str, str], refs: References, out_dir: str):
        self.paths, self.refs, self.out_dir = paths, refs, out_dir
        self.inputs = {"wordcount_combine": paths["docs"],
                       "per_user_totals": paths["events"],
                       "filter_to_files": paths["events"]}
        self.nominal_records = {n: footer_rows(p) for n, p in self.inputs.items()}
        self.distinct_keys = {"wordcount_combine": len(refs.word_counts),
                              "per_user_totals": len(refs.user_totals),
                              "filter_to_files": 0}
        self.expected_mutations = Counter({(u, t): 1 for u, t in refs.user_totals.items()})

    def run(self, spark, name: str, tracer: Tracer | None = None, catalyst: dict | None = None):
        """Run one job; returns ``(output, counters)`` for ``check``."""
        def wrap_in(inp):
            return TracedInput(inp, tracer) if tracer else inp

        def wrap_out(out):
            return TracedOutput(out, tracer, catalyst) if tracer else out

        source = wrap_in(ParquetInput(self.inputs[name]))
        if name == "wordcount_combine":
            spec = (MapReduceSpecification.builder()
                    .set_job_name(name)
                    .set_input(source)
                    .set_mapper(WordMapper())
                    .set_map_output_schema("key string, value bigint")
                    .set_combiner(SumCombiner())
                    .set_reducer(SumReducer())
                    .set_output_schema("word string, n bigint")
                    .set_output(wrap_out(InMemoryOutput(limit=None)))
                    .build())
            with span(tracer, "core.job"):
                result = MapReduceJob.run(spark, spec)
            return result.output, result.counters
        if name == "per_user_totals":
            applied = spark.sparkContext.accumulator({}, DictSum())
            spec = (MapReduceSpecification.builder()
                    .set_job_name(name)
                    .set_input(source)
                    .set_mapper(UserAmountMapper())
                    .set_map_output_schema("key bigint, value bigint")
                    .set_reducer(SumReducer())
                    .set_output_schema("user_id bigint, total bigint")
                    .set_output(wrap_out(MutationPoolOutput(CountingApplier(applied))))
                    .build())
            with span(tracer, "core.job"):
                result = MapReduceJob.run(spark, spec)
            return (result.output, applied.value), result.counters
        path = os.path.join(self.out_dir, name)
        spec = MapSpecification(
            job_name=name,
            input=source,
            mapper=PurchaseFilterMapper(),
            output_schema="event_id bigint, user_id bigint, amount bigint",
            output=wrap_out(FileOutput(path)),
        )
        with span(tracer, "core.job"):
            result = MapReduceJob.run_map(spark, spec)
        return result.output, result.counters

    def check(self, name: str, output) -> str | None:
        """``None`` when the output is exactly right, else what is wrong."""
        if name == "wordcount_combine":
            got = Counter(dict(output))
            if len(output) != len(got) or got != self.refs.word_counts:
                return f"{len(output)} rows, expected {len(self.refs.word_counts)} words"
        elif name == "per_user_totals":
            written, applied = output
            if Counter(applied) != self.expected_mutations:
                return f"{sum(applied.values())} mutations, expected {len(self.expected_mutations)}"
            if written != len(self.refs.user_totals):
                return f"sink reported {written} rows"
        else:
            back = pq.read_table(output).to_pydict()
            got = sorted(zip(back["event_id"], back["user_id"], back["amount"]))
            if got != self.refs.purchases:
                return f"{len(got)} rows read back, expected {len(self.refs.purchases)}"
        return None

    def partitions(self, spark) -> dict[str, int]:
        """The mapper's input partition count per job, as the job API plans it."""
        return {n: ensure_parallelism(ParquetInput(p).read(spark)).rdd.getNumPartitions()
                for n, p in self.inputs.items()}
