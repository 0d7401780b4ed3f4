"""Generator-UDF adapters: user Mapper/Reducer/Combiner code → Arrow-batched
Spark plans.

This is the performance-critical seam the reference never had: its workers
ran interpreted Python per record over task-queue slices
(handlers.py:534-648 _process_inputs/_process_datum). Here user generators
run inside ``mapInPandas`` / ``applyInPandas`` — Arrow moves columns in
batches, Python touches each row exactly once, and everything before/after
the adapter stays JVM-side. ``map_rows`` is the same seam for plain
per-row functions (media decoders, fixture encoders, file readers).

Scale notes:
- map-side combine buffers per partition with a bounded flush
  (``_COMBINE_FLUSH_KEYS``), mirroring Hadoop's combiner spill — a hot
  partition cannot OOM the worker.
- reducers get a value *iterator* per key (the ``ReducerInput`` streaming
  contract, java impl/MergingReader.java:89-138). ``applyInPandas``
  materializes one group per Arrow batch; gigantic single keys should be
  pre-chunked (operators/shuffle.group_values max_grouped_values) — noted
  in MapReduceSpecification docs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from appengine_mapreduce_spark.core import counters as C
from appengine_mapreduce_spark.core.counters import CounterContext
from appengine_mapreduce_spark.core.worker import Combiner, Mapper, Reducer

_EMIT_BATCH_ROWS = 10_000
_COMBINE_FLUSH_KEYS = 100_000

_PD_DTYPES = {
    "string": "object",
    "bigint": "int64",
    "int": "int32",
    "double": "float64",
    "float": "float32",
    "boolean": "bool",
}


def _empty_pdf(schema: StructType) -> pd.DataFrame:
    return pd.DataFrame(
        {
            f.name: pd.Series(dtype=_PD_DTYPES.get(f.dataType.simpleString(), "object"))
            for f in schema.fields
        }
    )


def _to_pdf(rows: list[tuple], schema: StructType) -> pd.DataFrame:
    if not rows:
        return _empty_pdf(schema)
    return pd.DataFrame(rows, columns=[f.name for f in schema.fields])


def _ddl(schema: str | StructType) -> StructType:
    if isinstance(schema, StructType):
        return schema
    return StructType.fromDDL(schema)


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: str | StructType,
) -> DataFrame:
    """Per-row Python over ``df``: ``fn(*row)`` is called once per input
    row, with the columns in ``df``'s order, and yields output tuples in
    ``schema`` order (zero, one or many per row). Output is emitted in
    frames of up to ``_EMIT_BATCH_ROWS`` rows; a partition with no output
    emits no frame at all."""
    out_schema = _ddl(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: list[tuple] = []
        for pdf in batches:
            for row in pdf.itertuples(index=False, name=None):
                buf.extend(fn(*row))
                if len(buf) >= _EMIT_BATCH_ROWS:
                    yield _to_pdf(buf, out_schema)
                    buf = []
        if buf:
            yield _to_pdf(buf, out_schema)

    return df.mapInPandas(run, schema=out_schema)


def run_mapper(
    df: DataFrame,
    mapper: Mapper,
    out_schema: StructType,
    acc,
    combiner: Combiner | None = None,
    expand_parameters: bool = False,
    rate_per_sec: int | None = None,
) -> DataFrame:
    """Map stage: per-partition lifecycle (begin/end shard), per-row
    generator dispatch, optional map-side combine on the first output
    column (the key).

    ``expand_parameters`` ≙ the reference's multi-arg handler mode
    (input_readers.py:127-130): call ``mapper(ctx, *row)`` instead of
    ``mapper(ctx, row)``.
    ``rate_per_sec`` ≙ processing_rate throttling (handlers.py:1008-1027,
    default cap parameters.py:222): the job-wide records/sec budget is
    split evenly across partitions; each worker sleeps when ahead.
    """
    if combiner is not None and len(out_schema.fields) != 2:
        raise ValueError(
            "map-side combine requires a 2-column (key, value) map output "
            f"schema; got {len(out_schema.fields)} columns "
            f"({[f.name for f in out_schema.fields]}) — drop the combiner or "
            "pack values into a struct column"
        )
    per_part_rate = None
    if rate_per_sec is not None:
        per_part_rate = max(1.0, rate_per_sec / max(1, df.rdd.getNumPartitions()))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        tc = TaskContext.get()
        ctx = CounterContext(acc, shard_id=tc.partitionId() if tc else -1)
        mapper.begin_shard(ctx)
        buf: list[tuple] = []
        pending: dict = {}  # key -> [values] for map-side combine
        n_calls = 0
        t0 = _time.monotonic()

        def flush_combine() -> None:
            for k, vals in pending.items():
                for v in combiner(ctx, k, iter(vals)):
                    buf.append((k, v))
            pending.clear()

        def throttle() -> None:
            if per_part_rate is not None and n_calls > 0:
                ahead = n_calls / per_part_rate - (_time.monotonic() - t0)
                if ahead > 0:
                    _time.sleep(ahead)

        for pdf in batches:
            throttle()
            for row in pdf.itertuples(index=False):
                n_calls += 1
                out = mapper(ctx, *row) if expand_parameters else mapper(ctx, row)
                if out is None:
                    continue
                for item in out:
                    if combiner is not None:
                        k, v = item[0], item[1]
                        pending.setdefault(k, []).append(v)
                    else:
                        buf.append(tuple(item))
                if combiner is not None and len(pending) >= _COMBINE_FLUSH_KEYS:
                    flush_combine()
                if len(buf) >= _EMIT_BATCH_ROWS:
                    yield _to_pdf(buf, out_schema)
                    buf = []
        if combiner is not None:
            flush_combine()
        throttle()  # settle the rate budget before finishing the shard
        mapper.end_shard(ctx)
        ctx.increment(C.MAPPER_CALLS, n_calls)
        if buf:
            yield _to_pdf(buf, out_schema)

    return df.mapInPandas(fn, schema=out_schema)


def run_reducer(
    kv_df: DataFrame,
    reducer: Reducer,
    out_schema: StructType,
    acc,
    key_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Reduce stage: groupBy(key) → user generator with a value iterator.

    Single value column → values iterate as scalars; multiple → as
    namedtuples (parity with multi-property entity reducers).
    """

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ctx = CounterContext(acc)
        if len(value_cols) == 1:
            values: Iterator = iter(pdf[value_cols[0]])
        else:
            values = pdf[value_cols].itertuples(index=False)
        rows = [tuple(item) for item in reducer(ctx, key[0], values) or ()]
        ctx.increment(C.REDUCER_CALLS, 1)
        return _to_pdf(rows, out_schema)

    return kv_df.groupBy(key_col).applyInPandas(fn, schema=out_schema)
