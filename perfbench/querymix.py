"""The ``query_mix`` workload: registry queries over a fixed fixture, each
result checked against the registry's DuckDB oracle.

Only JVM operators run here (no generator-UDF seam), so changes to the
Python seam should leave this workload unchanged.
"""

from __future__ import annotations

import hashlib
import os
import sys
from contextlib import contextmanager

import pyarrow.parquet as pq

from appengine_mapreduce_spark.plans import all_queries
from appengine_mapreduce_spark.plans import tables as _tables

from tracing import Tracer, force_plan, span


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result's values; the same protocol as
    ``tools/check_subset.py``, so a MATCH here is a MATCH there."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = []
    for tup in pdf.itertuples(index=False):
        cells = [f"{v:.9g}" if isinstance(v, float) else str(v) for v in tup]
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def oracle_answers(names: list[str], fixture: str) -> dict[str, tuple[int, list[str], str]]:
    """(row count, sorted columns, value hash) of each query's oracle SQL,
    run in DuckDB over the same parquet files."""
    import duckdb

    specs = all_queries()
    conn = duckdb.connect()
    try:
        for table in _tables.TABLES:
            path = os.path.join(fixture, f"{table}.parquet")
            if os.path.exists(path):
                conn.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            pdf = conn.sql(specs[name].oracle).df()
            out[name] = (len(pdf), sorted(pdf.columns), value_hash(pdf))
        return out
    finally:
        conn.close()


@contextmanager
def traced_loads(tracer: Tracer | None):
    """Put a ``sources.read`` span around every ``plans.tables.load`` call the
    query modules make; they import ``load`` by name, so each module's
    reference is swapped and restored. A no-op without a tracer."""
    if tracer is None:
        yield
        return
    real = _tables.load

    def load(*args, **kwargs):
        with tracer.span("sources.read"):
            return real(*args, **kwargs)

    patched = [m for name, m in list(sys.modules.items())
               if name.startswith("appengine_mapreduce_spark.plans.")
               and getattr(m, "load", None) is real]
    for m in patched:
        m.load = load
    try:
        yield
    finally:
        for m in patched:
            m.load = real


class QueryMixWorkload:
    """One round is the configured queries, in an order the seed shuffles
    each round."""

    def __init__(self, names: list[str], fixture: str):
        self.names = tuple(names)
        self.fixture = fixture
        specs = all_queries()
        self.specs = {n: specs[n] for n in names}
        self.expected: dict[str, tuple[int, list[str], str]] = {}
        self.nominal_records: dict[str, int] = {}
        self.distinct_keys = {n: 0 for n in names}

    def run(self, spark, name: str, tracer: Tracer | None = None, catalyst: dict | None = None):
        """Build the query's DataFrame and collect it; returns
        ``(result, {})`` for ``check``."""
        with span(tracer, "plans.build"), traced_loads(tracer):
            df = self.specs[name].fn(spark, self.fixture)
        if tracer is not None:
            force_plan(df, tracer, catalyst)
        with span(tracer, "collect"):
            pdf = df.toPandas()
        if name not in self.nominal_records:
            self.nominal_records[name] = sum(
                pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
                for f in df.inputFiles())
        return pdf, {}

    def check(self, name: str, pdf) -> str | None:
        rows, cols, digest = self.expected[name]
        if len(pdf) != rows or sorted(pdf.columns) != cols or value_hash(pdf) != digest:
            return f"{len(pdf)} rows, expected {rows}; oracle hash differs"
        return None
