"""Seam throughput decomposition: one map-only job over the events table
(keep the purchase rows' id, user and value) run through six Python
bodies, from a body that reads nothing up to the engine's two row seams.
The gaps between the rows of the table split the job's wall time into
scan + exchange + scheduling, Arrow feed, per-row Python and the seam
itself. SCALING.md ("Seam throughput decomposition") records the table
and the md5 of ``core/adapters.py`` it was measured with.

Usage: python tools/seam_decomposition.py sf_dir [n_runs]

Each variant runs once to warm up, then ``n_runs`` times, interleaved
run by run so host drift hits every variant alike. Every run writes to
Spark's ``noop`` sink. Prints the median, min and max wall per variant.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql.types import StructType

from appengine_mapreduce_spark.core.adapters import map_rows, run_mapper
from appengine_mapreduce_spark.core.counters import Counters
from appengine_mapreduce_spark.core.partitioning import ensure_parallelism
from appengine_mapreduce_spark.core.worker import MapOnlyMapper
from appengine_mapreduce_spark.plans.tables import load
from appengine_mapreduce_spark.session import get_spark

OUT = "event_id bigint, user_id bigint, value double"
OUT_COLS = ["event_id", "user_id", "value"]


def no_op(batches):
    return iter(())


def itertuples_loop(batches):
    for pdf in batches:
        rows = [
            (r.event_id, r.user_id, r.value)
            for r in pdf.itertuples(index=False)
            if r.event_type == "purchase"
        ]
        yield pd.DataFrame(rows, columns=OUT_COLS)


def pandas_body(batches):
    for pdf in batches:
        yield pdf.loc[pdf["event_type"] == "purchase", OUT_COLS]


def arrow_body(batches):
    import pyarrow.compute as pc

    for batch in batches:
        keep = pc.equal(batch.column("event_type"), "purchase")
        yield batch.filter(keep).select(OUT_COLS)


class PurchaseFilter(MapOnlyMapper):
    def __call__(self, ctx, row):
        if row.event_type == "purchase":
            yield (row.event_id, row.user_id, row.value)


def purchase_row(event_id, user_id, event_type, value):
    if event_type == "purchase":
        yield event_id, user_id, value


def main() -> None:
    sf_dir = sys.argv[1]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(app_name="seam-decomposition")
    ev = ensure_parallelism(
        load(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value")
    )
    n_rows = ev.count()
    acc = Counters(spark.sparkContext).accumulator
    def no_op_plan():
        return ev.mapInPandas(no_op, OUT)

    def warm():
        return ev.mapInPandas(pandas_body, OUT)

    variants = {
        "no-op job (input not consumed)": no_op_plan,
        "bare itertuples loop": lambda: ev.mapInPandas(itertuples_loop, OUT),
        "fully-vectorized pandas body": lambda: ev.mapInPandas(pandas_body, OUT),
        "`mapInArrow` vectorized body": lambda: ev.mapInArrow(arrow_body, OUT),
        "`run_mapper` (generator adapter)": lambda: run_mapper(
            ev, PurchaseFilter(), StructType.fromDDL(OUT), acc),
        "`map_rows` (per-row seam)": lambda: map_rows(ev, purchase_row, OUT),
    }
    walls: dict[str, list[float]] = {name: [] for name in variants}
    for rnd in range(n_runs + 1):
        for name, plan in variants.items():
            t0 = time.perf_counter()
            plan().write.format("noop").mode("overwrite").save()
            if rnd:  # round 0 warms up
                walls[name].append(time.perf_counter() - t0)
            if plan is no_op_plan:
                # A worker that leaves its input unread is not reused, so
                # re-warm the pool before the next timed variant.
                warm().write.format("noop").mode("overwrite").save()
    spark.stop()

    with open(os.path.join(REPO, "appengine_mapreduce_spark", "core",
                           "adapters.py"), "rb") as fh:
        fingerprint = hashlib.md5(fh.read()).hexdigest()
    print(f"{n_rows} rows from {sf_dir}, {n_runs} runs, "
          f"{os.cpu_count()} CPUs, adapters.py md5 {fingerprint}")
    for name, w in walls.items():
        print(f"| {name} | {statistics.median(w):.2f} s "
              f"| {min(w):.2f}-{max(w):.2f} s |")


if __name__ == "__main__":
    main()
