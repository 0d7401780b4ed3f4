"""Driver-contract tests: the package is on the DRIVER's ``sys.path`` only.

A driver imports this package into a SparkSession it builds itself, with
no ``PYTHONPATH`` for the executor Python workers. Every worker closure
must therefore be pickled by value: the package registers itself with
``cloudpickle.register_pickle_by_value`` once, in its ``__init__``, and
worker code may import nothing from the package at call time.
``conftest.py`` exports ``PYTHONPATH`` for the in-process session, which
would hide a missing registration, so these tests run their Spark work in
a fresh interpreter with ``PYTHONPATH`` unset.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from appengine_mapreduce_spark.plans import all_queries
from tests.conftest import SF_SMOKE

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Run as ``__main__`` so the user code below is pickled by value, as a
# driver script's would be. The applier fails partition 0's first attempt
# once, so the result stage is retried (``local[2,2]`` allows 2 attempts).
_MUTATION_JOB = '''
import json, os, sys, uuid

repo, out_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F

from appengine_mapreduce_spark.core.job import (
    DataFrameInput, MapReduceJob, MapReduceSpecification,
)
from appengine_mapreduce_spark.sinks.mutation import MutationPoolOutput


def count_by_key(ctx, row):
    yield (row.k, 1)


def sum_values(ctx, key, values):
    yield (key, sum(values))


def apply_batch(batch):
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        open(os.path.join(out_dir, "injected-failure"), "w").close()
        raise RuntimeError("injected failure on the first attempt")
    with open(os.path.join(out_dir, uuid.uuid4().hex + ".applied"), "w") as fh:
        fh.writelines(f"{m.row[0]}\\n" for m in batch)


spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.ui.enabled", "false").getOrCreate())
df = spark.range(0, 1000).select((F.col("id") % 7).alias("k"))
spec = (MapReduceSpecification.builder()
        .set_job_name("count_by_key")
        .set_input(DataFrameInput(df))
        .set_mapper(count_by_key)
        .set_map_output_schema("k bigint, n bigint")
        .set_reducer(sum_values)
        .set_output_schema("k bigint, n bigint")
        .set_output(MutationPoolOutput(apply_batch))
        .build())
result = MapReduceJob.run(spark, spec)
spark.stop()
print(json.dumps({"written": result.output, "counters": result.counters}))
'''


# Every registry query tagged ``udf`` runs Python on the workers. A query
# that fails reports its error in place of its row count.
_UDF_QUERIES = '''
import json, sys

repo, sf_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

from pyspark.sql import SparkSession

from appengine_mapreduce_spark.plans import all_queries

spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false").getOrCreate())
counts = {}
for name, spec in all_queries().items():
    if "udf" in spec.tags:
        try:
            counts[name] = spec.fn(spark, sf_dir).count()
        except Exception as exc:
            counts[name] = f"{type(exc).__name__}: {str(exc)[-500:]}"
spark.stop()
print(json.dumps(counts))
'''


def _run_without_pythonpath(tmp_path, source: str, *args: str) -> dict:
    script = tmp_path / "job.py"
    script.write_text(source)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script), _REPO_ROOT, *args],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_mutation_sink_without_pythonpath_survives_a_retried_task(tmp_path):
    out_dir = tmp_path / "applied"
    out_dir.mkdir()
    got = _run_without_pythonpath(tmp_path, _MUTATION_JOB, str(out_dir))

    assert (out_dir / "injected-failure").exists(), "the fault was never injected"
    assert got["written"] == 7
    assert got["counters"] == {"mapper-calls": 1000, "reducer-calls": 7}
    applied = []
    for f in out_dir.glob("*.applied"):
        applied.extend(int(k) for k in f.read_text().split())
    assert sorted(applied) == list(range(7))


def test_udf_queries_without_pythonpath_match_in_process_counts(spark, tmp_path):
    got = _run_without_pythonpath(tmp_path, _UDF_QUERIES, SF_SMOKE)
    want = {
        name: spec.fn(spark, SF_SMOKE).count()
        for name, spec in all_queries().items()
        if "udf" in spec.tags
    }
    assert got == want
