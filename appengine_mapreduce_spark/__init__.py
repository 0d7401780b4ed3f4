"""appengine_mapreduce_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of GoogleCloudPlatform/appengine-mapreduce.

This is NOT a port of the reference's task-queue execution machinery; it is a
Spark-first re-expression of the reference's capabilities:

- ``core``      — MapReduceJob-shaped API (Mapper/Reducer/Combiner/counters)
                  compiled to DataFrame plans (reference: mapreduce_pipeline.py,
                  MapReduceJob.java).
- ``sources``   — Input readers (entity scan, text lines, zip, generators,
                  in-memory, concatenating) as DataFrame builders
                  (reference: input_readers.py, java inputs/).
- ``sinks``     — Output writers (files, segmented, sharded, mutation pool,
                  in-memory, BigQuery-style JSON staging)
                  (reference: output_writers.py, java outputs/).
- ``operators`` — shuffle-semantics operators (group-by-key, distinct,
                  chunked collect) plus large-scale training-data ops
                  (dedup, similarity search, text analysis).
- ``functions`` — column-expression helpers (tokenize, shingles, stable
                  hashing, vector math) — all JVM-side built-ins.
- ``plans``     — the query registry used by ``__spark_entry__`` and bench.
- ``streaming`` — Structured Streaming upgrades (the reference is batch-only).
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# The driver contract puts this package on the driver's sys.path only;
# executor Python workers have no install. Pickling the whole package by
# value makes every worker closure self-contained. It follows that code
# which runs on a worker must not import from the package at call time.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
