"""Source/sink parity tests (≙ input_readers_test.py / output_writers_test.py
shape: small deterministic fixtures, exact-equality assertions)."""

from __future__ import annotations

import glob
import json
import os
import zipfile

import pytest
from pyspark.sql import functions as F

from appengine_mapreduce_spark.core.job import (
    DataFrameInput,
    MapReduceJob,
    MapReduceSpecification,
)
from appengine_mapreduce_spark.sinks.bigquery_like import BigQueryStageOutput
from appengine_mapreduce_spark.sinks.files import FileOutput, ShardedByKeyOutput
from appengine_mapreduce_spark.sinks.inmemory import InMemoryOutput, NoOutput
from appengine_mapreduce_spark.sinks.mutation import MutationPoolOutput
from appengine_mapreduce_spark.sources.generators import (
    consecutive_longs,
    random_longs,
    random_strings,
)
from appengine_mapreduce_spark.sources.inmemory import concatenate, in_memory, no_input
from appengine_mapreduce_spark.sources.text import line_input, multi_file_line_input
from appengine_mapreduce_spark.sources.zipsource import zip_member_lines, zip_members

LINES_A = ["alpha one", "beta two", "", "gamma three four"]
LINES_B = ["delta", "epsilon five"]


@pytest.fixture(scope="module")
def text_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("text")
    (d / "a.txt").write_text("\n".join(LINES_A) + "\n")
    (d / "b.txt").write_text("\n".join(LINES_B) + "\n")
    return str(d)


def test_line_input_offsets(spark, text_dir):
    """Byte-offset parity with BlobstoreLineInputReader (offset, line)."""
    df = line_input(spark, f"{text_dir}/a.txt", with_offsets=True)
    got = sorted((r.offset, r.line) for r in df.collect())
    expected, off = [], 0
    for line in LINES_A:
        expected.append((off, line))
        off += len(line) + 1
    assert got == expected


def test_line_input_plain(spark, text_dir):
    df = line_input(spark, f"{text_dir}/a.txt")
    assert sorted(r.line for r in df.collect()) == sorted(LINES_A)


def test_multi_file_line_input(spark, text_dir):
    df = multi_file_line_input(spark, [f"{text_dir}/a.txt", f"{text_dir}/b.txt"])
    rows = df.collect()
    assert len(rows) == len(LINES_A) + len(LINES_B)
    by_file = {}
    for r in rows:
        by_file.setdefault(os.path.basename(r.file_name), []).append(r.line)
    assert sorted(by_file) == ["a.txt", "b.txt"]
    assert sorted(by_file["b.txt"]) == sorted(LINES_B)


@pytest.fixture(scope="module")
def zip_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("zips")
    p = d / "archive.zip"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("first.txt", "\n".join(LINES_A) + "\n")
        zf.writestr("second.txt", "\n".join(LINES_B) + "\n")
    return str(p)


def test_zip_members(spark, zip_path):
    df = zip_members(spark, zip_path)
    rows = sorted(df.collect(), key=lambda r: r.member_index)
    assert [r.member_name for r in rows] == ["first.txt", "second.txt"]
    assert bytes(rows[0].content).decode() == "\n".join(LINES_A) + "\n"


def test_zip_member_lines(spark, zip_path):
    """((member_index, offset), line) parity with BlobstoreZipLineInputReader."""
    df = zip_member_lines(spark, zip_path)
    got = sorted((r.member_index, r.offset, r.line) for r in df.collect())
    expected = []
    for idx, lines in enumerate([LINES_A, LINES_B]):
        off = 0
        for line in lines:
            expected.append((idx, off, line))
            off += len(line) + 1
    assert got == expected


def test_consecutive_longs(spark):
    df = consecutive_longs(spark, 5, 25, num_partitions=4)
    vals = sorted(r.value for r in df.collect())
    assert vals == list(range(5, 25))


def test_random_generators_deterministic(spark):
    a = sorted(map(tuple, random_strings(spark, 50, length=6, seed=7).collect()))
    b = sorted(map(tuple, random_strings(spark, 50, length=6, seed=7).collect()))
    c = sorted(map(tuple, random_strings(spark, 50, length=6, seed=8).collect()))
    assert a == b
    assert a != c
    assert all(len(v) == 6 and v.islower() for _, v in a)
    r1 = sorted(map(tuple, random_longs(spark, 30, seed=3).collect()))
    r2 = sorted(map(tuple, random_longs(spark, 30, seed=3).collect()))
    assert r1 == r2


def test_in_memory_and_concat_and_empty(spark):
    d1 = in_memory(spark, [(1, "a"), (2, "b")], "id bigint, v string")
    d2 = in_memory(spark, [(3, "c")], "id bigint, v string")
    empty = no_input(spark, "id bigint, v string")
    unioned = concatenate([d1, d2, empty])
    assert sorted(map(tuple, unioned.collect())) == [(1, "a"), (2, "b"), (3, "c")]


def test_file_output_shards(spark, tmp_path):
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    out = FileOutput(str(tmp_path / "out"), format="parquet", shards=3)
    path = out.write(df)
    files = glob.glob(f"{path}/part-*")
    assert len(files) == 3
    assert spark.read.parquet(path).count() == 1000


def test_sharded_by_key_output(spark, tmp_path):
    df = spark.range(0, 500).select((F.col("id") % 50).alias("k"), F.col("id").alias("v"))
    out = ShardedByKeyOutput(str(tmp_path / "sharded"), key="k", num_shards=4)
    path = out.write(df)
    shard_dirs = sorted(glob.glob(f"{path}/_shard=*"))
    assert len(shard_dirs) == 4
    back = spark.read.parquet(path)
    assert back.count() == 500
    # same key never lands in two shards
    spread = back.groupBy("k").agg(F.count_distinct("_shard").alias("n")).agg(F.max("n")).first()[0]
    assert spread == 1


def test_mutation_pool_batches(spark, tmp_path):
    """Batch-size parity with the reference's 20-entity mutation pool."""
    log_dir = tmp_path / "mutations"
    log_dir.mkdir()

    def apply_batch(batch):
        import uuid

        assert len(batch) <= 20
        with open(log_dir / f"{uuid.uuid4().hex}.txt", "w") as fh:
            for m in batch:
                fh.write(f"{m.op}:{m.row[0]}\n")

    evaluated = spark.sparkContext.accumulator(0)

    def tally(batches):
        for pdf in batches:
            evaluated.add(len(pdf))
            yield pdf

    df = spark.range(0, 205).select(F.col("id"), F.lit("x").alias("v"))
    df = df.mapInPandas(tally, schema=df.schema)
    n = MutationPoolOutput(apply_batch).write(df)
    assert n == 205
    assert evaluated.value == 205, "the sink must evaluate its input once"
    seen = []
    for f in glob.glob(f"{log_dir}/*.txt"):
        with open(f) as fh:
            seen.extend(fh.read().splitlines())
    assert len(seen) == 205
    assert all(s.startswith("put:") for s in seen)


def _count_by_key(ctx, row):
    yield (row.k, 1)


def _sum_values(ctx, key, values):
    yield (key, sum(values))


def _discard_batch(batch):
    pass


@pytest.mark.parametrize(
    "make_output",
    [
        lambda d: InMemoryOutput(),
        lambda d: NoOutput(),
        lambda d: FileOutput(str(d / "files")),
        lambda d: FileOutput(str(d / "shards"), shards=2),
        lambda d: BigQueryStageOutput(str(d / "bq")),
        lambda d: MutationPoolOutput(_discard_batch),
    ],
    ids=["in_memory", "no_output", "file", "file_shards2", "bigquery_stage", "mutation_pool"],
)
def test_counters_match_across_sinks(spark, tmp_path, make_output):
    """Every sink runs the map→reduce plan once: a 1000-row, 7-key count
    reports one mapper call per record and one reducer call per key,
    whichever sink consumes it."""
    df = spark.range(0, 1000).select((F.col("id") % 7).alias("k"))
    spec = (
        MapReduceSpecification.builder()
        .set_job_name("count_by_key")
        .set_input(DataFrameInput(df))
        .set_mapper(_count_by_key)
        .set_map_output_schema("k bigint, n bigint")
        .set_reducer(_sum_values)
        .set_output_schema("k bigint, n bigint")
        .set_output(make_output(tmp_path))
        .build()
    )
    counters = MapReduceJob.run(spark, spec).counters
    assert counters["mapper-calls"] == 1000
    assert counters["reducer-calls"] == 7


def test_bigquery_stage_output(spark, tmp_path):
    """Schema derivation parity: nested struct → record, array → REPEATED,
    long → integer, double → float, timestamp → timestamp."""
    df = spark.createDataFrame(
        [(1, "n", 2.5, True, ["t1", "t2"], (7, "lbl"))],
        "count bigint, name string, score double, active boolean, "
        "tags array<string>, nested struct<id:bigint, label:string>",
    ).withColumn("created", F.current_timestamp())
    out = BigQueryStageOutput(str(tmp_path / "bq"))
    res = out.write(df)
    schema = {f["name"]: f for f in res["schema"]}
    assert schema["count"]["type"] == "integer"
    assert schema["score"]["type"] == "float"
    assert schema["active"]["type"] == "boolean"
    assert schema["created"]["type"] == "timestamp"
    assert schema["tags"] == {"name": "tags", "mode": "REPEATED", "type": "string"}
    assert schema["nested"]["type"] == "record"
    assert [sub["name"] for sub in schema["nested"]["fields"]] == ["id", "label"]
    with open(tmp_path / "bq" / "schema.json") as fh:
        assert json.load(fh) == res["schema"]
    data_files = glob.glob(f"{res['data_dir']}/part-*")
    assert data_files
    assert spark.read.json(res["data_dir"]).count() == 1


def test_file_output_sorted_shards(spark, tmp_path):
    """Globally-sorted shard files: within-file sorted, cross-file ranges
    disjoint and ordered (the reference's sorted shuffle output contract)."""
    import random

    rng = random.Random(7)
    rows = [(rng.randint(0, 10**6), i) for i in range(5000)]
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    out = FileOutput(str(tmp_path / "sorted"), shards=4, sort_by=["k"])
    path = out.write(df)
    files = sorted(glob.glob(f"{path}/part-*"))
    assert len(files) == 4
    ranges = []
    for f in files:
        ks = [r.k for r in spark.read.parquet(f).collect()]
        assert ks == sorted(ks)  # sorted within file
        if ks:
            ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint, ordered ranges across files
    total = spark.read.parquet(path).count()
    assert total == 5000


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key/count join with NO Exchange —
    the pre-shuffled layout for repeat joins at scale."""
    import contextlib
    import io

    from appengine_mapreduce_spark.sinks.bucketed import BucketedTableOutput

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        facts = spark.range(0, 10000).select(
            (F.col("id") % 500).alias("k"), F.col("id").alias("v")
        )
        dims = spark.range(0, 500).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        BucketedTableOutput("t_facts", key="k", num_buckets=8).write(facts)
        BucketedTableOutput("t_dims", key="k", num_buckets=8).write(dims)

        joined = spark.table("t_facts").join(spark.table("t_dims"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_facts")
        spark.sql("DROP TABLE IF EXISTS t_dims")


def test_compaction_reduces_file_count_and_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.compaction import (
        _data_files,
        compact_files,
    )

    path = str(tmp_path / "many_small")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(50).write.parquet(path)
    assert len(_data_files(path, ".parquet")) == 50

    stats = compact_files(spark, path, target_bytes=64 * 1024 * 1024)
    assert stats.files_before == 50
    assert stats.files_after < 10, stats
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(10_000))


def test_compaction_preserves_hive_partition_layout(spark, tmp_path):
    """A key=value tree is compacted per partition leaf: the directory
    layout (and planning-time pruning) survives, file counts drop, rows
    and values are intact (regression: a flat rewrite inlined the
    partition column and destroyed the layout)."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.compaction import (
        _data_files,
        compact_files,
    )

    path = str(tmp_path / "partitioned")
    df = spark.range(0, 6_000).select(
        F.col("id"), (F.col("id") % 3).alias("p"), (F.col("id") * 2).alias("v")
    )
    df.repartition(10).write.partitionBy("p").parquet(path)
    assert len(_data_files(path, ".parquet")) == 30

    stats = compact_files(spark, path, target_bytes=64 * 1024 * 1024)
    assert stats.files_before == 30
    assert stats.files_after == 3, stats  # one file per partition leaf

    import os

    leaves = sorted(d for d in os.listdir(path) if d.startswith("p="))
    assert leaves == ["p=0", "p=1", "p=2"]  # layout preserved on disk
    back = spark.read.parquet(path)
    assert back.count() == 6_000
    assert set(back.columns) == {"id", "p", "v"}
    assert back.filter(F.col("p") == 1).count() == 2_000
    assert back.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(6_000))


def test_compaction_heals_interrupted_partition_leaf_swap(spark, tmp_path):
    """A crash between a leaf's two swap renames leaves p=1.old (data
    present) with p=1 absent; the next compaction must RESTORE that leaf
    instead of treating 'p=1.old' as a partition named '1.old'."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.compaction import compact_files

    path = str(tmp_path / "part_crash")
    spark.range(0, 3_000).select(
        F.col("id"), (F.col("id") % 3).alias("p")
    ).repartition(4).write.partitionBy("p").parquet(path)

    # simulate the crash window: first rename done, second not
    os.rename(os.path.join(path, "p=1"), os.path.join(path, "p=1.old"))
    shutil.rmtree(os.path.join(path, "p=1.compacting"), ignore_errors=True)

    stats = compact_files(spark, path, target_bytes=64 * 1024 * 1024)
    assert stats.files_after == 3, stats
    leaves = sorted(d for d in os.listdir(path) if d.startswith("p="))
    assert leaves == ["p=0", "p=1", "p=2"], leaves  # p=1 restored
    back = spark.read.parquet(path)
    assert back.count() == 3_000
    assert back.filter(F.col("p") == 1).count() == 1_000


def test_compaction_counts_compressed_text_files(spark, tmp_path):
    """Byte/file stats must see codec-suffixed text files (part-*.csv.gz),
    not just bare .csv."""
    from appengine_mapreduce_spark.operators.compaction import (
        _data_files,
        compact_files,
    )

    path = str(tmp_path / "gz_csv")
    spark.range(0, 1_000).repartition(8).write.option(
        "compression", "gzip"
    ).csv(path)
    assert len(_data_files(path, ".csv")) == 8

    stats = compact_files(
        spark, path, data_format="csv", target_bytes=64 * 1024 * 1024
    )
    assert stats.files_before == 8 and stats.bytes_total > 0, stats


def test_backfill_builds_only_missing_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.backfill import (
        backfill_partitions,
        missing_partitions,
    )

    dest = str(tmp_path / "daily")
    dates = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
    calls = []

    def build(spark_, d):
        calls.append(d)
        return spark_.range(0, 10).select(
            F.col("id"), F.lit(d).alias("src_tag")
        )

    # first pass builds two partitions
    built = backfill_partitions(spark, dest, "day", dates[:2], build)
    assert built == dates[:2]
    # second pass over the full range fills only the holes
    calls.clear()
    built = backfill_partitions(spark, dest, "day", dates, build)
    assert built == dates[2:] and calls == dates[2:]
    assert missing_partitions(dest, "day", dates) == []

    back = spark.read.parquet(dest)
    assert back.count() == 40
    # partition values are type-inferred (DATE here); compare as strings
    assert sorted(
        str(r.day) for r in back.select("day").distinct().collect()
    ) == dates


def test_schema_evolution_merge_read(spark, tmp_path):
    """Lake reality: files written before a column existed must read
    together with evolved files — mergeSchema unions the schemas and
    back-fills NULL, and an explicit read schema projects both
    generations."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    spark.range(0, 5).select(F.col("id").alias("k")).write.parquet(
        path + "/gen=1"
    )
    spark.range(5, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("score")
    ).write.parquet(path + "/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"k", "score", "gen"}
    rows = {r.k: r.score for r in merged.collect()}
    assert all(rows[k] is None for k in range(5))
    assert all(rows[k] == k * 10 for k in range(5, 10))

    pinned = spark.read.schema("k bigint, score bigint").parquet(
        path + "/gen=1", path + "/gen=2"
    )
    assert pinned.count() == 10


def test_permissive_json_read_quarantines_corrupt_records(spark, tmp_path):
    """Ingest resilience: malformed JSON lines land in _corrupt_record
    instead of failing the job (PERMISSIVE mode), so one bad producer
    can't sink a 100 TB backfill; DROPMALFORMED yields only clean rows."""
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"k": 1, "v": "a"}\n'
        "{not json at all}\n"
        '{"k": 2, "v": "b"}\n'
        '{"k": "wrong-type-ok-for-string-read", "v": 3}\n'
    )
    schema = "k bigint, v string, _corrupt_record string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.k for r in good} == {1, 2}
    assert len(bad) == 2, rows  # the non-JSON line and the type mismatch

    dropped = (
        spark.read.schema("k bigint, v string")
        .option("mode", "DROPMALFORMED")
        .json(str(p))
    )
    assert {r.k for r in dropped.collect()} >= {1, 2}


def test_footer_stats_over_many_files_matches_scan(spark, tmp_path):
    """The distributed footer path: stats over a 20-file table equal a
    real scan's aggregates — including typed (non-lexicographic) integer
    min/max and null counts."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.footer_stats import (
        parquet_footer_stats,
    )

    path = str(tmp_path / "many")
    df = spark.range(0, 5_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.concat(F.lit("v"), F.col("id")))
        .alias("s"),
    )
    df.repartition(20).write.parquet(path)

    stats = {
        r.column: r
        for r in parquet_footer_stats(
            spark, path, columns=["k", "s"], int_columns=["k"]
        ).collect()
    }
    assert stats["k"].n_rows == 5_000 and stats["k"].n_nulls == 0
    # typed min/max: lexicographic would give min "0", max "999"
    assert stats["k"].min_s == "0" and stats["k"].max_s == "4999"
    assert stats["s"].n_nulls == 500
    assert stats["s"].min_s == "v1"  # "v1" < "v10" < ... lexicographically


def test_data_files_ignores_sidecars(tmp_path):
    """Non-hidden sidecar files carrying the format suffix mid-name
    (part-0.parquet.crc, foo.parquet.tmp) must NOT be counted as data;
    codec-suffixed files (.csv.gz etc.) must be."""
    from appengine_mapreduce_spark.operators.compaction import _data_files

    d = tmp_path / "mix"
    d.mkdir()
    for name in (
        "part-0.parquet", "part-1.snappy.parquet",
        "part-0.parquet.crc", "foo.parquet.tmp", "part-2.parquet.bak",
        "part-0.csv", "part-1.csv.gz", "part-2.csv.zst",
        "part-0.csv.crc", "part-1.csv.gz.tmp",
    ):
        (d / name).write_bytes(b"x")
    pq = {p.rsplit("/", 1)[-1] for p in _data_files(str(d), ".parquet")}
    assert pq == {"part-0.parquet", "part-1.snappy.parquet"}, pq
    csv = {p.rsplit("/", 1)[-1] for p in _data_files(str(d), ".csv")}
    assert csv == {"part-0.csv", "part-1.csv.gz", "part-2.csv.zst"}, csv
