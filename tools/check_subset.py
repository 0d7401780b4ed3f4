"""Check a subset of registered queries against their DuckDB oracles.

Usage: python tools/check_subset.py name1 name2 ...   (or a tag with t:<tag>)
Same vanilla-session + value-hash protocol as driver_sim.py, which imports
``value_hash`` from here.
"""
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def value_hash(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = []
    for tup in pdf.itertuples(index=False):
        cells = [f"{v:.9g}" if isinstance(v, float) else str(v) for v in tup]
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from appengine_mapreduce_spark.plans import all_queries

    spark = SparkSession.builder.master("local[8]").appName("subset-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    conn = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        conn.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )

    specs = all_queries()
    wanted = []
    for arg in sys.argv[1:]:
        if arg.startswith("t:"):
            wanted += [n for n, s in specs.items() if arg[2:] in s.tags]
        else:
            wanted.append(arg)

    fails = []
    for name in wanted:
        spec = specs[name]
        try:
            spdf = spec.fn(spark, SF).toPandas()
            if spec.oracle:
                dpdf = conn.sql(spec.oracle).df()
                ok_rows = len(spdf) == len(dpdf)
                ok_cols = sorted(spdf.columns) == sorted(dpdf.columns)
                ok_hash = value_hash(spdf) == value_hash(dpdf)
                status = ("MATCH" if (ok_rows and ok_cols and ok_hash)
                          else f"MISMATCH rows={ok_rows}({len(spdf)}/{len(dpdf)}) "
                               f"cols={ok_cols} hash={ok_hash}")
            else:
                status = f"rows-only ({len(spdf)} rows)"
            print(f"  {name}: {status}")
            if "MISMATCH" in status:
                fails.append(name)
        except Exception as e:
            print(f"  {name}: ERROR {type(e).__name__}: {str(e)[:300]}")
            fails.append(name)

    print("RESULT:", "FAIL " + str(fails) if fails else "ALL OK")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
