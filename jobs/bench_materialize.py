"""A/B bench for the graph-materialize write strategy.

    spark-submit --master local[N] jobs/bench_materialize.py <store_parquet> <out_base>

Times several write layouts of the same triples table and prints one
JSON line {variant: [sec, ...]}.  Variants:

- direct        : partitionBy from the incoming partitioning (no
                  exchange) — writes tasks × buckets files
- commit2       : direct + FileOutputCommitter algorithm v2 (task-side
                  file moves; job commit O(1) instead of a sequential
                  rename storm)
- sort_commit2  : commit2 + sortWithinPartitions(p_bucket) — one open
                  writer per task at a time instead of one per bucket
- salted        : histogram-proportional salted repartition to
                  ~2×parallelism balanced writers (files bounded by
                  writer count, independent of task count) + commit2
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 16


def load(spark, path):
    df = spark.read.parquet(path)
    if "p_bucket" in df.columns:
        df = df.drop("p_bucket")
    return df.withColumn("p_bucket", F.pmod(F.col("p"), F.lit(N_BUCKETS)).cast("int"))


def write(df, out):
    df.write.mode("overwrite").partitionBy("p_bucket").parquet(out)


def salted(spark, df):
    hist = df.groupBy("p_bucket").count().collect()
    total = sum(r["count"] for r in hist) or 1
    target = 2 * spark.sparkContext.defaultParallelism
    salts = {r["p_bucket"]: max(1, round(target * r["count"] / total)) for r in hist}
    pairs = []
    for k, v in salts.items():
        pairs += [F.lit(k), F.lit(v)]
    mod = F.element_at(F.create_map(*pairs), F.col("p_bucket"))
    n_writers = sum(salts.values())
    return df.repartition(
        2 * n_writers, "p_bucket", F.pmod(F.xxhash64("s", "o"), mod)
    ), n_writers


def main():
    store_path, out_base = sys.argv[1], sys.argv[2]
    spark = SparkSession.builder.appName("bench_materialize").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    base = load(spark, store_path).localCheckpoint(eager=True)
    n = base.count()

    results: dict[str, list[float]] = {}

    def run(name, fn, committer_v2):
        hconf.set("mapreduce.fileoutputcommitter.algorithm.version", "2" if committer_v2 else "1")
        ts = []
        for i in range(2):
            out = f"{out_base}/{name}"
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            fn(out)
            ts.append(round(time.perf_counter() - t0, 2))
        results[name] = ts

    run("direct", lambda out: write(base, out), committer_v2=False)
    run("commit2", lambda out: write(base, out), committer_v2=True)
    run(
        "sort_commit2",
        lambda out: write(base.sortWithinPartitions("p_bucket"), out),
        committer_v2=True,
    )
    sdf, n_writers = salted(spark, base)
    run("salted", lambda out: write(sdf, out), committer_v2=True)
    results["_meta"] = {"rows": n, "parallelism": spark.sparkContext.defaultParallelism, "salted_writers": n_writers}
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
