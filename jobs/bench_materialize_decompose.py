"""Decompose the materialize stage's 8→32 scaling (worst per-stage
scaler in BENCH_SCALING: 0.254 best-of / ~0.4 median) into its three
cost layers, each timed separately at both pinned parallelism levels:

    taskset -c 0-7  spark-submit --master local[8] \
        jobs/bench_materialize_decompose.py <triples_parquet> /tmp/matdec 8
    taskset -c 0-31 spark-submit --master local[32] \
        jobs/bench_materialize_decompose.py <triples_parquet> /tmp/matdec 32

Variants (each median-of-iters after one warmup, identical salted
layout to ``pipelines.webkg.write_graph``):

- shuffle_only    : histogram + salted repartition → noop sink — the
                    exchange (hash+serialize+fetch) with zero encode
                    or filesystem work
- write_shm_zstd  : full partitionBy(p_bucket) write to /dev/shm
                    (tmpfs — no block device) — exchange + parquet
                    encode + page-cache-speed "disk"
- write_disk_zstd : the same write to the real root device — the
                    production path; (disk − shm) is the device's
                    contribution
- write_shm_none  : /dev/shm, compression off — (zstd − none) is the
                    codec's CPU share

Plus a raw DEVICE probe outside Spark: N processes each append
256 MiB + fsync to the target filesystem; aggregate GB/s at the two
proc counts bounds any write-bound stage the same way the memcpy
probe bounds shuffle-bound ones (bench_scaling.measure_membw).

Prints one JSON line per run; BENCH_SCALING.md carries the merged
table.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import sys
import time

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("ARROW_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

N_BUCKETS = 16
ITERS = 3
WRITE_MB = 256


def _fsync_writer(path: str, mb: int, q) -> None:
    buf = os.urandom(1024 * 1024)
    t0 = time.perf_counter()
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    try:
        for _ in range(mb):
            os.write(fd, buf)
        os.fsync(fd)
    finally:
        os.close(fd)
    q.put(time.perf_counter() - t0)


def device_write_bw(root: str, procs: int) -> float:
    """Aggregate fsync'd sequential-write GB/s with `procs` writers."""
    d = os.path.join(root, "bwprobe")
    os.makedirs(d, exist_ok=True)
    q: mp.Queue = mp.Queue()
    ps = [
        mp.Process(target=_fsync_writer, args=(os.path.join(d, f"w{i}"), WRITE_MB, q))
        for i in range(procs)
    ]
    t0 = time.perf_counter()
    for p in ps:
        p.start()
    for p in ps:
        p.join()
    wall = time.perf_counter() - t0
    shutil.rmtree(d, ignore_errors=True)
    return round(procs * WRITE_MB / 1024 / wall, 2)


def salted(spark, df):
    """Identical writer layout to pipelines.webkg.write_graph."""
    hist = df.groupBy("p_bucket").count().collect()
    total = sum(r["count"] for r in hist) or 1
    target = 2 * spark.sparkContext.defaultParallelism
    salts = {r["p_bucket"]: max(1, round(target * r["count"] / total)) for r in hist}
    pairs: list = []
    for k, v in salts.items():
        pairs += [F.lit(k), F.lit(v)]
    mod = F.element_at(F.create_map(*pairs), F.col("p_bucket"))
    return df.repartition(
        2 * sum(salts.values()), "p_bucket", F.pmod(F.xxhash64("s", "o"), mod)
    )


def main() -> None:
    store_path, out_base, level = sys.argv[1], sys.argv[2], int(sys.argv[3])
    spark = (
        SparkSession.builder.appName(f"matdec{level}")
        .config("spark.sql.shuffle.partitions", str(4 * level))
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("mapreduce.fileoutputcommitter.algorithm.version", "2")

    df = spark.read.parquet(store_path)
    if "p_bucket" in df.columns:
        df = df.drop("p_bucket")
    base = (
        df.withColumn("p_bucket", F.pmod(F.col("p"), F.lit(N_BUCKETS)).cast("int"))
        .localCheckpoint(eager=True)
    )
    n = base.count()  # cached blocks = the fixpoint-output shape the pipeline writes

    def timed(fn) -> list[float]:
        ts = []
        for _ in range(ITERS + 1):  # first pass = warmup
            t0 = time.perf_counter()
            fn()
            ts.append(round(time.perf_counter() - t0, 2))
        return ts[1:]

    sdf = salted(spark, base)

    def write(df, root, codec):
        out = os.path.join(root, f"matdec_{level}")
        shutil.rmtree(out, ignore_errors=True)
        (
            df.write.mode("overwrite")
            .option("compression", codec)
            .partitionBy("p_bucket")
            .parquet(out)
        )

    variants = {
        "shuffle_only": lambda: sdf.write.format("noop").mode("overwrite").save(),
        "write_shm_zstd": lambda: write(sdf, "/dev/shm/matdec", "zstd"),
        "write_disk_zstd": lambda: write(sdf, out_base, "zstd"),
        "write_shm_none": lambda: write(sdf, "/dev/shm/matdec", "none"),
    }
    results: dict = {"rows": n, "parallelism": level}
    for name, fn in variants.items():
        ts = sorted(timed(fn))
        results[name] = {"median": ts[len(ts) // 2], "iters": ts}
    shutil.rmtree("/dev/shm/matdec", ignore_errors=True)
    shutil.rmtree(os.path.join(out_base, f"matdec_{level}"), ignore_errors=True)
    spark.stop()

    results["device_write_gbps"] = {
        "disk": device_write_bw(out_base, level),
        "shm": device_write_bw("/dev/shm", level),
    }
    print(json.dumps({"metric": "materialize_decompose", **results}))


if __name__ == "__main__":
    main()
