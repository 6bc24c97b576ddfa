"""KG-construction benchmark: crawl build, dump closure, live maintenance.

    python3 kgbench/run.py --workload crawl_build --seed 1 --seconds 12 --trace 0

Run from the repository root.  Prints progress to stderr and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Exits non-zero without a
result when the engine package is not next to this directory.
See kgbench/README.md for the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "facts_per_s": "facts/s",
    "graph_bytes_per_fact": "B",
    "read_p50_s": "s",
    "fresh_p50_s": "s",
    "peak_rss_mb": "MB",
}
# a fixed, pre-touched heap: the JVM's share of peak_rss_mb then does
# not depend on when the collector last ran
HEAP = "2g"
SETUP_REPS = 3


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class RssSampler:
    """Peak memory of a process tree (the JVM and the Python workers it
    forks), sampled from /proc.  Each process counts its proportional
    set size: forked workers share their parent's pages, and summing
    plain RSS would count those pages once per worker."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_pss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration):
                continue  # the process ended between the scans
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_pss())
        return self.peak / 2**20


def start_session(workdir: str, cores: int, trace: bool):
    from inferdf_rs_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Dderby.system.home={os.path.join(workdir, 'derby')} "
        f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
    }
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="kgbench", master=f"local[{cores}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the context and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["crawl_build", "dump_closure", "live_maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "inferdf_rs_spark")):
        log(f"kgbench: engine package inferdf_rs_spark not found under {ROOT}")
        return 2

    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    # Python workers are launched by the JVM: they find the engine
    # package only through PYTHONPATH, whatever the working directory.
    # One compute thread per worker: each Spark task owns a core.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, HERE, os.environ.get("PYTHONPATH", "")] if p
    )
    for var in ("OMP_NUM_THREADS", "ARROW_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path[:0] = [ROOT, HERE]

    out_root = os.path.join(os.getcwd(), ".bench_out")
    workdir = os.path.join(out_root, args.workload)
    shutil.rmtree(workdir, ignore_errors=True)
    # temporary files of this process, the JVM and the workers stay in
    # the working directory too
    os.makedirs(os.path.join(workdir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None
    # takes precedence over spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")

    import tracing
    import workloads

    from pyspark import SparkContext

    tr = tracing.Tracer(enabled=bool(args.trace))
    with tr.span("session"):
        t0 = time.perf_counter()
        spark = start_session(workdir, cores, bool(args.trace))
        session_s = time.perf_counter() - t0
    sampler = RssSampler(SparkContext._gateway.proc.pid).start()
    try:
        if args.trace:
            tr.sc = spark.sparkContext
        ctx = workloads.Ctx(spark, tr, os.path.join(workdir, "data"), args.seed, args.seconds)
        t_run = time.perf_counter()
        res = getattr(workloads, args.workload)(ctx, SETUP_REPS)
        log(f"kgbench: workload wall {time.perf_counter() - t_run:.1f}s")
        job_ids = tr.job_ids() if args.trace else {}
    finally:
        peak_mb = sampler.stop()
        t_stop = time.perf_counter()
        stop_session(spark)
        log(f"kgbench: session start {session_s:.1f}s, stop {time.perf_counter() - t_stop:.1f}s")

    med = statistics.median
    if args.trace:
        counters = tracing.event_log_counters(os.path.join(workdir, "eventlog"))
        shutil.rmtree(os.path.join(workdir, "eventlog"))
        metrics = tracing.layer_metrics(tr.spans, job_ids, counters, cores, len(res.traced_op_s))
        fx_rounds = metrics["fixpoint.rounds"]
        metrics["fixpoint.s_per_round"] = metrics["fixpoint.busy_s"] / fx_rounds if fx_rounds else 0.0
        overhead = med(res.traced_op_s) - med(res.op_s) if res.traced_op_s and res.op_s else 0.0
        metrics["trace.overhead_s"] = overhead
        units = {n: _unit(n) for n in tracing.per_layer_names()}
        tr.write(
            os.path.join(out_root, f"trace-{args.workload}-seed{args.seed}.json"),
            {"checks": res.checks, "info": res.info, "plain_op_s": res.op_s, "traced_op_s": res.traced_op_s},
        )
    else:
        metrics = {
            "setup_s": session_s + res.setup_s,
            "pages_per_s": med(res.pages_per_s),
            "facts_per_s": med(res.facts_per_s),
            "graph_bytes_per_fact": res.bytes_per_fact,
            "read_p50_s": med(res.read_s),
            "fresh_p50_s": med(res.fresh_s),
            "peak_rss_mb": peak_mb,
        }
        units = END_TO_END
    log(
        "kgbench: "
        + json.dumps(
            {
                "ops": len(res.op_s) + len(res.traced_op_s),
                "op_s": [round(x, 3) for x in res.op_s],
                "read_samples": len(res.read_s),
                "fresh_samples": len(res.fresh_s),
                "checks": res.checks,
                "info": res.info,
            }
        )
    )
    # the bulky inputs, graphs and spill files go; the trace file stays
    shutil.rmtree(os.path.join(workdir, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(workdir, "spark-local"), ignore_errors=True)
    shutil.rmtree(os.path.join(workdir, "tmp"), ignore_errors=True)
    correct = res.failed == 0 and all(c["ok"] for c in res.checks.values())
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s") or suffix == "s_per_round":
        return "s"
    if suffix.endswith("_bytes") or suffix == "bytes":
        return "B"
    if suffix in ("core_util", "kept_ratio", "dup_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
