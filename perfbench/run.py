"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One driver process runs a closed
loop on ``local[nproc]``: one client, one job at a time, the next operation
starting when the previous result has been collected and checked. Set-up
(session, Python worker start, input generation and materialization) runs
three times and ``setup_s`` is the median; the first includes the JVM launch,
the others restart the session inside it. With ``--trace 1`` the run also
executes the operation layer by layer inside spans and reports the per-layer
metrics instead of the end-to-end ones.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. A run record with metadata, every operation's wall time and the
spans goes to ``.perfbench_out/`` in the checkout; everything else the run
writes lives under ``.perfbench_work/`` and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
WARMUPS = 1


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let workers import the library and this package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Engine:
    """The Spark JVM and its Python workers, owned by this run."""

    def __init__(self, work: str, cores: int):
        self.work = work
        self.cores = cores

    def start(self):
        from t_digest_spark.plans import get_spark
        spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
                "spark.ui.showConsoleProgress": "false",
            })
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def restart(self, spark):
        spark.stop()
        return self.start()

    def pids(self):
        from pyspark import SparkContext
        from perfbench.procinfo import children_of
        gateway = SparkContext._gateway
        if gateway is None:
            return []
        return [gateway.proc.pid] + children_of(gateway.proc.pid)

    def shutdown(self, spark) -> None:
        """Stop the session, end the JVM and wait for its Python workers."""
        from pyspark import SparkContext
        from perfbench.procinfo import alive
        gateway = SparkContext._gateway
        if gateway is None:
            return
        workers = self.pids()[1:]
        if spark is not None:
            spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()   # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while any(alive(p) for p in workers) and time.monotonic() < deadline:
            time.sleep(0.05)
        for pid in workers:
            if alive(pid):
                os.kill(pid, 9)


def _import_library(batches):
    import t_digest_spark.operators.aggregation  # noqa: F401
    import t_digest_spark.sketches.spark  # noqa: F401
    yield from batches


def _start_workers(spark, cores: int) -> None:
    """A job with one Python task per core, so that every worker is up and
    has imported the library before timing starts."""
    (spark.range(0, cores, numPartitions=cores).mapInPandas(_import_library, "id long")
     .write.format("noop").mode("overwrite").save())


def _commit() -> str:
    try:
        # the ceiling keeps git from reading a repository above the checkout
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
            capture_output=True, text=True,
            env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT)))
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{run_id}-{os.getpid()}")
    _configure_env(work)
    try:
        return _measure(ap, args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass   # another run still uses it


def _measure(ap, args, run_id: str, work: str) -> int:
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyspark

    from perfbench.catalogue import END_TO_END, PER_LAYER
    from perfbench.procinfo import cpu_ticks, peak_rss_mb, steal_share
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(run_id)
    engine = Engine(work, cores)
    ticks0 = cpu_ticks()
    spark = None
    walls, errs, failures = [], [], []
    per_layer = {}
    try:
        for i in range(SETUPS):
            path = os.path.join(work, f"input-{i}")
            with tracer.span("setup"):
                with tracer.span("plans.session"):
                    spark = engine.start() if i == 0 else engine.restart(spark)
                with tracer.span("spark.worker_start"):
                    _start_workers(spark, cores)
                with tracer.span("sources.generate"):
                    wl.generate(path, args.seed)
            if i:
                shutil.rmtree(os.path.join(work, f"input-{i - 1}"))
        setup_s, session_s, generate_s = (
            [s["end"] - s["start"] for s in tracer.spans if s["name"] == name]
            for name in ("setup", "plans.session", "sources.generate"))
        with tracer.span("bench.prepare"):
            wl.prepare(spark, path, args.seed)
        for _ in range(WARMUPS):
            with tracer.span("bench.warmup"):
                try:
                    wl.check(wl.op())
                except Exception:
                    failures.append("warm-up: " + traceback.format_exc())

        sc = spark.sparkContext
        deadline = time.perf_counter() + args.seconds
        while not walls or time.perf_counter() < deadline:
            sc.setJobGroup(f"op{len(walls)}", "timed operation")
            t0 = time.perf_counter()
            try:
                result = wl.op()
            except Exception:   # a failed job is a failed operation
                failures.append(traceback.format_exc())
                result = None
            walls.append(time.perf_counter() - t0)
            if result is not None:
                try:
                    errs = wl.check(result)
                except CheckFailed as e:
                    failures.append(f"check: {e}")
        jvm, *workers = engine.pids()
        jvm_rss, rss = peak_rss_mb([jvm])[jvm], peak_rss_mb(workers)

        if args.trace:
            per_layer = {name: 0.0 for name in PER_LAYER}
            try:
                per_layer.update(wl.traced(spark, tracer, path, args.seed))
            except Exception:
                failures.append(traceback.format_exc())
            else:
                job = tracer.find("job.traced")
                per_layer["trace.overhead_s"] = (
                    job["end"] - job["start"] - statistics.median(walls))
            per_layer["spark.jvm_rss_mb"] = jvm_rss
            if errs:
                per_layer["accuracy.rank_err_mean"] = statistics.mean(errs)
                per_layer["accuracy.rank_err_max"] = max(errs)
            per_layer["plans.session_s"] = session_s[0]
            per_layer["sources.generate_s"] = statistics.median(generate_s)
    finally:
        engine.shutdown(spark)
    steal = steal_share(ticks0, cpu_ticks())

    # the warm-up operations and the traced one are checked too
    attempted = WARMUPS + len(walls) + args.trace
    end_to_end = {
        "setup_s": statistics.median(setup_s),
        "rows_per_s": wl.rows / statistics.median(walls),
        "python_rss_mb": sum(rss.values()),
    }
    chosen = per_layer if args.trace else end_to_end
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": float(v), "unit": units[k][0]} for k, v in chosen.items()}
    record = {
        "run": run_id,
        "meta": {"commit": _commit(), "nproc": cores, "spark": pyspark.__version__,
                 "numpy": np.__version__, "pandas": pd.__version__,
                 "pyarrow": pa.__version__, "python": sys.version.split()[0],
                 "workload": args.workload, "seed": args.seed,
                 "seconds": args.seconds, "input_rows": wl.rows,
                 "groups": wl.groups, "steal_share": steal},
        "setup_s": setup_s, "session_s": session_s, "generate_s": generate_s,
        "op_wall_s": walls, "failures": failures, "jvm_rss_mb": jvm_rss,
        "python_rss_mb_by_pid": rss,
        "rank_err_max": max(errs, default=None),
        "rank_err_mean": statistics.mean(errs) if errs else None,
        "end_to_end": end_to_end, "per_layer": per_layer,
        "spans": tracer.spans if args.trace else [],
        "self_s": tracer.self_times() if args.trace else {},
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record["meta"]), file=sys.stderr)
    for failure in failures:
        print(failure, file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
