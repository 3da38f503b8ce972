#!/usr/bin/env python3
"""Layered backfill benchmark: one workload, one seed, one fresh Spark
application.

    python3 backfillbench/run.py --workload dense_backfill --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run starts Spark on ``local[nproc]``
through ``chronon_spark.session.build_session``, generates its inputs from
the seed, runs timed iterations of the workload's public engine calls (one cold,
then the workload's fixed number of warm ones, and more only if that took
less than ``--seconds``), checks the last
outputs against ``tests/naive_oracle.py`` outside the timed region, and
prints one JSON object as the last line of stdout:

- ``--trace 0``: the end-to-end metrics (setup_s, warm_s, fv_per_s).
- ``--trace 1``: the per-layer metrics, read from Spark's status stores
  after each public call (see spans.py), plus the cold iteration's wall
  (``spark.cold_s``) and the CPU seconds of a warm iteration
  (``spark.warm_cpu_s``). ``trace.overhead_s`` is the time those reads add
  to a warm iteration.

The line before it is the host record (nproc, load, CPU steal, memory,
versions, seed, sizes, every iteration's wall and CPU seconds, warm-wall
quartiles). Both, with the spans of a
traced run, are also written under ``.bench_work/results/``. All scratch
data lives in a fresh ``.bench_work/<run>`` directory that is removed at
the end. See NOTES.md for the workloads and the reasoning behind them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEM = "4g"
SETUP_REPS = 3  # input builds per run; setup_s takes their median


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str, n: int) -> dict[str, str]:
    """Everything the engine and its Python workers read from the
    environment, fixed by the benchmark itself."""
    env = {
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_MASTER": f"local[{n}]",
        "SPARK_GRAFT_SHUFFLE": str(n),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


def start_session(work: str, n: int):
    from chronon_spark.session import build_session

    spark = build_session(
        app_name="backfillbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3


def main() -> int:
    args = parse_args(sys.argv[1:])
    if os.environ.get("PYTHONHASHSEED") != "0":
        env = dict(os.environ, PYTHONHASHSEED="0")
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env)
    sys.path[:0] = [ROOT, HERE]
    import host
    import spans as tracing
    from harvest import Harvester
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    n = host.nproc()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    os.makedirs(work)
    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "nproc": n,
              "before": host.snapshot()}
    spark = None
    try:
        record["env"] = pin_environment(work, n)
        t0 = time.perf_counter()
        spark = start_session(work, n)
        start_s = time.perf_counter() - t0
        import pyarrow
        import pyspark

        record["versions"] = {
            "python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
        w = WORKLOADS[args.workload](spark, work, args.seed)
        gen_s = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            w.prepare(rep)
            gen_s.append(time.perf_counter() - t)
        setup_s = start_s + statistics.median(gen_s)
        record.update(w.describe())
        record["setup"] = {"session_start_s": start_s, "input_build_s": gen_s}

        tr = tracing.Tracer(Harvester(spark) if args.trace else None, run_id)
        expected = w.expected_rows()
        walls, cpus, attempted, failed = [], [], 0, 0
        t_loop = time.perf_counter()
        with host.RssSampler() as rss:
            while True:
                i = len(walls)
                tr.start_iteration(i)
                c, t = host.tree_cpu_s(), time.perf_counter()
                rows = w.iteration(tr)
                walls.append(time.perf_counter() - t)
                cpus.append(host.tree_cpu_s() - c)
                attempted += 1
                if rows != expected:
                    print(f"iteration {i}: {rows} output rows, expected {expected}", file=sys.stderr)
                    failed += 1
                if len(walls) > w.warm_iters and time.perf_counter() - t_loop >= args.seconds:
                    break
        t = time.perf_counter()
        errors = w.check()
        record["check_s"] = time.perf_counter() - t
        if errors:
            print(f"{len(errors)} oracle mismatches, e.g.:", *errors[:20], sep="\n  ", file=sys.stderr)
            failed = attempted
        warm = walls[1:]
        warm_s = statistics.median(warm)
        record.update({
            "peak_rss_mb": rss.peak_mb, "walls_s": walls, "cpu_s": cpus, "warm_quartiles_s": quartiles(warm), "warm_samples": len(warm),
            "rows_per_iteration": expected, "oracle_mismatches": len(errors),
        })
        if args.trace:
            warm_idx = range(1, len(walls))
            metrics = tracing.aggregate(
                [tracing.layer_metrics(tr.of_iteration(i), walls[i], n) for i in warm_idx])
            metrics["session.start_s"] = start_s
            metrics["session.python_init_s"] = tracing.python_init_s(tr.of_iteration(0))
            metrics["spark.cold_s"] = walls[0] - tr.harvest_s.get(0, 0.0)
            metrics["spark.warm_cpu_s"] = statistics.median(cpus[1:])
            # the only code a traced iteration runs that an untraced one does
            # not is the status-store read after each span
            metrics["trace.overhead_s"] = statistics.median(tr.harvest_s.get(i, 0.0) for i in warm_idx)
            metrics["spark.peak_rss_mb"] = rss.peak_mb
            units = tracing.PER_LAYER
            record["spans"] = [s.record() for s in tr.spans]
        else:
            metrics = {
                "setup_s": setup_s,
                "warm_s": warm_s,
                "fv_per_s": expected / warm_s,
            }
            units = {"setup_s": "s", "warm_s": "s", "fv_per_s": "rows/s"}
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        record["teardown_s"] = time.perf_counter() - t
    record["after"] = host.snapshot()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    record["result"] = result
    out_dir = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: v for k, v in record.items() if k != "spans"}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
