"""Benchmark of the flink_mm_spark engine: seeded closed-loop workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload damds --seed 1 --seconds 2 --trace 0

One client issues ops back to back on ``local[N]`` (N = min(4, usable
cores)). After set-up (session, worker warm-up, one untimed warm-up op) it
measures for ``--seconds`` seconds and at least one op, checks every op's
output, and prints one JSON object as the last line of stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (tracing off); ``--trace 1``
alternates traced and untraced ops and reports the per-layer metrics,
read from Spark's status store, a StreamingQueryListener and timing
wrappers around engine functions (see ``perfbench/tracing.py``); its spans
go to ``perfbench/.traces/``. Metric names and units are declared in
``BENCHMARK.json``. ``--smoke`` swaps in tiny inputs (self-tests only).

Workloads: ``damds``, ``gemm`` and ``corpus_shards`` are listed in
BENCHMARK.json. ``kmeans`` runs the same way but is left out of that list:
a fresh Spark session plus its warm-up costs 20-45 s a run on a 4-core box,
and with a fourth workload the repeated runs a comparison needs no longer
fit their time budget. ``algos`` stays measured through ``damds``.

Everything the run writes stays under ``perfbench/.work/`` (inputs, Spark
local dirs, temp files) and is removed at exit; the Spark JVM and its
Python workers are stopped and waited for before the result is printed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMES = ("kmeans", "damds", "gemm", "corpus_shards")
# Untimed ops before the clock starts: the first op of a fresh session pays
# Python-worker start-up, the program's staging, query codegen and most of
# the JVM's JIT work (on corpus_shards the JVM burns ~50 CPU-s in it).
WARMUP_OPS = 1
# Timed ops per run, at least. A run is one fresh JVM, so most of its wall
# is set-up (20-45 s on a 4-core box) and a second timed op would not fit
# the repeated runs' time budget; the spread across seeds of the first
# timed op is no wider than that of a two-op median (5-8 % on damds and
# corpus_shards). A traced run alternates traced and untraced ops and needs
# one of each for trace.overhead; the JIT is still warming between them, so
# the ratio carries that drift.
MIN_OPS = 1
MIN_OPS_TRACED = 2


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs (self-tests)")
    args = p.parse_args(argv)
    if not args.seconds > 0:
        p.error("--seconds must be positive")
    return args


def configure_env(work: str, cores: int) -> None:
    """Process environment for the engine, set before numpy/pyspark load.

    One BLAS thread per process: Spark already runs one Python worker per
    core, and ``ref.numpy_s`` is defined as a single-threaded solve."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    # both spark-submit JVMs (the launcher and the driver) keep their temp
    # files in the checkout and write no /tmp/hsperfdata entry
    jvm_opts = [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        SPARK_SUBMIT_OPTS=" ".join(filter(None, [os.environ.get("SPARK_SUBMIT_OPTS"), *jvm_opts])),
        SPARK_LAUNCHER_OPTS=" ".join(
            filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), *jvm_opts])
        ),
    )


def start_spark(work: str):
    from flink_mm_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cores: int) -> None:
    """Fork one Python worker per core and load pandas/Arrow in each."""

    def ident(batches):
        yield from batches

    spark.range(0, cores, 1, cores).mapInPandas(ident, "id long").collect()


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids, wait_gone

    descendants = [p for p in tree_pids() if p != str(os.getpid())]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = wait_gone(descendants, 30.0)
    for pid in left:
        try:
            os.kill(int(pid), 9)
        except OSError:
            pass
    wait_gone(left, 10.0)


def run(args: argparse.Namespace, age0: float, t_top: float) -> dict:
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, cores)
    import flink_mm_spark  # noqa: F401  (fail before any work if absent)

    from perfbench import inputs as gen
    from perfbench.procstat import PeakRss, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    sizes = gen.SMOKE if args.smoke else gen.FULL
    spark = None
    try:
        t0 = time.perf_counter()
        files = gen.generate(args.workload, os.path.join(work, "inputs"), args.seed, sizes)
        wl = WORKLOADS[args.workload](files, sizes, cores)
        wl.expect()
        bench_own_s = time.perf_counter() - t0

        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = start_spark(work)
            get_spark_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            warm_workers(spark, cores)
            worker_warm_s = time.perf_counter() - t0
            tracer = None
            if args.trace:
                from perfbench.tracing import Tracer

                tracer = Tracer(spark, wl)
            wl.stage(spark)
            for _ in range(WARMUP_OPS):
                if not wl.check(wl.op(spark)):
                    raise RuntimeError(f"{wl.name}: warm-up op returned a wrong result")
            t_first = time.perf_counter()
            setup_s = age0 + (t_first - t_top) - bench_own_s
            warmup_s = t_first - t0 - worker_warm_s

            walls, cpus, traced, untraced = [], [], [], []
            attempted = failed = 0
            min_ops = MIN_OPS_TRACED if tracer is not None else MIN_OPS
            while attempted < min_ops or time.perf_counter() - t_first < args.seconds:
                trace_this = tracer is not None and attempted % 2 == 0
                if trace_this:
                    tracer.begin_op()
                c0 = tree_cpu_s()
                w0 = time.perf_counter()
                e0 = time.time()
                try:
                    result, err = wl.op(spark), None
                except Exception as e:  # a failed op is counted, the client goes on
                    result, err = None, e
                wall = time.perf_counter() - w0
                e1 = time.time()
                cpus.append(tree_cpu_s() - c0)
                walls.append(wall)
                attempted += 1
                try:
                    ok = err is None and wl.check(result)
                except Exception as e:  # a malformed result is a wrong one
                    ok, err = False, e
                if err is not None:
                    traceback.print_exception(err, file=sys.stderr)
                elif not ok:
                    print(f"{wl.name}: op {attempted} returned a wrong result", file=sys.stderr)
                failed += not ok
                if tracer is not None:
                    if trace_this:
                        tracer.end_op(e0, e1, wall)
                        traced.append(wall)
                    else:
                        untraced.append(wall)
        peak_rss = rss.peak
        n_ok = attempted - failed
        if tracer is not None:
            metrics = tracer.summary(
                get_spark_s=get_spark_s,
                worker_warm_s=worker_warm_s,
                overhead=statistics.median(traced) / statistics.median(untraced)
                if untraced else 1.0,
            )
            tracer.write(os.path.join(HERE, ".traces", f"{wl.name}-seed{args.seed}-{os.getpid()}.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(walls), "s"),
                "work_per_s": (n_ok * wl.work_per_op() / sum(walls), "work/s"),
                "cpu_s_per_op": (statistics.median(cpus), "s"),
                "peak_rss_mb": (peak_rss / 2**20, "MB"),
                "ok_op_frac": (n_ok / attempted, "frac"),
            }
        print(
            f"{wl.name}: {attempted} ops, {failed} failed, setup {setup_s:.2f} s "
            f"(inputs {bench_own_s:.2f}, session {get_spark_s:.2f}, workers "
            f"{worker_warm_s:.2f}, warm-up ops {warmup_s:.2f}), "
            f"op walls {[round(w, 3) for w in walls]}",
            file=sys.stderr,
        )
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.procstat import process_age_s

    age0, t_top = process_age_s(), time.perf_counter()
    args = parse_args(argv)
    # The JVM and the Python workers inherit fd 1: point it at stderr while
    # they run, so the result is the last line of stdout.
    out = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args, age0, t_top)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        sys.stdout.flush()
        os.dup2(out, 1)
        os.close(out)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
