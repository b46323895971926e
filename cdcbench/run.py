#!/usr/bin/env python3
"""CDC benchmark: one run of one workload.

    python3 cdcbench/run.py --workload backlog --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Builds a Spark session with the engine's
own defaults (``session.get_spark``), setting only the deployment values
``master=local[N]`` (N = min(2, usable cores)) and the driver memory,
then sets the workload up, runs its timed phase, checks the results and
prints one JSON object as the last line of standard output. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` records spans and reports
the per-layer metrics instead. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backlog", "tail_mor", "tail_cow")
# Two task threads on a 4-vCPU shared VM: at local[4] the hypervisor took
# 35-45 % of the VM's CPU time while a catch-up ran (steal in /proc/stat),
# at local[2] 10-25 %, and the catch-up wall was the same
MAX_CORES = 2
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def burn_wall(n: int = 400_000, repeats: int = 3) -> float:
    """CPU calibration: median wall of a fixed pure-Python loop."""
    walls = []
    for _ in range(repeats):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i % 7
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def environment(spark, cores: int) -> dict:
    import pyspark
    sc = spark.sparkContext
    conf = sc.getConf()
    jvm = sc._jvm
    gcs = [b.getName() for b in
           jvm.java.lang.management.ManagementFactory
           .getGarbageCollectorMXBeans()]
    return {
        "nproc": os.cpu_count(),
        "usable_cores": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "cores": cores,
        "spark_local_dir": conf.get("spark.local.dir", None),
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "driver_memory": conf.get("spark.driver.memory", None),
        "jvm_max_heap_bytes": jvm.java.lang.Runtime.getRuntime().maxMemory(),
        "gc": gcs,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "cpu_burn_s": burn_wall(),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(1, ROOT)
    try:
        import pyspark  # noqa: F401
        from rockefeller_spark.session import get_spark
    except ImportError as e:
        print(f"cdcbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import checks
    import report
    import spans
    import workloads

    state = os.path.join(ROOT, ".cdcbench")
    workdir = os.path.join(state, f"work-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    spark = get_spark("cdcbench", master=f"local[{cores}]",
                      extra_confs={"spark.driver.memory": DRIVER_MEMORY})
    w = None
    undo = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_PROCESS
        tracer = spans.Tracer(spark) if args.trace else spans.NULL_TRACER
        w = workloads.Workload(spark, args.workload, args.seed, args.seconds,
                               workdir, tracer)
        w.setup()
        t_setup = time.perf_counter()
        setup_s = t_setup - T_PROCESS
        if args.trace:
            undo = workloads.install_hooks(tracer)
        w.run()
        if undo is not None:
            undo()
            undo = None
        t_run = time.perf_counter()
        env = environment(spark, cores)
        checked, problems = checks.correctness_gate(spark, w)
        problems += w.s.failures
        determinism = checks.determinism_check(
            w, os.path.join(state, "determinism"), checks.code_hash(ROOT))
        attempted = w.s.attempted + checked + sum(
            r.chunks_committed for r in w.s.catchups)
        failed = len(problems) + len(determinism)
        if args.trace:
            groups = {w.query_run_id} if w.query_run_id else set()
            cost = spans.SparkCost(spark)
            values = report.per_layer(tracer, w.s, cost, groups)
            metrics = report.as_metrics(values, report.PER_LAYER)
            os.makedirs(os.path.join(state, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                state, "traces", f"{args.workload}-seed{args.seed}-"
                f"{int(time.time())}.json"),
                {"env": env, "workload": args.workload, "seed": args.seed,
                 "metrics": values})
        else:
            values = report.end_to_end(w.s, setup_s)
            metrics = report.as_metrics(values, report.END_TO_END)
        for p in problems + determinism:
            print(f"cdcbench: FAILED {p}", file=sys.stderr)
        print(f"cdcbench: session {session_s:.1f} s, set-up "
              f"{w.s.setup_wall:.1f} s (gen {w.s.gen_wall:.1f} s, "
              f"bootstrap {w.s.bootstrap_wall:.1f} s), timed "
              f"{t_run - t_setup:.1f} s, checks "
              f"{time.perf_counter() - t_run:.1f} s", file=sys.stderr)
        print(json.dumps({"env": env, "workload": args.workload,
                          "seed": args.seed, "setup_s": setup_s,
                          "counters": w.s.counters,
                          "samples": w.s.raw()}, default=str))
        print(json.dumps({"correct": failed == 0 and not determinism,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    except Exception:  # noqa: BLE001 - a crashed run prints no result
        traceback.print_exc()
        return 1
    finally:
        if undo is not None:
            undo()
        if w is not None:
            w.close()
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
