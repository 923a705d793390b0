#!/usr/bin/env python3
"""KG benchmark of record: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload kg_build --seed 7 --seconds 25 --trace 0

Run it from the root of a checkout. It drives the KG engine from outside,
through its public calls, on ``local[nproc]`` from this single driver
process, as a closed loop with one job in flight. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` is a separate run that prints the
per-layer metrics. Every earlier stdout line is an ``info`` record (machine,
session confs, input properties); the last line is the result. Scratch data
lives under ``.bench_work/`` in the checkout and is removed at the end,
except the span file of a traced run. Exit status is 0 only when every
operation succeeded and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_FILES = ("ner_spark/plans/kg.py", "fixtures/gen.py", "oracle/ref_pipeline.py")


def metric_units() -> dict[str, str]:
    """Unit of every metric, as BENCHMARK.json lists it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM the driver launched, and wait for it."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("kg_build", "kg_ticks"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    units = metric_units()

    nproc = len(os.sched_getaffinity(0))
    ram_gb = mem_total_gb()
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp)
    # every temp file of the driver, its Python workers and the JVM stays
    # inside the checkout
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # also reaches the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
    # an eighth of RAM, at most 2g: the machine is shared, and a larger
    # heap measured no faster on these inputs
    heap = f"{max(1, min(2, int(ram_gb // 8)))}g"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    sys.path.insert(0, ROOT)

    import pyspark

    from ner_spark.session import get_spark, kg_task_cpus
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, CheckFailed, Run

    master = f"local[{nproc}]"
    result = None
    run = None
    spark = get_spark(master=master, app="perfbench", extra={
        "spark.task.cpus": kg_task_cpus(master),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # the heap is pinned (initial = maximum), so peak RSS does not
        # depend on when the collector chose to grow it
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
    })
    try:
        confs = dict(spark.sparkContext.getConf().getAll())
        emit({"info": "env", "nproc": nproc, "ram_gb": round(ram_gb, 1),
              "python": platform.python_version(), "pyspark": pyspark.__version__,
              "master": master, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "confs": {k: v for k, v in sorted(confs.items())
                        if not k.startswith(("spark.app.", "spark.driver.host",
                                             "spark.driver.port", "spark.executor.id"))}})
        tracer = Tracer() if args.trace else None
        run = Run(spark, args.workload, args.seed, args.seconds, work, 4 * nproc, tracer,
                  T_START)
        try:
            result = WORKLOADS[args.workload](run)
        except CheckFailed:
            pass
        except Exception as e:  # noqa: BLE001 — reported as a failed run
            if not run.failures:
                run.failures.append(f"{type(e).__name__}: {e}")
    finally:
        stop_spark(spark)

    if args.trace and run is not None:
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        run.tracer.write(os.path.join(
            work_root, "traces", f"{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    failures = run.failures if run is not None else ["session did not start"]
    if result is not None:
        emit({"info": "inputs", **result["info"], "input_gen_s": run.gen_s,
              "measure_s": run.measure_s, "steal_share": run.steal_share,
              "total_s": time.perf_counter() - T_START,
              "failed_share": len(failures) / max(1, run.attempted)})
    if args.trace:
        values = dict((result or {}).get("layers") or {})
        if values:
            values["peak_rss_mb"] = run.peak_rss_mb
    else:
        values = (result or {}).get("e2e") or {}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(values.items())}
    for f in failures:
        print(f"perfbench: FAILED: {f}", file=sys.stderr)
    emit({"correct": not failures and result is not None,
          "attempted": max(1, run.attempted if run else 0),
          "failed": len(failures), "metrics": metrics})
    return 0 if not failures and result is not None else 1


if __name__ == "__main__":
    sys.exit(main())
