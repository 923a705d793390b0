"""SparkSession factory with the configs the pipeline relies on.

AQE (incl. skew-join split), Arrow for pandas UDFs, Python worker reuse,
UTC session timezone. Local mode for the sandbox; on a real cluster the same
builder is driven by spark-submit --master/--py-files (SURVEY.md §3.2).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # text-heavy rows: ~16k turns x ~200B ≈ 3MB Arrow batches — big enough
    # that per-batch IPC/python overhead amortizes, small enough to bound
    # worker memory (SURVEY.md §4.2)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.python.worker.reuse": "true",
    # scan granularity: stage outputs are 128 small files (3-7MB), and
    # the default 128MB packing collapses them into FEWER scan tasks
    # than cores at mid scales (measured: a 780MB mentions table became
    # 10 tasks on 8 cores — two ragged waves, 2.3x superlinear wall in
    # the downstream pandas-UDF scoring pass; the same table at half
    # scale happened to pack into exactly 8 tasks and looked "fine").
    # 32MB keeps every python-UDF-bearing scan at >= 2-4 tasks per core
    # so stragglers can't idle the wave; AQE still coalesces the small
    # post-shuffle side, and row-group-less split ranges cost nothing.
    "spark.sql.files.maxPartitionBytes": "32m",
    # INT96 (the legacy default) carries NO parquet column statistics, so
    # timestamp predicates can never skip row groups or (iceberg-local)
    # files; TIMESTAMP_MICROS is the modern type every engine reads and
    # is what Iceberg requires of its data files
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # v2 committer moves task files at task commit instead of a serial
    # driver-side rename of every file at job commit — the v1 rename of
    # 128 files x 6 stages is a measurable serial cost per pipeline run
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.ui.enabled": "false",
}


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap when SPARK_GRAFT_DRIVER_MEM is unset: a quarter of the
    host's RAM (``MemTotal``), rounded to whole GB and clamped to
    1g-32g. A fixed 32g let the local-mode JVM (driver and executors in
    one heap) grow past the physical RAM of a 15 GB host until the
    kernel killed it. Without a readable MemTotal (not Linux) the 32g
    cap is used."""
    try:
        with open(meminfo) as f:
            kib = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return "32g"
    return f"{max(1, min(32, round(kib / (4 << 20))))}g"


def kg_task_cpus(master: str | None = None) -> str:
    """spark.task.cpus sizing for python-heavy (pandas-UDF) jobs — the ONE
    place this policy lives (bench.py and jobs/build_kg.py both use it).
    Each pandas-UDF task pins a JVM thread AND a python worker, so local
    masters with >= 16 cores get 2 cpus/task (task slots ≈ physical
    cores; measured 110s → ~43s at local[32], BENCH/BASELINE.md).
    Override with SPARK_GRAFT_TASK_CPUS."""
    import re

    env = os.environ.get("SPARK_GRAFT_TASK_CPUS")
    if env:
        return env
    m = re.match(
        r"local\[(\d+)\]",
        master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
    )
    return "2" if (m and int(m.group(1)) >= 16) else "1"


def get_spark(
    master: str | None = None,
    app: str = "ner-spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # Python processes the JVM spawns OUTSIDE the addPyFile mechanism —
    # the Python-DataSource planner/runner in particular — resolve
    # imports from the inherited PYTHONPATH, so the repo root must be on
    # it BEFORE the JVM launches (ensure_py_files covers executors, not
    # these). No-op when the driver already set it (bench.py, jobs/).
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in parts:
        os.environ["PYTHONPATH"] = (
            root + ((os.pathsep + os.environ["PYTHONPATH"])
                    if os.environ.get("PYTHONPATH") else "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = SparkSession.builder.master(master or f"local[{cpus}]").appName(app)
    conf = dict(DEFAULTS)
    conf["spark.driver.memory"] = (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    )
    # shuffle/spill directory override. On a real cluster every executor
    # writes shuffle data to its OWN node-local disk, so aggregate shuffle
    # bandwidth scales with the node count; this sandbox is one box with
    # one virtual disk shared by every core, which penalizes exactly the
    # high-parallelism configurations the scaling harness measures. The
    # harness points this at tmpfs so shuffle bandwidth scales with cores
    # the way per-node disks do (see bench.run_scaling).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        conf["spark.local.dir"] = local_dir
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else max(32, int(cpus))
    )
    if extra:
        conf.update(extra)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def set_confs(spark: SparkSession, confs: dict[str, str]):
    """Scope a set of session confs to a block: save whatever is set now
    (unset keys restore to unset), apply ``confs``, and restore on exit —
    the one shared implementation of the save/apply/restore dance that
    conf-sensitive demos (e.g. runtime bloom-filter injection, which
    needs fixture-scale thresholds) and their plan-pin tests both use, so
    the two sites cannot drift."""
    # conf.get(k) with no default resolves REGISTERED defaults too, so a
    # key the session never explicitly set would restore as an explicitly
    # pinned value (round-4 ADVICE — e.g. autoBroadcastJoinThreshold would
    # stop tracking future default changes). conf.get(k, default) returns
    # the default only when there is no explicit session value, and
    # "<undefined>" is Spark's own getConfString sentinel that also skips
    # the typed-entry value conversion — so unset keys round-trip to unset.
    _UNSET = "<undefined>"
    old: dict[str, str | None] = {}
    for k in confs:
        try:
            v = spark.conf.get(k, _UNSET)
            old[k] = None if v == _UNSET else v
        except Exception:
            old[k] = None
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
