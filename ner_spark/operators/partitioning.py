"""Explicit partitioning with hot-key salting (SURVEY.md §4.3;
BASELINE.json north_rule "explicitly partitioned by conv_id with salting
for hot conversations").

A profile aggregation finds the top-k hottest conversations; their rows
get a turn-derived salt appended to the repartition key so one 10^6-turn
conversation spreads over `salt` partitions instead of pinning one
straggler executor. Cold conversations keep salt 0 — they stay fully
co-located. The NLP stage downstream is row-parallel, so salting is
semantics-free there; per-conversation operators (windows, session
assembly) re-exchange on conv_id anyway and are unaffected.

The same profile aggregation sizes the pass: its grand-total row gives a
sampled row-count estimate, and the repartition uses
min(n_partitions, max(defaultParallelism, ceil(rows / maxRecordsPerBatch)))
partitions, so ``n_partitions`` is an upper bound. Every Python task pays
a fixed boundary cost, so a few thousand turns get one task per core, not
4 x nproc near-empty ones, while a 10^6-turn input still gets all of
``n_partitions``.

The two-level aggregation pattern for salted keys (partial per
(key, salt), final per key) lives in queries_relational.salted_two_level_agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_keys(
    df: DataFrame,
    key: str = "conv_id",
    hot_k: int = 64,
    min_rows: int = 1000,
    sample_mod: int = 100,
    sample_col: str = "turn_idx",
) -> tuple[list, int]:
    """One profile pass: (the up-to-hot_k keys with >= min_rows rows, an
    estimate of the total row count), both from a deterministic
    ~1/sample_mod row sample (round-4: VERDICT r03 item 6) — hot keys by
    definition survive sampling (a key at the min_rows threshold keeps
    ~min_rows/sample_mod sampled rows), so the profile scan shuffles 1%
    of the input instead of all of it. The row estimate is the sampled
    count times sample_mod, read from the grand-total row of the same
    ``rollup`` (no second job). The sample predicate is
    xxhash64(key, sample_col) — never rand() — so retries and
    repartitions see the same profile. sample_mod=1 disables sampling
    (the exact count profile). Salting is semantics-free downstream, so
    profile noise near the threshold can only shift WHICH borderline keys
    get salted, never any result."""
    cutoff = max(1, min_rows // sample_mod)
    src = df
    if sample_mod > 1:
        src = df.where(
            F.pmod(
                F.xxhash64(F.col(key), F.col(sample_col)), F.lit(sample_mod)
            )
            == 0
        )
    rows = (
        src.rollup(key)
        .agg(F.count(F.lit(1)).alias("count"), F.grouping(key).alias("__total"))
        .where((F.col("__total") == 1) | (F.col("count") >= cutoff))
        .orderBy(F.desc("__total"), F.desc("count"), key)
        .limit(hot_k + 1)
        .collect()
    )
    # an empty input has no grand-total row
    sampled = rows[0]["count"] if rows and rows[0]["__total"] else 0
    return [r[key] for r in rows if not r["__total"]], sampled * sample_mod


def profile_hot_keys(
    df: DataFrame,
    key: str = "conv_id",
    hot_k: int = 64,
    min_rows: int = 1000,
    sample_mod: int = 100,
    sample_col: str = "turn_idx",
) -> list:
    """The hot keys of ``profile_keys`` (same pass, same arguments)."""
    return profile_keys(df, key, hot_k, min_rows, sample_mod, sample_col)[0]


def sized_partitions(
    n_partitions: int, est_rows: int, parallelism: int, batch_rows: int
) -> int:
    """Task count for a Python-UDF pass over ~est_rows rows: every core
    busy, and at least one full Arrow batch (``batch_rows``, the session's
    maxRecordsPerBatch) per task, but never more than ``n_partitions``.
    Each Python task pays a fixed boundary cost, so a small input split
    into many tasks spends most of its time on that cost. A batch size
    <= 0 (Spark: unlimited) leaves ``n_partitions`` as it is."""
    if batch_rows <= 0:
        return n_partitions
    return min(n_partitions, max(parallelism, -(-est_rows // batch_rows)))


def salted_repartition(
    df: DataFrame,
    n_partitions: int,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    hot_k: int = 64,
    min_rows: int = 1000,
    salt: int = 16,
) -> DataFrame:
    """repartition(n, key [, salt]) where only profiled hot keys are
    salted (deterministic: salt = xxhash64(order_col) % salt).

    ``n_partitions`` is an upper bound: the profile pass also estimates
    the row count, and n = min(n_partitions, max(defaultParallelism,
    ceil(rows / maxRecordsPerBatch))) (``sized_partitions``)."""
    hot, est_rows = profile_keys(df, key, hot_k, min_rows, sample_col=order_col)
    spark = df.sparkSession
    n_partitions = sized_partitions(
        n_partitions,
        est_rows,
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
    )
    if not hot:
        return df.repartition(n_partitions, key)
    salt_col = (
        F.when(
            F.col(key).isin(hot),
            F.pmod(F.xxhash64(F.col(order_col)), F.lit(salt)),
        )
        .otherwise(F.lit(0))
        .alias("__salt")
    )
    return df.repartition(n_partitions, F.col(key), salt_col)
