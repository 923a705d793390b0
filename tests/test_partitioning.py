"""Hot-key salting (SURVEY.md §4.3): semantics-free, skew-reducing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ner_spark.operators.partitioning import (
    profile_hot_keys,
    profile_keys,
    salted_repartition,
    sized_partitions,
)


@pytest.fixture(scope="module")
def skewed(spark):
    """1 hot conversation (8000 turns) + 400 cold ones (5 turns)."""
    rows = [("hot", i) for i in range(8000)]
    rows += [(f"c{k:04d}", i) for k in range(400) for i in range(5)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx"])
    )


def _partition_sizes(df):
    return [
        r.n
        for r in df.groupBy(F.spark_partition_id())
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]


def test_profile_finds_hot(skewed):
    assert profile_hot_keys(skewed, hot_k=8, min_rows=1000) == ["hot"]
    # unsampled, the grand-total row is the exact row count
    assert profile_keys(skewed, hot_k=8, min_rows=1000, sample_mod=1) == (
        ["hot"], 10_000
    )
    assert profile_keys(skewed.where("false")) == ([], 0)


def test_sizing_rule():
    """n_partitions is an upper bound: one task per core, at least one full
    4096-row Arrow batch per task."""
    # bench.py's sf0.1 build: 1.01M turns keep all 128 tasks
    assert sized_partitions(128, 1_010_000, 32, 4096) == 128
    # perfbench's ~5.3k turns on 4 cores: 4 tasks, not 16
    assert sized_partitions(16, 5_300, 4, 4096) == 4
    assert sized_partitions(64, 100_000, 4, 4096) == 25
    assert sized_partitions(2, 0, 8, 4096) == 2
    # an unlimited batch size (<= 0) leaves n_partitions as it is
    assert sized_partitions(16, 5_300, 4, 0) == 16


def test_salting_reduces_skew(skewed):
    plain = _partition_sizes(skewed.repartition(8, "conv_id"))
    salted = _partition_sizes(salted_repartition(skewed, 8, salt=8))
    # the plain layout pins all 8000 hot turns to one partition
    assert max(plain) >= 8000
    assert max(salted) < max(plain) * 0.5


def test_salting_preserves_rows(skewed):
    a = skewed.orderBy("conv_id", "turn_idx").toPandas()
    b = (
        salted_repartition(skewed, 8, salt=8)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_no_hot_keys_plain_repartition(spark):
    df = spark.range(100).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
    )
    out = salted_repartition(df, 4)
    assert out.count() == 100
    assert "__salt" not in out.columns


def test_pipeline_output_invariant_to_salting(spark, small_inputs, kg_small, tmp_path):
    """build_kg with explicit salted partitioning == unpartitioned run, and
    the NLP pass is sized to its ~2k-turn input: the committed mentions
    table has at most one data file per core, not n_partitions."""
    from ner_spark.plans.kg import build_kg

    out = build_kg(
        spark,
        small_inputs["transcripts"],
        small_inputs["gazetteer_pdf"],
        small_inputs["entity_embeddings"],
        warehouse=str(tmp_path),
        n_partitions=16,
    )
    files = list((tmp_path / "mentions").glob("part-*.parquet"))
    assert 0 < len(files) <= spark.sparkContext.defaultParallelism
    key = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    a = out["triples"].toPandas().sort_values(key).reset_index(drop=True)
    b = kg_small["triples"].toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_small_file_scan_packs_to_many_tasks(spark, tmp_path):
    """Scan packing keeps python-UDF-bearing scans wide (SURVEY.md §4.2).

    Stage outputs are ~128 small parquet files; under Spark's default
    128MB maxPartitionBytes a mid-scale mentions table (780MB / 128
    files) packed into only 10 scan tasks — two ragged waves on 8 cores
    and a 2.3x superlinear wall in the downstream pandas-UDF score pass.
    The session pins maxPartitionBytes=32m; this test locks the
    resulting bin count so a config regression resurfaces as a failure,
    not as a silent scaling cliff.
    """
    import numpy as np
    import pandas as pd

    # 32 files x ~3MB of incompressible bytes ≈ 96MB on disk: the 128MB
    # default would pack this into 1-2 bins; 32m must yield >= 6.
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "id": np.arange(16_000),
            "payload": [rng.bytes(6_000) for _ in range(16_000)],
        }
    )
    path = str(tmp_path / "smallfiles")
    spark.createDataFrame(pdf).repartition(32).write.parquet(path)

    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == "32m"
    n = spark.read.parquet(path).rdd.getNumPartitions()
    assert n >= 6, f"96MB/32 files packed into only {n} scan tasks"
