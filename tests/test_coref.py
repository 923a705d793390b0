"""Connected components (operators/coref.py): the driver union-find path
and the distributed large-star/small-star path return the same map."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ner_spark.operators import coref
from ner_spark.operators.coref import canonical_map, connected_components

EDGE_SCHEMA = "src_entity string, dst_entity string"


def _pairs(df) -> set:
    return {(r["entity_id"], r["canonical_id"]) for r in df.collect()}


def test_connected_components_paths_agree(spark, monkeypatch):
    rng = random.Random(11)
    chain = [f"c{i:03d}" for i in range(300)]
    rng.shuffle(chain)  # component min sits mid-chain, not at an end
    edges = [(a, b) for a, b in zip(chain, chain[1:])]
    edges += [
        ("b", "a"), ("a", "b"), ("a", "b"),  # reversed and duplicate pairs
        ("d", "c"), ("c", "e"),
        ("a", "a"), ("c", "c"),  # self-loops on nodes with real edges
        ("solo", "solo"),  # a node seen only in a self-loop
    ]
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, EDGE_SCHEMA)

    driver = _pairs(connected_components(df))
    monkeypatch.setattr(coref, "MAX_DRIVER_EDGES", 0)
    iterative = _pairs(connected_components(df))
    want = {(n, "c000") for n in chain}
    want |= {("a", "a"), ("b", "a"), ("c", "c"), ("d", "c"), ("e", "c")}
    assert driver == iterative == want


def test_iterative_path_evaluates_edges_once(spark, monkeypatch):
    """The bounded collect and the iterative loop share one evaluation of
    the edges' upstream: a counting UDF sees each input row once."""
    seen = spark.sparkContext.accumulator(0)

    def count_row(x):
        seen.add(1)
        return x

    # nondeterministic: the optimizer must not copy the call into the
    # pushed-down self-loop filter
    counted = F.udf(count_row, "string").asNondeterministic()

    pairs = [(f"n{i}", f"n{i + 1}") for i in range(40)] + [("n3", "n0")]
    edges = spark.createDataFrame(pairs, EDGE_SCHEMA).select(
        counted("src_entity").alias("src_entity"), "dst_entity"
    )
    # 1, not 0: Spark rewrites a limit of 1 over a distinct into a plain
    # limit, which would not evaluate the whole edge set
    monkeypatch.setattr(coref, "MAX_DRIVER_EDGES", 1)
    got = _pairs(connected_components(edges))
    assert got == {(f"n{i}", "n0") for i in range(41)}
    assert seen.value == len(pairs)


def test_canonical_map_covers_singleton_links(spark):
    links = spark.createDataFrame(
        [(e,) for e in ["x2", "x1", "x3", "lone", "solo", "x2"]],
        "entity_id string",
    )
    edges = spark.createDataFrame(
        [("x3", "x2"), ("x2", "x1"), ("solo", "solo")], EDGE_SCHEMA
    )
    got = _pairs(canonical_map(links, edges))
    assert got == {
        ("x1", "x1"), ("x2", "x1"), ("x3", "x1"),
        ("lone", "lone"), ("solo", "solo"),
    }
