"""bench.py's executor/core pair parser fails before any expensive work.
Starts no Spark session and no subprocess."""

from __future__ import annotations

import os

import pytest


@pytest.fixture
def bench(monkeypatch):
    # importing bench prepends the repo root to PYTHONPATH; keep that local
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    import bench as b

    return b


@pytest.mark.parametrize("raw,want", [("2,8", (2, 8)), ("1, 4", (1, 4))])
def test_parse_pair_accepts(bench, monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_CLUSTER_PAIR", raw)
    assert bench.parse_pair("SPARK_GRAFT_CLUSTER_PAIR", "2,8") == want


def test_parse_pair_default(bench, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CLUSTER_PAIR", raising=False)
    assert bench.parse_pair("SPARK_GRAFT_CLUSTER_PAIR", "2,8") == (2, 8)


@pytest.mark.parametrize(
    "raw", ["8", "2,8,32", "a,b", "2,", "", "0,4", "-1,4", "8,2", "4,4", "2.5,8"]
)
def test_parse_pair_rejects(bench, monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CLUSTER_PAIR", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CLUSTER_PAIR"):
        bench.parse_pair("SPARK_GRAFT_CLUSTER_PAIR", "2,8")


def test_cluster_harness_checks_pair_before_work(bench, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CLUSTER_PAIR", "8,2")

    def refuse(*_a, **_k):
        raise AssertionError("expensive work started before the pair check")

    import fixtures.gen
    import ner_spark.deploy

    monkeypatch.setattr(fixtures.gen, "ensure_fixture_dir", refuse)
    monkeypatch.setattr(ner_spark.deploy, "build_pyfiles_zip", refuse)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CLUSTER_PAIR"):
        bench.run_scaling_cluster()
