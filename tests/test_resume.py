"""M5 — kill-and-resume / idempotency gate (SURVEY.md §4.5; BASELINE.json
north_rule "resumable from checkpoint with per-partition lineage + metrics").

Simulated kill: run the staged pipeline to completion, then delete the
commit manifests of every stage downstream of `links` (as if the job died
mid-run after committing mentions+links). The resumed run must
  1. NOT recompute the committed stages (their manifests stay untouched),
  2. reproduce byte-for-byte the same triples as an uninterrupted run,
  3. leave a lineage table covering every stage, with rows from BOTH runs
     merged (completed stages keep their original lineage rows).
A resume that finds every stage committed pays no partition profile pass
and no NLP set-up.
"""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pytest

from ner_spark import io as nio
from ner_spark.nlp import stage as nlp_stage
from ner_spark.nlp import vectorized as V
from ner_spark.operators import partitioning
from ner_spark.plans.kg import build_kg

STAGES = ["mentions", "links", "edges", "entities_canon", "triples", "entities"]
KEEP = {"mentions", "links"}  # committed before the simulated kill
TRIPLE_KEY = ["subj", "pred", "obj", "conv_id", "turn_idx"]


def _triples_pdf(out) -> pd.DataFrame:
    return (
        out["triples"]
        .toPandas()
        .sort_values(TRIPLE_KEY, kind="mergesort")
        .reset_index(drop=True)
    )


def _manifest(warehouse: str, stage: str) -> dict:
    with open(os.path.join(warehouse, stage, "_manifest.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kg_warehouse"))


def test_kill_and_resume(spark, small_inputs, warehouse):
    run = lambda resume: build_kg(  # noqa: E731
        spark,
        small_inputs["transcripts"],
        small_inputs["gazetteer_pdf"],
        small_inputs["entity_embeddings"],
        warehouse=warehouse,
        run_id="r1",
        resume=resume,
    )

    full = _triples_pdf(run(resume=False))
    stamps = {s: _manifest(warehouse, s)["completed_at"] for s in STAGES}
    lineage_before = pd.read_parquet(os.path.join(warehouse, "lineage_r1.parquet"))

    # simulated kill after `links` committed: downstream commits vanish
    for s in set(STAGES) - KEEP:
        os.remove(os.path.join(warehouse, s, "_manifest.json"))
        assert not nio.table_complete(os.path.join(warehouse, s), "r1")

    resumed = _triples_pdf(run(resume=True))

    # 1. committed stages were read back, not recomputed
    for s in KEEP:
        assert _manifest(warehouse, s)["completed_at"] == stamps[s], s
    # downstream stages were recomputed (fresh commit markers)
    for s in set(STAGES) - KEEP:
        assert _manifest(warehouse, s)["completed_at"] > stamps[s], s

    # 2. identical output (idempotent overwrite-by-stage)
    pd.testing.assert_frame_equal(full, resumed)

    # 3. lineage covers every stage after resume, and the kept stages'
    #    rows survive the merge unchanged (checksum + counts)
    lineage = pd.read_parquet(os.path.join(warehouse, "lineage_r1.parquet"))
    assert set(lineage.stage) == set(STAGES)
    for s in KEEP:
        a = lineage_before[lineage_before.stage == s].reset_index(drop=True)
        b = lineage[lineage.stage == s].reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)


def test_resume_noop_when_complete(spark, small_inputs, warehouse):
    """A second resume run with everything committed recomputes nothing."""
    stamps = {s: _manifest(warehouse, s)["completed_at"] for s in STAGES}
    out = build_kg(
        spark,
        small_inputs["transcripts"],
        small_inputs["gazetteer_pdf"],
        small_inputs["entity_embeddings"],
        warehouse=warehouse,
        run_id="r1",
        resume=True,
    )
    assert out["triples"].count() > 0
    for s in STAGES:
        assert _manifest(warehouse, s)["completed_at"] == stamps[s], s


def test_new_run_id_recomputes(spark, small_inputs, warehouse):
    """A different run_id invalidates old commits (overwrite, idempotent)."""
    out = build_kg(
        spark,
        small_inputs["transcripts"],
        small_inputs["gazetteer_pdf"],
        small_inputs["entity_embeddings"],
        warehouse=warehouse,
        run_id="r2",
        resume=True,
    )
    assert _manifest(warehouse, "triples")["run_id"] == "r2"
    assert out["triples"].count() > 0
    # lineage files are per-run
    assert sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(warehouse, "lineage_*"))
    ) == ["lineage_r1.parquet", "lineage_r2.parquet"]


def test_full_readback_pays_no_nlp_setup(spark, small_inputs, tmp_path, monkeypatch):
    """A resume that finds every stage committed reads them back and runs
    neither the partition profile pass nor any NLP set-up."""
    run = lambda: build_kg(  # noqa: E731
        spark,
        small_inputs["transcripts"],
        small_inputs["gazetteer_pdf"],
        small_inputs["entity_embeddings"],
        warehouse=str(tmp_path),
        run_id="rp",
        resume=True,
        n_partitions=4,
    )
    full = _triples_pdf(run())
    stamps = {s: _manifest(str(tmp_path), s)["completed_at"] for s in STAGES}

    def refuse(*_a, **_k):
        raise AssertionError("NLP set-up ran on a full read-back")

    monkeypatch.setattr(partitioning, "profile_keys", refuse)
    monkeypatch.setattr(V, "GazMatcher", refuse)
    # an empty broadcast cache: any NLP set-up would build a matcher
    monkeypatch.setitem(nlp_stage._CACHE, "app", None)
    resumed = _triples_pdf(run())

    for s in STAGES:
        assert _manifest(str(tmp_path), s)["completed_at"] == stamps[s], s
    pd.testing.assert_frame_equal(full, resumed)
