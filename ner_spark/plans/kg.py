"""End-to-end batch KG pipeline (SURVEY.md §3.2), with per-stage
materialization, per-partition lineage + metrics, and idempotent resume
(SURVEY.md §4.5; BASELINE.json:14).

Stage graph:
  transcripts → [profile + salted repartition by conv_id] → fused NLP
  mapInPandas → mentions
  → B1 broadcast gazetteer join → B2 link-score join (AQE skew) → B13 top-1
  → links → B3/B11 coref edges → B10 CC (driver union-find for small edge
  sets, iterative joins above) → canonical map
  → B5 triples (REL/COOC pairs + TOOL as-of) → canonicalized triples
  → B8 entity aggregation.

When ``warehouse`` is given, each stage commits to
``{warehouse}/{stage}`` with a manifest (run_id) and a lineage row set;
on resume, completed stages are read back instead of recomputed — the
kill-and-rerun test in tests/test_resume.py relies on this. The partition
profile pass and the NLP set-up (model/gazetteer broadcasts, cached per
application in nlp/stage.py) run only when ``mentions`` is built, and the
gazetteer frame only when ``links`` is, so a full read-back pays none of
them.

``n_partitions`` is an upper bound on the NLP pass's task count. The
profile pass also estimates the input's row count, and the pass runs
min(n_partitions, max(defaultParallelism, ceil(rows / maxRecordsPerBatch)))
tasks (operators/partitioning.py): at least one full Arrow batch per
Python task, since each task pays a fixed boundary cost. Fewer NLP tasks
also mean fewer mentions files, and so fewer linking scan tasks.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ner_spark.nlp.stage import detect_mentions
from ner_spark.plans.base import StagedPipeline
from ner_spark.operators.coref import canonical_map, coref_edges, entity_rollup
from ner_spark.operators.linking import gazetteer_norm, link_mentions
from ner_spark.operators.partitioning import salted_repartition
from ner_spark.operators.triples import (
    canonicalize_triples,
    rel_cooc_triples,
    tool_triples,
)

class KGPipeline(StagedPipeline):
    """KG construction on the StagedPipeline protocol (plans/base.py)."""

    def __init__(
        self,
        spark: SparkSession,
        gazetteer_pdf: pd.DataFrame,
        entity_embeddings: DataFrame,
        warehouse: str | None = None,
        run_id: str = "r0",
        resume: bool = True,
        n_partitions: int | None = None,
        fmt: str | None = None,
        model: dict | None = None,
    ):
        super().__init__(spark, warehouse, run_id, resume, fmt=fmt)
        self.gaz_pdf = gazetteer_pdf
        self.emb = entity_embeddings
        self.n_partitions = n_partitions
        # optional {"WT", "T", "start"} override for the mention model —
        # perceptron-trained weights (nlp/train.py) drop in here; None
        # keeps the generated fixture model
        self.model = model

    # -- pipeline -------------------------------------------------------------
    def run(self, transcripts: DataFrame) -> dict[str, DataFrame]:
        spark = self.spark

        def mentions_build():
            # explicit partitioning by conv_id with hot-conversation
            # salting [B:14]: a profile pass finds conversations big enough
            # to pin a straggler partition and spreads only those across
            # salt buckets (operators/partitioning.py). The same profile
            # sizes the pass to its input (n_partitions is an upper bound).
            # The profile job and the NLP broadcasts run here, inside the
            # stage, so a resume that reads mentions back pays for neither.
            tx = transcripts
            if self.n_partitions:
                tx = salted_repartition(tx, self.n_partitions)
            return detect_mentions(tx, self.gaz_pdf, spark, model=self.model)

        # the mentions stage materializes the FULL table — ctx_emb (packed
        # 8*EMB_DIM-byte binary) included — and the link stage reads it
        # back from parquet. This used to be a persist(MEMORY_AND_DISK) of
        # the full frame with a ctx_emb-free audit table, but the cache-
        # batch build is memory-bandwidth-bound, not core-bound: probed at
        # 7.3M turns it added ~21s at local[2] and ~27s at local[8] — a
        # non-scaling constant that capped N→4N efficiency — while the
        # parquet write+read of the same rows costs ~2s and scales with
        # cores. Bonus: a resume where mentions committed but links did
        # not now reads ctx_emb back instead of recomputing the NLP stage.
        men_tbl = self._stage("mentions", mentions_build)
        mentions = men_tbl.drop("ctx_emb")
        links = self._stage(
            "links",
            lambda: link_mentions(
                men_tbl, gazetteer_norm(spark, self.gaz_pdf), self.emb
            ),
        )
        edges = self._stage("edges", lambda: coref_edges(links))
        canon = self._stage("entities_canon", lambda: canonical_map(links, edges))
        # the triple builders read the raw transcripts: the pair join
        # re-shuffles on (conv_id, turn_idx) and the tool as-of re-windows
        # on conv_id, so the salted repartition would add a full-table
        # shuffle neither consumer keeps — and it would block the
        # scan-level projection/filter pushdown (text-only / role='tool')
        # that the raw scan gets
        triples = self._stage(
            "triples",
            lambda: canonicalize_triples(
                rel_cooc_triples(links, transcripts).unionByName(
                    tool_triples(links, transcripts, self.gaz_pdf, spark)
                ),
                canon,
            ),
        )
        entities = self._stage("entities", lambda: entity_rollup(links, canon))
        self._join_lineage()
        return {
            "mentions": mentions,
            "links": links,
            "edges": edges,
            "canon": canon,
            "triples": triples,
            "entities": entities,
        }


def build_kg(
    spark: SparkSession,
    transcripts: DataFrame,
    gazetteer_pdf: pd.DataFrame,
    entity_embeddings: DataFrame,
    warehouse: str | None = None,
    run_id: str = "r0",
    resume: bool = True,
    n_partitions: int | None = None,
    stage_secs: dict | None = None,
    fmt: str | None = None,
    model: dict | None = None,
) -> dict[str, DataFrame]:
    p = KGPipeline(
        spark, gazetteer_pdf, entity_embeddings, warehouse, run_id, resume,
        n_partitions, fmt=fmt, model=model,
    )
    out = p.run(transcripts)
    if stage_secs is not None:  # per-stage wall breakdown (bench.py)
        stage_secs.update(p.stage_secs)
    return out
