"""Incremental KG maintenance over Iceberg snapshots (plans/incremental).

The contract under test: per-turn stages are exactly incremental —
accumulated mentions/links state after N append ticks is byte-equal to a
from-scratch run over all transcripts — and the globally-recomputed
entity rollup matches the batch pipeline's. Consumption is
exactly-once-per-snapshot (an idempotent re-tick is a no-op), and a tick
runs the NLP mapInPandas once (read from the SQL status store).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F

from ner_spark.iceberg.spark_io import (
    delete_iceberg_where,
    merge_upsert_iceberg_mor,
    read_iceberg,
    write_iceberg,
)
from ner_spark.iceberg.table import IcebergLocalTable
from ner_spark.nlp.stage import detect_mentions
from ner_spark.plans import incremental
from ner_spark.plans.incremental import incremental_kg_update
from ner_spark.plans.kg import build_kg

MENTION_KEY = ["conv_id", "turn_idx", "start", "end"]
# the fused NLP kernel's mapInPandas node, by its input columns
NLP_NODE = re.compile(r"MapInPandas \w+\(conv_id#\d+, turn_idx#\d+, text#\d+\)")


def _correct_and_erase(spark, tx, src):
    """Land a CDC range on the source table: conversation A's turns get
    conversation B's texts (MOR upsert by conv_id), and conversation C is
    erased. Returns (B, C, number of corrected turns)."""
    convs = sorted(
        r["conv_id"] for r in tx.select("conv_id").distinct().collect()
    )
    corrected_conv, donor_conv, erased_conv = convs[0], convs[1], convs[2]
    donor = tx.filter(F.col("conv_id") == donor_conv).select(
        "turn_idx", F.col("text").alias("new_text")
    )
    corrected = (
        tx.filter(F.col("conv_id") == corrected_conv)
        .join(donor, "turn_idx", "inner")
        .drop("text")
        .withColumnRenamed("new_text", "text")
        .select(*tx.columns)
    )
    n_corrected = corrected.count()
    assert n_corrected > 0
    merge_upsert_iceberg_mor(spark, src, corrected, key="conv_id")
    delete_iceberg_where(spark, src, [("conv_id", "=", erased_conv)])
    return donor_conv, erased_conv, n_corrected


def _sql_executions(spark, after: int):
    """SQL executions newer than ``after``, from the SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    while it.hasNext():
        x = it.next()
        if x.executionId() > after:
            yield store, x


def _last_execution(spark) -> int:
    return max((x.executionId() for _, x in _sql_executions(spark, -1)), default=-1)


def _nlp_executions(spark, after: int) -> set:
    """Executions newer than ``after`` in which the NLP mapInPandas ran.
    A plan that reads persisted mentions still shows the node (under its
    InMemoryRelation), but its output-row metric stays 0 there."""
    ran = set()
    for store, x in _sql_executions(spark, after):
        eid = x.executionId()
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            n = nodes.next()
            if not NLP_NODE.search(n.desc()):
                continue
            ms = n.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = values.get(m.accumulatorId())
                if (m.name() == "number of output rows" and v.isDefined()
                        and int(re.sub(r"\D", "", v.get()) or 0) > 0):
                    ran.add(eid)
    return ran


def _sorted_pdf(df, key):
    pdf = df.toPandas()
    if "ctx_emb" in pdf.columns:
        pdf["ctx_emb"] = pdf["ctx_emb"].map(bytes)
    return pdf.sort_values(key, kind="mergesort").reset_index(drop=True)


def test_incremental_matches_full_rebuild(spark, small_inputs, tmp_path):
    tx = small_inputs["transcripts"]
    gaz = small_inputs["gazetteer_pdf"]
    emb = small_inputs["entity_embeddings"]
    src = str(tmp_path / "transcripts")
    wh = str(tmp_path / "wh")

    half = F.abs(F.xxhash64("conv_id")) % 2
    b1, b2 = tx.filter(half == 0), tx.filter(half == 1)

    # batch 1 lands; first tick processes the whole table
    write_iceberg(b1, src)
    r1 = incremental_kg_update(spark, src, wh, gaz, emb)
    assert r1["from_snapshot"] is None
    assert r1["processed_rows"] == b1.count() > 0

    # batch 2 lands as an append snapshot; tick 2 processes ONLY it, in
    # one NLP pass shared by the links and mentions commits
    write_iceberg(b2, src, mode="append")
    mark = _last_execution(spark)
    r2 = incremental_kg_update(spark, src, wh, gaz, emb)
    assert len(_nlp_executions(spark, mark)) == 1
    assert r2["from_snapshot"] is not None
    assert r2["processed_rows"] == b2.count() > 0

    # accumulated per-turn state ≡ from-scratch run over all transcripts
    full_mentions = detect_mentions(tx, gaz, spark)
    pd.testing.assert_frame_equal(
        _sorted_pdf(r2["mentions"], MENTION_KEY),
        _sorted_pdf(full_mentions, MENTION_KEY),
    )

    # globally-recomputed entities ≡ the batch pipeline's
    full = build_kg(spark, tx, gaz, emb)
    key = ["entity_id"]
    got = _sorted_pdf(r2["entities"], key)
    want = _sorted_pdf(full["entities"], key)
    got["aliases"] = got["aliases"].map(tuple)
    want["aliases"] = want["aliases"].map(tuple)
    pd.testing.assert_frame_equal(got, want)

    # idempotent re-tick: no new source data → nothing processed, no new
    # snapshots on either derived table
    men_t = IcebergLocalTable(f"{wh}/mentions")
    links_t = IcebergLocalTable(f"{wh}/links")
    men_snaps = len(men_t.snapshots())
    links_snaps = len(links_t.snapshots())
    r3 = incremental_kg_update(spark, src, wh, gaz, emb)
    assert r3["processed_rows"] == 0
    assert len(men_t.snapshots()) == men_snaps
    assert len(links_t.snapshots()) == links_snaps
    # the derived tables record which source snapshot they cover
    assert (
        int(men_t.current_snapshot()["summary"]["source-snapshot-id"])
        == r2["to_snapshot"]
    )


def test_cdc_repair_matches_full_rebuild(spark, small_inputs, tmp_path):
    """Transcript corrections (MOR upsert by conv_id) and a GDPR-style
    erasure propagate through a repair tick: derived state ends byte-
    equal to a from-scratch run over the CURRENT transcripts, erased
    conversations vanish from the derived tables, and only the touched
    conversations are reprocessed."""
    tx = small_inputs["transcripts"]
    gaz = small_inputs["gazetteer_pdf"]
    emb = small_inputs["entity_embeddings"]
    src = str(tmp_path / "transcripts")
    wh = str(tmp_path / "wh")

    write_iceberg(tx, src)
    incremental_kg_update(spark, src, wh, gaz, emb)  # tick 1: full

    donor_conv, erased_conv, n_corrected = _correct_and_erase(spark, tx, src)

    mark = _last_execution(spark)
    r = incremental_kg_update(spark, src, wh, gaz, emb)  # repair tick
    assert len(_nlp_executions(spark, mark)) == 1  # one NLP pass
    # only the touched conversations were reprocessed
    assert r["processed_rows"] == n_corrected

    cur_tx = read_iceberg(spark, src)
    assert cur_tx.filter(F.col("conv_id") == erased_conv).count() == 0
    full_mentions = detect_mentions(cur_tx, gaz, spark)
    pd.testing.assert_frame_equal(
        _sorted_pdf(r["mentions"], MENTION_KEY),
        _sorted_pdf(full_mentions, MENTION_KEY),
    )
    # the erased conversation left no derived rows behind
    assert (
        r["links"].filter(F.col("conv_id") == erased_conv).count() == 0
    )
    # entities ≡ batch pipeline over current transcripts
    full = build_kg(spark, cur_tx, gaz, emb)
    got = _sorted_pdf(r["entities"], ["entity_id"])
    want = _sorted_pdf(full["entities"], ["entity_id"])
    got["aliases"] = got["aliases"].map(tuple)
    want["aliases"] = want["aliases"].map(tuple)
    pd.testing.assert_frame_equal(got, want)

    # idempotent re-tick after repair: no-op
    men_t = IcebergLocalTable(f"{wh}/mentions")
    n = len(men_t.snapshots())
    r2 = incremental_kg_update(spark, src, wh, gaz, emb)
    assert r2["processed_rows"] == 0
    assert len(IcebergLocalTable(f"{wh}/mentions").snapshots()) == n

    # appends still take the fast path after a repair (stamp advanced)
    extra = cur_tx.filter(F.col("conv_id") == donor_conv).withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("_new"))
    )
    write_iceberg(extra, src, mode="append")
    r3 = incremental_kg_update(spark, src, wh, gaz, emb)
    assert r3["processed_rows"] == extra.count()
    full_mentions2 = detect_mentions(read_iceberg(spark, src), gaz, spark)
    pd.testing.assert_frame_equal(
        _sorted_pdf(r3["mentions"], MENTION_KEY),
        _sorted_pdf(full_mentions2, MENTION_KEY),
    )


def test_wide_repair_semi_join_matches_full_rebuild(
    spark, small_inputs, tmp_path, monkeypatch
):
    """A repair wider than the IN-list limit (forced to 1 key here, the
    range touches 2) reads the source through a plain semi-join: no
    broadcast of the key side is forced, and the end state still equals
    a from-scratch build over the current transcripts."""
    tx = small_inputs["transcripts"]
    gaz = small_inputs["gazetteer_pdf"]
    emb = small_inputs["entity_embeddings"]
    src = str(tmp_path / "transcripts")
    wh = str(tmp_path / "wh")
    write_iceberg(tx, src)
    incremental_kg_update(spark, src, wh, gaz, emb)
    _, erased_conv, n_corrected = _correct_and_erase(spark, tx, src)

    monkeypatch.setattr(incremental, "MAX_IN_KEYS", 1)
    # with size-based broadcasts off, only a hint could broadcast the keys
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    mark = _last_execution(spark)
    try:
        r = incremental_kg_update(spark, src, wh, gaz, emb)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert r["processed_rows"] == n_corrected
    plans = [x.physicalPlanDescription() for _, x in _sql_executions(spark, mark)]
    semi = re.compile(
        r"\(\d+\) (\w+)Join.*\nLeft keys \[1\]: \[conv_id#\d+\]\n"
        r"Right keys \[1\]: \[conv_id#\d+\]\nJoin type: LeftSemi"
    )
    joins = [m.group(1) for p in plans for m in semi.finditer(p)]
    assert joins and "BroadcastHash" not in joins

    cur_tx = read_iceberg(spark, src)
    full = build_kg(spark, cur_tx, gaz, emb)
    pd.testing.assert_frame_equal(
        _sorted_pdf(r["mentions"], MENTION_KEY),
        _sorted_pdf(detect_mentions(cur_tx, gaz, spark), MENTION_KEY),
    )
    link_key = MENTION_KEY + ["entity_id"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(r["links"], link_key), _sorted_pdf(full["links"], link_key)
    )
    got = _sorted_pdf(r["entities"], ["entity_id"])
    want = _sorted_pdf(full["entities"], ["entity_id"])
    got["aliases"] = got["aliases"].map(tuple)
    want["aliases"] = want["aliases"].map(tuple)
    pd.testing.assert_frame_equal(got, want)
    assert r["links"].filter(F.col("conv_id") == erased_conv).count() == 0
