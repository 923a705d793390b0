"""Incremental KG maintenance over Iceberg snapshots (SURVEY.md §3.2/§4.5).

The north-rule production loop: transcript batches land as APPEND
snapshots on an Iceberg table; each maintenance tick processes only the
appended turns through the expensive per-turn stages and merges the
results — no full rebuild. The split follows the stages' algebra:

- ``detect_mentions`` / ``link_mentions`` are per-turn / per-mention
  (no cross-conversation state), so a turn-delta produces exactly the
  rows a full run would — appended to the mentions/links tables, the
  accumulated state is byte-equal to a from-scratch build (pinned by
  tests/test_incremental_kg.py).
- the delta runs through the NLP ``mapInPandas`` exactly once per
  tick: the delta's mentions are persisted for the tick, so the links
  commit and the mentions commit read the same materialized rows instead
  of re-deriving them (each re-derivation paid the Python boundary
  again). They are unpersisted when the tick ends, commit failures
  included. The processed-row count is a count of the source scan,
  which reads no text.
- canonicalization (coref edges → connected components) and the entity
  rollup are global by nature — a new mention can merge two old
  entities — so they recompute from the ACCUMULATED links table each
  tick. Tick-sized edge sets (tens of edges for thousands of links) take
  the connected-components driver path (operators/coref.py): one bounded
  collect and a union-find instead of a distributed loop of ~30 jobs;
  only an edge set above ``coref.MAX_DRIVER_EDGES`` runs the iterative
  joins. Triples share the same recompute-from-state shape and are left
  to the batch pipeline (plans/kg.py).

CDC repair: when the tick range carries merge-on-read row deltas
(transcript corrections via ``merge_upsert_iceberg_mor(key='conv_id')``,
GDPR erasures via ``delete_iceberg_where``), the pure append-delta can't
express them, so the tick switches to conversation-granular repair:
``changed_keys_iceberg`` recovers every touched conv_id from the range's
change files (O(changed files); evaluated once per tick and persisted for
the scan and both replace commits), the per-turn stages re-run over those
conversations' CURRENT turns only, and each derived table replaces those
conv groups in ONE atomic MOR commit (``mor_replace_keys`` — equality-
delete the group, append its recomputed rows; a conversation erased at
the source is tombstoned in the derived tables the same way). End state
is pinned byte-equal to a from-scratch run (test_incremental_kg.py).

Exactly-once consumption: each append to the mentions table stamps the
SOURCE snapshot id it covers into its snapshot summary
(``source-snapshot-id``); a tick that finds the stamp already at the
current source snapshot is a no-op, so a crashed-and-rerun tick cannot
double-ingest a batch — the same idempotent-commit protocol as
iceberg_sink, driven from table metadata instead of a side checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ner_spark.iceberg.spark_io import (
    changed_keys_iceberg,
    mor_replace_keys,
    read_iceberg,
    read_iceberg_incremental,
    write_iceberg,
)
from ner_spark.iceberg.table import IcebergLocalTable
from ner_spark.nlp.stage import detect_mentions
from ner_spark.operators.coref import canonical_map, coref_edges, entity_rollup
from ner_spark.operators.linking import gazetteer_norm, link_mentions

# Widest CDC repair whose conv_id keys are collected to the driver and
# pushed into the source scan as an IN list.
MAX_IN_KEYS = 10_000


def _last_source_snapshot(mentions_loc: str) -> int | None:
    t = IcebergLocalTable(mentions_loc)
    if not t.exists():
        return None
    snap = t.current_snapshot()
    if snap is None:
        return None
    v = snap["summary"].get("source-snapshot-id")
    return int(v) if v is not None else None


def incremental_kg_update(
    spark: SparkSession,
    transcripts_loc: str,
    warehouse: str,
    gazetteer_pdf,
    entity_embeddings: DataFrame,
) -> dict:
    """One maintenance tick: ingest appended transcripts, refresh entities.

    Returns {"processed_rows", "from_snapshot", "to_snapshot", "entities",
    "mentions", "links"} — DataFrames are the post-tick table states.
    """
    src = IcebergLocalTable(transcripts_loc)
    cur_snap = src.current_snapshot()
    if cur_snap is None:
        raise ValueError(f"no snapshots at {transcripts_loc}")
    to_id = cur_snap["snapshot-id"]
    mentions_loc = f"{warehouse}/mentions"
    links_loc = f"{warehouse}/links"
    from_id = _last_source_snapshot(mentions_loc)

    repair_keys = None  # non-None → CDC repair tick (corrections/deletes)
    cached: list[DataFrame] = []  # persisted for this tick only
    processed = 0
    try:
        if from_id == to_id:
            delta = None  # tick already applied (idempotent re-run)
        elif from_id is None:
            delta = read_iceberg(spark, transcripts_loc)  # first tick: full
        elif "delete" in src.operations_between(from_id, to_id):
            # the range carries MOR row deltas (corrected conversations,
            # GDPR erasures) — a pure append-delta cannot express them.
            # Repair at conversation granularity: every conv_id touched
            # by the range (added rows, position-deleted rows, equality
            # keys) is re-derived from its CURRENT turns, and the derived
            # tables replace those conv groups atomically (equality-
            # delete the group + append its recomputed rows in ONE MOR
            # commit). Cost is O(changed conversations), not O(table).
            repair_keys = changed_keys_iceberg(
                spark, transcripts_loc, from_id, "conv_id", to_id
            ).persist()
            cached.append(repair_keys)
            # up to MAX_IN_KEYS keys go into the scan as a pushed-down IN
            # predicate, which prunes it through the table's partition
            # spec (bucket(N, conv_id) layout → only the touched buckets
            # are read; the repair becomes O(1/N of table) in I/O, not
            # just in compute). The collect is bounded, so a very wide
            # repair never lands on the driver: it falls back to a plain
            # semi-join over the full scan, which AQE broadcasts or
            # shuffles by the keys' measured size.
            keys = [
                r["conv_id"]
                for r in repair_keys.limit(MAX_IN_KEYS + 1).collect()
            ]
            if len(keys) <= MAX_IN_KEYS:
                delta = read_iceberg(
                    spark, transcripts_loc, snapshot_id=to_id,
                    filters=[("conv_id", "in", keys)],
                )
            else:
                delta = read_iceberg(
                    spark, transcripts_loc, snapshot_id=to_id
                ).join(repair_keys, "conv_id", "left_semi")
        else:
            delta = read_iceberg_incremental(
                spark, transcripts_loc, from_id, to_id
            )

        if delta is not None:
            men_delta = detect_mentions(delta, gazetteer_pdf, spark).persist()
            cached.append(men_delta)
            gaz_n = gazetteer_norm(spark, gazetteer_pdf)
            links_delta = link_mentions(men_delta, gaz_n, entity_embeddings)
            # crash-safe commit order: links first, mentions (whose stamp
            # DRIVES delta derivation) last. A crash between the two
            # leaves the mentions stamp un-advanced, so the rerun
            # recomputes the same delta — and the links stamp (already at
            # to_id) tells it to skip the links append instead of
            # double-ingesting the batch.
            if repair_keys is not None:
                if _last_source_snapshot(links_loc) != to_id:
                    mor_replace_keys(
                        spark, links_loc, repair_keys, links_delta, "conv_id",
                        summary={"source-snapshot-id": to_id},
                    )
                mor_replace_keys(
                    spark, mentions_loc, repair_keys, men_delta, "conv_id",
                    summary={"source-snapshot-id": to_id},
                )
            else:
                if _last_source_snapshot(links_loc) != to_id:
                    write_iceberg(
                        links_delta, links_loc, mode="append",
                        summary={"source-snapshot-id": to_id},
                    )
                write_iceberg(
                    men_delta, mentions_loc, mode="append",
                    summary={"source-snapshot-id": to_id},
                )
            # a row count of the source scan reads no text column
            processed = delta.count()
    finally:
        for df in cached:
            df.unpersist()

    # global refresh from accumulated links
    links = read_iceberg(spark, links_loc)
    canon = canonical_map(links, coref_edges(links))
    return {
        "processed_rows": processed,
        "from_snapshot": from_id,
        "to_snapshot": to_id,
        "mentions": read_iceberg(spark, mentions_loc),
        "links": links,
        "entities": entity_rollup(links, canon),
    }
