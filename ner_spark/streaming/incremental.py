"""Structured-Streaming incremental KG build (SURVEY.md §2.9, §3.4).

Batch is the primary target (BASELINE.json north_rule); this module is the
incremental variant:

S1/S5  watermark on ts + dropDuplicatesWithinWatermark on (conv_id, turn_idx)
S2     tumbling-window mention counts (queries_kg.stream_windowed_mentions)
S3     per-conversation session windows (session_stats)
S4     stateful per-conversation processing via applyInPandasWithState —
       exactly-once per (conv_id, turn_idx) even when source files are
       replayed (state = per-conv set of processed turn_idx)
S6     availableNow sinks; the streaming checkpoint gives idempotent resume

Design note (streaming_links): the batch path's top-1-per-mention is a
window function (operators/linking.py B13), which Structured Streaming does
not support, and an append-mode aggregation would withhold unfinalized
windows — breaking batch/stream parity on bounded input. The streaming path
therefore fuses candidate lookup + cosine scoring + deterministic argmax
into the same mapInPandas stage, against *broadcast* gazetteer + entity
embeddings (the north rule mandates broadcasting those anyway —
BASELINE.json:14). Scores reuse spec.cosine64 / spec round semantics, so
stream output == batch output row-for-row (tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ner_spark import spec
from ner_spark.nlp import vectorized as V
from ner_spark.nlp.stage import MENTIONS_SCHEMA, nlp_broadcasts

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

LINKS_SCHEMA = (
    "conv_id string, turn_idx int, start int, end int, sent_idx int, "
    "norm_surface string, ner_type string, entity_id string, link_score double"
)


def stream_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = 4
) -> DataFrame:
    """File-stream source over a transcripts parquet directory (C2). On a
    cluster the same schema comes from Kafka/Iceberg incremental scans.
    ``max_files_per_trigger=None`` drains everything in one micro-batch
    (fast path for the harness entries)."""
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


def deduped(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """S1+S5: watermark + exactly-once turn identity within the watermark."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


# ---------------------------------------------------------------------------
# fused NLP + linking stage (stream-safe, batch-parity)
# ---------------------------------------------------------------------------
def _candidate_pdf(gazetteer_pdf: pd.DataFrame, emb_pdf: pd.DataFrame) -> pd.DataFrame:
    """(norm_surface, ner_type, entity_id, embedding) candidate side."""
    g = gazetteer_pdf.copy()
    g["norm_surface"] = [spec.norm_surface(s) for s in g["surface_form"]]
    g = g[["norm_surface", "ner_type", "entity_id"]].drop_duplicates()
    return g.merge(emb_pdf, on="entity_id", how="left")


def _link_pandas(mentions: pd.DataFrame, cand: pd.DataFrame) -> pd.DataFrame:
    """Candidate merge + cosine64 score + deterministic argmax (B1/B2/B13
    semantics, python-side). `mentions` carries a ctx_emb column."""
    m = mentions.reset_index(drop=True).reset_index(names="mid")
    c = m.merge(cand, on=["norm_surface", "ner_type"], how="inner")
    if not len(c):
        return pd.DataFrame(
            columns=["conv_id", "turn_idx", "start", "end", "sent_idx",
                     "norm_surface", "ner_type", "entity_id", "link_score"]
        )
    # pandas-aware null check: after the left-merge a missing entity
    # embedding arrives as float NaN, not None — `e is None` alone would
    # crash cosine64 and diverge from the batch path, which scores a
    # missing embedding as cos=0.0 (operators/linking._score_batches)
    c["link_score"] = [
        round(
            spec.LINK_W_GAZ * spec.GAZ_SCORE_EXACT
            + spec.LINK_W_EMB
            * (
                0.0
                if e is None or (isinstance(e, float) and pd.isna(e))
                else spec.cosine64(x, e)
            ),
            spec.SCORE_NDIGITS,
        )
        for x, e in zip(c.ctx_emb, c.embedding)
    ]
    c = c.sort_values(
        ["mid", "link_score", "entity_id"], ascending=[True, False, True],
        kind="mergesort",
    ).drop_duplicates("mid", keep="first")
    return c[["conv_id", "turn_idx", "start", "end", "sent_idx",
              "norm_surface", "ner_type", "entity_id", "link_score"]]


def streaming_links(
    stream: DataFrame,
    gazetteer_pdf: pd.DataFrame,
    emb_pdf: pd.DataFrame,
    spark: SparkSession,
) -> DataFrame:
    """dedup → fused NLP+link mapInPandas over the stream (one Arrow trip)."""
    bc_model, bc_gaz = nlp_broadcasts(spark, gazetteer_pdf)
    bc_cand = spark.sparkContext.broadcast(_candidate_pdf(gazetteer_pdf, emb_pdf))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m, gaz, cand = bc_model.value, bc_gaz.value, bc_cand.value
        for pdf in batches:
            yield _link_pandas(_mentions_pdf(pdf, m, gaz), cand)

    return deduped(stream).select("conv_id", "turn_idx", "text").mapInPandas(
        fn, LINKS_SCHEMA
    )


def _mentions_pdf(pdf: pd.DataFrame, m: dict, gaz: V.GazMatcher) -> pd.DataFrame:
    """NLP over one Arrow batch → mentions pandas frame (same layout as
    ner_spark.nlp.stage.detect_mentions output)."""
    texts = pdf["text"].to_numpy(dtype=object)
    men, _ = V.nlp_batch(texts, gaz, m["WT"], m["T"], m["start"])
    rows = men["row"]
    types = np.array(spec.NER_TYPES, dtype=object)
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].to_numpy()[rows],
            "turn_idx": pdf["turn_idx"].to_numpy()[rows].astype(np.int32),
            "sent_idx": men["sent_in_turn"].astype(np.int32),
            "start": men["start"].astype(np.int32),
            "end": men["end"].astype(np.int32),
            "surface": men["surface"],
            "norm_surface": [spec.norm_surface(s) for s in men["surface"]],
            "ner_type": types[men["type_code"]] if len(rows) else [],
            "score": men["score"],
            "ctx_emb": pd.Series(list(men["ctx"]), dtype=object),
        }
    )


# ---------------------------------------------------------------------------
# S4 — stateful per-conversation processing (applyInPandasWithState)
# ---------------------------------------------------------------------------
STATEFUL_MENTIONS_SCHEMA = MENTIONS_SCHEMA.replace(", ctx_emb binary", "")
# compact exactly-once state: the processed turn_idx set as sorted
# disjoint half-open intervals [start, end). In-order arrival keeps ONE
# interval regardless of conversation length; state is O(#gaps) for ANY
# arrival pattern — unlike a contiguous-from-zero watermark, which
# silently regrows to O(conversation length) the moment a conversation's
# indices do not start at 0 or permanently skip a turn (the hot ~10^6-turn
# conversations the salting work targets are exactly where that bound
# must hold). The naive full turn_idx array grew without bound under
# GroupStateTimeout.NoTimeout.
_STATE_SCHEMA = "starts array<int>, ends array<int>"


def _merge_intervals(ivs: list, points: list) -> list:
    """Merge sorted-or-not intervals [s, e) with single indices into a
    minimal sorted disjoint list (adjacent intervals coalesce)."""
    items = sorted(list(ivs) + [(p, p + 1) for p in points])
    out: list = []
    for s, e in items:
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def stateful_incremental_mentions(
    stream: DataFrame, gazetteer_pdf: pd.DataFrame, spark: SparkSession
) -> DataFrame:
    """Per-conversation stateful NLP: state = the processed turn_idx set
    as disjoint intervals, so a turn is decoded exactly once even across
    source replays / overlapping micro-batches (stronger than watermark
    dedup: no time bound) while the state stays O(#gaps), not
    O(conversation length) — for any starting index or arrival order."""
    bc_model, bc_gaz = nlp_broadcasts(spark, gazetteer_pdf)

    def fn(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            starts, ends = state.get
            ivs = list(zip(starts, ends))
        else:
            ivs = []
        m, gaz = bc_model.value, bc_gaz.value
        for pdf in batches:
            # state filters cross-batch replays; drop_duplicates filters
            # copies arriving inside the same micro-batch chunk
            s_arr = np.fromiter((s for s, _ in ivs), dtype=np.int64, count=len(ivs))
            e_arr = np.fromiter((e for _, e in ivs), dtype=np.int64, count=len(ivs))
            ti = pdf["turn_idx"].to_numpy()
            idx = np.searchsorted(s_arr, ti, side="right") - 1
            covered = (idx >= 0) & (ti < e_arr[np.clip(idx, 0, None)]) if len(ivs) else np.zeros(len(ti), dtype=bool)
            fresh = pdf[~covered].drop_duplicates(subset=["turn_idx"])
            if not len(fresh):
                continue
            ivs = _merge_intervals(ivs, [int(t) for t in fresh["turn_idx"]])
            out = _mentions_pdf(fresh, m, gaz).drop(columns=["ctx_emb"])
            if len(out):
                yield out
        state.update(([s for s, _ in ivs], [e for _, e in ivs]))

    return (
        stream.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=STATEFUL_MENTIONS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# S3 — session windows
# ---------------------------------------------------------------------------
def session_stats(stream_or_batch: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-conversation session windows over turn event time; identical
    expression works on a static DataFrame (batch/stream parity test).
    Streaming callers must already carry a watermark (``deduped`` sets one);
    setting another here would be watermark redefinition (disallowed)."""
    df = stream_or_batch
    return (
        df.groupBy("conv_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
            "n_chars",
        )
    )


def run_available_now(stream_df: DataFrame, checkpoint: str, name: str,
                      output_mode: str = "append") -> DataFrame:
    """S6: drain the stream with trigger(availableNow) into a memory sink;
    returns the sink table. Checkpointed — rerunning with the same
    checkpoint processes nothing new (idempotent resume)."""
    q = (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    _await_drained(q, name)
    return stream_df.sparkSession.table(name)


def _await_drained(q, name: str, timeout_s: int = 600) -> None:
    """Fail loudly if the availableNow drain exceeds the timeout: reading
    the sink while the query still runs would surface as nondeterministic
    row counts instead of a clear error."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"stream drain '{name}' still running after {timeout_s}s"
        )


def run_to_parquet(stream_df: DataFrame, path: str, checkpoint: str) -> DataFrame:
    """S6 file sink: availableNow append to parquet with a durable
    checkpoint — rerunning with the same checkpoint is a no-op (the WAL
    already covers every source file), which is the idempotent-resume
    property the north rule asks for. Returns the sink table."""
    q = (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .format("parquet")
        .option("path", path)
        .start()
    )
    _await_drained(q, path)
    return stream_df.sparkSession.read.parquet(path)


EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (S-suite completion): clicks
    joined to the purchases made by the same user in the preceding hour,
    both sides file streams over the driver events table.

    The time-range predicate (purchase_ts in [click_ts - 1h, click_ts])
    plus the 1h watermarks bound the join state on both sides — Spark
    evicts click state once the purchase-side watermark passes click_ts,
    and vice versa, so state is O(events per hour), not O(stream). At
    scale the equi-part of the condition (user_id) is the state-store
    partition key; the range part is evaluated within the key's state.

    Batch parity on bounded input: the source is a single parquet file,
    so availableNow drains it in ONE micro-batch; the watermark only
    advances after that batch, so no row is late and the result equals
    the batch interval join (the registered DuckDB oracle). The
    multi-batch late-data path is exercised in tests/test_streaming.py.
    """

    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            # file-stream sources need a directory: stream sf_dir with a
            # glob filter instead of the single events.parquet file
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("value").alias(f"{prefix}_value"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    clicks = side("click", "click")
    purchases = side("purchase", "purchase")
    return clicks.join(
        purchases,
        F.expr(
            "click_user_id = purchase_user_id AND "
            "purchase_ts BETWEEN click_ts - INTERVAL 1 HOUR AND click_ts"
        ),
    ).select(
        F.col("click_id"),
        F.col("purchase_id"),
        F.col("click_user_id").alias("user_id"),
        F.round("purchase_value", 6).alias("purchase_value"),
    )


def run_cdc_merge(
    stream_df: DataFrame,
    target: str,
    key: str,
    seq_col: str,
    checkpoint: str,
) -> DataFrame:
    """Streaming CDC apply (S6 + MERGE): upsert every micro-batch into a
    maintained table via foreachBatch -> io.merge_upsert — the pattern
    that keeps the KG's entity/edge tables current from a change feed
    without rebuilding them.

    Within a batch, only the LAST change per key (highest ``seq_col``)
    is applied — a CDC feed can carry several updates for one key per
    batch and MERGE requires unique match keys — and the delta is then
    projected onto the TARGET's schema (the feed's sequencing/bookkeeping
    columns are transport metadata, not table columns). Across batches
    the checkpoint WAL serializes applies; if a batch crashes after the
    merge but before the commit, the replayed batch re-applies the SAME
    delta, and merge_upsert is idempotent for identical deltas — the
    end-to-end effectively-once story for a non-transactional sink.
    Returns the maintained table.
    """
    from ner_spark import io as nio

    # footer-only read; the maintained schema is stable across batches
    target_cols = stream_df.sparkSession.read.parquet(target).columns

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        others = [c for c in batch_df.columns if c != key]
        latest = (
            batch_df.groupBy(key)
            .agg(
                F.max_by(F.struct(*others), F.col(seq_col)).alias("_s")
            )
            .select(key, "_s.*")
            .select(*target_cols)
        )
        nio.merge_upsert(batch_df.sparkSession, target, latest, key)

    q = (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_apply)
        .start()
    )
    _await_drained(q, target)
    return stream_df.sparkSession.read.parquet(target)


def stream_kg_iceberg_tick(
    spark: SparkSession,
    transcripts_loc: str,
    links_loc: str,
    gazetteer_pdf: pd.DataFrame,
    emb_pdf: pd.DataFrame,
    checkpoint: str,
) -> DataFrame:
    """One Iceberg-to-Iceberg incremental KG tick: tail the transcript
    table with the ``iceberg_stream`` source (offsets = snapshot
    sequence numbers, so a WAP publish is exactly the moment new turns
    become consumable), run the fused NLP+link mapInPandas stage, and
    land the linked mentions exactly-once into an Iceberg links table
    through ``iceberg_sink`` (batch-id replay guard on the sink side,
    checkpointed offsets on the source side — exactly-once end to end
    across restarts of either half).

    availableNow degrades to one micro-batch per call on a Python
    DataSource, which is the tick shape anyway: call per maintenance
    window; each call processes every snapshot committed since the last
    one. Returns the links table read back (MOR-aware)."""
    from ner_spark.iceberg.spark_io import iceberg_sink, read_iceberg
    from ner_spark.sources.iceberg_stream import IcebergStreamDataSource

    spark.dataSource.register(IcebergStreamDataSource)
    stream = (
        spark.readStream.format("iceberg_stream")
        .option("location", transcripts_loc)
        .load()
        # transcripts carry tz-naive wall-clock (timestamp_ntz); the
        # watermark operator wants the session-zoned type — same cast
        # the transcript_gen connector path applies
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    links = streaming_links(stream, gazetteer_pdf, emb_pdf, spark)
    q = (
        links.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(iceberg_sink(links_loc))
        .start()
    )
    _await_drained(q, links_loc)
    return read_iceberg(spark, links_loc)
