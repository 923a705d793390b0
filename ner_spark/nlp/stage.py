"""Fused NLP stage as a single ``mapInPandas`` over transcript turns
(SURVEY.md §2.3, §3.2): tokenize → gazetteer BIO → feature hash → emission →
Viterbi → span decode → sentence ctx embedding, one Arrow round-trip.

Model weights and the gazetteer matcher are spark broadcasts
(BASELINE.json:14 "broadcast of gazetteer/model weights"), built once per
Spark application: the fixture model once, the ``GazMatcher`` once per
gazetteer content (a digest of ``surface_form`` and ``ner_type``). Every
build, tick and streaming query of the application reuses them, so the
~38 MB model is pickled and shipped once, not on every call; a new
SparkContext (new application id) builds fresh ones. A caller-supplied
``model=`` gets its own per-call broadcast. The stage is
row-parallel (all sequence dependencies live inside one turn's text), so no
ordering or co-partitioning precondition — any partitioning of transcripts
works, which is what lets the pipeline scale by pure repartition.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ner_spark import spec
from ner_spark.nlp import vectorized as V
from ner_spark.nlp.model import build_model

# norm_surface is computed python-side (spec.norm_surface casefolds; Spark's
# lower() differs on ß/İ/ſ — the join key must use casefold semantics).
MENTIONS_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, start int, end int, "
    "surface string, norm_surface string, ner_type string, score double, "
    "ctx_emb binary"
)

TOKENS_SCHEMA = (
    "conv_id string, turn_idx int, text string, "
    "tokens array<struct<pos:int, start:int, end:int, text:string>>"
)

_TYPES = np.array(spec.NER_TYPES, dtype=object)


# Broadcasts of the current Spark application: its id, the fixture model
# and the gazetteer matchers by content digest. A stopped context's
# broadcasts die with it, so a new application id starts an empty cache.
_CACHE: dict = {"app": None, "model": None, "gaz": {}}
# distinct gazetteer matchers kept per application (oldest dropped first);
# a session normally links against one gazetteer
_MAX_GAZ = 4


def _gaz_digest(gazetteer_pdf: pd.DataFrame) -> str:
    """Content digest of the columns ``GazMatcher`` reads."""
    rows = pd.util.hash_pandas_object(
        gazetteer_pdf[["surface_form", "ner_type"]], index=False
    )
    return hashlib.sha256(rows.to_numpy().tobytes()).hexdigest()


def nlp_broadcasts(
    spark: SparkSession,
    gazetteer_pdf: pd.DataFrame,
    model: dict | None = None,
):
    """(bc_model, bc_gaz) for the fused NLP kernel. The fixture model and
    the gazetteer matcher are built and broadcast once per application
    (the matcher once per gazetteer content); an explicit ``model`` is
    broadcast for this call only and never cached."""
    sc = spark.sparkContext
    if _CACHE["app"] != sc.applicationId:
        _CACHE.update(app=sc.applicationId, model=None, gaz={})
    if model is not None:
        bc_model = sc.broadcast(model)
    else:
        if _CACHE["model"] is None:
            m = build_model()
            _CACHE["model"] = sc.broadcast(
                {"WT": np.ascontiguousarray(m["W"].T), "T": m["T"],
                 "start": m["start"]}
            )
        bc_model = _CACHE["model"]
    gaz = _CACHE["gaz"]
    digest = _gaz_digest(gazetteer_pdf)
    if digest not in gaz:
        if len(gaz) >= _MAX_GAZ:
            del gaz[next(iter(gaz))]
        gaz[digest] = sc.broadcast(V.GazMatcher(gazetteer_pdf))
    return bc_model, gaz[digest]


def detect_mentions(
    transcripts: DataFrame,
    gazetteer_pdf: pd.DataFrame,
    spark: SparkSession,
    model: dict | None = None,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, ...) → mentions DataFrame.

    Column-prunes to the three needed columns before the Arrow boundary
    (mapInPandas is an optimization barrier — SURVEY.md §4.2).

    ``model`` optionally overrides the generated fixture weights with a
    {"WT", "T", "start"} dict — e.g. perceptron-trained weights from
    ner_spark/nlp/train.py (same (D, L) layout); None keeps the
    fixture."""
    bc_model, bc_gaz = nlp_broadcasts(spark, gazetteer_pdf, model)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bc_model.value
        gaz = bc_gaz.value
        for pdf in batches:
            texts = pdf["text"].to_numpy(dtype=object)
            men, _ = V.nlp_batch(texts, gaz, m["WT"], m["T"], m["start"])
            rows = men["row"]
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy()[rows],
                    "turn_idx": pdf["turn_idx"].to_numpy()[rows].astype(np.int32),
                    "sent_idx": men["sent_in_turn"].astype(np.int32),
                    "start": men["start"].astype(np.int32),
                    "end": men["end"].astype(np.int32),
                    "surface": men["surface"],
                    "norm_surface": [spec.norm_surface(s) for s in men["surface"]],
                    "ner_type": _TYPES[men["type_code"]] if len(rows) else [],
                    "score": men["score"],
                    # packed little-endian float64 bytes: one memcpy per row
                    # beats Arrow list<double> conversion at 10^6 mentions;
                    # dtype=object also keeps the all-empty batch Arrow-safe
                    "ctx_emb": pd.Series(
                        [r.tobytes() for r in np.ascontiguousarray(
                            men["ctx"], dtype="<f8")],
                        dtype=object,
                    ),
                }
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        fn, MENTIONS_SCHEMA
    )


def tokens_table(transcripts: DataFrame) -> DataFrame:
    """Token materialization for the byte-identity contract (A7/B12)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf["text"].to_numpy(dtype=object)
            tok = V.tokenize_batch(texts)
            row = tok["row"]
            out_tokens: list[list[dict]] = [[] for _ in range(len(pdf))]
            for k in range(len(row)):
                r = row[k]
                out_tokens[r].append(
                    {
                        "pos": len(out_tokens[r]),
                        "start": int(tok["start"][k]),
                        "end": int(tok["end"][k]),
                        "text": tok["text"][k],
                    }
                )
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"].astype(np.int32),
                    "text": pdf["text"],
                    "tokens": out_tokens,
                }
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        fn, TOKENS_SCHEMA
    )
