"""The three binding contract gates (SURVEY.md §5.2; BASELINE.json):

1. byte-identity of per-turn text + token offsets under stable
   (conv_id, turn_idx) ordering,
2. mention/link exactness,
3. triple P/R >= 0.95 (target 1.0) vs the reference oracle.
"""

from __future__ import annotations

import pandas as pd

from ner_spark.nlp.stage import detect_mentions, tokens_table

KEY = ["conv_id", "turn_idx"]


def _norm(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = df[cols].copy()
    for c in out.columns:
        if out[c].dtype.kind in "iu":
            out[c] = out[c].astype("int64")
    return out.sort_values(cols, kind="mergesort").reset_index(drop=True)


def test_byte_identity(spark, small_inputs, oracle_small):
    got = tokens_table(small_inputs["transcripts"]).toPandas()
    exp = oracle_small["tokens"]
    g = got.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    e = exp.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert len(g) == len(e)
    # per-turn text byte-identical
    assert all(
        a.encode("utf-8") == b.encode("utf-8") for a, b in zip(g.text, e.text)
    )
    # token (pos, start, end, text) identical
    for gt, et in zip(g.tokens, e.tokens):
        gl = [(t["pos"], t["start"], t["end"], t["text"]) for t in gt]
        el = [(t["pos"], t["start"], t["end"], t["text"]) for t in et]
        assert gl == el


def test_mention_parity(spark, small_inputs, oracle_small):
    got = detect_mentions(
        small_inputs["transcripts"], small_inputs["gazetteer_pdf"], spark
    ).toPandas()
    cols = ["conv_id", "turn_idx", "sent_idx", "start", "end", "surface",
            "ner_type", "score"]
    assert _norm(got, cols).equals(_norm(oracle_small["mentions"], cols))


def test_link_parity(kg_small, oracle_small):
    cols = ["conv_id", "turn_idx", "start", "end", "entity_id", "link_score"]
    got = kg_small["links"].toPandas()
    assert _norm(got, cols).equals(_norm(oracle_small["links"], cols))


def test_canonicalization_parity(kg_small, oracle_small):
    got = kg_small["canon"].toPandas()
    exp = oracle_small["entities"]
    cols = ["entity_id", "canonical_id"]
    assert _norm(got, cols).equals(_norm(exp, cols))


def test_canonical_is_partition_refinement(kg_small):
    """Property: canonical ids are component minima — idempotent map,
    canonical <= entity for every row (string order)."""
    c = kg_small["canon"].toPandas()
    m = dict(zip(c.entity_id, c.canonical_id))
    assert all(m.get(v, v) == v for v in m.values())  # idempotent
    assert all(v <= k for k, v in m.items())


def test_triple_pr_gate(kg_small, oracle_small):
    key = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    got = kg_small["triples"].toPandas()
    exp = oracle_small["triples"]
    A = set(map(tuple, _norm(exp, key).itertuples(index=False)))
    B = set(map(tuple, _norm(got, key).itertuples(index=False)))
    precision = len(A & B) / max(1, len(B))
    recall = len(A & B) / max(1, len(A))
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    # target is exact equality (same spec, same weights, deterministic ties)
    assert precision == 1.0 and recall == 1.0
    # confidences exact too
    m = _norm(exp, key + ["confidence"]).merge(
        _norm(got, key + ["confidence"]), on=key, suffixes=("_o", "_s")
    )
    assert (m.confidence_o == m.confidence_s).all()
