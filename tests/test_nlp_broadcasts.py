"""NLP broadcast reuse (nlp/stage.py): the fixture model and the
gazetteer matcher are broadcast once per Spark application, the matcher
once per gazetteer content; a caller-supplied model is never cached."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ner_spark.nlp import stage
from ner_spark.nlp.model import build_model

MENTION_KEY = ["conv_id", "turn_idx", "start", "end"]


def _bid(bc) -> int:
    return bc._jbroadcast.id()


@pytest.fixture
def calls(monkeypatch):
    """JVM broadcast ids (model, gazetteer) of every nlp_broadcasts call."""
    seen = []
    real = stage.nlp_broadcasts

    def spy(*a, **k):
        bcs = real(*a, **k)
        seen.append(tuple(_bid(b) for b in bcs))
        return bcs

    monkeypatch.setattr(stage, "nlp_broadcasts", spy)
    return seen


@pytest.fixture
def tx(small_inputs):
    t = small_inputs["transcripts"]
    first = t.select("conv_id").distinct().orderBy("conv_id").limit(20)
    return t.join(first, "conv_id")


def _mentions(tx, gaz, spark, **kw) -> pd.DataFrame:
    return (
        stage.detect_mentions(tx, gaz, spark, **kw)
        .toPandas()
        .sort_values(MENTION_KEY, kind="mergesort")
        .reset_index(drop=True)
    )


def test_equal_gazetteer_content_shares_broadcasts(spark, small_inputs, tx, calls):
    gaz = small_inputs["gazetteer_pdf"]
    stage.detect_mentions(tx, gaz, spark)
    stage.detect_mentions(tx, gaz.copy(), spark)
    assert calls[0] == calls[1]


def test_changed_gazetteer_gets_new_matcher(spark, small_inputs, tx, calls, monkeypatch):
    gaz = small_inputs["gazetteer_pdf"]
    before = _mentions(tx, gaz, spark)
    # retype one gazetteer row whose surface form the sample mentions and
    # no other row shares
    folded = gaz.surface_form.str.casefold()
    unique = folded.map(folded.value_counts()) == 1
    hit = next(s for s in before.surface if unique[folded == s.casefold()].any())
    row = gaz.index[unique & (folded == hit.casefold())][0]
    changed = gaz.copy()
    changed.loc[row, "ner_type"] = "LOC" if gaz.loc[row, "ner_type"] != "LOC" else "MISC"
    after = _mentions(tx, changed, spark)
    (m1, g1), (m2, g2) = calls
    assert m1 == m2
    assert g1 != g2
    assert not before.equals(after)

    monkeypatch.setitem(stage._CACHE, "app", None)  # as a new application
    fresh = _mentions(tx, changed, spark)
    assert calls[2][1] not in (g1, g2)
    pd.testing.assert_frame_equal(after, fresh)


def test_explicit_model_is_not_cached(spark, small_inputs, tx, calls):
    gaz = small_inputs["gazetteer_pdf"]
    m = build_model()
    model = {"WT": np.ascontiguousarray(m["W"].T), "T": m["T"], "start": m["start"]}
    cached = _mentions(tx, gaz, spark)
    cached_model = stage._CACHE["model"]
    explicit = _mentions(tx, gaz, spark, model=model)
    _mentions(tx, gaz, spark, model=model)
    ids = [c[0] for c in calls]
    assert len(set(ids)) == 3
    assert stage._CACHE["model"] is cached_model
    assert _bid(cached_model) == ids[0]
    # the fixture weights given explicitly decode the same mentions
    pd.testing.assert_frame_equal(cached, explicit)
