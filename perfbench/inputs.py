"""Seeded benchmark inputs, all drawn from ``fixtures.gen``.

The base corpus has the ``bench`` fixture's mix (median 8 turns per
conversation, hot conversations holding about a fifth of all turns) at a
fortieth of its conversations, the same for both workloads, so a run fits
the benchmark's time budget on a small machine: 500 conversations and one
hot conversation of 1250 turns. Append batches and CDC repair
plans for the tick workload are drawn from the same entity catalog.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from fixtures.gen import (
    entity_catalog,
    entity_embeddings_df,
    gazetteer_df,
    transcripts_df,
)

BASE_CONVS = {"kg_build": 500, "kg_ticks": 500}
HOT_TURNS = 1250
# an append batch carries 1/40 of the base turns in whole cold
# conversations, so per-tick NLP is small next to the global refresh over
# all links; a fixed turn count keeps batches of every seed the same size
APPEND_SHARE = 40
# a repair tick touches three conversations, the CDC-repair shape of
# bench.py's pruning profile (a 3-key IN list): two corrected, one erased.
# Three keys reach at most 3 of the table's 8 conv_id buckets, so the
# tick's repair read stays on the partition-pruned IN-scan path
REPAIR_CORRECTED = 2
REPAIR_ERASED = 1
HOT_MIN_TURNS = 1000


class Inputs:
    """Everything one run feeds the engine, as a pure function of ``seed``."""

    def __init__(self, seed: int, n_convs: int):
        self.seed = seed
        cat = entity_catalog(seed)
        self.catalog = cat
        self.gazetteer = gazetteer_df(cat, seed)
        self.embeddings = entity_embeddings_df(cat)
        self.base = transcripts_df(cat, seed, n_convs=n_convs, median_turns=8,
                                   n_hot=1, hot_turns=HOT_TURNS)
        # the base averages ~10 turns per conversation
        self.append_turns = 10 * n_convs // APPEND_SHARE
        sizes = self.base.groupby("conv_id").size()
        self.hot_convs = set(sizes.index[sizes >= HOT_MIN_TURNS])
        self.repair_convs = REPAIR_CORRECTED + REPAIR_ERASED
        self._rng = np.random.default_rng(seed + 17)
        # conversations a repair may touch: cold, and never touched before
        self._repairable = [c for c in sorted(sizes.index) if c not in self.hot_convs]
        self._rng.shuffle(self._repairable)

    def append_batch(self, k: int) -> pd.DataFrame:
        """The k-th append batch: fresh conversations with their own ids,
        whole conversations up to ``append_turns`` turns."""
        b = transcripts_df(self.catalog, self.seed + 1000 * (k + 1),
                           n_convs=self.append_turns // 4, median_turns=8,
                           n_hot=0, hot_turns=0)
        sizes = b.groupby("conv_id").size().sort_index()
        b = b[b.conv_id.isin(sizes.index[sizes.cumsum() <= self.append_turns])]
        b = b.assign(conv_id=f"a{k:04d}" + b["conv_id"])
        return b.reset_index(drop=True)

    def repair_plan(self, current: pd.DataFrame) -> tuple[pd.DataFrame, list[str]]:
        """(corrected rows for a MOR upsert keyed on conv_id, erased conv ids).

        A corrected conversation takes the texts of a donor conversation
        turn by turn; roles depend on the turn index only, so the rewrite
        stays well formed."""
        take = self.repair_convs
        if len(self._repairable) < 2 * take:
            raise RuntimeError("repair plan ran out of untouched conversations")
        picked = [self._repairable.pop() for _ in range(take)]
        donors = self._rng.choice(sorted(self._repairable), size=REPAIR_CORRECTED)
        corrected, erased = picked[:REPAIR_CORRECTED], picked[REPAIR_CORRECTED:]
        by_conv = {c: g for c, g in current.groupby("conv_id")}
        parts = []
        for conv, donor in zip(corrected, donors):
            d = by_conv[donor][["turn_idx", "text"]].rename(columns={"text": "new_text"})
            rows = by_conv[conv].merge(d, on="turn_idx")
            rows["text"] = rows.pop("new_text")
            parts.append(rows[current.columns])
        return pd.concat(parts, ignore_index=True), erased

    @staticmethod
    def hot_turn_share(tx: pd.DataFrame) -> float:
        sizes = tx.groupby("conv_id").size()
        return float(sizes[sizes >= HOT_MIN_TURNS].sum() / max(1, len(tx)))
