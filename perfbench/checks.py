"""Output checks, run outside the timed spans."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oracle.ref_pipeline import UnionFind, run_pipeline

TRIPLE_KEY = ["subj", "pred", "obj", "conv_id", "turn_idx"]
ORACLE_SAMPLE_CONVS = 150
MIN_PR = 0.95


def digest(df: DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive xor of row hashes) over every column.

    Consuming a table through this aggregate reads every row and column,
    so it doubles as the sink that forces a lazily built result."""
    cols = [F.col(c) for c in sorted(df.columns)]
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")
    ).collect()[0]
    return int(r["n"]), int(r["x"] or 0)


def oracle_sample_pr(
    tx: pd.DataFrame,
    hot_convs: set,
    gaz: pd.DataFrame,
    emb: pd.DataFrame,
    triples: DataFrame,
    canon: DataFrame,
    seed: int,
) -> tuple[float, float]:
    """Triple precision/recall against the reference pipeline on a seeded
    sample of cold conversations.

    Triples of a conversation depend on the rest of the corpus only
    through the canonical entity map. The oracle run on the sample merges
    a subset of the corpus' co-reference edges, so its canonical ids map
    onto the full run's by the full canonical map; the map itself is
    checked by ``canon_matches_union_find``."""
    convs = sorted(set(tx.conv_id) - set(hot_convs))
    pick = set(np.random.default_rng(seed + 29).choice(convs, ORACLE_SAMPLE_CONVS, replace=False))
    exp = run_pipeline(tx[tx.conv_id.isin(pick)], gaz, emb)["triples"]
    cmap = dict(canon.toPandas().itertuples(index=False, name=None))
    exp = exp.assign(
        subj=exp.subj.map(lambda e: cmap.get(e, e)),
        obj=exp.obj.map(lambda e: cmap.get(e, e)),
    )
    got = triples.where(F.col("conv_id").isin(sorted(pick))).toPandas()
    A = set(exp[TRIPLE_KEY].itertuples(index=False, name=None))
    B = set(got[TRIPLE_KEY].itertuples(index=False, name=None))
    both = len(A & B)
    return both / max(1, len(B)), both / max(1, len(A))


def canon_matches_union_find(links: DataFrame, edges: DataFrame, canon: DataFrame) -> bool:
    """The distributed connected components equal a driver-side union-find
    over the same co-reference edges (canonical id = component minimum)."""
    uf = UnionFind()
    for a, b in edges.toPandas().itertuples(index=False, name=None):
        uf.union(a, b)
    nodes = [r[0] for r in links.select("entity_id").distinct().collect()]
    want = {e: uf.find(e) for e in nodes}
    got = dict(canon.toPandas().itertuples(index=False, name=None))
    return got == want


def entities_match_union_find(links: DataFrame, entities: DataFrame) -> bool:
    """Entities equal a driver-side rebuild from the same links: a
    union-find over the co-reference evidence (one surface linked to
    several entities within a conversation; canonical id = component
    minimum), then each component's mention count and sorted alias set."""
    lp = links.select("conv_id", "norm_surface", "entity_id").toPandas()
    uf = UnionFind()
    for ents in lp.groupby(["conv_id", "norm_surface"]).entity_id.unique():
        for e in ents[1:]:
            uf.union(ents[0], e)
    lp["canonical_id"] = [uf.find(e) for e in lp.entity_id]
    want = {(c, tuple(sorted(set(g.norm_surface))), len(g))
            for c, g in lp.groupby("canonical_id")}
    got = entities.select("entity_id", "aliases", "n_mentions").toPandas()
    return want == {(e, tuple(a), int(n)) for e, a, n in got.itertuples(index=False, name=None)}
