"""Co-reference edges, connected components and the entity rollup
(SURVEY.md §2.4 B3, §2.6 B10/B11, B8).

Connected components take one of two paths, chosen from the size of the
deduplicated non-self-loop edge set. The set is persisted once and its
size read with a bounded ``limit(MAX_DRIVER_EDGES + 1).collect()``:

- at most ``MAX_DRIVER_EDGES`` edges finish on the driver with a
  union-find and come back as a local DataFrame. A benchmark-size build
  or tick has 36 edges for ~6.6k links; there the canonical-map stage
  ran 6 jobs instead of the distributed loop's 34, whose cost is per-job
  fixed cost, not rows;
- above it, the alternating large-star / small-star algorithm of Kiveris
  et al., "Connected Components in MapReduce and Beyond" (SOCC'13),
  expressed as DataFrame joins (GraphFrames is not a dependency,
  SURVEY.md §0 [V]): O(log n) rounds, each round = two
  groupBy/join stages, ``localCheckpoint`` per round to truncate lineage,
  convergence = emitted edge set stable. It starts from the persisted
  edge set, so the edges' upstream (in a tick, the regroup of the whole
  links table) runs once on this path too.

Both paths return the same map. Node ids are strings; the canonical id
is the component's minimum in string order (matches the oracle's
union-find canonical = min entity_id). A node seen only in self-loops is
in no component and gets no row on either path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

# Largest deduplicated edge set finished on the driver. The collect is
# bounded by ``limit(MAX_DRIVER_EDGES + 1)``, so the driver never holds
# more rows than this. Sized against the smallest driver heap the repo
# runs with (1g): at 200k edges over 150k nodes (local[4]) the driver
# path grew the Python driver's RSS by 73 MB and left the JVM heap 22 MB
# fuller after a GC. Read at call time, so a test can lower it.
MAX_DRIVER_EDGES = 200_000


def coref_edges(links: DataFrame) -> DataFrame:
    """Within one conversation, surfaces linked to >=2 distinct entities
    produce all unordered entity pairs (spec: co-reference evidence).

    One shuffle total: groupBy(conv, surface) with collect_set dedups and
    groups in a single hash aggregate (map-side partial), then pairs are
    expanded JVM-side from the tiny sorted entity array. The equivalent
    distinct → self-join → distinct formulation costs three full-width
    shuffles of the links table."""
    ents = (
        links.groupBy("conv_id", "norm_surface")
        .agg(F.array_sort(F.collect_set("entity_id")).alias("es"))
        .where(F.size("es") >= 2)
    )
    # all i<j pairs of the sorted array (src < dst by construction)
    pairs = F.flatten(
        F.transform(
            "es",
            lambda x, i: F.transform(
                F.slice(F.col("es"), i + 2, F.size("es")),
                lambda y: F.struct(x.alias("src_entity"), y.alias("dst_entity")),
            ),
        )
    )
    return (
        ents.select(F.explode(pairs).alias("p"))
        .select("p.src_entity", "p.dst_entity")
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors to the min of each neighborhood."""
    sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect smaller-or-equal neighbors to the neighborhood min."""
    # orient edges u >= v
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = o.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    j = o.join(m, "u")
    out = j.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        j.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _union_find_components(pairs) -> dict:
    """node → component minimum over (u, v) pairs: union-find with path
    halving, each root the minimum of its set."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(edges: DataFrame, max_rounds: int = 25) -> DataFrame:
    """edges(src_entity, dst_entity) → (entity_id, canonical_id).

    Up to ``MAX_DRIVER_EDGES`` deduplicated non-self-loop edges: one
    bounded collect and a driver-side union-find, returned as a local
    DataFrame. Above it: alternating large-star/small-star until the edge
    set is stable; the final edge set is a union of stars (node →
    component min). Nodes only ever appearing as a component min map to
    themselves via the union at the end. Each round localCheckpoints
    (lineage truncation, SURVEY.md §4.5) and the convergence check is one
    count() action.
    """
    e = (
        edges.select(
            F.col("src_entity").alias("u"), F.col("dst_entity").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    try:
        rows = e.limit(MAX_DRIVER_EDGES + 1).collect()
        if len(rows) <= MAX_DRIVER_EDGES:
            comp = _union_find_components(rows)
            node_t = e.schema["u"].dataType
            schema = StructType([
                StructField("entity_id", node_t),
                StructField("canonical_id", node_t),
            ])
            # an Arrow table becomes a LocalRelation: no job to build or
            # scan it
            return edges.sparkSession.createDataFrame(
                pa.Table.from_pydict(
                    {"entity_id": list(comp),
                     "canonical_id": list(comp.values())},
                    schema=to_arrow_schema(schema),
                ),
                schema,
            )
        # the checkpoint reads the cache (and the collect's shuffle), not
        # the edges' upstream
        e_cp = e.localCheckpoint()
    finally:
        e.unpersist()
    e = e_cp
    n_old = e.count()
    for _ in range(max_rounds):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        # converged iff same edge set (both are distinct sets). The count
        # is carried between rounds (one action per round, not two) and the
        # expensive set-difference check only runs once counts agree.
        n_new = e2.count()
        if n_old == n_new and e.exceptAll(e2).isEmpty():
            e = e2
            break
        e, n_old = e2, n_new
    stars = e.select(F.col("u").alias("entity_id"), F.col("v").alias("canonical_id"))
    roots = e.select(F.col("v").alias("entity_id")).distinct().withColumn(
        "canonical_id", F.col("entity_id")
    )
    return stars.unionByName(roots).distinct()


def canonical_map(links: DataFrame, edges: DataFrame) -> DataFrame:
    """(entity_id, canonical_id) covering every linked entity (singletons → self)."""
    cc = connected_components(edges)
    all_nodes = links.select("entity_id").distinct()
    return (
        all_nodes.join(cc, "entity_id", "left")
        .withColumn("canonical_id", F.coalesce("canonical_id", "entity_id"))
        .select("entity_id", "canonical_id")
    )


def entity_rollup(links: DataFrame, canon: DataFrame) -> DataFrame:
    """One entity row per canonical id: sorted alias set, mention count and
    the most common NER type over the links of its component."""
    return (
        links.join(F.broadcast(canon), "entity_id")
        .groupBy(F.col("canonical_id").alias("entity_id"))
        .agg(
            F.array_sort(F.collect_set("norm_surface")).alias("aliases"),
            F.count(F.lit(1)).alias("n_mentions"),
            F.mode("ner_type").alias("ner_type"),
        )
    )
