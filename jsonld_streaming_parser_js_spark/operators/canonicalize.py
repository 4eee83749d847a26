"""Entity canonicalization: merge coreferent ``@id`` nodes.

north-star pipeline stage: different pages mint different IRIs for the same
real-world entity (site-local author pages, etc.). We merge them with
exact-feature blocking, the large-scale ER recipe's blocking step (cf.
PAPERS.md SparkER): ER output is clusters over node profiles.

1. **Feature sets** per node: the set of (pred, literal-object) pairs.
2. **Blocking** by the feature-set hash: nodes with identical feature sets
   share a block, and each block is one complete cluster.
3. **Relabel**: every node maps to its block's lexicographically smallest
   member; an equi-join rewrites subj/obj in the quads table.

Scale notes: the edge list is tiny relative to quads (only nodes sharing a
block key, as a star to the block minimum); the relabel join broadcasts
when the mapping is small, else shuffles on the join key with AQE skew
split. Fuzzy (overlapping-feature) matching is not implemented: it needs
candidate edges that chain across blocks and a connected-components pass
over them (BTS, PAPERS.md, is the load-balanced starting point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def node_features(quads: DataFrame) -> DataFrame:
    """Feature set per IRI node: sorted distinct 'pred=obj' strings over
    literal-valued properties (names, labels...)."""
    lit_quads = (quads
                 .where(F.col("obj").startswith('"'))
                 .where(F.col("subj").startswith("<")))
    return (lit_quads
            .groupBy(F.col("subj").alias("node"))
            .agg(F.array_sort(F.collect_set(
                F.concat_ws("=", "pred", "obj"))).alias("features")))


def candidate_edges_exact(features: DataFrame) -> DataFrame:
    """Blocking by identical feature-set hash -> candidate edges (a, b).

    Edges form a STAR to the block's minimum node, not all pairs: a
    boilerplate block of m nodes yields m-1 edges instead of m(m-1)/2
    (identical connected components, linear shuffle). The min-node
    aggregation is algebraic -> map-side combined, skew-free.
    """
    blocked = features.select(
        "node", F.md5(F.concat_ws("\x1f", "features")).alias("blk_key"))
    mins = (blocked.groupBy("blk_key")
            .agg(F.min("node").alias("dst")))
    return (blocked.join(mins, "blk_key")
            .where(F.col("node") != F.col("dst"))
            .select(F.col("node").alias("src"), "dst"))


def canonical_mapping(quads: DataFrame) -> DataFrame:
    """(node, canonical) for every node that belongs to a merged cluster.

    Exact-feature blocking makes each block a complete component, so the
    canonical member is simply the block minimum — no connected-components
    iteration is needed."""
    features = node_features(quads)
    edges = candidate_edges_exact(features)  # star: (node, block-min)
    return edges.select(F.col("src").alias("node"),
                        F.col("dst").alias("canonical"))


def relabel_quads(quads: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical mapping (left equi-joins).

    Deliberately NO broadcast hint: the mapping's row count scales with the
    number of coreferent nodes — plausibly billions at web scale — and a
    forced ``F.broadcast`` bypasses Spark's size threshold entirely
    (driver/executor OOM instead of a graceful shuffle). Join strategy is
    left to Catalyst + AQE: a small mapping is still broadcast at runtime
    (AQE converts the post-shuffle join once the measured size is under
    ``spark.sql.adaptive.autoBroadcastJoinThreshold``), while a huge
    mapping shuffles on subj/obj with AQE skew-join splitting. Plan
    evidence: tests/test_spark_pipeline.py::test_relabel_join_* (both the
    broadcast-small and degrade-to-shuffle cases) and the EXPLAIN.md
    invariant.
    """
    m = mapping
    q = (quads
         .join(m.withColumnRenamed("node", "subj")
               .withColumnRenamed("canonical", "subj_canon"),
               "subj", "left")
         .join(m.withColumnRenamed("node", "obj")
               .withColumnRenamed("canonical", "obj_canon"),
               "obj", "left"))
    return q.select(
        "url", "blk",
        F.coalesce("subj_canon", "subj").alias("subj"),
        "pred",
        F.coalesce("obj_canon", "obj").alias("obj"),
        "graph")
